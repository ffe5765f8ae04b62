package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch micro-profiler (Test/runMain graft.PerfProbe [sfDir] [query...]):
  * times each named SparkEntry query twice (cold + warm) through the noop
  * sink; with no query args, runs a fixed dedup-stage breakdown.
  */
object PerfProbe {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // PROBE_CPUS lets scaling experiments vary the core count the same way
    // the driver's low-core sweep does (shuffle partitions track it, as in
    // Bench); default matches the official bench.
    val cpus = sys.env.getOrElse("PROBE_CPUS", "32").toInt
    val builder = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-probe"), cpus)
    // A/B experiments: PROBE_CONF="k=v,k=v" overlays arbitrary SQL confs.
    sys.env.get("PROBE_CONF").foreach(_.split(',').filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // PROBE_JOBS=1: log every Spark job's wall time + call site so a
    // multi-job query's cost can be attributed stage by stage
    if (sys.env.contains("PROBE_JOBS"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            t0.put(js.jobId, (System.nanoTime(),
              js.stageInfos.map(si => si.name.takeWhile(_ != '(').trim + ":" +
                si.numTasks).mkString("[", " ", "]").take(160) + " desc=" + desc.take(80)))
          }
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            Option(t0.remove(je.jobId)).foreach { case (t, site) =>
              println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - t) / 1e9}%7.3f s  $site")
            }
          }
        })

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // bisection micro-variants for one-time-cost hunts (x_… names)
    val variants: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "x_upper" -> ((s, d) => Tables.part(s, d).select(upper(col("p_brand")).as("u")).groupBy("u").count()),
      "x_substr" -> ((s, d) => Tables.part(s, d).groupBy(col("p_brand")).agg(min(substring(col("p_type"), 1, 6)).as("pfx"))),
      "x_cdist" -> ((s, d) => Tables.part(s, d).groupBy(col("p_brand")).agg(countDistinct(col("p_type")).as("n"))),
      "x_cdist_mix" -> ((s, d) => Tables.part(s, d).groupBy(col("p_brand"))
        .agg(min(length(col("p_name"))).as("a"), countDistinct(col("p_type")).as("n"))),
      "x_minstr" -> ((s, d) => Tables.part(s, d).groupBy(col("p_brand")).agg(min(col("p_type")).as("m"))),
      "x_orderby" -> ((s, d) => Tables.part(s, d).groupBy(col("p_brand")).agg(count(lit(1)).as("n")).orderBy(col("p_brand")))
    )
    val queries = args.drop(1)
    if (queries.nonEmpty) {
      // the pinned Bench anchor, so a probe reading is host-normalizable
      // against any official BENCH_DETAIL artifact
      println(f"[probe] calibration anchor ${Bench.calibrationSec(spark)}%.3f s")
      queries.foreach { q =>
        val fn = variants.getOrElse(q, SparkEntry.queries(q))
        time(s"$q cold")(noop(fn(spark, sfDir)))
        time(s"$q warm")(noop(fn(spark, sfDir)))
        time(s"$q warm2")(noop(fn(spark, sfDir)))
      }
    } else {
      import graft.operators.Dedup
      val docs = Tables.fanout(Tables.documents(spark, sfDir))
      time("warmup count")(docs.count())
      val sa = Dedup.shingleArrays(docs, 3)
      time("shingleArrays")(noop(sa))
      time("shingleArrays x2")(noop(sa))
      time("full q26")(noop(Dedup.ngramJaccardPairs(docs, 3, 0.8)))
      time("full q27 minhash")(noop(Dedup.minhashLshPairs(docs, 3, 16, 4, 0.8)))
      time("full q28 simhash")(noop(Dedup.simhashPairs(docs, 10)))
    }
    spark.stop()
  }
}
