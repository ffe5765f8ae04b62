package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev-only job/stage profiler (Test/runMain graft.JobProbe <sfDir> <query...>):
  * runs each named SparkEntry query through the noop sink (cold + warm) with a
  * SparkListener attached, then prints every Spark JOB the query submitted —
  * duration, stage count, task count — so multi-job operators (driver loops,
  * eager persists/checkpoints, table commits) can be attributed line by line.
  * The gap between sum-of-jobs and wall time is driver-side work (planning,
  * codegen, commit bookkeeping).
  */
object JobProbe {
  private final case class JobRec(id: Int, t0: Long, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, desc: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[32]").appName("graft-jobprobe"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new scala.collection.concurrent.TrieMap[Int, JobRec]
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, JobRec(e.jobId, e.time, stages = e.stageInfos.size,
          desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
        order.add(e.jobId)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute tasks to the most recent job containing this stage
        jobs.values.toSeq.sortBy(-_.t0)
          .find(_.t1 == 0L)
          .foreach(j => j.tasks += e.stageInfo.numTasks)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.t1 = e.time)
    })

    // decomposition variants for one-off hunts
    import org.apache.spark.sql.functions._
    val variants: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
      import spark.implicits._
      Map(
        // q99 bisection: range source (no parquet/fanout), decode, no sort
        "x99_range_decode" -> ((s: SparkSession, d: String) =>
          s.range(0, 5000, 1, 32).as[Long].mapPartitions { it =>
            it.map { id =>
              val fmt = if (id % 2 == 0) "png" else "bmp"
              val st = graft.operators.Multimodal.decodePixels(
                graft.operators.Multimodal.encodeGradient(id, fmt)).get
              (id, fmt, st.width.toLong, st.height.toLong, st.meanR, st.meanG, st.meanB)
            }
          }.toDF("doc_id", "format", "width", "height", "mean_r", "mean_g", "mean_b")),
        // parquet+fanout source, decode, no sort
        "x99_nosort" -> ((s: SparkSession, d: String) =>
          Tables.fanout(Tables.documents(s, d)).select(col("doc_id")).as[Long]
            .mapPartitions { it =>
              it.map { id =>
                val fmt = if (id % 2 == 0) "png" else "bmp"
                val st = graft.operators.Multimodal.decodePixels(
                  graft.operators.Multimodal.encodeGradient(id, fmt)).get
                (id, fmt, st.width.toLong, st.height.toLong, st.meanR, st.meanG, st.meanB)
              }
            }.toDF("doc_id", "format", "width", "height", "mean_r", "mean_g", "mean_b")),
        // parquet+fanout source, NO decode, with sort
        "x99_nodecode" -> ((s: SparkSession, d: String) =>
          Tables.fanout(Tables.documents(s, d)).select(col("doc_id")).as[Long]
            .mapPartitions { it => it.map(id => (id, "png", 64L, 48L, 0.0, 0.0, 0.0)) }
            .toDF("doc_id", "format", "width", "height", "mean_r", "mean_g", "mean_b")
            .orderBy(col("doc_id")))
      )
    }
    def runOnce(q: String, label: String): Unit = {
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      variants.getOrElse(q, SparkEntry.queries(q))(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener events drain
      val recs = order.toArray(Array.empty[Integer]).toSeq
        .flatMap(i => jobs.get(i))
      val jobSum = recs.map(r => (r.t1 - r.t0).max(0L)).sum / 1e3
      println(f"[jobprobe] == $q $label wall=$wall%.2f s, " +
        f"${recs.size} jobs sum=$jobSum%.2f s, driver-gap=${wall - jobSum}%.2f s")
      recs.foreach { r =>
        val d = (r.t1 - r.t0).max(0L) / 1e3
        if (d >= 0.02)
          println(f"[jobprobe]   job ${r.id}%3d ${d}%6.2f s stages=${r.stages}%2d tasks=${r.tasks}%4d ${r.desc.take(90)}")
      }
    }
    args.drop(1).foreach { q =>
      runOnce(q, "cold")
      runOnce(q, "warm")
    }
    spark.stop()
  }
}
