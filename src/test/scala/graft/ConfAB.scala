package graft

import org.apache.spark.sql.SparkSession

/** Interleaved same-JVM config A/B (round-14): flips a set of
  * runtime-settable SQL confs around alternating repetitions of each
  * probe query, so host drift cancels out (the q26/BENCH_AB_r10 lesson:
  * sequential A-then-B reads on this host are noise).
  *
  * Usage: Test/runMain graft.ConfAB <sfDir> <k=v[,k=v...]> <query...>
  * Prints per-query median A (baseline confs) and B (overlaid confs)
  * over AB_REPS (default 3) interleaved pairs, after one untimed warm
  * rep per side.
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val overlay = args(1).split(',').filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val queries = args.drop(2)
    val cpus = sys.env.getOrElse("PROBE_CPUS", "32").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-conf-ab"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // restore-to-baseline = the explicitly-set value if any, else unset
    // (reading the effective default back can yield strings the setter
    // rejects, e.g. fallback sentinels)
    val explicitly = spark.conf.getAll
    val baseline = overlay.map { case (k, _) => (k, explicitly.get(k)) }
    def setSide(b: Boolean): Unit =
      if (b) overlay.foreach { case (k, v) => spark.conf.set(k, v) }
      else baseline.foreach { case (k, ov) =>
        ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }

    def run(q: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val reps = sys.env.getOrElse("AB_REPS", "3").toInt
    queries.foreach { q =>
      // one untimed warm rep per side
      setSide(false); run(q); setSide(true); run(q)
      val (as, bs) = (1 to reps).map { _ =>
        setSide(false); val a = run(q)
        setSide(true); val b = run(q)
        (a, b)
      }.unzip
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      println(f"[ab] $q%-28s A=${med(as)}%6.3f B=${med(bs)}%6.3f " +
        f"B/A=${med(bs) / med(as)}%5.3f  (A=${as.map(x => f"$x%.2f").mkString(",")} " +
        f"B=${bs.map(x => f"$x%.2f").mkString(",")})")
    }
    setSide(false)
    spark.stop()
  }
}
