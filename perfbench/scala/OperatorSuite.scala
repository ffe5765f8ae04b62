package perfbench

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry

/** `operator_suite`: registered queries from `SparkEntry.queries`, each
  * written to parquet so the launcher can compare it with its DuckDB oracle
  * from `SparkEntry.oracleSql`. The CDC stream path is not touched.
  */
object OperatorSuite {
  /** Untimed passes first: a fresh JVM needs about four passes before a
    * query's time settles, which is also why the list is short.
    */
  val WarmPasses = 6
  val MinPasses = 6

  /** The rule that picked the list: every 160th name, starting with the
    * first, of the sorted names of the registered queries that have an
    * oracle, leaving out the two CDC replay queries.
    */
  def rule(names: Iterable[String]): Seq[String] =
    names.toSeq.filterNot(Set("q00_cdc_golden", "q63_change_feed")).sorted
      .zipWithIndex.collect { case (n, i) if i % 160 == 0 => n }

  /** The rule's pick from the registry as it stood when the list was fixed.
    * The list stays fixed when queries are added, so that runs compare.
    */
  val Queries: Seq[String] = Seq("q01_pricing_summary", "q238_weighted_quantiles")

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val sf = ctx.dataDir.toString
    val registered = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val missing = Queries.filterNot(q => registered.contains(q) && oracles.contains(q))
    require(missing.isEmpty, s"not registered with an oracle: ${missing.mkString(", ")}")
    val picked = rule(registered.keySet.intersect(oracles.keySet))
    if (picked != Queries) Log(s"the rule now picks ${picked.mkString(", ")}")
    val tr = ctx.tracer

    /** One pass over the list; per query its time in ms, or None if it
      * threw. A query that threw leaves no output, so the launcher's oracle
      * comparison counts it as failed.
      */
    def pass(tag: String): Seq[Option[Double]] = {
      val dir = ctx.dir("outputs").resolve(tag)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("oracle_sql.json"), Queries
        .map(q => s"${Json.str(q)}: ${Json.str(oracles(q))}").mkString("{", ",\n", "}"))
      Queries.map { q =>
        val t0 = System.nanoTime()
        try {
          tr.span(s"operators.$q")(registered(q)(spark, sf).write.mode("overwrite")
            .parquet(dir.resolve(q).toString))
          Some((System.nanoTime() - t0) / 1e6)
        } catch {
          case e: Exception =>
            Log(s"$tag/$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
    }

    (1 to WarmPasses).foreach(i => out.setupPhase("warm_s")(pass(s"warm-$i")))

    // whole passes, at least `MinPasses`, until the run's time is used
    val passes = ArrayBuffer.empty[Seq[Option[Double]]]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      passes += pass(f"pass-${passes.size}%02d")
    val times = passes.flatMap(_.flatten)
    out.metric("throughput_per_s", times.size / (times.sum / 1e3), "1/s")
    // per pass the mean query time, median over passes: a median over the
    // pooled samples would fall in the gap between the two queries' times
    out.metric("latency_p50_ms", Stats.median(passes.toSeq.map(p =>
      p.flatten.sum / p.flatten.size.max(1))), "ms")
    // one pass over the list: per query the median over passes, summed
    out.metric("query_ms", passes.toSeq.transpose
      .map(ts => Stats.median(ts.flatten)).sum, "ms")
    out.attempted = Queries.size.toLong * passes.size

    if (ctx.trace) {
      tr.drain()
      val timed = tr.spans.filter(_.name.startsWith("operators.")).drop(Queries.size * WarmPasses)
      Queries.foreach { q =>
        val spans = timed.filter(_.name == s"operators.$q")
        out.metric(s"operators.${q}_ms", Stats.median(spans.map(_.ms)), "ms")
        out.metric(s"operators.${q}_jobs", Stats.median(spans.map(tr.inclusive(_).jobs.toDouble)), "count")
      }
      val work = timed.map(tr.inclusive)
      out.metric("operators.shuffle_mb", work.map(_.shuffleWriteBytes).sum / 1e6 / passes.size, "MB")
      out.metric("operators.spill_mb", work.map(_.spillBytes).sum / 1e6 / passes.size, "MB")
    }
    out
  }
}
