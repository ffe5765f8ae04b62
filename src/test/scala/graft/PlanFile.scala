package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named queries to plans/<tag>/<query>_<suffix>.txt
  * Usage: Test/runMain graft.PlanFile <sfDir> <tag> <suffix> <query...>
  */
object PlanFile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val tag = args(1); val suffix = args(2)
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[32]").appName("graft-planfile"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(s"plans/$tag"))
    graft.operators.PlanCapture.enabled = true
    args.drop(3).foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val captured = graft.operators.PlanCapture.drain()
        .find { case (label, _) => label.startsWith(q) }
      // PLAN_EXEC=1: materialize through the dataset's OWN QueryExecution and
      // dump the POST-execution plan — with AQE on, runtime rewrites (SMJ→
      // shuffled-hash, coalesced reads) only appear in the final adaptive
      // plan. A noop-sink write would run a SEPARATE QueryExecution and leave
      // this one un-finalized (isFinalPlan=false), so execute the plan's RDD
      // directly (count() keeps rows off the driver).
      if (sys.env.contains("PLAN_EXEC") && captured.isEmpty)
        df.queryExecution.executedPlan.execute().count()
      val plan = captured.map(_._2).getOrElse(
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      val extra = captured.map { case (l, _) => s"[pre-checkpoint capture: $l]\n\n" }.getOrElse("")
      Files.writeString(Paths.get(s"plans/$tag/${q}_$suffix.txt"), extra + plan)
      println(s"wrote plans/$tag/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
