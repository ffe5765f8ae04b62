package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.fixtures.RetailGen
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** CDC apply-path throughput benchmark: generates a seeded CDC event corpus
  * (insert/update/delete mix), streams it through the full pipeline in
  * multiple micro-batches, and reports sustained records/second end-to-end
  * (parse → filter → route → LWW → merge commit).
  *
  * Baseline context: the reference sustains ~10 rec/s fixture ingest with
  * 3–5 min freshness (BASELINE.md); this path is the engine's replacement.
  *
  * Env knobs: SPARK_GRAFT_CPUS (default 32).
  */
object CdcBench {

  final case class Result(recPerSec: Double, seconds: Double,
      finalRows: Long, batches: Int)

  /** Generate `nEvents` CDC lines as `nBatches` files and stream them
    * through the full pipeline; [[measure]] runs it at the official size.
    */
  def run(spark: SparkSession, nEvents: Long, nBatches: Int): Result = {
    val base = java.nio.file.Paths.get(Scratch.tempDir("cdcbench"))
    val landing = base.resolve("landing")

    // one file per intended micro-batch
    RetailGen.cdcJsonLines(spark, nEvents, keySpace = nEvents / 4)
      .repartition(nBatches)
      .write.mode("overwrite").text(landing.toString)

    val cfg = CdcPipeline.Config(
      landing.toString,
      base.resolve("table").toString,
      base.resolve("errors").toString,
      base.resolve("ckpt").toString,
      trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = Some(1))

    val t0 = System.nanoTime()
    val q = CdcPipeline.start(spark, cfg)
    q.awaitTermination(600000)
    val sec = (System.nanoTime() - t0) / 1e9

    val table = MergeTable.retailTrans(base.resolve("table").toString)
    Result(nEvents / sec, sec, table.read(spark).count(), table.history.size)
  }

  /** One small batch through a throwaway pipeline: first-use streaming
    * setup (file-source init, checkpoint creation, cache plumbing, plan
    * codegen at batch scale) is a fixed JVM tax, not apply work — pay it
    * before the timed run so the metric reports SUSTAINED throughput.
    * On a real cluster this cost amortizes over a long-running query.
    */
  def warmup(spark: SparkSession): Unit = { run(spark, 20000, 1); () }

  // 50k-record micro-batches: large enough that per-batch fixed cost
  // stops dominating and the rate reflects sustained apply throughput
  private val Events = 200000L
  private val Batches = 4

  /** The official CDC measurement, reported by both Bench and `main`:
    * warm-up, then one timed run of `Events` in `Batches` micro-batches.
    */
  def measure(spark: SparkSession): Result = {
    warmup(spark)
    run(spark, Events, Batches)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-cdc-bench"),
      cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r = measure(spark)
    println(f"""{"metric":"cdc_apply_rate","value":${r.recPerSec}%.1f,"unit":"rec/sec","events":$Events,"batches":${r.batches},"final_rows":${r.finalRows},"seconds":${r.seconds}%.2f}""")
    spark.stop()
  }
}
