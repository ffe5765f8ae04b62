package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch phase timer for the incremental dedup/split pipelines: replays
  * q104's dedupeBatch phases with explicit timing so the per-phase cost is
  * attributable (the AQE future pool hides call sites from job listeners).
  * Diagnostic only — the production operator stays the source of truth.
  */
object PhaseProbe {
  def t[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[phase] $label%-44s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[32]").appName("graft-phase-probe"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Dedup, IncrementalDedup}

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm pass (JIT/codegen)
    SparkEntry.queries("q104_incremental_dedup")(spark, sfDir) match {
      case df => noop(df)
    }

    (1 to 2).foreach { round =>
      println(s"== round $round ==")
      val root = java.nio.file.Files.createTempDirectory("phaseprobe").toString
      val idx = IncrementalDedup.create(root)
      val docs = Tables.fanout(Tables.documents(spark, sfDir))
      Seq(0, 1).foreach { parity =>
        val batch = docs.filter(col("doc_id") % 2 === parity)
        val within = t(s"p$parity survivors (within-batch)")(
          Dedup.survivors(batch, idx.n).localCheckpoint(true))
        val sh = t(s"p$parity shingleArrays(within)")(
          Dedup.shingleArrays(within, idx.n).localCheckpoint(true))
        val newBuckets = t(s"p$parity minhashBuckets")(
          Dedup.minhashBuckets(sh, idx.k, idx.nBands).localCheckpoint(true))
        val oldBuckets = idx.bands.read(spark)
          .select(col("doc_id").as("old_id"), col("band"), col("bkey"))
        val cands = t(s"p$parity cands join")(
          newBuckets.join(oldBuckets, Seq("band", "bkey"))
            .filter(col("old_id") =!= col("doc_id"))
            .select(col("doc_id"), col("old_id")).distinct()
            .localCheckpoint(true))
        val oldSh = idx.sigs.read(spark)
          .select(col("doc_id").as("old_id"), col("sh").as("old_sh"))
        val dropped = t(s"p$parity verify vs index")(
          cands.join(sh, "doc_id").join(oldSh, "old_id")
            .withColumn("common", size(array_intersect(col("sh"), col("old_sh"))))
            .filter(col("common") > 0)
            .select(col("doc_id")).distinct().localCheckpoint(true))
        val acceptedSh = sh.join(dropped, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        t(s"p$parity appendAll sigs")(
          idx.sigs.appendAll(acceptedSh.select(col("doc_id"), col("sh")),
            Some(s"p$parity:sigs")))
        t(s"p$parity appendAll bands")(
          idx.bands.appendAll(
            Dedup.minhashBuckets(acceptedSh, idx.k, idx.nBands)
              .select((col("doc_id") * idx.nBands + col("band")).as("entry_id"),
                col("doc_id"), col("band"), col("bkey")),
            Some(s"p$parity:bands")))
      }
    }
    spark.stop()
  }
}
