package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.Graft
import graft.stream.CdcPipeline
import graft.table.MergeTable
import graft.transform.CdcTransformer

/** `cdc_ingest`: a landed backlog drained by `CdcPipeline.start` into a
  * fresh catalog table, one file per micro-batch. The backlog has enough
  * batches that the table's delete-file threshold (10) fires one scoped
  * compaction mid-stream. The analyst's queries then run on the table
  * ([[LakeQuery]]).
  */
object CdcIngest {
  val PerBatch = 15000L
  val Batches = 11
  val WarmBatches = 1

  final case class StreamRun(span: Long, cfg: CdcPipeline.Config, startMs: Long,
      progress: Seq[StreamingQueryProgress]) {
    def table: MergeTable = MergeTable.open(cfg.tableRoot)
  }

  /** Drain `in` through the pipeline into a fresh table at `tableRoot`, with
    * error and checkpoint directories under `base`.
    */
  private def stream(ctx: Ctx, in: Landed, base: Path, tableRoot: Path): StreamRun =
    ctx.tracer.spanL("cdc.stream") { s =>
      val cfg = CdcPipeline.Config(in.dir.toString,
        tableRoot.toString, base.resolve("errors").toString,
        base.resolve("ckpt").toString,
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
      val t0 = System.currentTimeMillis()
      val q = if (ctx.trace) tracedStart(ctx, cfg) else CdcPipeline.start(ctx.spark, cfg)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      Log(f"stream $base drained in ${(System.currentTimeMillis() - t0) / 1e3}%.2f s")
      StreamRun(s.id, cfg, t0, q.recentProgress.toSeq)
    }

  /** The traced twin of `CdcPipeline.start` for a fresh table and no views:
    * the same calls its micro-batch makes, in the same order, each inside a
    * span.
    */
  private def tracedStart(ctx: Ctx, cfg: CdcPipeline.Config): StreamingQuery = {
    val tr = ctx.tracer
    val table = MergeTable.retailTrans(cfg.tableRoot)
    ctx.spark.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger.get.toString)
      .format("text").load(cfg.landingDir)
      .writeStream
      .queryName("cdc-pipeline")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(cfg.trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tr.span("stream.batch") {
          val classified = tr.span("transform.classify")(CdcTransformer
            .classify(batch, cfg.srcDatabase, cfg.srcTable).cache())
          try {
            val res = tr.span("transform.classify") {
              val extras = table.schema.fields.toSeq
                .filterNot(f => CdcTransformer.BasePayloadCols(f.name))
              CdcTransformer.fromClassified(classified, extraCols = extras)
            }
            tr.span("stream.error_sink")(CdcTransformer.writeErrors(res.errors, cfg.errorRoot))
            tr.spanL("table.apply") { s =>
              table.applyBatch(res.good, Some(batchId.toString))
              if (table.currentSnapshot.exists(_.op == "compact")) s.name = "table.compacting_apply"
            }
          } finally classified.unpersist()
        }
        ()
      }
      .start()
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    // one seeded backlog: the warm-up stream drains its first batches, the
    // timed streams the rest
    val Seq(warmIn, timedIn) = out.setupPhase("generate_s")(Inputs.land(spark,
      Seq(ctx.work.resolve("warm-landing") -> WarmBatches, ctx.work.resolve("landing") -> Batches),
      ctx.seed, PerBatch))
    val warmBase = ctx.work.resolve("warm-stream")
    out.setupPhase("warm_s")(stream(ctx, warmIn, warmBase, warmBase.resolve("table")))

    // whole streams until the run's time is used, at least one; the first
    // writes the catalog's table, which the query phase reads afterwards
    val catalogTable = {
      Graft.catalog(ctx.work.resolve("warehouse").toString).createDatabase(LakeQuery.Db)
      ctx.work.resolve("warehouse").resolve(LakeQuery.Db).resolve(LakeQuery.Name)
    }
    val runs = ArrayBuffer.empty[StreamRun]
    val t0 = System.nanoTime()
    while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val base = ctx.work.resolve(s"stream-${runs.size}")
      runs += stream(ctx, timedIn, base, if (runs.isEmpty) catalogTable else base.resolve("table"))
    }

    // end-to-end: envelopes per second from stream start to last commit, and
    // per batch the time from trigger start to its readable commit
    val histories = runs.map(r => r -> r.table.history)
    val elapsedMs = histories.map { case (r, h) => h.map(_.tsMillis).max - r.startMs }
    out.metric("throughput_per_s",
      timedIn.envelopes * runs.size / (elapsedMs.sum / 1e3), "1/s")
    val freshness = histories.flatMap { case (r, h) =>
      r.progress.filter(_.numInputRows > 0).map { p =>
        val commit = h.find(_.appliedBatches.contains(p.batchId.toString))
          .map(_.tsMillis).getOrElse(Long.MaxValue)
        (commit - Instant.parse(p.timestamp).toEpochMilli).toDouble
      }
    }
    out.metric("latency_p50_ms", Stats.median(freshness.toSeq), "ms")
    out.attempted = runs.size.toLong * Batches
    if (ctx.trace) layers(ctx, out, timedIn, runs.toSeq)

    val winners = Reference.winners(timedIn.lines(spark)).cache()
    check(ctx, out, timedIn, winners, histories.toSeq)
    LakeQuery.run(ctx, out, runs.head.table, winners,
      keySpace = (WarmBatches + Batches) * PerBatch / 4, n => timedIn.lines(spark, n))
    winners.unpersist()
    out
  }

  /** The final table equals the reference state, the error sink holds
    * exactly the injected lines by type, and the history is one commit per
    * batch plus one compaction that leaves no delete file referenced. The
    * first stream's table is compared with the reference state by the query
    * phase, which reads it anyway.
    */
  private def check(ctx: Ctx, out: Outcome, in: Landed, winners: DataFrame,
      histories: Seq[(StreamRun, Seq[graft.table.Snapshot])]): Unit = {
    val spark = ctx.spark
    val want = winners.where("op <> 'delete'")
    val wantSinks = Inputs.Noise.map { case (k, n) => k -> n.toLong * in.batches }
    histories.zipWithIndex.foreach { case ((r, h), i) =>
      if (i > 0 && !Reference.same(r.table.read(spark), want))
        out.fail(Batches, "table differs from the reference state")
      val sinks = spark.read.parquet(r.cfg.errorRoot).groupBy("error_type").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      if (sinks != wantSinks) out.fail(Batches, s"error sink holds $sinks, injected $wantSinks")
      val merges = h.count(_.op == "merge")
      val compacts = h.filter(_.op == "compact")
      if (merges != Batches || compacts.size != 1 || compacts.exists(_.deleteFiles.nonEmpty) ||
          !(0 until Batches).forall(b => h.last.appliedBatches.contains(b.toString)))
        out.fail(Batches, s"history ${h.map(_.op).mkString(",")} is not one commit per batch " +
          "and one compaction clearing the delete files")
    }
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Per-layer figures from the traced streams' spans. */
  private def layers(ctx: Ctx, out: Outcome, in: Landed, runs: Seq[StreamRun]): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val all = tr.spans
    val streamIds = runs.map(_.span).toSet
    val batches = all.filter(s => s.name == "stream.batch" && streamIds(s.parent))
    val batchIds = batches.map(_.id).toSet
    def under(name: String) = all.filter(s => s.name == name && batchIds(s.parent))
    val n = batches.size.max(1).toDouble
    def perBatchMs(name: String): Double = Stats.median(batches.map { b =>
      all.filter(s => s.parent == b.id && s.name == name).map(_.ms).sum
    })
    def jobs(spans: Seq[Span]): Double = spans.map(tr.inclusive(_).jobs).sum.toDouble

    out.metric("transform.classify_ms", perBatchMs("transform.classify"), "ms")
    out.metric("transform.jobs_per_batch", jobs(under("transform.classify")) / n, "count")
    out.metric("stream.error_sink_ms", perBatchMs("stream.error_sink"), "ms")
    val engine = runs.flatMap(_.progress.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      (d.getOrDefault("triggerExecution", 0L) - d.getOrDefault("addBatch", 0L)).toDouble
    })
    out.metric("stream.engine_ms", Stats.median(engine), "ms")
    out.metric("stream.jobs_per_batch", jobs(batches) / n, "count")
    val applies = under("table.apply")
    out.metric("table.apply_ms", Stats.median(applies.map(_.ms)), "ms")
    out.metric("table.apply_jobs", Stats.median(applies.map(tr.inclusive(_).jobs.toDouble)), "count")
    out.metric("table.compacting_apply_ms", Stats.median(under("table.compacting_apply").map(_.ms)), "ms")
    val allApplies = applies ++ under("table.compacting_apply")
    out.metric("table.shuffle_mb_per_batch",
      allApplies.map(tr.inclusive(_).shuffleWriteBytes).sum / 1e6 / n, "MB")
    val added = runs.flatMap { r =>
      val h = r.table.history
      h.zip(h.drop(1)).filter(_._2.op == "merge").map { case (a, b) =>
        ((b.dataFiles.toSet -- a.dataFiles).size + (b.deleteFiles.toSet -- a.deleteFiles).size).toDouble
      } ++ h.take(1).map(s => (s.dataFiles.size + s.deleteFiles.size).toDouble)
    }
    out.metric("table.files_per_commit", added.sum / added.size.max(1), "count")
    val written = runs.map(r => dirBytes(java.nio.file.Paths.get(r.cfg.tableRoot))).sum
    out.metric("table.write_amp", written.toDouble / (in.bytes * runs.size), "ratio")
  }
}
