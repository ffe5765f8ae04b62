package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.fixtures.GoldenCorpus
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** Streaming source over the change feed (`format("graft-changes")`):
  * consuming the feed as micro-batches must yield the exact multiset of
  * change rows a single batch `changesSince(-1)` returns, regardless of how
  * commits interleave with triggers — including compaction (emits nothing)
  * and rollback (resync marker). Restarting from a checkpoint resumes at
  * the recorded version offset with no duplicates.
  */
class ChangeFeedStreamSpec extends SparkSpec {

  /** Change rows as order-insensitive comparable tuples (null-safe). */
  private def multiset(df: DataFrame): Seq[(Option[Any], Option[Any], Any, Any)] = {
    val rows = df.selectExpr("trans_id", "amount", "_seq", "_change_type").collect()
    rows.toSeq.map(r => (Option(r.get(0)), Option(r.get(1)), r.get(2), r.get(3)))
      .sortBy(_.toString)
  }

  private def assertSame(
      got: Seq[(Option[Any], Option[Any], Any, Any)],
      want: Seq[(Option[Any], Option[Any], Any, Any)]): Unit =
    assert(got.sortBy(_.toString) === want.sortBy(_.toString))

  private def feedStream(root: String): DataFrame =
    spark.readStream.format("graft-changes").option("path", root).load()

  test("micro-batched feed == keeping-up batch consumer across compaction and rollback") {
    val root = tmpDir("cfstream") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("c0"))

    // the batch-side expectation is captured incrementally, at the same
    // points a keeping-up changesSince consumer would poll — range
    // composition is exactly the property the streaming source relies on
    var expected = multiset(t.changesSince(spark, -1))
    var cursor = t.latestVersion

    val q = feedStream(root).writeStream
      .format("memory").queryName("feed_all")
      .option("checkpointLocation", tmpDir("cfstream-cp"))
      .start()
    try {
      q.processAllAvailable() // batch 1: (-1, v0]
      assertSame(multiset(spark.table("feed_all")), expected)
      assert(expected.size === 10)

      CdcPipeline.replayBatch(spark,
        GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("c1"))
      expected ++= multiset(t.changesSince(spark, cursor))
      cursor = t.latestVersion
      q.processAllAvailable() // consume the DML delta while its files live
      val afterDml = multiset(spark.table("feed_all"))
      assertSame(afterDml, expected)
      assert(afterDml.count(_._4 == "delete") === 3)

      t.compactScoped(spark) // layout-only commit: advances offset, zero rows
      expected ++= multiset(t.changesSince(spark, cursor))
      cursor = t.latestVersion
      q.processAllAvailable()
      assertSame(multiset(spark.table("feed_all")), expected)

      t.rollbackTo(0) // resync marker
      expected ++= multiset(t.changesSince(spark, cursor))
      q.processAllAvailable()
      val all = multiset(spark.table("feed_all"))
      assertSame(all, expected)
      assert(all.count(_._4 == "resync") === 1)
    } finally q.stop()
  }

  test("checkpoint restart resumes at the version offset with no duplicates") {
    val root = tmpDir("cfrestart") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("c0"))

    val out = tmpDir("cfrestart-out")
    val cp = tmpDir("cfrestart-cp")
    def run(): Unit = {
      val q = feedStream(root).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // delivers (-1, v0]
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("c1"))
    run() // restart: offset restored from checkpoint → delivers only (v0, v1]

    val sunk = spark.read.schema(t.changeFeedSchema).parquet(out)
    assert(multiset(sunk) === multiset(t.changesSince(spark, -1)))
    // v0's 10 bootstrap rows appear exactly once — not re-delivered
    assert(sunk.where("_seq = 0").count() === 10)
  }

  test("startVersion skips the bootstrap; maintenance-only commits deliver nothing") {
    val root = tmpDir("cfstart") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("c0"))
    val v0 = t.latestVersion

    val q = spark.readStream.format("graft-changes")
      .option("path", root).option("startVersion", v0.toString)
      .load()
      .writeStream.format("memory").queryName("feed_tail")
      .option("checkpointLocation", tmpDir("cfstart-cp"))
      .start()
    try {
      q.processAllAvailable() // nothing past v0 yet
      assert(spark.table("feed_tail").count() === 0)
      t.rewrite(spark, MergeTable.Rewrite.BinPack()) // maintenance commit only
      q.processAllAvailable()
      assert(spark.table("feed_tail").count() === 0)
      CdcPipeline.replayBatch(spark,
        GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("c1"))
      q.processAllAvailable()
      val tail = multiset(spark.table("feed_tail"))
      assert(tail === multiset(t.changesSince(spark, v0)))
      assert(tail.nonEmpty)
    } finally q.stop()
  }

  /** One-key upsert batch in the retail_trans shape (same columns the
    * IncrementalViewSpec helper builds).
    */
  private def upsert(i: Long): DataFrame = {
    import spark.implicits._
    Seq((i, "cart", i.toInt, "insert", f"2023-01-01 00:00:$i%02d", i))
      .toDF("trans_id", "event", "amount", "operation", "_ts", "transaction_id")
      .withColumn("customer_id", lit("c"))
      .withColumn("sku", lit("s"))
      .withColumn("device", lit("pc"))
      .withColumn("trans_datetime",
        lit(Timestamp.valueOf("2023-01-16 06:00:00")))
      .withColumn("src_timestamp", to_timestamp(col("_ts")))
      .drop("_ts")
  }

  test("maxVersionsPerTrigger bounds every micro-batch over a 20-version history") {
    val root = tmpDir("cfmaxv") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    (1L to 20L).foreach(i => t.applyBatch(upsert(i), Some(s"c$i")))
    val head = t.latestVersion
    assert(head >= 19, s"expected >= 20 versions, head=$head")

    val q = spark.readStream.format("graft-changes")
      .option("path", root).option("maxVersionsPerTrigger", "3")
      .load()
      .writeStream.format("memory").queryName("feed_capped")
      .option("checkpointLocation", tmpDir("cfmaxv-cp"))
      .start()
    try {
      q.processAllAvailable()
      // catch-up must micro-batch: every delivered range spans <= 3
      // versions, INCLUDING the first batch (the whole point — a stream
      // started against a long history must not plan one giant batch)
      val ranges = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .flatMap(_.sources.headOption)
        .map(s => (Option(s.startOffset).map(_.toLong).getOrElse(-1L),
          s.endOffset.toLong))
      assert(ranges.nonEmpty)
      ranges.foreach { case (st, en) =>
        assert(en - st <= 3, s"batch ($st, $en] spans more than 3 versions")
      }
      assert(ranges.map { case (st, en) => en - st }.sum === head + 1,
        "caught-up ranges must tile the full history")
      assert(ranges.size >= 7, s"20+ versions / 3 needs >= 7 batches: $ranges")
      // back-pressure must not change WHAT is delivered, only how it's sliced
      assertSame(multiset(spark.table("feed_capped")),
        multiset(t.changesSince(spark, -1)))
    } finally q.stop()
  }

  test("Trigger.AvailableNow + cap drains the WHOLE history in capped batches, then stops") {
    // Regression: a v1 source without SupportsTriggerAvailableNow gets
    // wrapped under AvailableNow; the wrapper pins the first (capped!)
    // offset as "all available" and the query stops after one batch with
    // 17 of 20 versions silently undelivered. The source now implements
    // SupportsTriggerAvailableNow, so the run must self-terminate only
    // after the full prepare-time head is drained.
    val root = tmpDir("cfavnow") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    (1L to 20L).foreach(i => t.applyBatch(upsert(i), Some(s"c$i")))
    val head = t.latestVersion
    assert(head >= 19)

    val q = spark.readStream.format("graft-changes")
      .option("path", root).option("maxVersionsPerTrigger", "3")
      .load()
      .writeStream.format("memory").queryName("feed_avnow")
      .option("checkpointLocation", tmpDir("cfavnow-cp"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow run did not finish")
    val ranges = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .flatMap(_.sources.headOption)
      .map(s => (Option(s.startOffset).map(_.toLong).getOrElse(-1L),
        s.endOffset.toLong))
    ranges.foreach { case (st, en) =>
      assert(en - st <= 3, s"batch ($st, $en] spans more than 3 versions")
    }
    assert(ranges.map { case (st, en) => en - st }.sum === head + 1,
      s"AvailableNow must drain the full history, got $ranges")
    assert(ranges.size >= 7, s"20+ versions / 3 needs >= 7 batches: $ranges")
    assertSame(multiset(spark.table("feed_avnow")),
      multiset(t.changesSince(spark, -1)))
  }

  test("restart mid-catch-up: cap base recovers from the checkpoint, no rewind, no gap") {
    val root = tmpDir("cfmaxvr") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    (1L to 12L).foreach(i => t.applyBatch(upsert(i), Some(s"c$i")))
    val head = t.latestVersion

    val out = tmpDir("cfmaxvr-out")
    val cp = tmpDir("cfmaxvr-cp")
    def stream() = spark.readStream.format("graft-changes")
      .option("path", root).option("maxVersionsPerTrigger", "4")
      .load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp)

    // run 1: drain fully in capped batches, then stop — the checkpoint
    // records the final offset, but a FRESH source instance has a stale
    // handedOut seed (startVersion = -1)
    val q1 = stream().start()
    try q1.processAllAvailable() finally q1.stop()

    // more history lands while the stream is down
    (13L to 20L).foreach(i => t.applyBatch(upsert(i), Some(s"c$i")))

    // run 2: the recovery getBatch must restore the cap base; the stream
    // resumes past `head`, never re-plans an offset below it, and still
    // micro-batches the new history
    val q2 = stream().start()
    try {
      q2.processAllAvailable()
      val ranges = q2.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .flatMap(_.sources.headOption)
        .map(s => (Option(s.startOffset).map(_.toLong).getOrElse(-1L),
          s.endOffset.toLong))
      assert(ranges.nonEmpty)
      ranges.foreach { case (st, en) =>
        assert(st >= head, s"restarted stream rewound below v$head: ($st, $en]")
        assert(en - st <= 4, s"batch ($st, $en] spans more than 4 versions")
      }
    } finally q2.stop()

    // exactly-once across the restart: every change delivered exactly once
    val sunk = spark.read.schema(t.changeFeedSchema).parquet(out)
    assertSame(multiset(sunk), multiset(t.changesSince(spark, -1)))
  }
}
