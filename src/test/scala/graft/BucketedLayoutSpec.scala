package graft

import org.apache.spark.sql.functions._

import graft.table.MergeTable

/** Bucketed MergeTable layout (VERDICT r2 item 4): after compactBucketed,
  * key joins/aggs over read() must plan with ZERO exchanges, and later
  * deltas must fall back to the merge view without losing correctness.
  */
class BucketedLayoutSpec extends SparkSpec {
  import graft.model.Schemas

  private def freshTable(partitioned: Boolean): MergeTable =
    new MergeTable(tmpDir("bkt") + "/t", Schemas.LakeTableSchema, "trans_id",
      if (partitioned) Some("event") else None).create()

  private def batch(ids: Range, op: String, event: String = "visit") = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"c$i", event, s"S$i", i, "pc",
        java.sql.Timestamp.valueOf("2023-01-16 06:00:00"), op))
      .toDF("trans_id", "customer_id", "event", "sku", "amount", "device",
        "trans_datetime", "operation")
  }

  test("zero-exchange groupBy and self-join on the merge key after compactBucketed") {
    val t = freshTable(partitioned = false)
    t.applyBatch(batch(0 until 500, "insert"))
    t.applyBatch(batch(100 until 200, "update"))
    t.rewrite(spark, MergeTable.Rewrite.Bucketed(nBuckets = 4))

    val r = t.read(spark)
    assert(r.count() == 500)

    val agg = r.groupBy("trans_id").agg(count(lit(1)).as("n"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"agg plan shuffles:\n$aggPlan")

    // small tables would broadcast (BroadcastExchange is not a shuffle);
    // force the SMJ path to show the co-located fact-fact join shape
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = t.read(spark).join(
        t.read(spark).select(col("trans_id"), col("amount").as("b")), "trans_id")
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"), s"join plan shuffles:\n$jPlan")
      assert(j.count() == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("partitioned table: bucketed compaction preserves merge correctness and re-registers across catalog loss") {
    val t = freshTable(partitioned = true)
    t.applyBatch(batch(0 until 300, "insert", "visit")
      .unionByName(batch(300 until 400, "insert", "cart")))
    t.applyBatch(batch(0 until 50, "delete"))
    t.rewrite(spark, MergeTable.Rewrite.Bucketed(nBuckets = 4))
    assert(t.read(spark).count() == 350)
    val plan = t.read(spark).groupBy("trans_id").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"partitioned bucketed agg shuffles:\n$plan")

    // simulate a new session's empty catalog: drop the registration, the
    // next read must recreate it from the manifest alone
    spark.sql(s"DROP TABLE IF EXISTS ${spark.catalog.listTables()
      .filter(col("name").startsWith("graft_bkt_")).collect().head.name}")
    assert(t.read(spark).count() == 350)
  }

  test("deltas after bucketed compaction fall back to the merge view; re-bucketing restores zero-exchange") {
    val t = freshTable(partitioned = true)
    t.applyBatch(batch(0 until 200, "insert"))
    t.rewrite(spark, MergeTable.Rewrite.Bucketed(nBuckets = 4))
    // delta lands AFTER bucketing: snapshot loses the bucket flag
    t.applyBatch(batch(150 until 250, "update", "cart"))
    val merged = t.read(spark)
    assert(merged.count() == 250)
    assert(merged.filter(col("trans_id") === 160).select("event")
      .collect().head.getString(0) == "cart")
    // binPack must refuse to touch a bucketed snapshot's files
    t.rewrite(spark, MergeTable.Rewrite.Bucketed(nBuckets = 4))
    val before = t.currentSnapshot.get.dataFiles
    t.rewrite(spark, MergeTable.Rewrite.BinPack())
    assert(t.currentSnapshot.get.dataFiles == before)
    val plan = t.read(spark).groupBy("trans_id").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(t.read(spark).count() == 250)
  }

  test("compactBucketed keeps the rewrite/expire split: time travel, rollback and change feed survive it") {
    val t = freshTable(partitioned = false)
    t.applyBatch(batch(0 until 100, "insert"))          // v1
    val v1 = t.latestVersion
    t.applyBatch(batch(0 until 30, "delete"))           // v2
    t.rewrite(spark, MergeTable.Rewrite.Bucketed(nBuckets = 4))              // v3, layout-only

    // time travel to pre-compaction versions must still read deleted files
    assert(t.read(spark, Some(v1)).count() == 100)
    assert(t.read(spark, Some(v1 + 1)).count() == 70)
    // a lagging feed consumer whose range spans the compaction: the delta
    // commits still resolve (compaction itself is layout-only, emits 0)
    val feed = t.changesSince(spark, v1)
    assert(feed.count() == 30) // the 30 tombstones from v2, nothing from v3
    // rollback across the bucketed compaction restores the pre-image
    t.rollbackTo(v1)
    assert(t.read(spark).count() == 100)
    // expireSnapshots is the only reclaimer of the superseded files
    t.rewrite(spark, MergeTable.Rewrite.Bucketed(nBuckets = 4))
    t.expireSnapshots(keepLast = 1)
    assert(t.read(spark).count() == 100)
  }
}
