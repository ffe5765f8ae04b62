package graft

import org.apache.spark.sql.functions._

import graft.table.MergeTable

/** Sort-ordered compaction + manifest-level data skipping: compactSorted
  * must produce range-clustered files with per-file column stats, and
  * readWhere must prune files a range predicate cannot touch — while
  * staying exactly equal to read().filter() in every state.
  */
class SortedLayoutSpec extends SparkSpec {
  import graft.model.Schemas

  private def freshTable(partitioned: Boolean = false): MergeTable =
    new MergeTable(tmpDir("sorted") + "/t", Schemas.LakeTableSchema, "trans_id",
      if (partitioned) Some("event") else None).create()

  private def batch(ids: Range, op: String, event: String = "visit") = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"c$i", event, s"S$i", (i * 7) % 1000, "pc",
        java.sql.Timestamp.valueOf("2023-01-16 06:00:00"), op))
      .toDF("trans_id", "customer_id", "event", "sku", "amount", "device",
        "trans_datetime", "operation")
  }

  test("compactSorted: files are range-disjoint-ish, stats recorded, pruning bounded") {
    val t = freshTable()
    t.applyBatch(batch(0 until 2000, "insert"))
    t.applyBatch(batch(500 until 600, "update"))
    t.rewrite(spark, MergeTable.Rewrite.Sorted("amount", targetFiles = 8))

    val snap = t.currentSnapshot.get
    val stats = snap.colStats("amount")
    assert(stats.nonEmpty && stats.size == snap.dataFiles.size)
    // range partitioning: a narrow slice must touch FEWER files than exist
    val all = t.prunedFilesFor("amount", Long.MinValue, Long.MaxValue)
    val narrow = t.prunedFilesFor("amount", 0, 50)
    assert(all.size == snap.dataFiles.size)
    assert(narrow.size < all.size,
      s"no pruning: ${narrow.size} of ${all.size} files")
    // pruned read == unpruned filter, exactly
    val pruned = t.readWhere(spark, "amount", 0, 50)
    val full = t.read(spark).filter(col("amount").between(0, 50))
    assert(pruned.count() == full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // per-file KEY stats got tighter than per-commit: lookup still correct
    assert(t.lookup(spark, Seq(42L)).count() == 1)
  }

  test("readWhere falls back to the merged view after a delta; re-sorting restores pruning") {
    val t = freshTable()
    t.applyBatch(batch(0 until 1000, "insert"))
    t.rewrite(spark, MergeTable.Rewrite.Sorted("amount", targetFiles = 8))
    // update MOVES sort values (amount = id*7%1000 -> all 999): pruning on
    // the old ranges would resurrect stale copies — must fall back
    import spark.implicits._
    val upd = (0 until 100).map(i => (i.toLong, s"c$i", "visit", s"S$i", 999,
        "pc", java.sql.Timestamp.valueOf("2023-01-16 06:00:00"), "update"))
      .toDF("trans_id", "customer_id", "event", "sku", "amount", "device",
        "trans_datetime", "operation")
    t.applyBatch(upd)
    val got = t.readWhere(spark, "amount", 0, 10)
    val want = t.read(spark).filter(col("amount").between(0, 10))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // keys 0..100 moved to 999: none of them may appear in [0,10]
    assert(got.filter(col("trans_id") < 100).count() == 0)

    t.rewrite(spark, MergeTable.Rewrite.Sorted("amount", targetFiles = 8))
    assert(t.prunedFilesFor("amount", 0, 10).size
      < t.currentSnapshot.get.dataFiles.size)
    val again = t.readWhere(spark, "amount", 0, 10)
    assert(again.exceptAll(want).isEmpty && want.exceptAll(again).isEmpty)
  }

  test("column stats survive appends (immutable files) and time travel survives the rewrite") {
    val t = freshTable(partitioned = true)
    t.applyBatch(batch(0 until 500, "insert", "visit")
      .unionByName(batch(500 until 700, "insert", "cart")))
    val vPre = t.latestVersion
    t.rewrite(spark, MergeTable.Rewrite.Sorted("amount", targetFiles = 4))
    val statsAfterSort = t.currentSnapshot.get.colStats("amount")
    // append-only delta: old files keep their stats, new file has none
    t.appendAll(batch(700 until 720, "insert", "visit"))
    val snap = t.currentSnapshot.get
    assert(snap.colStats("amount") == statsAfterSort)
    // pure-scan state (no dedup, no deletes) → pruning still allowed, the
    // stat-less appended file is conservatively included in every range
    val narrow = t.prunedFilesFor("amount", 0, 5)
    assert(narrow.size < snap.dataFiles.size)
    val appended = snap.dataFiles.filterNot(statsAfterSort.contains)
    assert(appended.forall(narrow.contains))
    // rewrite/expire split: pre-compaction version still readable
    assert(t.read(spark, Some(vPre)).count() == 700)
    // reopened handle (fresh manifest parse) sees identical stats
    val t2 = MergeTable.open(t.root)
    assert(t2.currentSnapshot.get.colStats("amount") == statsAfterSort)
  }

  test("compactZOrder: both dimensions prune, results exact in each") {
    import spark.implicits._
    val t = freshTable()
    // two independent dimensions: amount = i mod 1000, trans_datetime keyed
    // to i/100 hours — a single-column sort can cluster only one of them
    val rows = (0 until 4000).map(i => (i.toLong, s"c$i", "visit", s"S$i",
        i % 1000, "pc",
        java.sql.Timestamp.valueOf(f"2023-01-${1 + i / 200}%02d 06:00:00"), "insert"))
      .toDF("trans_id", "customer_id", "event", "sku", "amount", "device",
        "trans_datetime", "operation")
    t.applyBatch(rows)
    t.rewrite(spark, MergeTable.Rewrite.ZOrder(Seq("amount", "trans_datetime"), targetFiles = 16))

    val snap = t.currentSnapshot.get
    assert(snap.colStats.contains("amount") && snap.colStats.contains("trans_datetime"))
    val nFiles = snap.dataFiles.size
    val byAmount = t.prunedFilesFor("amount", 0, 60)
    assert(byAmount.size < nFiles, s"amount did not prune: ${byAmount.size}/$nFiles")
    // timestamp stats are epoch seconds (order-preserving long cast)
    val ts = java.sql.Timestamp.valueOf("2023-01-03 00:00:00").getTime / 1000
    val byTime = t.prunedFilesFor("trans_datetime", ts, ts + 86400)
    assert(byTime.size < nFiles, s"time did not prune: ${byTime.size}/$nFiles")

    // both pruned reads equal the unpruned filters exactly
    val a = t.readWhere(spark, "amount", 0, 60)
    val aFull = t.read(spark).filter(col("amount").between(0, 60))
    assert(a.exceptAll(aFull).isEmpty && aFull.exceptAll(a).isEmpty)
    val b = t.readWhere(spark, "trans_datetime", ts, ts + 86400)
    val bFull = t.read(spark)
      .filter(col("trans_datetime").cast("long").between(ts, ts + 86400))
    assert(b.exceptAll(bFull).isEmpty && bFull.exceptAll(b).isEmpty)
    assert(b.count() > 0 && a.count() > 0)
  }
}
