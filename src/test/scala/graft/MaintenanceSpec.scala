package graft

import org.apache.spark.sql.functions._
import graft.fixtures.GoldenCorpus
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** Layout maintenance: bin-packing small files and snapshot expiry. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def state(t: MergeTable): Map[Long, Int] =
    t.read(spark).select($"trans_id", $"amount")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("binPack merges small files per partition without changing results") {
    val t = MergeTable.retailTrans(tmpDir("pack"), threshold = 100)
    // many tiny batches → many small files in the same partitions
    GoldenCorpus.insertOnlyLines.zipWithIndex.foreach { case (l, i) =>
      CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, Seq(l)), t, None, Some(s"b$i"))
    }
    val before = state(t)
    val filesBefore = t.currentSnapshot.get.dataFiles.size
    assert(filesBefore >= 10)

    t.rewrite(spark, MergeTable.Rewrite.BinPack(maxFilesPerPartition = 1))
    val after = state(t)
    val filesAfter = t.currentSnapshot.get.dataFiles.size
    assert(after === before)
    assert(filesAfter < filesBefore)
    // dedup flag untouched — binPack is layout-only
    assert(!t.currentSnapshot.get.requiresDedup)
  }

  test("binPack preserves LWW semantics (seq survives the rewrite)") {
    val t = MergeTable.retailTrans(tmpDir("pack2"), threshold = 100)
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("p1"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("p2"))
    val before = state(t)
    t.rewrite(spark, MergeTable.Rewrite.BinPack(maxFilesPerPartition = 1))
    assert(state(t) === before)
    assert(state(t)(19L) === 39) // updated amount still wins over the insert
    assert(t.read(spark).count() === 12)
  }

  test("binPack keeps old files readable for time travel until expiry") {
    val t = MergeTable.retailTrans(tmpDir("packtt"), threshold = 100)
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("p1"))
    val v0 = t.latestVersion
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("p2"))
    t.rewrite(spark, MergeTable.Rewrite.BinPack(maxFilesPerPartition = 1))
    // pre-pack snapshots still fully readable (files not deleted yet)
    assert(t.read(spark, Some(v0)).count() === 10)
    // expiry is what reclaims the superseded small files
    t.expireSnapshots(keepLast = 1)
    assert(t.read(spark).count() === 12)
  }

  test("expireSnapshots is safe to run repeatedly") {
    val t = MergeTable.retailTrans(tmpDir("exp2"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("p1"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("p2"))
    t.expireSnapshots(keepLast = 1)
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, Seq(GoldenCorpus.insertOnlyLines.head)), t, None, Some("p3"))
    t.expireSnapshots(keepLast = 1) // second run over a gapped history
    assert(t.history.size === 1)
    // 12 golden rows + key 6 re-inserted after its delete (LWW resurrect)
    assert(t.read(spark).count() === 13)
  }

  test("tab-bearing batchIds are rejected (manifest is TSV)") {
    val t = MergeTable.retailTrans(tmpDir("tsv"))
    intercept[IllegalArgumentException] {
      CdcPipeline.replayBatch(spark,
        GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("bad\tid"))
    }
  }

  test("expireSnapshots drops old versions and their exclusive files") {
    val t = MergeTable.retailTrans(tmpDir("exp"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("p1"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("p2"))
    t.compact(spark) // v2 references only fresh files
    val before = state(t)
    assert(t.history.size === 3)

    t.expireSnapshots(keepLast = 1)
    assert(t.history.map(_.version) === Seq(2L))
    assert(state(t) === before)
    // expired time travel is gone
    intercept[Exception](t.read(spark, Some(0L)).count())
  }

  test("compactScoped rewrites only tombstone/overlap-affected files") {
    val t = MergeTable.retailTrans(tmpDir("scoped"), threshold = 100)
    // commit 0: golden inserts (keys 6..35); commit 1: a DISJOINT key range
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("c0"))
    val far = spark.range(1000, 1010).selectExpr(
      "id AS trans_id", "'999999999999' AS customer_id", "'visit' AS event",
      "'ZZ0000AAAA' AS sku", "7 AS amount", "'pc' AS device",
      "timestamp'2023-02-01 00:00:00' AS trans_datetime",
      "'insert' AS operation")
    t.applyBatch(far, Some("c1"))
    // commit 2: update + delete touching ONLY the golden range
    val dml = GoldenCorpus.df(spark, GoldenCorpus.dmlLines)
    CdcPipeline.replayBatch(spark, dml, t, None, Some("c2"))
    val before = state(t)
    // match on the commit prefix of the BASENAME — a bare substring match
    // can collide with hex in another file's uuid segment
    def commitOf(f: String) = f.substring(f.lastIndexOf('/') + 1).takeWhile(_ != '-')
    val farFiles = t.currentSnapshot.get.dataFiles
      .filter(f => commitOf(f) == "f1").toSet
    assert(farFiles.nonEmpty)
    assert(t.currentSnapshot.get.deleteFiles.nonEmpty)

    t.compactScoped(spark)
    val snap = t.currentSnapshot.get
    assert(state(t) === before)               // results unchanged
    assert(snap.deleteFiles.isEmpty)          // tombstones resolved
    assert(!snap.requiresDedup)               // shuffle-free reads again
    // the disjoint commit-1 files were carried over untouched
    assert(farFiles.subsetOf(snap.dataFiles.toSet))
    // the golden-range files were rewritten (no c0/c2 files remain)
    assert(!snap.dataFiles.exists(f => Set("f0", "f2")(commitOf(f))))
  }

  test("compactScoped with no overlap and no tombstones is metadata-only") {
    val t = MergeTable.retailTrans(tmpDir("scoped2"), threshold = 100)
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("c0"))
    // an update batch whose keys were all re-inserted far away: simulate a
    // dedup-flagged table whose files are actually disjoint, by updating
    // keys in a disjoint range
    val far = spark.range(5000, 5010).selectExpr(
      "id AS trans_id", "'999999999999' AS customer_id", "'visit' AS event",
      "'ZZ0000AAAA' AS sku", "7 AS amount", "'pc' AS device",
      "timestamp'2023-02-01 00:00:00' AS trans_datetime",
      "'update' AS operation")
    t.applyBatch(far, Some("c1")) // update of absent keys -> upsert, flags dedup
    assert(t.currentSnapshot.get.requiresDedup)
    val filesBefore = t.currentSnapshot.get.dataFiles
    t.compactScoped(spark)
    val snap = t.currentSnapshot.get
    assert(snap.dataFiles === filesBefore)    // nothing rewritten
    assert(!snap.requiresDedup)
    assert(state(t).keySet.exists(_ >= 5000L))
  }
}

/** Manifest key-range stats + data-skipping point lookups. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  test("lookup prunes files by key range and matches filtered read") {
    val t = MergeTable.retailTrans(tmpDir("skip"), threshold = 100)
    // three batches with disjoint key ranges → disjoint file stats
    def mk(lines: Seq[String], id: String) =
      CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, lines), t, None, Some(id))
    mk(GoldenCorpus.insertOnlyLines, "p1")    // keys 6..35
    mk(GoldenCorpus.dmlLines, "p2")           // keys 6..47

    val snap = t.currentSnapshot.get
    assert(snap.fileStats.nonEmpty)
    assert(snap.fileStats.size === snap.dataFiles.size)

    val viaLookup = t.lookup(spark, Seq(19L, 47L))
      .select($"trans_id", $"amount").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaRead = t.read(spark).filter($"trans_id".isin(19L, 47L))
      .select($"trans_id", $"amount").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaLookup === viaRead)
    assert(viaLookup === Map(19L -> 39, 47L -> 1))

    // pruning is real: key 47 only exists in phase-2 files; a lookup for a
    // key outside every file range reads nothing
    val pruned = snap.dataFiles.count { f =>
      snap.fileStats.get(f).exists { case (lo, hi) => 999L >= lo && 999L <= hi }
    }
    assert(pruned === 0)
    assert(t.lookup(spark, Seq(999L)).count() === 0)
  }

  test("stats survive the manifest round-trip and compaction") {
    val t = MergeTable.retailTrans(tmpDir("skip2"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.allLines), t)
    t.compact(spark)
    val snap = MergeTable.open(t.root).currentSnapshot.get
    assert(snap.fileStats.size === snap.dataFiles.size)
    val (lo, hi) = snap.fileStats.values
      .reduce((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
    assert(lo === 19L && hi === 47L)
  }
}

/** Snapshot isolation under concurrent read/write/compact. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("readers only ever observe committed snapshot states") {
    val t = MergeTable.retailTrans(tmpDir("conc"), threshold = 1000)
    // each batch i inserts keys [i*100, i*100+50) → valid counts are 50*i
    val validCounts = (0 to 8).map(i => 50L * i).toSet

    @volatile var writerDone = false
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => {
      while (!writerDone) {
        val n = t.read(spark).count()
        if (!validCounts.contains(n)) violations.add(n)
      }
    })
    reader.start()
    try {
      (0 until 8).foreach { i =>
        val rows = (0 until 50).map { j =>
          (i * 100L + j, "cart", 1, "insert", s"2023-01-01 00:00:0$i", i * 100L + j)
        }.toDF("trans_id", "event", "amount", "operation", "_ts", "transaction_id")
          .withColumn("customer_id", lit("c")).withColumn("sku", lit("s"))
          .withColumn("device", lit("pc"))
          .withColumn("trans_datetime", to_timestamp(lit("2023-01-16 06:00:00")))
          .withColumn("src_timestamp", to_timestamp($"_ts")).drop("_ts")
        t.applyBatch(rows, Some(s"c$i"))
      }
      t.compact(spark)
    } finally {
      writerDone = true
      reader.join(30000)
    }
    assert(violations.isEmpty, s"saw non-snapshot counts: $violations")
    assert(t.read(spark).count() === 400)
  }
}

/** Snapshot rollback (Iceberg rollback_to_snapshot analog). */
class RollbackSpec extends SparkSpec {
  import spark.implicits._

  test("rollbackTo restores an earlier state and allows batch re-apply") {
    val t = MergeTable.retailTrans(tmpDir("rb"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("p1"))
    val v0 = t.latestVersion
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("p2"))
    assert(t.read(spark).count() === 12)

    t.rollbackTo(v0)
    assert(t.read(spark).count() === 10) // pre-DML state
    assert(t.latestVersion === v0 + 2)   // rollback is a new commit

    // the rolled-back batch can re-apply (its id was dropped)
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("p2"))
    assert(t.read(spark).count() === 12)
  }
}

/** INSERT OVERWRITE / TRUNCATE parity. */
class OverwriteSpec extends SparkSpec {
  import spark.implicits._

  test("overwrite replaces contents; truncate empties; both time-travelable") {
    val t = MergeTable.retailTrans(tmpDir("ow"))
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.allLines), t)
    val v0 = t.latestVersion
    assert(t.read(spark).count() === 12)

    val fresh = t.read(spark).filter($"event" === "cart")
    t.overwrite(fresh)
    assert(t.read(spark).count() === 2)
    assert(!t.currentSnapshot.get.requiresDedup) // overwrite resets merge state
    assert(t.read(spark, Some(v0)).count() === 12) // old snapshot intact

    t.truncate()
    assert(t.read(spark).count() === 0)
    t.rollbackTo(v0)
    assert(t.read(spark).count() === 12)
  }
}
