package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField}
import graft.fixtures.GoldenCorpus
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** Metadata-only column RENAME (Iceberg evolution contract): the column
  * keeps its original PHYSICAL name in every parquet file ever written;
  * only the logical name changes. These specs drive the rename through
  * every table surface that touches files: merge writes, tombstones,
  * compaction (plain/sorted/bucketed), manifest stat pruning, the change
  * feed, time travel, and re-adding a column whose name was renamed away.
  */
class RenameColumnSpec extends SparkSpec {
  import spark.implicits._

  private def golden(root: String): MergeTable = {
    val t = MergeTable.retailTrans(root)
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.allLines), t)
    t
  }

  test("rename payload column: zero file I/O, old data under the new name") {
    val root = tmpDir("ren1")
    val t0 = golden(root)
    val before = t0.read(spark).select($"trans_id", $"amount")
      .as[(Long, Int)].collect().toMap

    val t1 = t0.renameColumn("amount", "amt")
    assert(t1.schema.fieldNames.toSeq.contains("amt"))
    assert(!t1.schema.fieldNames.toSeq.contains("amount"))
    val after = t1.read(spark).select($"trans_id", $"amt")
      .as[(Long, Int)].collect().toMap
    assert(after === before, "every pre-rename value must surface under the new name")

    // writes after the rename speak the new name end-to-end
    t1.updateWhere(spark, $"trans_id" === 19, Map("amt" -> lit(777)))
    assert(t1.read(spark).filter($"trans_id" === 19)
      .select($"amt").as[Int].head() === 777)

    // reopened handle carries the mapping
    val re = MergeTable.open(root)
    assert(re.read(spark).columns.contains("amt"))
    assert(re.read(spark).filter($"trans_id" === 19)
      .select($"amt").as[Int].head() === 777)
  }

  test("renamed merge key and partition column still merge, prune, and read") {
    val root = tmpDir("ren2")
    val t0 = golden(root)
    val t1 = t0.renameColumn("trans_id", "id").renameColumn("event", "etype")
    assert(t1.keyCol === "id" && t1.partitionCol === Some("etype"))
    assert(t1.read(spark).count() === 12)

    // merge path under the renamed key: update one row via DML
    t1.updateWhere(spark, $"id" === 21, Map("device" -> lit("watch")))
    val r = t1.read(spark)
    assert(r.count() === 12)
    assert(r.filter($"device" === "watch").select($"id").as[Long].head() === 21L)

    // lookup (key-range skipping) works on the logical key
    assert(t1.lookup(spark, Seq(21L)).select($"id").as[Long].head() === 21L)

    // partition directories on disk keep the PHYSICAL name
    val dirs = new java.io.File(s"$root/data").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("event=")),
      s"partition dirs must keep the physical name, got ${dirs.toSeq}")
    assert(!dirs.exists(_.startsWith("etype=")))
  }

  test("compaction and tombstones after a rename preserve the merge view") {
    val root = tmpDir("ren3")
    val t0 = golden(root)
    val t1 = t0.renameColumn("amount", "amt")
    t1.deleteWhere(spark, $"trans_id" === 47)
    t1.updateWhere(spark, $"trans_id" === 19, Map("amt" -> lit(111)))
    assert(t1.read(spark).count() === 11)
    t1.compact(spark)
    val r = t1.read(spark)
    assert(r.count() === 11)
    assert(r.filter($"trans_id" === 19).select($"amt").as[Int].head() === 111)
    assert(r.filter($"trans_id" === 47).isEmpty)
  }

  test("compactSorted stats survive a LATER rename: readWhere prunes by the new name") {
    val root = tmpDir("ren4")
    val t0 = golden(root)
    t0.rewrite(spark, MergeTable.Rewrite.Sorted("amount", targetFiles = 4))
    // rename AFTER stats were recorded — stats are keyed physically,
    // so pruning through the new logical name must still hit them
    val t1 = MergeTable.open(root).renameColumn("amount", "amt")
    val all = t1.prunedFilesFor("amt", Long.MinValue, Long.MaxValue).size
    val some = t1.prunedFilesFor("amt", 0L, 5L).size
    assert(some < all, s"expected pruning via renamed column: $some of $all")
    val direct = t1.read(spark).filter($"amt".between(0, 5))
      .select($"trans_id").as[Long].collect().toSet
    val pruned = t1.readWhere(spark, "amt", 0L, 5L)
      .select($"trans_id").as[Long].collect().toSet
    assert(pruned === direct)
  }

  test("change feed and time travel read old snapshots under the current names") {
    val root = tmpDir("ren5")
    val t0 = golden(root)
    val v0 = t0.latestVersion
    val t1 = t0.renameColumn("amount", "amt")
    t1.updateWhere(spark, $"trans_id" === 19, Map("amt" -> lit(555)))
    // feed covers pre-rename commits too; all rows speak the new name
    val feed = t1.changesSince(spark, -1)
    assert(feed.columns.contains("amt") && !feed.columns.contains("amount"))
    assert(feed.filter($"_change_type" === "upsert").count() >= 12)
    // time travel to the pre-rename version: current schema applies
    val tt = t1.read(spark, Some(v0))
    assert(tt.columns.contains("amt"))
    assert(tt.count() === 12)
  }

  test("re-adding a renamed-away name gets fresh storage: old bytes never bleed") {
    val root = tmpDir("ren6")
    val t0 = golden(root)
    val t1 = t0.renameColumn("amount", "amt")
    val t2 = t1.addColumn(StructField("amount", IntegerType, nullable = true))
    val r = t2.read(spark)
    // the renamed column keeps its values; the NEW `amount` is all null
    // even though old files carry bytes under physical name `amount`
    assert(r.filter($"amt".isNotNull).count() === 12)
    assert(r.filter($"amount".isNull).count() === 12,
      "new column must not read the renamed-away column's old bytes")
    // and renaming back to the original name degenerates to identity
    val t3 = t2.dropColumn("amount").renameColumn("amt", "amount")
    val vals = t3.read(spark).select($"trans_id", $"amount")
      .as[(Long, Int)].collect().toMap
    assert(vals.size === 12 && vals(19L) === 39)
  }

  test("bucketed compaction after a rename keeps the zero-exchange layout") {
    val root = tmpDir("ren7")
    val t0 = golden(root)
    val t1 = t0.renameColumn("trans_id", "id")
    t1.rewrite(spark, MergeTable.Rewrite.Bucketed(nBuckets = 4))
    val r = t1.read(spark)
    assert(r.count() === 12)
    // key-equi aggregation over the bucketed read plans without a shuffle
    val agg = r.groupBy($"id").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed layout should aggregate by key with zero exchanges:\n$plan")
  }

  test("SQL surface: ALTER TABLE RENAME COLUMN through the catalog plugin") {
    val wh = tmpDir("rensql")
    spark.conf.set("spark.sql.catalog.rencat", "graft.sqlcat.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rencat.warehouse", wh)
    try {
      spark.sql("CREATE DATABASE IF NOT EXISTS rencat.db")
      spark.sql("CREATE TABLE rencat.db.t (id BIGINT, v INT) " +
        "TBLPROPERTIES ('unique_keys'='id')")
      spark.sql("INSERT INTO rencat.db.t VALUES (1, 10), (2, 20)")
      spark.sql("ALTER TABLE rencat.db.t RENAME COLUMN v TO score")
      val out = spark.sql("SELECT id, score FROM rencat.db.t ORDER BY id")
        .as[(Long, Int)].collect().toSeq
      assert(out === Seq((1L, 10), (2L, 20)))
      spark.sql("INSERT INTO rencat.db.t VALUES (3, 30)")
      assert(spark.sql("SELECT score FROM rencat.db.t WHERE id = 3")
        .as[Int].head() === 30)
    } finally {
      spark.sql("DROP TABLE IF EXISTS rencat.db.t")
      spark.conf.unset("spark.sql.catalog.rencat")
      spark.conf.unset("spark.sql.catalog.rencat.warehouse")
    }
  }
}
