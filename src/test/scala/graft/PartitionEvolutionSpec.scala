package graft

import org.apache.spark.sql.functions._
import graft.fixtures.GoldenCorpus
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** Partition-spec evolution: future writes land under a new layout dir
  * with the new partition column; existing files keep their old layout
  * and every mixed-spec snapshot reads correctly because each file
  * group's partition column is derived from its own path. Iceberg's
  * evolve-spec contract adapted to directory partitioning.
  */
class PartitionEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def golden(root: String): MergeTable = {
    val t = MergeTable.retailTrans(root)
    CdcPipeline.replayBatch(spark, GoldenCorpus.df(spark, GoldenCorpus.allLines), t)
    t
  }

  private def dirs(root: String, sub: String = "data") = {
    val f = new java.io.File(s"$root/$sub")
    if (f.exists()) f.listFiles().map(_.getName).toSeq else Seq.empty
  }

  test("evolve event->device: old layout stays, new writes land under the new spec") {
    val root = tmpDir("pev1")
    val t0 = golden(root)
    val before = t0.read(spark).orderBy($"trans_id").collect().map(_.toSeq)

    val t1 = t0.evolvePartitionSpec(Some("device"))
    assert(t1.partitionCol === Some("device"))
    // metadata-only: nothing moved, reads identical
    val after = t1.read(spark).orderBy($"trans_id").collect().map(_.toSeq)
    assert(after.toSeq === before.toSeq)
    assert(dirs(root).exists(_.startsWith("event=")))
    assert(!dirs(root).exists(_.startsWith("pspec-")))

    // a write after evolution: new files under pspec-1/device=...
    t1.updateWhere(spark, $"trans_id" === 19, Map("amount" -> lit(999)))
    assert(dirs(root).contains("pspec-1"))
    assert(dirs(root, "data/pspec-1").forall(_.startsWith("device=")))
    val r = t1.read(spark)
    assert(r.count() === 12)
    assert(r.filter($"trans_id" === 19).select($"amount").as[Int].head() === 999)
    // both layouts carry full logical rows: partition values survive
    assert(r.filter($"device".isNull).count() === 0)
    assert(r.filter($"event".isNull).count() === 0)
  }

  test("evolve to unpartitioned and compact() migrates everything to the current spec") {
    val root = tmpDir("pev2")
    val t0 = golden(root)
    val t1 = t0.evolvePartitionSpec(None)
    t1.deleteWhere(spark, $"trans_id" === 47)
    assert(t1.read(spark).count() === 11)
    // new files are flat (no k=v dirs) under pspec-1
    assert(dirs(root, "data/pspec-1").forall(_.endsWith(".parquet")))

    t1.compact(spark)
    val files = t1.currentSnapshot.get.dataFiles
    assert(files.forall(_.startsWith("pspec-1/")),
      s"compact must rewrite everything under the current spec: $files")
    assert(t1.read(spark).count() === 11)
  }

  test("change feed across mixed specs speaks the logical schema") {
    val root = tmpDir("pev3")
    val t0 = golden(root)
    val t1 = t0.evolvePartitionSpec(Some("device"))
    t1.updateWhere(spark, $"trans_id" === 21, Map("amount" -> lit(4242)))
    val feed = t1.changesSince(spark, -1)
    assert(feed.columns.contains("event") && feed.columns.contains("device"))
    val upserts = feed.filter($"_change_type" === "upsert")
    assert(upserts.filter($"amount" === 4242).count() === 1)
    assert(upserts.filter($"event".isNull).count() === 0,
      "pre-evolution files must still surface their dir-partition value")
  }

  test("rename the new partition column after evolution: dirs keep the physical name") {
    val root = tmpDir("pev4")
    val t0 = golden(root)
    val t1 = t0.evolvePartitionSpec(Some("device")).renameColumn("device", "dev")
    assert(t1.partitionCol === Some("dev"))
    t1.updateWhere(spark, $"trans_id" === 24, Map("amount" -> lit(7)))
    assert(dirs(root, "data/pspec-1").forall(_.startsWith("device=")),
      "physical dir name survives the rename")
    val r = t1.read(spark)
    assert(r.count() === 12)
    assert(r.filter($"dev".isNull).count() === 0)
    assert(r.filter($"trans_id" === 24).select($"amount").as[Int].head() === 7)
  }

  test("time travel to a pre-evolution snapshot reads under the current schema") {
    val root = tmpDir("pev5")
    val t0 = golden(root)
    val v0 = t0.latestVersion
    val t1 = t0.evolvePartitionSpec(Some("device"))
    t1.updateWhere(spark, $"trans_id" === 19, Map("amount" -> lit(1)))
    val tt = t1.read(spark, Some(v0))
    assert(tt.count() === 12)
    assert(tt.filter($"trans_id" === 19).select($"amount").as[Int].head() === 39,
      "time travel sees the pre-evolution value")
  }

  test("binPack with mixed specs packs each layout dir against its own schema") {
    val root = tmpDir("pev6")
    val t0 = golden(root)
    val t1 = t0.evolvePartitionSpec(Some("device"))
    // several small commits under the new spec to trigger packing
    for (i <- 1 to 4)
      t1.updateWhere(spark, $"trans_id" === 19, Map("amount" -> lit(100 + i)))
    t1.compactScoped(spark) // clear merge debt so binPack sees a scan state
    val before = t1.read(spark).orderBy($"trans_id").collect().map(_.toSeq)
    t1.rewrite(spark, MergeTable.Rewrite.BinPack(maxFilesPerPartition = 1))
    val after = MergeTable.open(root).read(spark)
      .orderBy($"trans_id").collect().map(_.toSeq)
    assert(after.toSeq === before.toSeq, "binPack must be layout-only")
  }

  test("lookup data skipping still works across mixed specs") {
    val root = tmpDir("pev7")
    val t0 = golden(root)
    val t1 = t0.evolvePartitionSpec(Some("device"))
    t1.updateWhere(spark, $"trans_id" === 43, Map("amount" -> lit(55)))
    val hit = t1.lookup(spark, Seq(43L))
    assert(hit.select($"amount").as[Int].head() === 55)
    assert(t1.lookup(spark, Seq(21L)).count() === 1)
  }
}
