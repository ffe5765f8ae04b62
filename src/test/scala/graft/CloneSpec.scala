package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.fixtures.GoldenCorpus
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** SHALLOW CLONE contract (Delta CLONE semantics): zero-copy table clone
  * sharing the source's data bytes through the fallback chain in
  * `_table.meta`, fully independent commit histories afterwards, and the
  * ownership rule — a clone's maintenance never deletes source bytes.
  */
class CloneSpec extends SparkSpec {

  private def state(t: MergeTable): Map[Long, Int] =
    t.read(spark).select(col("trans_id"), col("amount"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def build(root: String): MergeTable = {
    val t = MergeTable.retailTrans(root)
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("p1"))
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.dmlLines), t, None, Some("p2"))
    t
  }

  test("clone equals source at clone time without copying a data byte") {
    val src = build(tmpDir("clsrc"))
    val cloneRoot = tmpDir("clc") + "/t"
    val c = src.shallowClone(cloneRoot)
    assert(state(c) === state(src))
    assert(c.latestVersion === src.latestVersion)
    // pre-clone history travels too
    assert(c.read(spark, Some(1L)).count() === src.read(spark, Some(1L)).count())
    // zero data bytes copied: the clone's own data dir is empty
    val ownFiles = java.nio.file.Files.walk(Paths.get(cloneRoot, "data"))
      .filter(Files.isRegularFile(_)).count()
    assert(ownFiles === 0L, "shallow clone must not copy data files")
    // reopening from disk preserves the fallback chain
    val reopened = MergeTable.open(cloneRoot)
    assert(state(reopened) === state(src))
  }

  test("clone and source diverge independently after the clone") {
    val src = build(tmpDir("cldsrc"))
    val c = src.shallowClone(tmpDir("cldc") + "/t")
    val base = state(src)

    // clone-side DML: new bytes land in the CLONE's own dirs only
    c.applyBatch(c.read(spark).filter(col("trans_id") === 19L)
      .withColumn("amount", lit(7777))
      .withColumn("operation", lit("update")))
    assert(state(c)(19L) === 7777)
    assert(state(src) === base, "source must not see clone writes")

    // source-side DML: clone stays at its own snapshot
    val k = (base.keySet - 19L).min
    src.applyBatch(src.read(spark).filter(col("trans_id") === k)
      .withColumn("amount", lit(1111))
      .withColumn("operation", lit("update")))
    assert(state(src)(k) === 1111)
    assert(state(c)(k) === base(k), "clone must not see source writes")
  }

  test("clone maintenance never deletes source bytes; source GC is the caveat") {
    val src = build(tmpDir("clgsrc"))
    val srcFiles = src.currentSnapshot.get.dataFiles
    val c = src.shallowClone(tmpDir("clgc") + "/t")
    val before = state(c)

    // compaction on the clone rewrites into its OWN data dir and must
    // leave every source byte in place
    c.compact(spark)
    assert(state(c) === before)
    srcFiles.foreach(f => assert(
      Files.exists(Paths.get(src.root, "data").resolve(f)),
      s"clone compaction deleted source file $f"))
    assert(state(src) === before, "source unharmed by clone compaction")

    // expiry + orphan GC on the clone: still no source deletions
    c.expireSnapshots(keepLast = 1)
    c.removeOrphanFiles(olderThanMillis = System.currentTimeMillis() + 1000)
    srcFiles.foreach(f => assert(
      Files.exists(Paths.get(src.root, "data").resolve(f)),
      s"clone GC deleted source file $f"))
    assert(state(src) === before)

    // the documented caveat, demonstrated: aggressive source-side expiry
    // + GC removes bytes; a clone still pinned to them surfaces the
    // missing-file sentinel (sized 0 in filesDf), not silent corruption
    val c2 = src.shallowClone(tmpDir("clgc2") + "/t")
    src.compact(spark)
    src.expireSnapshots(keepLast = 1)
    src.removeOrphanFiles(olderThanMillis = System.currentTimeMillis() + 1000)
    val sizes = c2.filesDf(spark).filter(col("content") === "data")
      .select(col("size_bytes")).collect().map(_.getLong(0))
    assert(sizes.forall(_ === 0L),
      "GC'd source bytes must surface as the size-0 sentinel on the clone")
  }

  test("deep clone survives outright deletion of the source") {
    val src = build(tmpDir("dcsrc"))
    val expect = state(src)
    val v1Count = src.read(spark, Some(1L)).count()
    val c = src.deepClone(tmpDir("dcc") + "/t")
    // bytes are local now: a second materialize has nothing to copy
    assert(c.materialize() === 0)
    // obliterate the source completely
    val srcRoot = java.nio.file.Paths.get(src.root)
    java.nio.file.Files.walk(srcRoot).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    assert(!Files.exists(srcRoot))
    // the deep clone still reads, time travels, and accepts new commits
    assert(state(c) === expect)
    assert(c.read(spark, Some(1L)).count() === v1Count)
    c.applyBatch(c.read(spark).filter(col("trans_id") === 19L)
      .withColumn("amount", lit(555))
      .withColumn("operation", lit("update")))
    assert(state(c)(19L) === 555)
  }

  test("a clone of a renamed table reopens under the renamed schema") {
    val src = build(tmpDir("clone-ren") + "/src").renameColumn("amount", "amt")
    val c = src.shallowClone(tmpDir("clone-ren-dst") + "/c")
    def byKey(t: MergeTable): Map[Long, Int] =
      t.read(spark).select(col("trans_id"), col("amt"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val reopened = MergeTable.open(c.root)
    assert(reopened.physicalNames === Map("amt" -> "amount"))
    assert(byKey(reopened) === byKey(src))
  }

  test("clone of a clone chains fallbacks across all three roots") {
    val src = build(tmpDir("clcsrc"))
    val c1 = src.shallowClone(tmpDir("clc1") + "/t")
    // c1 gains its own bytes on top of the shared ones
    c1.applyBatch(c1.read(spark).filter(col("trans_id") === 19L)
      .withColumn("amount", lit(4242))
      .withColumn("operation", lit("update")))
    val c2 = c1.shallowClone(tmpDir("clc2") + "/t")
    // c2 reads c1's own write AND the original source bytes
    assert(state(c2)(19L) === 4242)
    assert(state(c2) === state(c1))
    val reopened = MergeTable.open(c2.root)
    assert(state(reopened) === state(c1))
  }
}
