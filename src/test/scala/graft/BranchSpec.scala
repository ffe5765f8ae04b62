package graft

import org.apache.spark.sql.functions.lit
import graft.fixtures.GoldenCorpus
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** Branches / write-audit-publish: fork a named branch, stage and audit
  * commits on it without touching main, fast-forward publish, and the
  * expiry/GC interplay (branch-referenced files survive main expiry;
  * dropping a branch reclaims only branch-private files).
  */
class BranchSpec extends SparkSpec {
  import spark.implicits._

  private def state(t: MergeTable): Map[Long, Int] =
    t.read(spark).select($"trans_id", $"amount")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def seeded(tag: String): MergeTable = {
    val t = MergeTable.retailTrans(tmpDir(tag), threshold = 100)
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.insertOnlyLines), t, None, Some("p1"))
    t
  }

  test("WAP lifecycle: write to branch, main unchanged, audit, publish") {
    val t = seeded("wap")
    val mainBefore = state(t)
    val fork = t.latestVersion

    val b = t.createBranch("audit")
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.dmlLines), b, None, Some("p2"))

    // W: branch advanced, main untouched
    assert(b.latestVersion > fork)
    assert(t.latestVersion === fork)
    assert(state(t) === mainBefore)
    // A: audit the staged state through the branch handle
    val staged = state(b)
    assert(staged(19L) === 39)          // DML update visible on the branch
    assert(b.read(spark).count() === 12)
    // P: fast-forward publish; main now serves the audited snapshot
    val head = t.publishBranch("audit")
    assert(t.latestVersion === head)
    assert(state(t) === staged)
    assert(t.listBranches.isEmpty)
    // published versions are ordinary history: time travel to the fork
    assert(t.read(spark, asOfVersion = Some(fork))
      .count() === mainBefore.size)
    // and the change feed spans the published commits
    assert(t.changesBetween(spark, fork, head).count() > 0)
  }

  test("publish refuses a diverged branch; re-branching after drop works") {
    val t = seeded("diverge")
    val b = t.createBranch("risky")
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.dmlLines), b, None, Some("p2"))
    // concurrent main commit → divergence
    t.updateWhere(spark, $"trans_id" === 19L, Map("amount" -> lit(999)))
    val ex = intercept[IllegalArgumentException](t.publishBranch("risky"))
    assert(ex.getMessage.contains("diverged"))
    // main keeps its own write; branch keeps its staged one
    assert(state(t)(19L) === 999)
    assert(state(t.branch("risky"))(19L) === 39)
    t.dropBranch("risky")
    assert(t.listBranches.isEmpty)
    assert(t.createBranch("risky").latestVersion === t.latestVersion)
  }

  test("main expiry keeps branch-referenced files and chunks readable") {
    val t = seeded("expire")
    val b = t.createBranch("slow")
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.dmlLines), b, None, Some("p2"))
    val staged = state(b)
    // main advances several times past the fork, then expires history
    (1 to 3).foreach { i =>
      t.updateWhere(spark, $"trans_id" === 21L, Map("amount" -> lit(100 + i)))
    }
    t.compact(spark)
    t.expireSnapshots(keepLast = 1)
    // the branch (forked from a now-expired main version) still reads
    assert(state(t.branch("slow")) === staged)
    assert(state(t)(21L) === 103)
  }

  test("dropBranch reclaims branch-private files, never shared ones") {
    val t = seeded("drop")
    val before = state(t)
    val b = t.createBranch("tmp")
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.dmlLines), b, None, Some("p2"))
    val branchFiles = b.currentSnapshot.get.dataFiles.toSet
    val mainFiles = t.currentSnapshot.get.dataFiles.toSet
    assert((branchFiles -- mainFiles).nonEmpty) // branch wrote new files
    t.dropBranch("tmp")
    // branch-only files gone, shared files intact, main state unchanged
    val dataDir = java.nio.file.Paths.get(t.root, "data")
    (branchFiles -- mainFiles).foreach { f =>
      assert(!java.nio.file.Files.exists(dataDir.resolve(f)), s"leaked $f")
    }
    assert(state(t) === before)
  }

  test("branch guards: no nested branches, no branch-side expiry") {
    val t = seeded("guards")
    val b = t.createBranch("x")
    intercept[IllegalArgumentException](b.createBranch("y"))
    intercept[IllegalArgumentException](b.expireSnapshots())
    intercept[IllegalArgumentException](b.rewrite(spark, MergeTable.Rewrite.Bucketed()))
    intercept[IllegalArgumentException](t.branch("nope"))
    t.dropBranch("x")
  }
}
