package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table.MergeTable

/** Two-writer commit contract: concurrent committers using SEPARATE
  * `MergeTable.open` handles (the per-handle `synchronized` does not
  * cover these — this is the in-process equivalent of two driver JVMs).
  * The loser of the optimistic race must detect the moved head, rebase
  * (re-run its merge against the fresh snapshot), and retry — BOTH
  * commits land, and the final table equals sequential application.
  */
class ConcurrentCommitSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def batch(rows: (Long, String, Int, String, String, Long)*): DataFrame =
    rows.toSeq.toDF("trans_id", "event", "amount", "operation", "_ts", "transaction_id")
      .withColumn("customer_id", lit("c"))
      .withColumn("sku", lit("s"))
      .withColumn("device", lit("pc"))
      .withColumn("trans_datetime", lit(ts("2023-01-16 06:00:00")))
      .withColumn("src_timestamp", to_timestamp($"_ts"))
      .drop("_ts")

  private def state(t: MergeTable): Map[Long, (String, Int)] =
    t.read(spark).select($"trans_id", $"event", $"amount")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap

  /** Run all thunks concurrently (barrier-released), surfacing failures. */
  private def concurrently(fs: (() => Unit)*): Unit = {
    val barrier = new CyclicBarrier(fs.size)
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val threads = fs.map { f =>
      new Thread(() => {
        try { barrier.await(); f() }
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${errs.asScala.toList}")
  }

  test("disjoint-key concurrent applyBatch from two handles: both land, equals sequential") {
    val root = tmpDir("ccd") + "/t"
    MergeTable.retailTrans(root, threshold = 100)
    val h1 = MergeTable.open(root)
    val h2 = MergeTable.open(root)
    val b1 = Seq((1L, "cart", 10, "insert", "2023-01-01 00:00:01", 1L),
      (2L, "list", 5, "insert", "2023-01-01 00:00:02", 2L))
    val b2 = Seq((3L, "visit", 7, "insert", "2023-01-01 00:00:03", 3L),
      (4L, "like", 9, "insert", "2023-01-01 00:00:04", 4L))

    concurrently(
      () => h1.applyBatch(batch(b1: _*), Some("w1")),
      () => h2.applyBatch(batch(b2: _*), Some("w2")))

    val t = MergeTable.open(root)
    assert(t.latestVersion === 1, "exactly two commits must have landed")
    // both batch ids recorded on the head snapshot
    val applied = t.currentSnapshot.get.appliedBatches
    assert(applied === Set("w1", "w2"))

    // sequential oracle, both orders (disjoint keys => identical)
    val seqT = MergeTable.retailTrans(tmpDir("ccd-seq") + "/t", threshold = 100)
    seqT.applyBatch(batch(b1: _*), Some("w1"))
    seqT.applyBatch(batch(b2: _*), Some("w2"))
    assert(state(t) === state(seqT))

    // history stays dense and well-formed: v0, v1 both readable merges
    assert(t.history.map(_.version) === Seq(0L, 1L))
    assert(t.history.forall(_.op === "merge"))
  }

  test("same-key concurrent writers: both land, result equals one sequential order") {
    val root = tmpDir("ccs") + "/t"
    MergeTable.retailTrans(root, threshold = 100)
    val h1 = MergeTable.open(root)
    val h2 = MergeTable.open(root)

    concurrently(
      () => h1.applyBatch(
        batch((5L, "cart", 111, "insert", "2023-01-01 00:00:01", 1L)), Some("a")),
      () => h2.applyBatch(
        batch((5L, "cart", 222, "insert", "2023-01-01 00:00:02", 2L)), Some("b")))

    val t = MergeTable.open(root)
    assert(t.latestVersion === 1)
    // merge-on-read must resolve to exactly one row: the later COMMIT wins
    // (distinct _seq stamps — the rebase rewrote the loser's files with a
    // fresh stamp, so no tie is possible)
    val st = state(t)
    assert(st.keySet === Set(5L))
    assert(Set(111, 222).contains(st(5L)._2))
    val seqStates = Seq(Seq(111, 222), Seq(222, 111)).map { order =>
      val s = MergeTable.retailTrans(tmpDir("ccs-seq") + "/t", threshold = 100)
      order.zipWithIndex.foreach { case (amt, i) =>
        s.applyBatch(batch(
          (5L, "cart", amt, "insert", s"2023-01-01 00:00:0${i + 1}", i + 1L)))
      }
      state(s)
    }
    assert(seqStates.contains(st), s"state $st matches neither sequential order")
  }

  test("duplicate batchId raced from two handles applies exactly once") {
    val root = tmpDir("ccb") + "/t"
    MergeTable.retailTrans(root, threshold = 100)
    val h1 = MergeTable.open(root)
    val h2 = MergeTable.open(root)
    val b = Seq((6L, "cart", 42, "insert", "2023-01-01 00:00:01", 1L))

    // at-least-once delivery can replay one epoch into two drivers; the
    // loser's rebase must re-check idempotence against the fresh head and
    // become a no-op instead of double-applying
    concurrently(
      () => h1.applyBatch(batch(b: _*), Some("epoch-1")),
      () => h2.applyBatch(batch(b: _*), Some("epoch-1")))

    val t = MergeTable.open(root)
    assert(state(t) === Map(6L -> ("cart", 42)))
    assert(t.read(spark).count() === 1)
  }

  test("four concurrent writers with disjoint keys: every commit lands, rebase chains converge") {
    val root = tmpDir("ccq") + "/t"
    MergeTable.retailTrans(root, threshold = 100)
    val batches = (0 until 4).map { w =>
      (1 to 3).map(i => ((w * 10 + i).toLong, "cart", w * 100 + i, "insert",
        f"2023-01-01 00:0$w:0$i", (w * 10 + i).toLong))
    }
    // four separate handles — the worst in-process case: every loser may
    // have to rebase up to three times as the winners land
    concurrently(batches.zipWithIndex.map { case (b, w) =>
      () => MergeTable.open(root).applyBatch(batch(b: _*), Some(s"w$w"))
    }: _*)

    val t = MergeTable.open(root)
    assert(t.latestVersion === 3, "exactly four commits must have landed")
    assert(t.currentSnapshot.get.appliedBatches ===
      (0 until 4).map(w => s"w$w").toSet)
    val expect = batches.flatten
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(state(t) === expect)
    assert(t.history.map(_.version) === Seq(0L, 1L, 2L, 3L))
  }

  test("commit landing exactly between base-snapshot read and commit is never lost") {
    // Deterministic reproduction of the two-read lost-update window: the
    // onBaseSnapshotRead seam fires after writer A reads its base snapshot;
    // writer B commits right there. A's proposed version derives from A's
    // base read, so A MUST conflict and rebase — with a separate
    // `latestVersion` re-read A would have skipped past B and erased it.
    val root = tmpDir("ccw") + "/t"
    MergeTable.retailTrans(root, threshold = 100)
    val a = MergeTable.open(root)
    val b = MergeTable.open(root)
    var injected = false
    a.onBaseSnapshotRead = () => if (!injected) {
      injected = true
      b.applyBatch(batch((8L, "list", 88, "insert", "2023-01-01 00:00:01", 1L)),
        Some("mid"))
    }
    a.applyBatch(batch((9L, "cart", 99, "insert", "2023-01-01 00:00:02", 2L)),
      Some("stale"))

    val t = MergeTable.open(root)
    assert(injected, "seam never fired")
    assert(t.latestVersion === 1, "both commits must land as v0, v1")
    assert(t.currentSnapshot.get.appliedBatches === Set("mid", "stale"))
    assert(state(t) === Map(8L -> ("list", 88), 9L -> ("cart", 99)))

    // same window for appendAll
    val root2 = tmpDir("ccw2") + "/t"
    MergeTable.retailTrans(root2, threshold = 100)
    val a2 = MergeTable.open(root2)
    val b2 = MergeTable.open(root2)
    var injected2 = false
    a2.onBaseSnapshotRead = () => if (!injected2) {
      injected2 = true
      b2.appendAll(batch((8L, "list", 88, "insert", "2023-01-01 00:00:01", 1L))
        .drop("operation"), Some("mid"))
    }
    a2.appendAll(batch((9L, "cart", 99, "insert", "2023-01-01 00:00:02", 2L))
      .drop("operation"), Some("stale"))
    val t2 = MergeTable.open(root2)
    assert(injected2 && t2.latestVersion === 1)
    assert(t2.currentSnapshot.get.appliedBatches === Set("mid", "stale"))
    assert(t2.read(spark).count() === 2)
  }

  test("a rewrite losing the race to a commit landed after its head read throws and leaves no unreferenced file") {
    import MergeTable.Rewrite._
    // every writer that hands a conflict to its caller: each rewrite
    // strategy, and the snapshot-replacing writers
    val writers: Seq[(String, MergeTable => Unit)] =
      Seq(MergeAll, Scoped, Bucketed(4), Sorted("amount", 4),
        ZOrder(Seq("amount", "trans_datetime"), 4), BinPack(1))
        .map(how => how.toString -> ((t: MergeTable) => t.rewrite(spark, how))) ++ Seq(
        "overwrite" -> ((t: MergeTable) => t.overwrite(
          batch((5L, "like", 50, "insert", "2023-01-01 00:00:07", 7L)).drop("operation"))),
        "truncate" -> ((t: MergeTable) => t.truncate()),
        "rollbackTo(0)" -> ((t: MergeTable) => t.rollbackTo(0)))
    writers.zipWithIndex.foreach { case ((how, write), i) =>
      val root = tmpDir(s"ccr$i") + "/t"
      val t = MergeTable.retailTrans(root, threshold = 100)
      t.applyBatch(batch((1L, "cart", 10, "insert", "2023-01-01 00:00:01", 1L),
        (2L, "cart", 20, "insert", "2023-01-01 00:00:02", 2L),
        (3L, "list", 30, "insert", "2023-01-01 00:00:03", 3L)), Some("b0"))
      t.applyBatch(batch((1L, "cart", 11, "update", "2023-01-01 00:00:04", 4L),
        (2L, "cart", 20, "delete", "2023-01-01 00:00:05", 5L),
        (4L, "cart", 40, "insert", "2023-01-01 00:00:06", 6L)), Some("b1"))

      val a = MergeTable.open(root)
      val b = MergeTable.open(root)
      var landed = false
      a.onBaseSnapshotRead = () => if (!landed) {
        landed = true
        b.applyBatch(batch((9L, "visit", 90, "insert", "2023-01-01 00:00:09", 9L)),
          Some("foreign"))
      }
      intercept[MergeTable.CommitConflictException](write(a))
      assert(landed, s"$how: seam never fired")

      val fresh = MergeTable.open(root)
      val referenced = fresh.history.flatMap(_.dataFiles).toSet
      val dataDir = Paths.get(root, "data")
      val onDisk = Files.walk(dataDir).iterator().asScala
        .filter(Files.isRegularFile(_)).map(dataDir.relativize(_).toString).toSet
      assert(onDisk -- referenced === Set.empty, s"$how left unreferenced files")
      assert(fresh.latestVersion === 2, s"$how: only the foreign commit lands")
      assert(state(fresh) === Map(1L -> ("cart", 11), 3L -> ("list", 30),
        4L -> ("cart", 40), 9L -> ("visit", 90)), s"$how")
    }
  }

  test("branch commit racing publishBranch is published or fails loudly, never silently lost") {
    // Window: publishBranch once read the branch head BEFORE taking any
    // lock that excludes branch committers, so a commit landing during
    // the copy was copied-but-not-pointed-at and reaped as debris. The
    // seam fires after the racing committer's base read; the publish runs
    // to completion right there, so the committer resumes against a
    // published-and-deleted branch and MUST surface an error.
    val root = tmpDir("ccp") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    t.applyBatch(batch((1L, "cart", 42, "insert", "2023-01-01 00:00:01", 1L)),
      Some("base"))
    val br = t.createBranch("audit")
    br.applyBatch(batch((2L, "list", 7, "insert", "2023-01-01 00:00:02", 2L)),
      Some("wap1"))

    val racer = t.branch("audit")
    var published = false
    racer.onBaseSnapshotRead = () => if (!published) {
      published = true
      t.publishBranch("audit")
    }
    val thrown = intercept[Exception] {
      racer.applyBatch(batch((3L, "visit", 9, "insert", "2023-01-01 00:00:03", 3L)),
        Some("wap2"))
    }
    assert(published, "seam never fired")
    assert(!thrown.isInstanceOf[MergeTable.CommitConflictException],
      s"racer must fail loudly, not be silently retried into the void: $thrown")

    // the published main carries exactly the pre-race branch state …
    val pub = MergeTable.open(root)
    assert(state(pub) === Map(1L -> ("cart", 42), 2L -> ("list", 7)))
    assert(pub.currentSnapshot.get.appliedBatches.contains("wap1"))
    assert(!pub.currentSnapshot.get.appliedBatches.contains("wap2"))
    // … and stays healthy: no debris above _latest poisons the next commit
    pub.applyBatch(batch((4L, "like", 1, "insert", "2023-01-01 00:00:04", 4L)),
      Some("after"))
    assert(state(pub)(4L) === ("like", 1))
    assert(pub.history.map(_.version) === (0L to pub.latestVersion).toSeq)
  }

  test("crashed-writer manifest debris above _latest is reclaimed, not resurrected") {
    val root = tmpDir("ccx") + "/t"
    val t = MergeTable.retailTrans(root, threshold = 100)
    t.applyBatch(batch((1L, "cart", 1, "insert", "2023-01-01 00:00:01", 1L)))
    assert(t.latestVersion === 0)
    // simulate a writer that died between manifest move and pointer swing
    Files.writeString(Paths.get(root, "manifest", "v1.manifest"),
      "version\t1\nop\tmerge\ndata\tdoes-not-exist.parquet\n")

    val h = MergeTable.open(root)
    h.applyBatch(batch((2L, "list", 2, "insert", "2023-01-01 00:00:02", 2L)))
    val fresh = MergeTable.open(root)
    assert(fresh.latestVersion === 1)
    assert(state(fresh) === Map(1L -> ("cart", 1), 2L -> ("list", 2)))
    // the debris snapshot must NOT appear in history or the change feed
    assert(fresh.history.flatMap(_.dataFiles)
      .forall(f => !f.contains("does-not-exist")))
    assert(fresh.changesSince(spark, -1).count() === 2)
  }
}
