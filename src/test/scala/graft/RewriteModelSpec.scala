package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.MergeModelSpec.Op
import graft.table.MergeTable

/** Property test for the table-rewrite strategies (fixed seed list, so
  * the suite stays deterministic): scalacheck generates insert/update/
  * delete batch sequences, the batches are applied merge-on-read to a
  * small `retailTrans` table, and then every rewrite strategy runs on its
  * own shallow clone of that table. After each rewrite:
  *
  *   - `read()` equals the sequential Map model (as in [[MergeModelSpec]]);
  *   - the pre-rewrite version still reads equal through time travel;
  *   - `changesBetween(before, after)` is empty (rewrites are layout-only).
  *
  * Each batch draws its keys from its own window of the key space, so
  * some batches overlap and some do not: the scoped strategy meets both
  * its partial sweep and its fallback to the full rewrite.
  */
class RewriteModelSpec extends SparkSpec {
  import spark.implicits._

  private val events = Vector("visit", "view", "cart", "list", "like", "purchase")
  private val t0 = Timestamp.valueOf("2023-01-01 00:00:00").getTime

  private def opGen(lo: Long, hi: Long): Gen[(String, Long, Int, String)] = for {
    op <- Gen.frequency(6 -> "insert", 2 -> "update", 2 -> "delete")
    key <- Gen.choose(lo, hi)
    amount <- Gen.choose(0, 100)
    event <- Gen.oneOf(events)
  } yield (op, key, amount, event)

  private val batchGen: Gen[Seq[(String, Long, Int, String)]] = for {
    lo <- Gen.choose(1L, 80L)
    width <- Gen.choose(5L, 30L)
    n <- Gen.choose(10, 50)
    ops <- Gen.listOfN(n, opGen(lo, lo + width))
  } yield ops

  /** Batches of ops, numbered in global apply order. */
  private val scenarioGen: Gen[Seq[Seq[Op]]] = for {
    nBatches <- Gen.choose(3, 4)
    batches <- Gen.listOfN(nBatches, batchGen)
  } yield {
    var seq = -1L
    batches.map(_.map { case (op, key, amount, event) =>
      seq += 1
      Op(op, key, amount, event, seq)
    })
  }

  private def toBatch(ops: Seq[Op]): DataFrame =
    ops.map(o => (o.op, o.key, o.amount, o.event, o.seq,
        new Timestamp(t0 + o.seq * 60000L)))
      .toDF("op", "key", "amount", "event", "seq", "ts").select(
      col("key").as("trans_id"),
      lit("c").as("customer_id"),
      col("event"),
      lit("s").as("sku"),
      col("amount"),
      lit("pc").as("device"),
      col("ts").as("trans_datetime"),
      col("op").as("operation"),
      // src_timestamp constant: ordering within a batch decided by seq
      to_timestamp(lit("2023-02-01 00:00:00")).as("src_timestamp"),
      col("seq").as("transaction_id"))

  private type State = Map[Long, (Int, String, Long)]

  private def model(batches: Seq[Seq[Op]]): State = {
    val m = scala.collection.mutable.Map.empty[Long, Op]
    batches.flatten.foreach { o =>
      if (o.op == "delete") m.remove(o.key) else m(o.key) = o
    }
    m.map { case (k, o) => k -> ((o.amount, o.event, t0 + o.seq * 60000L)) }.toMap
  }

  private def state(df: DataFrame): State =
    df.select($"trans_id", $"amount", $"event", $"trans_datetime").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getTimestamp(3).getTime))).toMap

  private val strategies: Seq[MergeTable.Rewrite] = {
    import MergeTable.Rewrite._
    Seq(MergeAll, Scoped, Bucketed(4), Sorted("amount", 4),
      ZOrder(Seq("amount", "trans_datetime"), 4), BinPack(1))
  }

  /** Per seed, how many files the scoped rewrite carried untouched. */
  private val scopedKept = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def check(seed: Long): Unit = {
    val batches = scenarioGen.pureApply(Gen.Parameters.default, Seed(seed))
    val expected = model(batches)
    val base = MergeTable.retailTrans(tmpDir(s"rw$seed") + "/t", threshold = 1000)
    batches.zipWithIndex.foreach { case (b, i) =>
      base.applyBatch(toBatch(b), Some(s"b$i"))
    }
    assert(state(base.read(spark)) === expected, s"seed=$seed before any rewrite")

    strategies.zipWithIndex.foreach { case (how, i) =>
      val t = base.shallowClone(tmpDir(s"rw$seed-$i") + "/t")
      val before = t.latestVersion
      val filesBefore = t.currentSnapshot.get.dataFiles.toSet
      t.rewrite(spark, how)
      if (how == MergeTable.Rewrite.Scoped)
        scopedKept += t.currentSnapshot.get.dataFiles.count(filesBefore)
      val after = t.latestVersion
      val ctx = s"seed=$seed strategy=$how"
      assert(after === before + 1, s"$ctx: the rewrite must commit")
      assert(state(t.read(spark)) === expected, ctx)
      assert(state(t.read(spark, Some(before))) === expected, s"$ctx time travel")
      assert(t.changesBetween(spark, before, after).isEmpty, s"$ctx change feed")
    }
  }

  test("every rewrite strategy preserves the merged state, time travel and the change feed") {
    Seq(7L, 42L).foreach(check)
    assert(scopedKept.contains(0) && scopedKept.exists(_ > 0),
      s"the seeds must reach both the scoped fallback and its partial sweep: $scopedKept")
  }
}
