package graft

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.MergeModelSpec.Op
import graft.table.MergeTable

/** Model test over every snapshot-producing writer of a [[MergeTable]]
  * (fixed seed list, so the suite stays deterministic). scalacheck
  * generates command sequences: `applyBatch` of a new batch or a replay
  * of an earlier batch id, `appendAll` of fresh keys, `overwrite`,
  * `truncate`, `rollbackTo` an earlier version, `inheritAppliedBatches`
  * and `compactScoped`. A Map model is kept for every version. After the
  * run:
  *
  *   - every retained version reads equal to the model at that version;
  *   - a batch id that the head has already applied commits nothing,
  *     whether it was applied by `applyBatch` or inherited.
  */
class WriterModelSpec extends SparkSpec {
  import spark.implicits._
  import WriterModelSpec._

  private val t0 = Timestamp.valueOf("2023-01-01 00:00:00").getTime

  private type State = Map[Long, (Int, String, Long)]

  private def frame(rows: Seq[(Long, Int, String, Long, String, Long)]): DataFrame =
    rows.toDF("key", "amount", "event", "seq", "op", "ts").select(
      col("key").as("trans_id"),
      lit("c").as("customer_id"),
      col("event"),
      lit("s").as("sku"),
      col("amount"),
      lit("pc").as("device"),
      timestamp_millis(col("ts")).as("trans_datetime"),
      col("op").as("operation"),
      // src_timestamp constant: ordering within a batch decided by seq
      to_timestamp(lit("2023-02-01 00:00:00")).as("src_timestamp"),
      col("seq").as("transaction_id"))

  /** The rows of `df` by key; a key read twice fails the test. */
  private def state(df: DataFrame): State = {
    val rows = df.select($"trans_id", $"amount", $"event", $"trans_datetime").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getString(2), r.getTimestamp(3).getTime)))
    val keys = rows.map(_._1)
    assert(keys.distinct.length === keys.length, s"duplicated keys in ${keys.sorted.toSeq}")
    rows.toMap
  }

  /** Which commands committed, which were no-ops, across all seeds. */
  private val seen = scala.collection.mutable.Set.empty[String]

  private def check(seed: Long): Unit = {
    val cmds = scenarioGen.pureApply(Gen.Parameters.default, Seed(seed))
    val t = MergeTable.retailTrans(tmpDir(s"wm$seed") + "/t", threshold = 1000)
    val models = ArrayBuffer.empty[State]     // by version
    val idsAt = ArrayBuffer.empty[Set[String]] // applied batch ids by version
    val batches = ArrayBuffer.empty[(String, Seq[Op])]
    var cur: State = Map.empty
    var ids = Set.empty[String]
    var seq = 0L
    var fresh = 10000L
    def stamp(s: Long): Long = t0 + s * 60000L

    def applyOps(id: String, ops: Seq[Op]): Boolean =
      if (ids(id)) false
      else {
        t.applyBatch(frame(ops.map(o =>
          (o.key, o.amount, o.event, o.seq, o.op, stamp(o.seq)))), Some(id))
        ops.foreach { o =>
          if (o.op == "delete") cur -= o.key
          else cur += o.key -> ((o.amount, o.event, stamp(o.seq)))
        }
        ids += id
        true
      }

    cmds.zipWithIndex.foreach { case (cmd, i) =>
      val before = t.latestVersion
      val kind = cmd.productPrefix
      // Some(true): must commit one version; Some(false): must commit
      // nothing; None: may do either (a scoped compaction with no debt)
      val commits: Option[Boolean] = cmd match {
        case Apply(raw) =>
          val ops = raw.map { case (op, key, amount, event) =>
            seq += 1; Op(op, key, amount, event, seq)
          }
          val id = s"b${batches.size}"
          batches += id -> ops
          Some(applyOps(id, ops))
        case Replay(k) =>
          if (batches.isEmpty) Some(false)
          else {
            val (id, ops) = batches(k % batches.size)
            Some(applyOps(id, ops))
          }
        case Append(n) =>
          val rows = (1 to n).map { _ =>
            fresh += 1; seq += 1
            (fresh, (fresh % 100).toInt, events((fresh % events.size).toInt), seq, "insert",
              stamp(seq))
          }
          t.appendAll(frame(rows).drop("operation"), Some(s"a$i"))
          rows.foreach(r => cur += r._1 -> ((r._2, r._3, stamp(r._4))))
          ids += s"a$i"
          Some(true)
        case Overwrite(raw) =>
          val rows = raw.groupBy(_._1).values.map(_.last).toSeq.map { case (k, a, e) =>
            seq += 1; (k, a, e, seq, "insert", stamp(seq))
          }
          t.overwrite(frame(rows), Some(s"o$i"))
          cur = rows.map(r => r._1 -> ((r._2, r._3, stamp(r._4)))).toMap
          ids += s"o$i"
          Some(true)
        case Truncate =>
          t.truncate()
          cur = Map.empty
          Some(true)
        case Rollback(k) =>
          if (before < 1) Some(false)
          else {
            val target = before - 1 - k % before
            t.rollbackTo(target)
            cur = models(target.toInt)
            ids = idsAt(target.toInt)
            Some(true)
          }
        case Inherit(next) =>
          // the id the NEXT new batch will carry (so its apply must then
          // be skipped), or one the head already has (a no-op)
          val inh = if (next) Set(s"b${batches.size}") else ids.take(1)
          t.inheritAppliedBatches(inh)
          val grows = (inh -- ids).nonEmpty
          ids ++= inh
          Some(grows)
        case Compact =>
          t.compactScoped(spark)
          None
      }
      val after = t.latestVersion
      val ctx = s"seed=$seed cmd#$i $cmd"
      commits.foreach(c => assert(after === (if (c) before + 1 else before), ctx))
      assert(after - before <= 1, ctx)
      if (after > before) {
        models += cur
        idsAt += ids
        assert(t.currentSnapshot.get.appliedBatches === ids, s"$ctx batch ids")
        seen += s"$kind:commit"
      } else seen += s"$kind:noop"
    }

    assert(models.size === t.latestVersion + 1, s"seed=$seed")
    models.indices.foreach { v =>
      assert(state(t.read(spark, Some(v.toLong))) === models(v), s"seed=$seed version $v")
    }
    assert(state(MergeTable.open(t.root).read(spark)) === cur, s"seed=$seed head")
  }

  test("every writer's versions read equal to the model; applied batch ids commit nothing") {
    Seq(36L, 105L, 257L).foreach(check)
    val want = Set("Apply:commit", "Apply:noop", "Replay:commit", "Replay:noop",
      "Append:commit", "Overwrite:commit", "Truncate:commit", "Rollback:commit",
      "Inherit:commit", "Compact:commit")
    assert((want -- seen).isEmpty, s"the seeds must reach every case: missing ${want -- seen}")
  }
}

object WriterModelSpec {
  private val events = Vector("visit", "view", "cart", "list", "like", "purchase")

  private val opGen: Gen[(String, Long, Int, String)] = for {
    op <- Gen.frequency(6 -> "insert", 2 -> "update", 2 -> "delete")
    key <- Gen.choose(1L, 30L)
    amount <- Gen.choose(0, 100)
    event <- Gen.oneOf(events)
  } yield (op, key, amount, event)

  private val rowGen: Gen[(Long, Int, String)] = for {
    key <- Gen.choose(1L, 30L)
    amount <- Gen.choose(0, 100)
    event <- Gen.oneOf(events)
  } yield (key, amount, event)

  private val cmdGen: Gen[Cmd] = Gen.frequency(
    5 -> Gen.choose(5, 25).flatMap(Gen.listOfN(_, opGen)).map(Apply(_)),
    2 -> Gen.choose(0, 100).map(Replay(_)),
    2 -> Gen.choose(1, 5).map(Append(_)),
    1 -> Gen.choose(0, 8).flatMap(Gen.listOfN(_, rowGen)).map(Overwrite(_)),
    1 -> Gen.const(Truncate),
    2 -> Gen.choose(0, 100).map(Rollback(_)),
    1 -> Gen.oneOf(true, false).map(Inherit(_)),
    2 -> Gen.const(Compact))

  val scenarioGen: Gen[List[Cmd]] =
    Gen.choose(10, 14).flatMap(Gen.listOfN(_, cmdGen))

  sealed trait Cmd extends Product
  final case class Apply(ops: Seq[(String, Long, Int, String)]) extends Cmd
  final case class Replay(which: Int) extends Cmd
  final case class Append(n: Int) extends Cmd
  final case class Overwrite(rows: Seq[(Long, Int, String)]) extends Cmd
  case object Truncate extends Cmd
  final case class Rollback(back: Int) extends Cmd
  final case class Inherit(nextBatch: Boolean) extends Cmd
  case object Compact extends Cmd
}
