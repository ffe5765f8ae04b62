package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, get_json_object, lead, regexp_replace, row_number}

import graft.Graft
import graft.table.MergeTable

/** Checks the check: a table built from the landed envelopes matches the
  * reference state, and tables built with one envelope dropped (a delete
  * left unapplied, an update lost) are rejected.
  */
object SelfTest {
  private def build(ctx: Ctx, name: String, batches: Seq[DataFrame]): MergeTable = {
    val t = MergeTable.retailTrans(ctx.work.resolve(name).toString)
    batches.zipWithIndex.foreach { case (lines, b) =>
      Graft.replayCdc(ctx.spark, lines, t, None, Some(b.toString))
    }
    t
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val Seq(in) = Inputs.land(spark, Seq(ctx.work.resolve("landing") -> 3), ctx.seed, 2000L)
    val landed = in.files.map(f => spark.read.text(f.toString))
    val txOf = get_json_object(col("value"), "$.metadata.transaction-id").cast("long")
    val envelopes = in.lines(spark).select(
      get_json_object(col("value"), "$.data.trans_id").cast("long").as("k"),
      txOf.as("tx"), get_json_object(col("value"), "$.metadata.operation").as("op"),
      get_json_object(col("value"), "$.metadata.table-name").as("t"))
      .where("t = 'retail_trans' AND k IS NOT NULL")
    val newestFirst = Window.partitionBy("k").orderBy(col("tx").desc)
    val last = envelopes.withColumn("r", row_number().over(newestFirst))
      .withColumn("prev", lead(col("op"), 1).over(newestFirst)).where("r = 1")

    // RetailGen gives every envelope of a key the same operation, so no
    // generated delete removes a row: a fourth batch deletes an inserted key
    val inserted = last.where("op = 'insert'").orderBy("k").head().getAs[Long]("tx")
    val deleteBatch = in.lines(spark).where(txOf === inserted).select(
      regexp_replace(regexp_replace(regexp_replace(col("value"),
        "\"operation\":\"insert\"", "\"operation\":\"delete\""),
        "\"timestamp\":\"[^\"]*\"", "\"timestamp\":\"2024-01-01T00:00:00.000000Z\""),
        s"\"transaction-id\":$inserted", "\"transaction-id\":99999999999999").as("value"))
    val batches = landed :+ deleteBatch
    val want = Reference.state(batches.reduce(_ union _)).cache()

    // the last envelope of an updated key whose previous one is an insert or
    // an update: dropping it must change the table
    val lostUpdate = last.where("op = 'update' AND prev IN ('insert', 'update')")
      .orderBy("k").head().getAs[Long]("tx")
    val withoutLostUpdate = batches.map(_.where(txOf.isNull || txOf =!= lostUpdate))

    val cases = Seq(
      ("correct table", build(ctx, "right", batches), true),
      ("delete left unapplied", build(ctx, "no-delete", landed), false),
      ("update lost", build(ctx, "no-update", withoutLostUpdate), false))
    cases.foreach { case (what, t, shouldPass) =>
      out.attempted += 1
      val passed = Reference.same(t.read(spark), want)
      Log(s"self-test: $what ${if (passed) "passes" else "is rejected"}")
      if (passed != shouldPass)
        out.fail(1, s"$what: the check ${if (passed) "accepted" else "rejected"} it")
    }
    out
  }
}
