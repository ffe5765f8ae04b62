package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.table.MergeTable

/** The analyst's side of `cdc_ingest`: once the stream has drained, a fixed
  * SQL mix runs through the `graft` catalog on the ingested table while it
  * is merge-on-read, the table is compacted with `compactScoped`, and the
  * mix runs again. Every answer is checked against the same SQL over the
  * reference state.
  */
object LakeQuery {
  val Db = "cdc_iceberg_demo_db"
  val Name = "retail_trans_iceberg"
  val Table = s"graft.$Db.$Name"
  val Passes = 7

  /** One statement of the mix: its SQL over `{t}`, and, for a LIMIT, how
    * many rows it returns (any rows of the expected answer will do).
    */
  final case class Stmt(name: String, sql: String, limit: Int = 0) {
    def on(table: String): String = sql.replace("{t}", table)
  }

  /** The mix, with keys and a key range drawn from the reference state. */
  private def mix(ctx: Ctx, winners: DataFrame, keySpace: Long, version: Long): Seq[Stmt] = {
    def keys(op: String): Seq[Long] = winners.where(s"op = '$op'")
      .selectExpr("trans_id", s"xxhash64(trans_id, ${ctx.seed}L) AS h")
      .orderBy("h").limit(4).collect().map(_.getLong(0)).toSeq
    val lo = 1 + java.lang.Math.floorMod(ctx.seed * 7919L, keySpace * 9 / 10)
    Seq(
      Stmt("count", "SELECT COUNT(*) AS n FROM {t}"),
      Stmt("head10", "SELECT * FROM {t} LIMIT 10", limit = 10),
      Stmt("point_lookup", "SELECT * FROM {t} WHERE trans_id IN (" +
        (keys("update") ++ keys("delete")).sorted.mkString(", ") + ")"),
      Stmt("key_range", "SELECT COUNT(*) AS n, SUM(amount) AS amount, MIN(trans_datetime) AS lo, " +
        s"MAX(trans_datetime) AS hi FROM {t} WHERE trans_id BETWEEN $lo AND ${lo + keySpace / 10}"),
      Stmt("by_event", "SELECT event, COUNT(*) AS n, SUM(amount) AS amount FROM {t} GROUP BY event"),
      Stmt("partition_filter", "SELECT device, COUNT(*) AS n, SUM(amount) AS amount FROM {t} " +
        "WHERE event = 'purchase' GROUP BY device"),
      Stmt("version_as_of", s"SELECT COUNT(*) AS n, SUM(amount) AS amount FROM {t} VERSION AS OF $version"))
  }

  /** Rows as sorted strings of their fields by name: equal answers compare
    * equal whatever their row or column order.
    */
  private def canon(rows: Seq[Row]): Seq[String] = rows.map { r =>
    r.schema.fieldNames.zipWithIndex.sortBy(_._1).map { case (n, i) => s"$n=${r.get(i)}" }
      .mkString(",")
  }.sorted

  /** One pass of the mix through the catalog: per statement its time in ms
    * and its rows. Traced, each statement is a span with its parse,
    * analysis and planning in a nested span; untraced the same calls run
    * back to back.
    */
  private def pass(ctx: Ctx, stmts: Seq[Stmt], tag: String): Seq[(Double, Seq[Row])] = {
    val tr = ctx.tracer
    stmts.map { st =>
      val t0 = System.nanoTime()
      val rows = tr.span(s"sqlcat.${st.name}_$tag") {
        val df = tr.span("sqlcat.plan") {
          val df = ctx.spark.sql(st.on(Table))
          df.queryExecution.executedPlan
          df
        }
        df.collect().toSeq
      }
      ((System.nanoTime() - t0) / 1e6, rows)
    }
  }

  /** Sum over statements of each statement's median time across passes. */
  private def passMs(passes: Seq[Seq[(Double, Seq[Row])]]): Double =
    passes.transpose.map(ts => Stats.median(ts.map(_._1))).sum

  /** Run the phase on `table`, whose envelopes' winners per key are
    * `winners` (cached); `linesUpTo(n)` are the envelopes of the first `n`
    * batches.
    */
  def run(ctx: Ctx, out: Outcome, table: MergeTable, winners: DataFrame, keySpace: Long,
      linesUpTo: Int => DataFrame): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val history = table.history
    val head = history.last.version
    // time travel to the fourth commit, four delete files deep
    val mid = history(3)
    require(mid.op == "merge", s"version ${mid.version} is a ${mid.op}")

    val ref = winners.where("op <> 'delete'").select(Reference.Columns.map(col): _*)
    val refMid = Reference.state(linesUpTo(mid.appliedBatches.size)).cache()
    ref.createOrReplaceTempView("perfbench_ref")
    refMid.createOrReplaceTempView("perfbench_ref_mid")
    val stmts = mix(ctx, winners, keySpace, mid.version)
    val expected = stmts.map { st =>
      val sql =
        if (st.limit > 0) "SELECT * FROM perfbench_ref"
        else if (st.name == "version_as_of")
          st.sql.replace(s" VERSION AS OF ${mid.version}", "").replace("{t}", "perfbench_ref_mid")
        else st.on("perfbench_ref")
      canon(spark.sql(sql).collect().toSeq)
    }
    val deleteDebt = history.last.deleteFiles.size
    // the merge-on-read table, read whole and counted through the catalog,
    // equals the reference state; this also warms both read paths
    val readMor = tr.span("table.mor_read")(table.read(spark, Some(head)).cache())
    val live = tr.span("table.mor_read")(readMor.count())
    if (!Reference.same(readMor, ref) ||
        spark.sql(s"SELECT COUNT(*) FROM $Table").head().getLong(0) != live)
      out.fail(1, "merge-on-read table differs from the reference state")

    val mor = (1 to Passes).map(_ => pass(ctx, stmts, "mor"))
    val tc = System.nanoTime()
    tr.span("table.compact")(table.compactScoped(spark))
    val compactMs = (System.nanoTime() - tc) / 1e6
    val compacted = Seq(pass(ctx, stmts, "compacted"))
    out.metric("query_ms", passMs(mor), "ms")
    out.attempted += stmts.size.toLong * (Passes + 1)

    // every answer equals the reference answer, before and after compaction
    (mor ++ compacted).foreach { p =>
      stmts.zip(p.map(_._2)).zip(expected).foreach { case ((st, got), want) =>
        val ok =
          if (st.limit > 0) got.size == st.limit && canon(got).forall(want.toSet)
          else canon(got) == want
        if (!ok) out.fail(1, s"${st.name}: ${canon(got).take(3)} != ${want.take(3)}")
      }
    }
    val compaction = table.history.last
    if (compaction.op != "compact" || compaction.deleteFiles.nonEmpty ||
        !Reference.same(table.read(spark), ref))
      out.fail(1, "the compacted table differs from the reference state or keeps delete files")

    if (ctx.trace) {
      tr.drain()
      val all = tr.spans
      out.metric("table.compact_ms", compactMs, "ms")
      out.metric("table.compact_jobs",
        tr.named("table.compact").map(tr.inclusive(_).jobs).sum.toDouble, "count")
      out.metric("table.delete_files", deleteDebt.toDouble, "count")
      out.metric("table.mor_rows_read_per_row",
        tr.named("table.mor_read").map(tr.inclusive(_).inputRecords).sum / live.max(1L).toDouble,
        "ratio")
      val timed = all.filter(s => s.name.startsWith("sqlcat.") && s.name != "sqlcat.plan")
      val ids = timed.map(_.id).toSet
      out.metric("sqlcat.plan_ms",
        Stats.median(all.filter(s => s.name == "sqlcat.plan" && ids(s.parent)).map(_.ms)), "ms")
      out.metric("sqlcat.jobs_per_query",
        timed.map(tr.inclusive(_).jobs).sum.toDouble / timed.size.max(1), "count")
      for (st <- stmts; tag <- Seq("mor", "compacted"))
        out.metric(s"sqlcat.${st.name}_${tag}_ms",
          Stats.median(tr.named(s"sqlcat.${st.name}_$tag").map(_.ms)), "ms")
    }
    Seq(readMor, refMid).foreach(_.unpersist())
  }
}
