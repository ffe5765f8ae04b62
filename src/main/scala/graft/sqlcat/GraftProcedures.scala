package graft.sqlcat

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.catalog.LakeCatalog
import graft.table.MergeTable
import graft.table.MergeTable.Rewrite._

/** SQL-first table maintenance — Iceberg's stored-procedure surface
  * (`CALL catalog.system.rewrite_data_files / expire_snapshots /
  * rollback_to_snapshot ...`) over engine tables, via Spark 4's native
  * `CALL` statement and the DSv2 [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]].
  * The first six are thin aliases of [[MergeTable.rewrite]], one per
  * [[MergeTable.Rewrite]] strategy (MergeAll, Scoped, Sorted, ZOrder,
  * Bucketed, BinPack):
  *
  * {{{
  *   CALL graft.system.compact('db.t')
  *   CALL graft.system.compact_scoped('db.t')
  *   CALL graft.system.compact_sorted('db.t', 'amount', 32)
  *   CALL graft.system.compact_zorder('db.t', 'amount,trans_datetime', 32)
  *   CALL graft.system.compact_bucketed('db.t', 16)
  *   CALL graft.system.bin_pack('db.t')
  *   CALL graft.system.expire_snapshots('db.t', 2)
  *   CALL graft.system.rollback('db.t', 3)
  *   CALL graft.system.clone('db.t', 'db.t2')        -- zero-copy shallow clone
  *   CALL graft.system.deep_clone('db.t', 'db.t3')   -- standalone full copy
  *   CALL graft.system.create_branch('db.t', 'audit')   -- WAP: write...
  *   CALL graft.system.publish_branch('db.t', 'audit')  -- ...audit, publish
  *   CALL graft.system.drop_branch('db.t', 'audit')
  *   CALL graft.system.add_check('db.t', 'nonneg', 'amount >= 0')
  *   CALL graft.system.drop_check('db.t', 'nonneg')
  * }}}
  *
  * Each returns one row with the table's latest version after the call.
  * The reference performs these through engine-managed Athena/Glue
  * maintenance (README.md:307 `optimize_rewrite_delete_file_threshold`);
  * here the same knobs are user-callable SQL.
  */
private[sqlcat] object GraftProcedures {

  private def p(name: String, dt: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(name, dt).build()

  private def resolve(lake: LakeCatalog, qualified: String): MergeTable =
    qualified.split("\\.", 2) match {
      case Array(d, t) => lake.getTable(d, t)
      case _ => throw new IllegalArgumentException(
        s"expected 'db.table', got '$qualified'")
    }

  /** A `rewrite_data_files`-style procedure: the table plus `params`,
    * running [[MergeTable.rewrite]] with the strategy built from the
    * arguments.
    */
  private def rewriting(params: ProcedureParameter*)(how: InternalRow => MergeTable.Rewrite)
      : (Seq[ProcedureParameter], (SparkSession, InternalRow, LakeCatalog) => Long) =
    (p("table", StringType) +: params,
      (s: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.rewrite(s, how(in)); t.latestVersion
      })

  /** name → (parameters, body(spark, args, lake) → latest version). */
  private val defs: Map[String, (Seq[ProcedureParameter], (SparkSession, InternalRow, LakeCatalog) => Long)] = Map(
    "compact" -> rewriting()(_ => MergeAll),
    "compact_scoped" -> rewriting()(_ => Scoped),
    "compact_sorted" -> rewriting(p("sort_by", StringType),
        p("target_files", IntegerType))(in =>
      Sorted(in.getUTF8String(1).toString, in.getInt(2))),
    "compact_zorder" -> rewriting(p("columns", StringType),
        p("target_files", IntegerType))(in =>
      ZOrder(in.getUTF8String(1).toString.split(",").map(_.trim).toSeq, in.getInt(2))),
    "compact_bucketed" -> rewriting(p("buckets", IntegerType))(in =>
      Bucketed(in.getInt(1))),
    "bin_pack" -> rewriting()(_ => BinPack()),
    "expire_snapshots" -> ((Seq(p("table", StringType), p("keep_last", IntegerType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.expireSnapshots(in.getInt(1)); t.latestVersion
      })),
    // age-based expiry: CALL graft.system.expire_older_than('db.t', <epoch-ms>, 1)
    "expire_older_than" -> ((Seq(p("table", StringType),
        p("older_than_ms", LongType), p("keep_last", IntegerType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.expireSnapshotsOlderThan(in.getLong(1), in.getInt(2)); t.latestVersion
      })),
    "rollback" -> ((Seq(p("table", StringType), p("version", LongType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.rollbackTo(in.getLong(1)); t.latestVersion
      })),
    // zero-copy shallow clone: CALL graft.system.clone('db.t', 'db.t2')
    "clone" -> ((Seq(p("source", StringType), p("dest", StringType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val src = in.getUTF8String(0).toString.split("\\.", 2)
        val dst = in.getUTF8String(1).toString.split("\\.", 2)
        require(src.length == 2 && dst.length == 2,
          "expected 'db.table' for source and dest")
        l.cloneTable(src(0), src(1), dst(0), dst(1)).latestVersion
      })),
    // standalone full copy: clone + materialize (survives source GC/drop)
    "deep_clone" -> ((Seq(p("source", StringType), p("dest", StringType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val src = in.getUTF8String(0).toString.split("\\.", 2)
        val dst = in.getUTF8String(1).toString.split("\\.", 2)
        require(src.length == 2 && dst.length == 2,
          "expected 'db.table' for source and dest")
        val c = l.cloneTable(src(0), src(1), dst(0), dst(1))
        c.materialize()
        c.latestVersion
      })),
    // write-audit-publish: CALL graft.system.create_branch('db.t','audit')
    // → stage writes on the branch → publish_branch fast-forwards main
    "create_branch" -> ((Seq(p("table", StringType), p("name", StringType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.createBranch(in.getUTF8String(1).toString).latestVersion
      })),
    "publish_branch" -> ((Seq(p("table", StringType), p("name", StringType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.publishBranch(in.getUTF8String(1).toString)
      })),
    "drop_branch" -> ((Seq(p("table", StringType), p("name", StringType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.dropBranch(in.getUTF8String(1).toString); t.latestVersion
      })),
    // immutable named refs: CALL graft.system.create_tag('db.t','cut-v1',3)
    // (version -1 = current head); reads via VERSION AS OF 'tag:cut-v1'
    "create_tag" -> ((Seq(p("table", StringType), p("name", StringType),
        p("version", LongType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.createTag(in.getUTF8String(1).toString, in.getLong(2))
        t.tagVersion(in.getUTF8String(1).toString)
      })),
    "drop_tag" -> ((Seq(p("table", StringType), p("name", StringType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.dropTag(in.getUTF8String(1).toString); t.latestVersion
      })),
    // GC files no retained snapshot/branch/tag references (crashed
    // commits); older_than_ms gates against racing an in-flight commit
    "remove_orphans" -> ((Seq(p("table", StringType), p("older_than_ms", LongType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.removeOrphanFiles(in.getLong(1)); t.latestVersion
      })),
    // Delta-style CHECK constraints: add validates EXISTING rows first;
    // every later append/apply rejects whole batches that violate.
    // CALL graft.system.add_check('db.t', 'amount_nonneg', 'amount >= 0')
    "add_check" -> ((Seq(p("table", StringType), p("name", StringType),
        p("expr", StringType)),
      (s: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.addCheckConstraint(s, in.getUTF8String(1).toString,
          in.getUTF8String(2).toString)
        t.latestVersion
      })),
    "drop_check" -> ((Seq(p("table", StringType), p("name", StringType)),
      (_: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.dropCheckConstraint(in.getUTF8String(1).toString)
        t.latestVersion
      })),
    // per-file Bloom point-lookup index on a non-key column:
    // CALL graft.system.build_bloom('db.t', 'tag')
    "build_bloom" -> ((Seq(p("table", StringType), p("column", StringType)),
      (s: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.buildBloomIndex(s, in.getUTF8String(1).toString)
        t.latestVersion
      })),
    // ANALYZE TABLE analog: one-pass per-column stats -> `t.stats`
    "analyze" -> ((Seq(p("table", StringType)),
      (s: SparkSession, in: InternalRow, l: LakeCatalog) => {
        val t = resolve(l, in.getUTF8String(0).toString)
        t.analyze(s); t.latestVersion
      })))

  def names: Seq[String] = defs.keys.toSeq.sorted

  def load(name: String, lake: LakeCatalog): UnboundProcedure =
    defs.get(name) match {
      case Some((params, body)) => new GraftProcedure(name, params, body, lake)
      case None => throw new IllegalArgumentException(
        s"no such procedure: $name (have: ${names.mkString(", ")})")
    }
}

/** One maintenance procedure; binding is trivial (all parameters are
  * required scalars — Spark's ProcedureArgumentCoercion casts literals to
  * the declared types before `call`).
  */
private[sqlcat] final class GraftProcedure(
    procName: String,
    params: Seq[ProcedureParameter],
    body: (SparkSession, InternalRow, LakeCatalog) => Long,
    lake: LakeCatalog) extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String = s"graft maintenance procedure $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params.toArray
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): util.Iterator[Scan] = {
    val version = body(SparkSession.active, input, lake)
    val result: Scan = new LocalScan {
      override def rows(): Array[InternalRow] =
        Array(new GenericInternalRow(Array[Any](version)))
      override def readSchema(): StructType =
        StructType(Seq(StructField("version", LongType)))
    }
    util.Collections.singletonList(result).iterator()
  }
}
