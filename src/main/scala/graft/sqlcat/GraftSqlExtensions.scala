package graft.sqlcat

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.SparkInternals.{columnOf, dfFromPlan}

import graft.table.MergeTable

/** Session extension completing the SQL surface over engine tables
  * (`spark.sql.extensions=graft.sqlcat.GraftSqlExtensions`):
  *
  *   - SELECTs over `graft.*` tables get the native merge-on-read plan
  *     spliced in place of the V2 relation — parquet scans feed one keyed
  *     LWW window, so column pruning / filter pushdown / codegen all
  *     survive (the V1 fallback scan in [[GraftSqlTable]] cannot offer
  *     that).
  *   - `UPDATE` / `DELETE` / `MERGE INTO` statements (the reference's DML
  *     surface, README.md:400–443) become engine commands running through
  *     `MergeTable`'s transactional merge path — snapshot-isolated,
  *     O(batch) commits, exactly like the Scala API.
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(spark => GraftSqlRewrite(spark))
  }
}

/** Analyzer post-hoc rule: intercepts resolved DML on graft tables before
  * Spark's row-level-operation machinery (which our tables don't need —
  * merge-on-read makes UPDATE/DELETE/MERGE plain keyed batches), and
  * splices native read plans for everything else.
  */
final case class GraftSqlRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def unwrap(p: LogicalPlan): Option[GraftSqlTable] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable => Some(t)
      case _                => None
    }
    case SubqueryAlias(_, child) => unwrap(child)
    case _                       => None
  }

  private def relOutput(p: LogicalPlan): Seq[Attribute] = p.output

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  /** Explicit recursion instead of transformDown: write nodes keep their
    * target relation as a child, and splicing a Project over a write
    * TARGET would corrupt the write — recurse only into source/query
    * positions there.
    */
  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(tbl, assignments, cond) if u.resolved && unwrap(tbl).isDefined =>
      GraftUpdateCommand(unwrap(tbl).get.mergeTable, relOutput(tbl), assignments, cond)

    case d @ DeleteFromTable(tbl, cond) if d.resolved && unwrap(tbl).isDefined =>
      GraftDeleteCommand(unwrap(tbl).get.mergeTable, relOutput(tbl), cond)

    case m: MergeIntoTable if m.resolved && unwrap(m.targetTable).isDefined =>
      GraftMergeCommand(unwrap(m.targetTable).get.mergeTable,
        relOutput(m.targetTable), rewrite(m.sourceTable), m.mergeCondition,
        m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions)

    case a: AppendData if unwrap(a.table).isDefined =>
      a.copy(query = rewrite(a.query))

    case o: OverwriteByExpression if unwrap(o.table).isDefined =>
      o.copy(query = rewrite(o.query))

    // Filter directly over a graft relation: extract conjunctive integer
    // range bounds and splice a manifest-pruned read when the current
    // snapshot's per-file stats (a Sorted/ZOrder rewrite) can drop
    // files. The ORIGINAL filter stays on top — the pruned read is a
    // superset of matching rows, so results are exact even though
    // pruning is conservative.
    case f @ Filter(cond, child) =>
      unwrapRel(child) match {
        case Some((r, t)) if t.asOfVersion.isEmpty =>
          val bounds = rangeBounds(cond, r.output)
          t.mergeTable.readPrunedBy(spark, bounds) match {
            case Some(df) => Filter(cond, spliceFrom(r, df))
            case None     => Filter(cond, rewrite(child))
          }
        case _ => f.mapChildren(rewrite)
      }

    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
      splice(r, r.table.asInstanceOf[GraftSqlTable])

    case other => other.mapChildren(rewrite)
  }

  private def unwrapRel(p: LogicalPlan): Option[(DataSourceV2Relation, GraftSqlTable)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftSqlTable => Some((r, t))
        case _                => None
      }
      case SubqueryAlias(_, child) => unwrapRel(child)
      case _                       => None
    }

  /** Conjunctive [lo, hi] bounds per integer column referenced by simple
    * comparisons against literals — the fragment manifest stats can act
    * on. Anything else contributes no bound (stays exact via the retained
    * filter).
    */
  private def rangeBounds(cond: Expression,
      output: Seq[Attribute]): Map[String, (Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions._
    val names = output.map(a => a.exprId.id -> a.name).toMap
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => names.get(a.exprId.id)
      case _                     => None
    }
    // integral literal types ONLY: a TimestampType literal also carries a
    // Long, but in MICROS while manifest stats are epoch seconds — using
    // it would prune wrong files
    def boundOf(e: Expression): Option[Long] = e match {
      case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => Some(i.toLong)
      case Literal(l: Long, org.apache.spark.sql.types.LongType)   => Some(l)
      case _                                                       => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    val perCol = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def add(c: String, lo: Long, hi: Long): Unit = {
      val (plo, phi) = perCol.getOrElse(c, (Long.MinValue, Long.MaxValue))
      perCol(c) = (math.max(plo, lo), math.min(phi, hi))
    }
    conjuncts(cond).foreach {
      // BETWEEN is RuntimeReplaceable — at analysis (when this rule runs)
      // it is still the Between node, not And(>=, <=)
      case Between(a, lo: Literal, hi: Literal, _) =>
        for (c <- nameOf(a); x <- boundOf(lo); y <- boundOf(hi)) add(c, x, y)
      case GreaterThanOrEqual(a, l: Literal) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, x, Long.MaxValue)
      case LessThanOrEqual(a, l: Literal) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, Long.MinValue, x)
      case GreaterThan(a, l: Literal) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, x + 1, Long.MaxValue)
      case LessThan(a, l: Literal) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, Long.MinValue, x - 1)
      case EqualTo(a, l: Literal) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, x, x)
      case GreaterThanOrEqual(l: Literal, a) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, Long.MinValue, x)
      case LessThanOrEqual(l: Literal, a) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, x, Long.MaxValue)
      case EqualTo(l: Literal, a) =>
        for (c <- nameOf(a); x <- boundOf(l)) add(c, x, x)
      case _ => ()
    }
    perCol.toMap
  }

  /** Alias an engine DataFrame's plan back to the relation's attribute
    * ids so references above keep resolving.
    */
  private def spliceFrom(r: DataSourceV2Relation, df: DataFrame): LogicalPlan = {
    val plan = df.queryExecution.analyzed
    val byName = plan.output.map(a => a.name -> a).toMap
    Project(
      r.output.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)),
      plan)
  }

  /** Replace the V2 relation with the composed merge-on-read plan,
    * aliasing its output back to the relation's attribute ids so every
    * reference above keeps resolving.
    */
  private def splice(r: DataSourceV2Relation, t: GraftSqlTable): LogicalPlan = {
    val readPlan = t.mergeTable.read(spark, t.asOfVersion).queryExecution.analyzed
    val byName = readPlan.output.map(a => a.name -> a).toMap
    Project(
      r.output.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)),
      readPlan)
  }
}

private object GraftDml {
  /** DML expressions reference the dead V2 relation's attribute ids;
    * rebind them by NAME so they resolve against a fresh engine read.
    * `protect` marks ids that must NOT be rebound (the MERGE source side
    * keeps its original, still-live attributes).
    */
  def byName(e: Expression, rebind: Set[Long], qualifier: Seq[String]): Expression =
    e.transform {
      case a: AttributeReference if rebind.contains(a.exprId.id) =>
        UnresolvedAttribute(qualifier :+ a.name)
    }

  def assignName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => throw new UnsupportedOperationException(
      s"only top-level column assignments are supported, got: ${other.sql}")
  }
}

/** `UPDATE <graft table> SET ... [WHERE ...]` → MergeTable.updateWhere. */
final case class GraftUpdateCommand(
    table: MergeTable,
    targetOutput: Seq[Attribute],
    assignments: Seq[Assignment],
    condition: Option[Expression]) extends LeafRunnableCommand {
  import GraftDml._

  override def run(spark: SparkSession): Seq[Row] = {
    val ids = targetOutput.map(_.exprId.id).toSet
    val cond = condition.map(c => columnOf(byName(c, ids, Nil))).getOrElse(lit(true))
    val set = assignments.map(a => assignName(a) -> columnOf(byName(a.value, ids, Nil))).toMap
    table.updateWhere(spark, cond, set)
    Nil
  }
}

/** `DELETE FROM <graft table> [WHERE ...]` → MergeTable.deleteWhere. */
final case class GraftDeleteCommand(
    table: MergeTable,
    targetOutput: Seq[Attribute],
    condition: Expression) extends LeafRunnableCommand {
  import GraftDml._

  override def run(spark: SparkSession): Seq[Row] = {
    val ids = targetOutput.map(_.exprId.id).toSet
    table.deleteWhere(spark, columnOf(byName(condition, ids, Nil)))
    Nil
  }
}

/** `MERGE INTO <graft table> t USING <source> s ON <cond> WHEN ...` —
  * compiled to three key-disjoint slices (matched / not-matched /
  * not-matched-by-source), each action's rows shaped into the engine's
  * CDC batch form (payload + operation), applied as ONE transactional
  * merge commit. First matching WHEN clause wins, like Spark's own MERGE.
  * The source must be key-unique (standard MERGE cardinality contract);
  * duplicate source keys collapse last-write-wins rather than erroring.
  */
final case class GraftMergeCommand(
    table: MergeTable,
    targetOutput: Seq[Attribute],
    source: LogicalPlan,
    mergeCondition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction]) extends LeafRunnableCommand {
  import GraftDml._

  private val TGT = "_graft_merge_tgt"

  override def run(spark: SparkSession): Seq[Row] = {
    val payload = table.schema.fields.map(_.name).toSeq
    val ids = targetOutput.map(_.exprId.id).toSet
    def fix(e: Expression): Column = columnOf(byName(e, ids, Seq(TGT)))

    val tgt = table.read(spark).alias(TGT)
    val src = dfFromPlan(spark, source)
    val cond = fix(mergeCondition)

    val matched = src.join(tgt, cond, "inner")
    val srcOnly = src.join(tgt, cond, "left_anti")
    val tgtOnly = tgt.join(src, cond, "left_anti")

    def fromTarget(c: String): Column = col(s"$TGT.$c")
    def nullCol(c: String): Column = lit(null).cast(table.schema(c).dataType)

    /** One batch slice per action; `prior` accumulates earlier actions'
      * conditions so the first matching WHEN clause claims the row.
      */
    def slices(base: DataFrame, actions: Seq[MergeAction], targetSide: Boolean): Seq[DataFrame] = {
      var prior: Column = lit(false)
      actions.map { a =>
        val actCond = a.condition.map(fix).getOrElse(lit(true))
        val eligible = base.filter(actCond && !prior)
        prior = prior || actCond
        a match {
          case ua: UpdateAction =>
            val set = ua.assignments.map(s => assignName(s) -> fix(s.value)).toMap
            // assigning the merge key would upsert under the NEW key while
            // the old row stays live — silent duplication, not an update
            // (same guard as MergeTable.updateWhere)
            require(!set.contains(table.keyCol),
              s"MERGE UPDATE cannot assign merge key ${table.keyCol}")
            eligible.select(payload.map(c =>
              set.getOrElse(c, if (targetSide) fromTarget(c) else nullCol(c)).as(c)): _*)
              .withColumn("operation", lit("update"))
          case _: DeleteAction =>
            eligible.select(payload.map(c =>
              (if (c == table.keyCol) fromTarget(c) else nullCol(c)).as(c)): _*)
              .withColumn("operation", lit("delete"))
          case ia: InsertAction =>
            val set = ia.assignments.map(s => assignName(s) -> fix(s.value)).toMap
            eligible.select(payload.map(c => set.getOrElse(c, nullCol(c)).as(c)): _*)
              .withColumn("operation", lit("insert"))
          case other => throw new UnsupportedOperationException(
            s"unsupported MERGE action: $other")
        }
      }
    }

    val batch =
      slices(matched, matchedActions, targetSide = true) ++
        slices(srcOnly, notMatchedActions, targetSide = false) ++
        slices(tgtOnly, notMatchedBySourceActions, targetSide = true)
    batch.reduceOption(_ unionByName _).foreach(b => table.applyBatch(b))
    Nil
  }
}
