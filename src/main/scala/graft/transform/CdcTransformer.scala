package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Result of the transform stage: routed DML records and rejected records.
  *
  * `good` schema: payload columns (trans_id … trans_datetime parsed to
  * timestamp) + routing metadata (operation, dest_db, dest_table,
  * src_timestamp, transaction_id).
  * `errors` schema: raw line + error_type + ingest partition columns
  * (year/month/day/hour), mirroring the reference's timestamp-partitioned
  * error prefix (.example.cdk.context.json:28).
  */
final case class TransformResult(good: DataFrame, errors: DataFrame)

/** The record transform the reference implements as a Firehose→Lambda
  * processor (src/main/python/firehose_to_iceberg_transformer.py:14–47),
  * re-expressed as pure Catalyst expressions — no UDFs, fully codegen'd,
  * predicate-pushdown friendly:
  *
  *   - S3/P1: permissive JSON parse of the `{data, metadata}` envelope
  *   - P2: malformed-record filter (missing data/operation → error sink)
  *   - P3: operation whitelist `insert|update|delete`
  *     (transformer.py:29–30 drops DMS control/DDL records)
  *   - P5: table-selection predicate (schema-name/table-name include rule,
  *     dms_aurora_mysql_to_kinesis.py:97–109); values are trimmed — the
  *     reference corpus carries a `" retail_trans"` fixture
  *     (gen_fake_cdc_data.py:56) that a strict match would misroute
  *   - P4: routing enrichment (destination db/table + operation)
  *   - F3: ISO-8601 payload timestamp parse; an unparseable event-time
  *     (hour-29 fixture, gen_fake_cdc_data.py:58) nulls the column but
  *     does not reject the record — the payload is still applied, matching
  *     the reference transformer which never inspects the timestamp
  */
/** One source→destination routing rule: records whose envelope carries
  * (schema-name, table-name) = (srcDatabase, srcTable) land in
  * `destDb.destTable` — the reference's per-record otfMetadata routing
  * (firehose_to_iceberg_transformer.py:36–42) as data, so one stream can
  * fan records out to multiple destination tables.
  */
final case class CdcRoute(
    srcDatabase: String,
    srcTable: String,
    destDb: String,
    destTable: String)

object CdcTransformer {

  val OpWhitelist: Seq[String] = Seq("insert", "update", "delete")

  /** Decode base64-wrapped records (Firehose contract, transformer.py:18).
    * Only needed when emulating the Firehose envelope; line sources skip it.
    */
  def decodeBase64(raw: DataFrame, col: String = "data"): DataFrame =
    raw.withColumn(col, unbase64(org.apache.spark.sql.functions.col(col)).cast("string"))

  /** Parse one JSON line per row (column `value`) into envelope + raw. */
  def parse(lines: DataFrame): DataFrame =
    lines.select(
      col("value").as("raw"),
      from_json(col("value"), Schemas.EnvelopeSchema).as("env"))

  private def trimmedEq(c: Column, v: String): Column = trim(c) === v

  /** Full transform: lines → (routed good records, rejected records). */
  def transform(
      lines: DataFrame,
      srcDatabase: String = "testdb",
      srcTable: String = "retail_trans",
      destDatabase: String = "cdc_iceberg_demo_db",
      destTable: String = "retail_trans_iceberg"): TransformResult =
    fromClassified(classify(lines, srcDatabase, srcTable),
      destDatabase, destTable)

  /** Parse + classify only: one frame with `raw`, `env`, `error_type`.
    * Callers that need BOTH routes (the pipeline) cache this once so the
    * JSON parse — the expensive part of the batch — runs a single time
    * instead of once per route.
    */
  def classify(
      lines: DataFrame,
      srcDatabase: String = "testdb",
      srcTable: String = "retail_trans"): DataFrame =
    classifyMulti(lines,
      Seq(CdcRoute(srcDatabase, srcTable, "ignored", "ignored")))

  private def routeMatch(r: CdcRoute): Column =
    trimmedEq(col("env.metadata.`schema-name`"), r.srcDatabase) &&
      trimmedEq(col("env.metadata.`table-name`"), r.srcTable)

  /** Multi-route classify: a record is selected when ANY route's source
    * (schema, table) matches; everything else is the same single-pass,
    * fully codegen'd whitelist/shape validation.
    */
  def classifyMulti(lines: DataFrame, routes: Seq[CdcRoute]): DataFrame = {
    require(routes.nonEmpty, "at least one route required")
    val parsed = parse(lines)

    // Permissive from_json yields a struct of nulls (not a null struct) for
    // unparseable input — both sub-structs null ⇒ the line wasn't JSON.
    val unparsed = col("env.data").isNull && col("env.metadata").isNull
    val isData   = col("env.metadata.`record-type`") === "data"
    val hasShape = col("env.data").isNotNull &&
      col("env.metadata").isNotNull &&
      col("env.data.trans_id").isNotNull &&
      col("env.metadata.operation").isNotNull
    val isDml = col("env.metadata.operation").isin(OpWhitelist: _*)
    val tableMatch = routes.map(routeMatch).reduce(_ || _)

    parsed.withColumn(
      "error_type",
      when(col("env").isNull || unparsed, lit("malformed_json"))
        .when(!hasShape, lit("missing_required_field"))
        .when(!isData, lit("non_data_record"))
        .when(!isDml, lit("unsupported_operation"))
        .when(!tableMatch, lit("unselected_table"))
        .otherwise(lit(null)))
  }

  /** The payload columns the static projection always emits. */
  val BasePayloadCols: Set[String] = Set("trans_id", "customer_id", "event",
    "sku", "amount", "device", "trans_datetime")

  /** SCHEMA DRIFT detection: payload keys present in this batch's good
    * records but absent from `known`, with a column type inferred from
    * every observed value (all-long → LONG, all-numeric → DOUBLE,
    * all-boolean → BOOLEAN, else STRING). The upstream schema changed —
    * the reference's transformer would silently drop the new field
    * (its envelope projection is fixed); here the pipeline can evolve
    * the destination table instead (add-column is metadata-only).
    *
    * One batch-sized aggregation over the already-parsed frame; returns
    * a deterministic name-ordered list. Only bare-identifier keys are
    * eligible — anything else stays in the raw JSON.
    */
  def driftColumns(classified: DataFrame,
      known: Set[String]): Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    val vals = classified
      .filter(col("error_type").isNull)
      .select(explode(json_object_keys(get_json_object(col("raw"), "$.data")))
        .as("k"), col("raw"))
      .filter(!col("k").isin(known.toSeq: _*) &&
        col("k").rlike("^[A-Za-z0-9_]+$"))
      .select(col("k"),
        expr("get_json_object(raw, concat('$.data.', k))").as("v"))
      .filter(col("v").isNotNull)
    val counted = vals.groupBy(col("k")).agg(
      count(lit(1)).as("n"),
      count(expr("try_cast(v AS BIGINT)")).as("n_long"),
      count(expr("try_cast(v AS DOUBLE)")).as("n_double"),
      sum(when(lower(col("v")).isin("true", "false"), 1L).otherwise(0L))
        .as("n_bool"))
      .collect()
    counted.sortBy(_.getString(0)).map { r =>
      val n = r.getLong(1)
      val dt: DataType =
        if (r.getLong(2) == n) LongType
        else if (r.getLong(3) == n) DoubleType
        else if (r.getLong(4) == n) BooleanType
        else StringType
      StructField(r.getString(0), dt, nullable = true)
    }.toSeq
  }

  /** Project the routed/error frames out of a classified frame. */
  def fromClassified(
      classified: DataFrame,
      destDatabase: String = "cdc_iceberg_demo_db",
      destTable: String = "retail_trans_iceberg",
      extraCols: Seq[org.apache.spark.sql.types.StructField] = Nil): TransformResult =
    fromClassifiedMulti(classified,
      Seq(CdcRoute("testdb", "retail_trans", destDatabase, destTable)),
      singleDest = true, extraCols = extraCols)

  /** Multi-route projection: `dest_db`/`dest_table` become per-RECORD
    * values chosen by the first matching route (P4 enrichment as data, not
    * config). With `singleDest` the destination is a constant — the
    * single-table path keeps its literal columns regardless of route
    * predicates.
    */
  def fromClassifiedMulti(
      classified: DataFrame,
      routes: Seq[CdcRoute],
      singleDest: Boolean = false,
      extraCols: Seq[org.apache.spark.sql.types.StructField] = Nil): TransformResult = {
    require(routes.nonEmpty, "at least one route required")
    // drift columns aren't in the parsed envelope struct (its schema is
    // fixed) — project them straight out of the raw JSON, typed
    val extras = extraCols.map(f =>
      get_json_object(col("raw"), s"$$.data.${f.name}").cast(f.dataType)
        .as(f.name))
    val destDb =
      if (singleDest) lit(routes.head.destDb)
      else routes.tail.foldLeft(when(routeMatch(routes.head), lit(routes.head.destDb))) {
        (acc, r) => acc.when(routeMatch(r), lit(r.destDb))
      }
    val destTbl =
      if (singleDest) lit(routes.head.destTable)
      else routes.tail.foldLeft(when(routeMatch(routes.head), lit(routes.head.destTable))) {
        (acc, r) => acc.when(routeMatch(r), lit(r.destTable))
      }
    val good = classified
      .filter(col("error_type").isNull)
      .select(Seq(
        col("env.data.trans_id").as("trans_id"),
        col("env.data.customer_id").as("customer_id"),
        col("env.data.event").as("event"),
        col("env.data.sku").as("sku"),
        col("env.data.amount").as("amount"),
        col("env.data.device").as("device"),
        // Lenient parse (ANSI-safe): invalid event time such as the hour-29
        // fixture → null, keep row — the reference transformer never
        // inspects timestamps, so a bad one must not kill the stream.
        try_to_timestamp(col("env.data.trans_datetime"),
          lit("yyyy-MM-dd'T'HH:mm:ssX")).as("trans_datetime")) ++
        extras ++ Seq(
        col("env.metadata.operation").as("operation"),
        try_to_timestamp(col("env.metadata.timestamp")).as("src_timestamp"),
        col("env.metadata.`transaction-id`").as("transaction_id"),
        destDb.as("dest_db"),
        destTbl.as("dest_table")): _*)

    // Error sink layout: year/month/day/hour of *processing* time, matching
    // the reference's `error/year=!{timestamp:yyyy}/...` prefix tokens (F5).
    val now = current_timestamp()
    val errors = classified
      .filter(col("error_type").isNotNull)
      .select(
        col("raw"),
        col("error_type"),
        date_format(now, "yyyy").as("year"),
        date_format(now, "MM").as("month"),
        date_format(now, "dd").as("day"),
        date_format(now, "HH").as("hour"))

    TransformResult(good, errors)
  }

  /** Write rejected records to the dead-letter sink (S7):
    * `<root>/year=…/month=…/day=…/hour=…/error_type=…/` parquet files.
    * One Spark job: a batch with no rejected rows writes no partition
    * directory, so it needs no emptiness probe first.
    */
  def writeErrors(errors: DataFrame, errorRoot: String): Unit =
    errors.write
      .mode("append")
      .partitionBy("year", "month", "day", "hour", "error_type")
      .parquet(errorRoot)
}
