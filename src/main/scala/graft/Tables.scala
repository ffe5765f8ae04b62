package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided test tables (TESTDATA.md). */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fan a narrow scan out to all cores before compute-bound per-row work
    * (regex, n-gram shingling, array math). The local test tables are
    * single-row-group parquet — unsplittable below one task — so without
    * this the whole scan-side pipeline runs on one core of 32. Adaptive:
    * when the source will plan at least `parallelism` splits (the normal
    * case on a cluster, where inputs have many files) this is a no-op —
    * the reshuffle only happens for the few-huge-splits corner it exists
    * to fix. The split count is ESTIMATED from leaf file-relation sizes
    * (ceil(bytes / maxPartitionBytes), Spark's own split formula sans
    * open-cost padding) so the probe costs one plan analysis — NOT
    * `df.rdd.getNumPartitions`, which physically plans and codegen-compiles
    * the query just to read a count, a per-query planning tax at scale.
    * Non-file leaves (local/in-memory data) are assumed already parallel.
    */
  def fanout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L,
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")))
    val estimatedSplits = df.queryExecution.analyzed.collectLeaves().map {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            math.max(1L, (fs.location.sizeInBytes + maxSplit - 1) / maxSplit)
          case _ => parallelism.toLong
        }
      case _ => parallelism.toLong
    }.sum
    if (estimatedSplits >= parallelism) df
    else df.repartition(parallelism)
  }

  /** `events.ts` has shipped in two physical shapes across data drops:
    * nanosecond parquet timestamps (which Spark's reader rejects with
    * [PARQUET_TYPE_ILLEGAL] unless read as raw ns longs via
    * legacy.parquet.nanosAsLong, then floored to µs) and native µs
    * timestamps (surfacing as TIMESTAMP_NTZ when isAdjustedToUTC=false).
    * Normalize both to session-tz TimestampType — engine sessions run UTC
    * (GraftSession), so the NTZ cast is
    * value-preserving and downstream windows/watermarks see one type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
}
