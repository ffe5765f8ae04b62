package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.LakeCatalog
import graft.functions.GraftFunctions
import graft.stream.CdcPipeline
import graft.table.MergeTable

/** Single entry point for library users — everything the engine offers,
  * one import away:
  *
  * {{{
  *   import graft.Graft
  *
  *   val spark = Graft.configure(
  *     SparkSession.builder().master("local[8]"), cpus = 8).getOrCreate()
  *   val cat   = Graft.catalog("/data/warehouse")
  *   val table = Graft.openTable("/data/warehouse/db/retail_trans_iceberg")
  *   val query = Graft.startCdc(spark, CdcPipeline.Config(...))
  *   Graft.registerFunctions(spark)   // cosine_sim in SQL
  *
  *   // streaming in and out of engine tables, no foreachBatch:
  *   spark.readStream.format("graft-changes").option("path", src).load()
  *     .writeStream.format("graft").option("path", dst).start()
  *
  *   // SQL-first surface (catalog plugin; configure sets the extensions):
  *   //   spark.sql.catalog.graft = graft.sqlcat.GraftCatalog
  *   // → DDL/DML/MERGE, VERSION/TIMESTAMP AS OF, branch:/tag: refs,
  *   //   CALL graft.system.*, metadata tables t.snapshots/.files/.refs
  * }}}
  *
  * Operators live in `graft.operators` (Dedup, Similarity, TextAnalysis,
  * Multimodal, ImageHeaders, AudioWav, CorpusOps, ScalePatterns,
  * TemporalJoins, and the persistent incremental indexes IncrementalDedup /
  * IncrementalSplit / VectorIndex), stream analytics in `graft.streaming`
  * (EventStreams, CorpusStreams: prepare / dedupedIngest / curatedIngest /
  * splitIngest). The COMPOSED end-to-end curation job — landing stream →
  * gates → persistent near-dup dedup → leak-safe split → benchmark-span
  * decontamination → clean table → shard release, with a chain-wide
  * crash-replay contract — is `graft.pipeline.CurationPipeline`.
  */
object Graft {

  /** Apply the engine's session profile ([[GraftSession]]) to a builder. */
  def configure(builder: SparkSession.Builder, cpus: Int): SparkSession.Builder =
    GraftSession.configure(builder, cpus)

  /** Open a warehouse-directory catalog (S10/S11 surface). */
  def catalog(warehouse: String): LakeCatalog = new LakeCatalog(warehouse)

  /** Open an existing merge table from its path (self-described). */
  def openTable(root: String): MergeTable = MergeTable.open(root)

  /** Start the streaming CDC pipeline (landing dir → merge table). */
  def startCdc(spark: SparkSession, cfg: CdcPipeline.Config): StreamingQuery =
    CdcPipeline.start(spark, cfg)

  /** One-shot batch replay of CDC lines into a table. */
  def replayCdc(spark: SparkSession, lines: DataFrame, table: MergeTable,
      errorRoot: Option[String] = None, batchId: Option[String] = None): Unit =
    CdcPipeline.replayBatch(spark, lines, table, errorRoot, batchId)

  /** Register the engine's native SQL functions (`cosine_sim`,
    * `shingle_hashes`, `simhash64`).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    GraftFunctions.register(spark)
    graft.functions.TextHashFunctions.register(spark)
  }

  /** Native cosine similarity column (codegen'd expression). */
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column =
    GraftFunctions.cosineSim(spark, a, b)

  /** Native sorted-distinct hashed word n-grams (codegen'd expression). */
  def shingleHashes(spark: SparkSession, text: Column, n: Int): Column =
    graft.functions.TextHashFunctions.shingleHashes(spark, text, n)

  /** Native 64-bit SimHash of whitespace tokens (codegen'd expression). */
  def simHash64(spark: SparkSession, text: Column): Column =
    graft.functions.TextHashFunctions.simHash64(spark, text)
}
