package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.RetailGen

/** A CDC backlog landed as one JSON-lines file per micro-batch. */
final case class Landed(dir: Path, files: Seq[Path], envelopes: Long, bytes: Long) {
  def batches: Int = files.size

  /** The lines of the first `n` batches, for the reference state. */
  def lines(spark: SparkSession, n: Int = batches): DataFrame =
    spark.read.text(files.take(n).map(_.toString): _*)
}

/** Seeded DMS traffic: RetailGen envelopes (70/20/10 insert/update/delete
  * over a key space a quarter of the event count) cut into micro-batches in
  * source order, plus a fixed number of lines per batch that the pipeline
  * must route to its error sink.
  */
object Inputs {
  private val TxBase = 12884900000L

  /** Injected lines per batch, by the `error_type` the sink must give them. */
  val Noise: Map[String, Int] = Map(
    "non_data_record" -> 24,   // DMS control records (record-type control)
    "malformed_json" -> 16,    // truncated envelopes
    "unselected_table" -> 40)  // data records of another source table

  /** Land `perBatch` envelopes (plus noise) per micro-batch, as one file per
    * batch: the first `groups(0)._2` batches in directory `groups(0)._1`,
    * the next ones in the next directory, and so on. Each file's
    * modification time follows its batch number, so the file source takes
    * the batches in source order.
    */
  def land(spark: SparkSession, groups: Seq[(Path, Int)], seed: Long,
      perBatch: Long): Seq[Landed] = {
    val nBatches = groups.map(_._2).sum
    val total = nBatches * perBatch
    val envelopes = RetailGen.cdcJsonLines(spark, total, keySpace = total / 4, seed = seed)
      .select(((get_json_object(col("value"), "$.metadata.transaction-id").cast("long") -
        lit(TxBase)) / perBatch).cast("int").as("b"), col("value"))
    val kinds = Noise.toSeq.sortBy(_._1)
    val perBatchNoise = kinds.map(_._2).sum
    val slot = pmod(col("id"), lit(perBatchNoise))
    val kind = kinds.foldLeft((lit(null).cast("string"), 0)) { case ((acc, lo), (k, n)) =>
      (when(slot >= lo && slot < lo + n, lit(k)).otherwise(acc), lo + n)
    }._1
    val h = (salt: Int) => abs(xxhash64(col("id"), lit(seed), lit(salt)))
    val key = (pmod(h(1), lit(total / 4)) + 1).cast("string")
    val ts = date_format(timestamp_add("SECOND", pmod(h(2), lit(864000L)).cast("int"),
      to_timestamp(lit("2023-02-01 00:00:00"))), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    def envelope(recordType: String, operation: String, table: String) = concat(
      lit("""{"data":{"trans_id":"""), key,
      lit(""","customer_id":"100000000000","event":"view","sku":"AA1000AAAA","amount":1,"device":"pc","trans_datetime":"2023-01-02T03:04:05Z"},"metadata":{"timestamp":""""),
      ts, lit(s"""","record-type":"$recordType","operation":"$operation","partition-key-type":"primary-key","schema-name":"testdb","table-name":"$table","transaction-id":"""),
      (lit(TxBase) + col("id")).cast("string"), lit("}}"))
    val noiseLines = spark.range(0L, nBatches.toLong * perBatchNoise)
      .select((col("id") / perBatchNoise).cast("int").as("b"),
        when(kind === "non_data_record", envelope("control", "create-table", "retail_trans"))
          .when(kind === "unselected_table", envelope("data", "insert", "retail_returns"))
          // a cut-off envelope: the transformer must reject the whole line
          .otherwise(envelope("data", "insert", "retail_trans").substr(lit(1), lit(40) + col("id") % 30))
          .as("value"))

    // no shuffle: each task writes its slice of every batch it covers, and
    // the slices of a batch are then concatenated into the batch's file
    val stage = groups.head._1.resolveSibling("landing-stage")
    envelopes.unionByName(noiseLines).write.partitionBy("b").text(stage.toString)
    val epoch = System.currentTimeMillis() - 3600L * 1000L
    val starts = groups.scanLeft(0)(_ + _._2)
    val landed = groups.zip(starts).map { case ((dir, n), first) =>
      Files.createDirectories(dir)
      val files = (first until first + n).map { b =>
        val dest = dir.resolve(f"batch-$b%05d.jsonl")
        val parts = Files.list(stage.resolve(s"b=$b")).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
        val os = Files.newOutputStream(dest)
        try parts.foreach(p => Files.copy(p, os)) finally os.close()
        dest.toFile.setLastModified(epoch + b * 1000L)
        dest
      }
      Landed(dir, files, n * perBatch, files.map(Files.size).sum)
    }
    Files.walk(stage).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    landed
  }
}
