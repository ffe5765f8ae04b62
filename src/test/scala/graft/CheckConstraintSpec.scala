package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.table.MergeTable

/** Table-level CHECK constraints: reject-whole-batch enforcement on both
  * write paths, add-time validation, persistence across handles.
  */
class CheckConstraintSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("amount", LongType),
    StructField("tag", StringType)))

  private def mk(): MergeTable = {
    val root = Files.createTempDirectory("ckspec").toString
    new MergeTable(s"$root/t", schema, keyCol = "id",
      partitionCol = None).create()
  }

  test("appendAll: violating batch rejected atomically, valid batch " +
      "then lands; NULL passes (SQL CHECK)") {
    val t = mk()
    t.appendAll(Seq((1L, 10L, "a")).toDF("id", "amount", "tag"))
    t.addCheckConstraint(spark, "amount_nonneg", "amount >= 0")
    val v0 = t.latestVersion
    val bad = intercept[MergeTable.ConstraintViolationException] {
      t.appendAll(Seq((2L, 5L, "b"), (3L, -1L, "c"))
        .toDF("id", "amount", "tag"))
    }
    assert(bad.constraint === "amount_nonneg" && bad.violations === 1L)
    assert(t.latestVersion === v0, "nothing committed")
    assert(t.read(spark).count() === 1L)
    // NULL amount passes, per SQL CHECK semantics
    t.appendAll(Seq((2L, Some(5L), "b"), (4L, None, "d"))
      .toDF("id", "amount", "tag"))
    assert(t.read(spark).count() === 3L)
  }

  test("applyBatch: violating upsert rejected pre-commit with staged " +
      "files reclaimed; deletes are unconstrained") {
    val t = mk()
    t.addCheckConstraint(spark, "amount_cap", "amount < 100")
    t.applyBatch(Seq((1L, 10L, "a", "insert"), (2L, 20L, "b", "insert"))
      .toDF("id", "amount", "tag", "operation"))
    val v0 = t.latestVersion
    val dataFiles0 = t.read(spark).inputFiles.length
    intercept[MergeTable.ConstraintViolationException] {
      t.applyBatch(Seq((1L, 500L, "a", "update"))
        .toDF("id", "amount", "tag", "operation"))
    }
    assert(t.latestVersion === v0)
    assert(t.read(spark).inputFiles.length === dataFiles0,
      "staged files reclaimed")
    assert(t.read(spark).filter(col("id") === 1L).select("amount")
      .collect()(0).getLong(0) === 10L)
    // a delete carries no payload: it must pass untouched
    t.applyBatch(Seq((2L, Option.empty[Long], Option.empty[String],
        "delete")).toDF("id", "amount", "tag", "operation"))
    assert(t.read(spark).count() === 1L)
  }

  test("addCheckConstraint validates existing rows; drop lifts " +
      "enforcement; constraints persist across handles") {
    val root = Files.createTempDirectory("ckspec3").toString
    val t = new MergeTable(s"$root/t", schema, keyCol = "id",
      partitionCol = None).create()
    t.appendAll(Seq((1L, -5L, "a")).toDF("id", "amount", "tag"))
    val e = intercept[MergeTable.ConstraintViolationException] {
      t.addCheckConstraint(spark, "amount_nonneg", "amount >= 0")
    }
    assert(e.violations === 1L)
    assert(t.checkConstraints.isEmpty, "failed add leaves no constraint")
    t.addCheckConstraint(spark, "tag_known", "tag in ('a', 'b')")
    // a SECOND handle on the same root sees and enforces it
    val t2 = new MergeTable(s"$root/t", schema, keyCol = "id",
      partitionCol = None)
    assert(t2.checkConstraints === Map("tag_known" -> "tag in ('a', 'b')"))
    intercept[MergeTable.ConstraintViolationException] {
      t2.appendAll(Seq((2L, 1L, "zz")).toDF("id", "amount", "tag"))
    }
    t.dropCheckConstraint("tag_known")
    t2.appendAll(Seq((2L, 1L, "zz")).toDF("id", "amount", "tag"))
    assert(t2.read(spark).count() === 2L)
  }

  test("appendWithDeadLetter: clean slice lands, violators route with " +
      "the first failing constraint named; replay is exactly-once") {
    val root = Files.createTempDirectory("ckdl").toString
    val t = new MergeTable(s"$root/t", schema, keyCol = "id",
      partitionCol = None).create()
    val dlSchema = StructType(schema.fields :+
      StructField("violated", StringType))
    val dl = new MergeTable(s"$root/dl", dlSchema, keyCol = "id",
      partitionCol = None).create()
    t.addCheckConstraint(spark, "a_nonneg", "amount >= 0")
    t.addCheckConstraint(spark, "b_tag", "tag != 'bad'")
    val batch = Seq((1L, 10L, "ok"), (2L, -1L, "ok"), (3L, -2L, "bad"),
      (4L, 5L, "bad")).toDF("id", "amount", "tag")
    val (nc, nd) = t.appendWithDeadLetter(batch, dl, Some("e0"))
    assert((nc, nd) === ((1L, 3L)))
    assert(t.read(spark).count() === 1L)
    val deadRows = dl.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // constraint names sort (a_nonneg, b_tag): the FIRST failing wins
    assert(deadRows === Map(2L -> "a_nonneg", 3L -> "a_nonneg",
      4L -> "b_tag"))
    // checkpoint-recovery replay: both derived batch ids skip
    val (nc2, nd2) = t.appendWithDeadLetter(batch, dl, Some("e0"))
    assert((nc2, nd2) === ((1L, 3L)), "counts re-reported")
    assert(t.read(spark).count() === 1L && dl.read(spark).count() === 3L,
      "no duplicate rows after replay")
  }

  test("SQL surface: CALL add_check/drop_check gate INSERT through the " +
      "catalog") {
    val wh = Files.createTempDirectory("ckproc").toString
    spark.conf.set("spark.sql.catalog.ckc", "graft.sqlcat.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ckc.warehouse", wh)
    spark.sql("CREATE NAMESPACE ckc.d")
    spark.sql("CREATE TABLE ckc.d.t (id BIGINT, amount BIGINT) " +
      "TBLPROPERTIES ('unique_keys'='id')")
    spark.sql("INSERT INTO ckc.d.t VALUES (1, 10)")
    spark.sql("CALL ckc.system.add_check('d.t', 'nonneg', 'amount >= 0')")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO ckc.d.t VALUES (2, -7)")
    }
    assert(e.getMessage.contains("nonneg") ||
      Option(e.getCause).exists(_.getMessage.contains("nonneg")))
    assert(spark.sql("SELECT count(*) FROM ckc.d.t").collect()(0)
      .getLong(0) === 1L)
    // INSERT OVERWRITE is gated like INSERT INTO
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE ckc.d.t VALUES (2, -7)")
    }
    assert(spark.sql("SELECT count(*) FROM ckc.d.t").collect()(0)
      .getLong(0) === 1L)
    spark.sql("CALL ckc.system.drop_check('d.t', 'nonneg')")
    spark.sql("INSERT INTO ckc.d.t VALUES (2, -7)")
    assert(spark.sql("SELECT count(*) FROM ckc.d.t").collect()(0)
      .getLong(0) === 2L)
  }
}
