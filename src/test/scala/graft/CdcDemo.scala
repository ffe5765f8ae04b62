package graft

// Scratch verification driver: drives the public API end-to-end the way a
// library user would. Not a test suite; run with Test/runMain graft.CdcDemo.
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.fixtures.GoldenCorpus
import graft.stream.CdcPipeline
import graft.table.MergeTable

object CdcDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[4]").appName("cdc-demo"), 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Files.createTempDirectory("cdcdemo")
    val landing = base.resolve("landing"); Files.createDirectories(landing)
    val tableRoot = base.resolve("table").toString
    val errorRoot = base.resolve("errors").toString
    val ckpt = base.resolve("ckpt").toString

    // 1. land the two corpus phases as JSONL files
    Files.write(landing.resolve("000-insert.jsonl"),
      (GoldenCorpus.insertOnlyLines.mkString("\n") + "\n").getBytes)
    Files.write(landing.resolve("001-dml.jsonl"),
      (GoldenCorpus.dmlLines.mkString("\n") + "\n").getBytes)

    val cfg = CdcPipeline.Config(landing.toString, tableRoot, errorRoot, ckpt,
      trigger = Trigger.AvailableNow())
    println("== start pipeline (AvailableNow) ==")
    CdcPipeline.start(spark, cfg).awaitTermination(120000)

    val t = MergeTable.retailTrans(tableRoot)
    val df = t.read(spark)
    df.createOrReplaceTempView("retail_trans_iceberg")
    println("== table after golden corpus ==")
    df.orderBy("trans_id").show(20, false)
    println("COUNT(*) = " + spark.sql(
      "SELECT COUNT(*) FROM retail_trans_iceberg").collect().head.getLong(0))
    println("version = " + t.latestVersion +
      "  dataFiles=" + t.currentSnapshot.get.dataFiles.size +
      "  deleteFiles=" + t.currentSnapshot.get.deleteFiles.size)

    // 2. incremental: land one more file (update 27 → amount 999, delete 28)
    val upd = GoldenCorpus.insertOnlyLines.head
      .replace("\"trans_id\": 6", "\"trans_id\": 27")
      .replace("\"amount\": 1", "\"amount\": 999")
      .replace("\"operation\": \"insert\"", "\"operation\": \"update\"")
      .replace("06:25:34.444953", "09:00:00.000000")
    val del = GoldenCorpus.insertOnlyLines.head
      .replace("\"trans_id\": 6", "\"trans_id\": 28")
      .replace("\"operation\": \"insert\"", "\"operation\": \"delete\"")
      .replace("06:25:34.444953", "09:00:01.000000")
    Files.write(landing.resolve("002-incr.jsonl"), (upd + "\n" + del + "\n").getBytes)
    println("== restart pipeline for incremental batch ==")
    CdcPipeline.start(spark, cfg).awaitTermination(120000)

    val t2 = MergeTable.retailTrans(tableRoot)
    println("== after incremental update/delete ==")
    t2.read(spark).orderBy("trans_id").show(20, false)
    println("history versions = " + t2.history.map(_.version).mkString(","))
    println("== time travel: v0 row count = " +
      t2.read(spark, Some(0L)).count() + " ==")

    println("== compact ==")
    t2.compact(spark)
    val t3 = MergeTable.retailTrans(tableRoot)
    println("post-compact requiresDedup=" + t3.currentSnapshot.get.requiresDedup +
      " deleteFiles=" + t3.currentSnapshot.get.deleteFiles.size)
    t3.read(spark).orderBy("trans_id").show(20, false)

    // 3. adversarial: land a malformed file; stream must survive, errors sink
    Files.write(landing.resolve("003-bad.jsonl"),
      "this is not json {\n".getBytes)
    CdcPipeline.start(spark, cfg).awaitTermination(120000)
    println("== error sink after malformed file ==")
    spark.read.parquet(errorRoot).show(5, false)
    println("table count still = " + MergeTable.retailTrans(tableRoot).read(spark).count())

    // 4. catalog surface: database/table DDL parity + SQL + predicate DML
    val cat = new graft.catalog.LakeCatalog(base.resolve("warehouse").toString)
    cat.createDatabase("cdc_iceberg_demo_db")
    val ct = cat.createTable("cdc_iceberg_demo_db", "retail_trans_iceberg",
      graft.model.Schemas.LakeTableSchema, "trans_id", Some("event"))
    CdcPipeline.replayBatch(spark,
      GoldenCorpus.df(spark, GoldenCorpus.allLines), ct)
    cat.registerViews(spark, "cdc_iceberg_demo_db")
    println("== catalog ==")
    cat.showDatabases(spark).show(false)
    cat.showTables(spark, "cdc_iceberg_demo_db").show(false)
    cat.describeTable(spark, "cdc_iceberg_demo_db", "retail_trans_iceberg").show(false)
    println("SQL COUNT(*) = " + spark.sql(
      "SELECT COUNT(*) FROM retail_trans_iceberg").collect().head.getLong(0))

    println("== predicate DML: UPDATE/DELETE ... WHERE ==")
    import org.apache.spark.sql.functions.{col, lit}
    ct.updateWhere(spark, col("trans_id") === 19, Map("amount" -> lit(777)))
    ct.deleteWhere(spark, col("event") === "like")
    ct.read(spark).orderBy("trans_id").show(20, false)
    println("== snapshots metadata table ==")
    ct.snapshotsDf(spark).show(false)

    // 5. pure-SQL surface: DSv2 catalog plugin + CALL maintenance +
    //    manifest-stat file pruning after a sorted rewrite (round 4)
    println("== SQL catalog + CALL maintenance ==")
    spark.conf.set("spark.sql.catalog.graft", "graft.sqlcat.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      base.resolve("warehouse").toString)
    println("SQL CATALOG COUNT(*) = " + spark.sql(
      "SELECT COUNT(*) FROM graft.cdc_iceberg_demo_db.retail_trans_iceberg")
      .collect().head.getLong(0))
    spark.sql("UPDATE graft.cdc_iceberg_demo_db.retail_trans_iceberg " +
      "SET device = 'kiosk' WHERE trans_id = 21")
    val v = spark.sql(
      "CALL graft.system.compact_sorted('cdc_iceberg_demo_db.retail_trans_iceberg', 'amount', 4)")
      .collect().head.getLong(0)
    println("compact_sorted -> version " + v)
    spark.sql("SELECT trans_id, amount FROM " +
      "graft.cdc_iceberg_demo_db.retail_trans_iceberg WHERE amount BETWEEN 1 AND 5 ORDER BY trans_id")
      .show(false)
    // exchange-free probe: AQE only wraps plans with exchanges, so this
    // one exposes its FileSourceScan directly
    val pruned = spark.sql("SELECT trans_id, amount FROM " +
      "graft.cdc_iceberg_demo_db.retail_trans_iceberg WHERE amount BETWEEN 1 AND 5")
    println("pruned scan files = " + pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum + " of " + MergeTable.open(
      base.resolve("warehouse/cdc_iceberg_demo_db/retail_trans_iceberg").toString)
      .currentSnapshot.get.dataFiles.size)

    // 6. write-audit-publish: stage on a branch, audit via SQL, publish
    println("== WAP branch lifecycle ==")
    spark.sql("CALL graft.system.create_branch('cdc_iceberg_demo_db.retail_trans_iceberg', 'audit')")
    val wapTable = MergeTable.open(
      base.resolve("warehouse/cdc_iceberg_demo_db/retail_trans_iceberg").toString)
    wapTable.branch("audit").updateWhere(spark,
      col("trans_id") === 24, Map("amount" -> lit(4242)))
    val stagedAmount = spark.sql(
      "SELECT amount FROM graft.cdc_iceberg_demo_db.retail_trans_iceberg " +
      "VERSION AS OF 'branch:audit' WHERE trans_id = 24").collect().head.getInt(0)
    val mainAmount = spark.sql(
      "SELECT amount FROM graft.cdc_iceberg_demo_db.retail_trans_iceberg " +
      "WHERE trans_id = 24").collect().head.getInt(0)
    println(s"branch amount = $stagedAmount, main amount = $mainAmount (pre-publish)")
    spark.sql("CALL graft.system.publish_branch('cdc_iceberg_demo_db.retail_trans_iceberg', 'audit')")
    println("post-publish main amount = " + spark.sql(
      "SELECT amount FROM graft.cdc_iceberg_demo_db.retail_trans_iceberg " +
      "WHERE trans_id = 24").collect().head.getInt(0))

    // 7. tags + metadata tables + streaming replication loop (round 4)
    println("== tags, metadata tables, streaming replication ==")
    val mainTable = MergeTable.open(
      base.resolve("warehouse/cdc_iceberg_demo_db/retail_trans_iceberg").toString)
    spark.sql("CALL graft.system.create_tag('cdc_iceberg_demo_db.retail_trans_iceberg', 'demo-cut', -1)")
    spark.sql("SELECT name, type, version FROM " +
      "graft.cdc_iceberg_demo_db.retail_trans_iceberg.refs").show(false)
    println("tag read COUNT(*) = " + spark.sql(
      "SELECT COUNT(*) FROM graft.cdc_iceberg_demo_db.retail_trans_iceberg " +
      "VERSION AS OF 'tag:demo-cut'").collect().head.getLong(0))
    spark.sql("SELECT partition, n_files, size_bytes FROM " +
      "graft.cdc_iceberg_demo_db.retail_trans_iceberg.partitions").show(false)

    // replicate the table into a fresh one with a pure stream: change-feed
    // source → graft sink, no foreachBatch
    val replicaRoot = base.resolve("replica").toString
    val replica = MergeTable.retailTrans(replicaRoot)
    val repl = spark.readStream.format("graft-changes")
      .option("path", mainTable.root).load()
      .withColumn("operation", org.apache.spark.sql.functions.when(
        col("_change_type") === "delete", "delete").otherwise("update"))
      .withColumn("transaction_id", col("_seq"))
      .drop("_seq", "_change_type")
      .writeStream.format("graft")
      .option("path", replicaRoot)
      .option("checkpointLocation", base.resolve("replica-ck").toString)
      .start()
    repl.processAllAvailable()
    repl.stop()
    println("replica COUNT(*) = " + replica.read(spark).count() +
      " (source " + mainTable.read(spark).count() + ")")

    // 8. shallow + deep clone (round 7): zero-copy SQL clone diverges
    // independently; materialize() makes it survive source GC
    println("== shallow/deep clone ==")
    spark.sql("CALL graft.system.clone(" +
      "'cdc_iceberg_demo_db.retail_trans_iceberg', " +
      "'cdc_iceberg_demo_db.retail_trans_clone')")
    spark.sql("UPDATE graft.cdc_iceberg_demo_db.retail_trans_clone " +
      "SET amount = 9999 WHERE trans_id = 24")
    println("clone amount = " + spark.sql(
      "SELECT amount FROM graft.cdc_iceberg_demo_db.retail_trans_clone " +
      "WHERE trans_id = 24").collect().head.getInt(0) +
      ", source amount = " + spark.sql(
      "SELECT amount FROM graft.cdc_iceberg_demo_db.retail_trans_iceberg " +
      "WHERE trans_id = 24").collect().head.getInt(0) + " (diverged)")
    val cloneTable = MergeTable.open(
      base.resolve("warehouse/cdc_iceberg_demo_db/retail_trans_clone").toString)
    println("clone materialized files = " + cloneTable.materialize() +
      " (now survives source GC)")

    println("DEMO OK base=" + base)
    spark.stop()
  }
}
