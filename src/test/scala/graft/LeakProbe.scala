package graft

import org.apache.spark.sql.SparkSession

/** Dev probe: run every SparkEntry query in bench order, reporting
  * per-query wall time plus CUMULATIVE leaked persistent RDDs / storage
  * bytes — fingers operators that pin cache blocks past their call.
  */
object LeakProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[32]"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    def storageMB: (Int, Long) = {
      val rdds = sc.getPersistentRDDs
      val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      (rdds.size, bytes / (1024 * 1024))
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[leak] $name FAILED ${e.getMessage.take(80)}") }
      val dt = (System.nanoTime() - t0) / 1e9
      val (n, mb) = storageMB
      val heapMB = (Runtime.getRuntime.totalMemory -
        Runtime.getRuntime.freeMemory) / (1024 * 1024)
      println(f"[leak] $name%-26s ${dt}%7.2f s   rdds=$n%3d cachedMB=$mb%6d heapMB=$heapMB%6d")
    }
    spark.stop()
  }
}
