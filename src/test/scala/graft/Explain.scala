package graft
import org.apache.spark.sql.SparkSession
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[8]"), 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- args.drop(1)) {
      println(s"===== $q =====")
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"time: ${(System.nanoTime()-t0)/1e9}%.2f s")
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"time2: ${(System.nanoTime()-t1)/1e9}%.2f s")
    }
    spark.stop()
  }
}
