package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The engine session the benchmark measures.
  *
  * The settings are copied from `graft.Bench.main`, which has no shared
  * session profile to call yet. Every directory Spark, the catalog and the
  * engine's scratch tables write to lies under the run's work directory.
  */
object Session {
  def create(cpus: Int, work: Path): SparkSession = {
    val local = Files.createDirectories(work.resolve("spark-local"))
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.sqlcat.GraftSqlExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.sqlcat.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("warehouse").toString)
      .getOrCreate()
  }
}
