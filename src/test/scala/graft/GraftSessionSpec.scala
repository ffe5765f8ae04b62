package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.classic
import graft.sqlcat.GraftSqlRewrite

/** The engine session profile: the shared spec session carries every
  * GraftSession value, and no other source file sets a tuning key.
  */
class GraftSessionSpec extends SparkSpec {

  test("SparkSpec.session carries every profile value and the extension") {
    val core = spark.sparkContext.getConf
    assert(core.get("spark.shuffle.sort.bypassMergeThreshold") === "0")
    assert(core.get("spark.local.dir") === sys.env.getOrElse(
      "SPARK_GRAFT_LOCAL_DIR", Scratch.fastLocal("graft-spark-local")))
    assert(core.get("spark.ui.enabled") === "false")

    val sql = spark.conf
    assert(sql.get("spark.sql.shuffle.partitions") === "4")
    assert(sql.get("spark.sql.session.timeZone") === "UTC")
    assert(sql.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(sql.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") ===
      "64MB")
    assert(sql.get("spark.sql.constraintPropagation.enabled") === "false")

    val analyzer = spark.asInstanceOf[classic.SparkSession].sessionState.analyzer
    assert(analyzer.postHocResolutionRules.exists(_.isInstanceOf[GraftSqlRewrite]),
      "GraftSqlExtensions is not active on the session")
  }

  test("tuning keys appear in no source file but GraftSession.scala") {
    val keys = Seq("bypassMergeThreshold", "preferSortMergeJoin",
      "maxShuffledHashJoinLocalMapThreshold", "constraintPropagation",
      "spark.local.dir")
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val hits = roots.flatMap { r =>
      Using.resource(Files.walk(r))(_.iterator().asScala
        .filter(Files.isRegularFile(_))
        .filter(p => keys.exists(Files.readString(p).contains))
        .map(_.getFileName.toString).toList)
    }.toSet
    assert(hits === Set("GraftSession.scala", "GraftSessionSpec.scala"))
  }
}
