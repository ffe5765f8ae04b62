package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]").appName("graft-test"), 4)
    .getOrCreate()
}
