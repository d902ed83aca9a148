package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = Tables(spark, "/root/testdata/sf0.001", name)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.builder("local[4]", 8)
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
