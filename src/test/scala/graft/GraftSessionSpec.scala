package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  test("the factory-built test session carries the shared conf set") {
    val spark = TestSpark.spark
    val expected = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions")
    val actual = expected.keys.map(k => k -> spark.conf.getOption(k).orNull).toMap
    assert(actual == expected)
    assert(spark.conf.get("spark.sql.warehouse.dir").contains("warehouse"))
  }
}
