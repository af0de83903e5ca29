package graft

import org.scalatest.funsuite.AnyFunSuite

/** TestSpark takes its session from [[GraftSession.builder]], so every
  * spec runs with the AQE coalescing, extensions and time zone that
  * Bench and Verify use. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the test session carries the bench session configuration") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum") ==
      math.max(2, 4 / 4).toString)
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
