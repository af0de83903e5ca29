package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (forked JVM): the
  * bench configuration of [[GraftSession]] at four cores. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName("graft-test")
    // static conf; a temp dir keeps bucketed-table tests out of the repo
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    .getOrCreate()
}
