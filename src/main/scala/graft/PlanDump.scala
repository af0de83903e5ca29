package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * `plans/<round>/<query>_<tag>.txt`.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <tag> [q_a,q_b,...]`
  * (no query list = every registered query). The session is the bench
  * session ([[GraftSession]]) so the dumped static plan is the one the
  * bench actually optimizes from.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val only = args.drop(3).headOption.map(_.split(",").toSet)
    val spark = GraftSession.builder().getOrCreate()
    SparkEntry.warmFixtures(spark, sfDir)
    java.nio.file.Files.createDirectories(outDir)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"${name}_$tag.txt"), txt)
        println(s"[plandump] $name -> ${outDir.resolve(s"${name}_$tag.txt")}")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
