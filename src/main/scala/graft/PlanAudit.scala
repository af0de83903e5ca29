package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Dev tool: one-line physical-plan audit per registered query —
  * exchanges, broadcast vs sort-merge joins, parquet scans, codegen
  * spans — the numbers that decide whether a plan survives a 100×
  * scale-up.
  *
  * Usage: `runMain graft.PlanAudit [sfDir] [plansMd]`. With a second
  * argument, the table between `<!-- PLANAUDIT:BEGIN/END -->` markers
  * in that file is REWRITTEN in place, one row per
  * [[SparkEntry.queries]] entry — the audit table is generated, never
  * hand-edited, so it cannot drift from the registered surface
  * (PlanAuditTableSpec gates the row set against the query set).
  * Without it, the table prints to stdout.
  *
  * Counts are TREE-node counts over the physical plan, not string
  * matches: a cached frame prints its defining plan under every
  * InMemoryRelation reference (so string counts overcount shared
  * subplans by their fan-out), but in the operator tree the cache scan
  * is a leaf — each physical exchange is counted once, as executed. AQE
  * is disabled for the audit session only, so the static plan (with its
  * codegen spans) is what's inspected; harness sessions keep AQE on.
  */
object PlanAudit {

  val BeginMarker = "<!-- PLANAUDIT:BEGIN -->"
  val EndMarker = "<!-- PLANAUDIT:END -->"

  val Header: Seq[String] = Seq(
    "| query | shuffle exchanges | broadcast joins | sort-merge joins | file scans | in-memory scans | codegen spans |",
    "|---|---|---|---|---|---|---|")

  /** Query names present in the marker-delimited audit table of a
    * PLANS.md body — what PlanAuditTableSpec compares to
    * [[SparkEntry.queries]]`.keySet`. */
  def tableQueryNames(plansMd: String): Set[String] = {
    val lines = plansMd.linesIterator.toSeq
    val begin = lines.indexOf(BeginMarker)
    val end = lines.indexOf(EndMarker)
    require(begin >= 0 && end > begin, s"markers $BeginMarker/$EndMarker not found or out of order")
    lines.slice(begin + 1, end)
      .filter(l => l.startsWith("| ") && !l.startsWith("| query") && !l.startsWith("|--"))
      .map(_.stripPrefix("| ").takeWhile(_ != ' ').trim).toSet
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val plansMd = args.drop(1).headOption
    // four cores whatever the host, so the generated table does not
    // depend on the machine that regenerates it
    val spark = GraftSession.builder(4).getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def emit(line: String): Unit = { rows += line; println(line) }
    Header.foreach(println)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // Walk the main tree plus each DISTINCT cached plan exactly once
        // (a cache materializes once however many scans reference it);
        // cached plans can themselves reference other caches, hence the
        // worklist.
        val seen = scala.collection.mutable.Set[AnyRef]()
        val work = scala.collection.mutable.Queue[SparkPlan](
          fn(spark, sfDir).queryExecution.executedPlan)
        val nodes = scala.collection.mutable.ArrayBuffer[SparkPlan]()
        while (work.nonEmpty) {
          val p = work.dequeue()
          nodes ++= p.collect { case x => x }
          p.collect { case s: InMemoryTableScanExec => s.relation }.foreach { rel =>
            if (seen.add(rel.cacheBuilder)) work.enqueue(rel.cachedPlan)
          }
        }
        def n(pred: PartialFunction[SparkPlan, Unit]) =
          nodes.count(pred.isDefinedAt)
        emit(s"| $name | ${n { case _: ShuffleExchangeExec => }} | " +
          s"${n { case _: BroadcastHashJoinExec => }} | " +
          s"${n { case _: SortMergeJoinExec => }} | " +
          s"${n { case _: FileSourceScanExec => }} | " +
          s"${n { case _: InMemoryTableScanExec => }} | " +
          s"${n { case _: WholeStageCodegenExec => }} |")
      } catch { case e: Throwable =>
        emit(s"| $name | ERROR ${e.getMessage.take(40)} | - | - | - | - | - |")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
    plansMd.foreach { path =>
      val p = java.nio.file.Paths.get(path)
      val lines = java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      val begin = lines.indexOf(BeginMarker)
      val end = lines.indexOf(EndMarker)
      require(begin >= 0 && end > begin, s"$path: markers $BeginMarker/$EndMarker not found or out of order")
      // the title stamp regenerates WITH the table (a hand-written one
      // goes stale the round the table changes): scale factor from the
      // audited dir + the rewrite date
      val sfBase = new java.io.File(sfDir).getName
      val stamp = java.time.LocalDate.now().toString
      val titled = lines.zipWithIndex.map {
        case (l, 0) if l.startsWith("# PLANS ") =>
          s"# PLANS — physical-plan audit ($sfBase, regenerated $stamp)"
        case (l, _) => l
      }
      val out = titled.take(begin + 1) ++ Header ++ rows ++ titled.drop(end)
      java.nio.file.Files.write(p, String.join("\n", out: _*).concat("\n").getBytes("UTF-8"))
      println(s"[planaudit] rewrote ${rows.size} rows in $path")
    }
  }
}
