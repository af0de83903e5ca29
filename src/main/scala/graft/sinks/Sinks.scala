package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Sink layer (SURVEY.md §2.2): gold JSON snapshot (K1), keyed upsert
  * (K2), parallel multi-table load (K3), chunked writes (K4), archive
  * move (K5), unique-name uploads (K6).
  */
object Sinks {

  /** K1 — gold snapshot: one JSON file `final_data_<ts>.json`
    * (`data_loader.py:22-35`). The single-file shape is the reference's
    * contract; `coalesce(1)` honors it and is the right call only
    * because gold KPI tables are small post-aggregation frames. Large
    * frames should use [[chunkedWrite]].
    */
  def goldSnapshot(df: DataFrame, goldDir: String, timestamp: String): String = {
    val out = s"$goldDir/final_data_$timestamp"
    df.coalesce(1).write.mode("errorifexists").json(out)
    out
  }

  /** K2 — keyed upsert, batch shape: rows of `updates` replace same-key
    * rows of `existing`; unmatched update keys are inserted
    * (`data_loader.py:54-60` upsert on_conflict=key). In production this
    * is a `foreachBatch` + MERGE INTO; the batch formulation is the
    * MERGE's relational algebra: updates ∪ (existing ⟂ updates).
    * One shuffle on the key for the anti join; `updates` is typically a
    * small KPI frame → Catalyst broadcasts it.
    */
  def upsertByKey(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    updates.unionByName(existing.join(updates, keys, "left_anti"))

  /** K3 — parallel multi-table load (`data_loader.py:63-66` runs 3
    * upserts in threads): independent write jobs submitted concurrently;
    * Spark's scheduler runs them in parallel (FIFO across jobs). */
  def loadAll(tables: Map[String, DataFrame], dir: String): Unit =
    concurrently(tables.toSeq.map { case (t, df) =>
      () => df.write.mode("overwrite").parquet(s"$dir/$t") }: _*)

  /** Run each leg on a thread of its own; once ALL have finished, rethrow
    * the first failure (later ones suppressed). The calling thread starts
    * the threads, so they inherit its Spark local properties (streaming
    * batch id, job group) — a shared pool like `ExecutionContext.global` would not. */
  def concurrently(legs: (() => Unit)*): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, legs.size))
    try {
      val futs = legs.map(leg => pool.submit(new Callable[Unit] { def call(): Unit = leg() }))
      val errors = futs.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      errors.headOption.foreach { e => errors.tail.foreach(e.addSuppressed); throw e }
    } finally pool.shutdown()
  }

  /** K4 — 50k-row chunked JSON write (`loader.go:92-113`, chunk size at
    * `loader.go:111`): `maxRecordsPerFile` splits inside each task with
    * no extra shuffle (vs `repartition(ceil(n/50k))`, which would). */
  def chunkedWrite(df: DataFrame, dir: String, maxRecordsPerFile: Int = 50000): Unit =
    df.write.mode("overwrite").option("maxRecordsPerFile", maxRecordsPerFile).json(dir)

  /** K5 — move-after-processing archive (`data_loader.py:38-51`,
    * `loader.go:116-154`): rename each consumed file into the archive
    * dir, keep failures in place for retry. Returns (moved, failed).
    *
    * Object-store note: where rename is copy+delete (S3-class), a crash
    * between the copy and the delete leaves the file in BOTH places —
    * the source copy is re-listed and reprocessed (at-least-once, the
    * same contract the reference's list→move loop has) and the archive
    * copy is overwritten by the retry's rename. No atomic rename is
    * required for correctness, only for exactly-once, which the
    * streaming path gets from the checkpoint WAL instead. */
  def archive(spark: SparkSession, files: Seq[String], archiveDir: String): (Seq[String], Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(archiveDir)
    val fs = dst.getFileSystem(conf)
    if (!fs.exists(dst)) fs.mkdirs(dst)
    val results = files.map { f =>
      val src = new Path(f)
      f -> scala.util.Try(fs.rename(src, new Path(dst, src.getName))).getOrElse(false)
    }
    (results.collect { case (f, true) => f }, results.collect { case (f, false) => f })
  }

  /** Bucketed table write: pre-shuffles ONCE at write time so every
    * later equi-join/aggregation on `key` is co-located — the 100 TB
    * answer to a fact table joined on the same key by every query
    * (bucket-pruned scans, no per-query Exchange). Requires a catalog
    * table (bucket metadata lives there), hence `saveAsTable`; pass
    * `path` to land the data at an explicit location (external table)
    * instead of the session warehouse. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** K6 — unique upload name `{iso_ts}_{uuid}` (`collector.py:89-99`,
    * F2+F3). Pass a fixed `now` for deterministic tests. */
  def uniqueName(now: java.time.Instant = java.time.Instant.now()): String =
    s"${now.toString.replace(":", "-")}_${UUID.randomUUID()}"

  /** Replace the table at `target` with the one staged at `staged`:
    * park the live table at `backup`, move the staged one in, drop the
    * backup. This is two renames, not one atomic op — between them the
    * target path briefly does not exist, so a concurrent reader that
    * lists exactly inside that window sees a missing path. Readers in
    * this codebase call [[healSwap]] first, which repairs both the
    * crash-window state and the cleanup-skipped state; external readers
    * must tolerate/retry a missing-path instant or read via healSwap.
    * Shared by the gold-table bucketing migration and [[compact]].
    *
    * ATOMIC-RENAME CONTRACT: this swap (and [[healSwap]]'s repair) is
    * correct only on filesystems with atomic directory rename — HDFS,
    * POSIX local. On S3-class object stores, where rename is a per-
    * object copy+delete, a crash mid-rename leaves a half-copied dir at
    * the LIVE path; use [[GenTable.publish]]/[[GenTable.resolve]] there
    * (generation dirs + commit marker, no rename of the live table,
    * spec'd against a non-atomic-rename filesystem). */
  def swapIn(fs: FileSystem, staged: Path, target: Path, backup: Path): Unit = {
    require(fs.rename(target, backup), s"swap: rename $target -> $backup failed")
    require(fs.rename(staged, target), s"swap: rename $staged -> $target failed")
    fs.delete(backup, true)
  }

  /** Repair an interrupted [[swapIn]]: a missing target with a live
    * backup means the crash hit between the renames — restore it; a
    * backup ALONGSIDE a live target means the swap completed but the
    * cleanup delete didn't — drop the stale backup. */
  def healSwap(fs: FileSystem, target: Path, backup: Path): Unit =
    if (!fs.exists(target) && fs.exists(backup)) { fs.rename(backup, target); () }
    else if (fs.exists(backup)) { fs.delete(backup, true); () }

  /** Small-file COMPACTION: rewrite a flat parquet dir into
    * ~`targetFileBytes` files and atomically swap the new layout in.
    * The small-files problem is the silent killer of long-running
    * ingestion at scale — every micro-batch leaves a few files, and a
    * year later each scan opens half a million of them; periodic
    * compaction is how every lakehouse (Delta OPTIMIZE, Iceberg
    * rewrite_data_files) keeps scans O(data), not O(files). Readers see
    * the old layout until the swap (modulo the [[swapIn]] rename window).
    * `repartition(n)` (round-robin) keeps output files even-sized where
    * `coalesce` would inherit input skew. Returns (files before, files
    * after). For a partitioned table, compact each partition dir.
    *
    * WRITERS MUST BE QUIESCED for the duration of the call: the rewrite
    * reads a snapshot of the file set, so a file committed by a
    * concurrent writer after the snapshot would be silently dropped by
    * the swap. As a backstop the dir is re-listed just before the swap
    * and the compaction ABORTS (staged output deleted, live table
    * untouched, IllegalStateException) if the .parquet file set changed
    * since the snapshot — narrow-race-proof, not a substitute for
    * quiescing (a commit can still land between the re-list and the
    * rename). Run compaction from the single writer's own maintenance
    * loop, as Delta OPTIMIZE does. */
  /** `clusterCols` non-empty preserves a clustered/Z-ordered layout:
    * the rewrite range-partitions + sorts on those columns instead of
    * round-robin (which would scatter every file's key range across
    * the whole domain and kill min/max skipping). If the table carried
    * a [[graft.sources.StatsIndex]] zone-map sidecar, it is REBUILT
    * for the new files after the swap — a stale sidecar would point
    * pruned reads at files that no longer exist. */
  def compact(spark: SparkSession, dir: String, targetFileBytes: Long = 128L << 20,
              onBeforeSwap: () => Unit = () => (),
              clusterCols: Seq[String] = Nil): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(s"$dir.__compact_tmp")
    val backup = new Path(s"$dir.__compact_old")
    healSwap(fs, target, backup) // a crashed earlier compact leaves backup state
    fs.delete(staged, true) //          ... and possibly a stale staging dir
    val dataFiles = fs.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    // a partition-layout table has NO top-level data files — rewriting it
    // here would silently flatten partition dirs into data columns and
    // corrupt the layout for partition-aware writers (e.g. the gold
    // table's dynamic overwrite). Fail loudly instead.
    require(dataFiles.nonEmpty,
      s"compact: no top-level .parquet files under $dir — for a " +
        "partitioned table, compact each partition directory")
    val n = math.max(1L, math.ceil(
      dataFiles.map(_.getLen).sum.toDouble / targetFileBytes).toLong).toInt
    // remember the sidecar's indexed columns BEFORE the swap destroys it
    val sidecarCols = graft.sources.StatsIndex.readSidecar(spark, dir)
      .map(_.collect().map(_.column).distinct.toSeq.sorted)
    val table = spark.read.parquet(dir)
    val laidOut =
      if (clusterCols.isEmpty) table.repartition(n)
      else table.repartitionByRange(n, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
    laidOut.write.parquet(staged.toString)
    onBeforeSwap() // test seam: lets specs inject a concurrent commit here
    // abort-don't-lose backstop: if a writer committed between the
    // snapshot and now, swapping would drop its files — fail instead.
    val snapshot = dataFiles.map(s => (s.getPath.getName, s.getLen)).toSet
    val relisted = fs.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.getName, s.getLen)).toSet
    if (relisted != snapshot) {
      fs.delete(staged, true)
      throw new IllegalStateException(
        s"compact: $dir changed during compaction (" +
          s"${(relisted -- snapshot).size} added, ${(snapshot -- relisted).size} removed/resized) — " +
          "aborted without touching the live table; quiesce writers and retry")
    }
    swapIn(fs, staged, target, backup)
    sidecarCols.foreach { cols =>
      graft.sources.StatsIndex.writeSidecar(
        graft.sources.StatsIndex.fromFooters(spark, dir, cols), dir)
    }
    (dataFiles.length, n)
  }

  /** Range-CLUSTERED write: range-partition on the cluster keys and sort
    * within each partition, so every output file carries a DISJOINT key
    * range. Parquet footer min/max statistics then skip whole row groups
    * (and readers that track file-level stats skip whole files) for any
    * range or point predicate on those keys — the vanilla-Spark spelling
    * of Delta/Iceberg clustering, and the single-axis version of what
    * Z-ordering buys on multiple axes. One range-exchange at write time
    * buys every later scan its data skipping. */
  def writeClustered(df: DataFrame, dir: String, clusterCols: Seq[String], files: Int): Unit =
    df.repartitionByRange(files, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(dir)

  /** STREAMING-INGESTION leg of [[writeClustered]] + zone maps: append
    * a batch clustered on `clusterCols` and extend the table's
    * [[graft.sources.StatsIndex]] sidecar with footer stats for
    * exactly the files this append created. Each batch's files carry
    * tight disjoint ranges (the batch is range-partitioned + sorted),
    * so data skipping survives continuous ingestion — ranges may
    * overlap ACROSS batches, which degrades pruning gradually, never
    * correctness; periodic [[compact]] with the same `clusterCols`
    * restores disjointness and folds the sidecar. Single-writer, like
    * every maintenance loop here. */
  def appendClustered(spark: SparkSession, df: DataFrame, dir: String,
                      clusterCols: Seq[String], files: Int,
                      statCols: Seq[String]): Unit = {
    import graft.sources.StatsIndex
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Set[String] =
      if (!fs.exists(target)) Set.empty
      else fs.listStatus(target)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getPath.toString).toSet
    val before = listing()
    df.repartitionByRange(files, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("append").parquet(dir)
    val added = (listing() -- before).toSeq.sorted
    if (added.nonEmpty)
      StatsIndex.appendSidecar(
        StatsIndex.fromFootersOf(spark, added, statCols), dir)
  }

  /** Two-dimensional variant of [[writeClustered]]: cluster by the
    * Morton interleave of `x` and `y` (graft.functions.ZOrder) so each
    * file covers a small RECTANGLE of (x, y) space and parquet min/max
    * footers skip files for predicates on either dimension — the
    * lakehouse `OPTIMIZE ZORDER BY` layout. Inputs must be non-negative
    * 31-bit ints (quantize/bucket wider domains first); the interleaved
    * key is a layout detail and is not written. */
  def writeZOrdered(df: DataFrame, dir: String, x: Column, y: Column, files: Int): Unit = {
    // withColumn would REPLACE a caller's __z in place and the drop
    // below would then delete their column from the written table
    require(!df.columns.contains("__z"), "writeZOrdered: column name __z is reserved")
    df.withColumn("__z", graft.functions.ZOrder.interleave(x, y))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Open-row sentinel for [[scd2Merge]]: `valid_to = Scd2Open` marks
    * the CURRENT version. A sentinel (not null) keeps the validity
    * columns non-nullable — range predicates like
    * `valid_from <= t AND t < valid_to` need no null branch, and the
    * table stays on the exact-compare oracle path. */
  val Scd2Open = 9999L

  /** Type-2 slowly-changing-dimension MERGE — the history-keeping
    * upgrade of [[upsertByKey]] (which overwrites in place): an update
    * that CHANGES a key's tracked values closes the current row
    * (`valid_to = at`) and opens a new version (`valid_from = at`);
    * an update equal to the current values is a no-op; an unknown key
    * inserts its first version. Closed history rows are immutable.
    *
    * `dim` must carry `keys ++ values ++ (valid_from, valid_to)` with
    * exactly one open row per key; `updates` carries `keys ++ values`,
    * one row per key (enforce upstream — duplicate update keys would
    * fan out the join).
    *
    * Shape: ONE full-outer key join of the OPEN slice against the
    * (typically small) update batch, then a map-side outcome explode —
    * the MERGE WHEN MATCHED/NOT MATCHED algebra in one pass. The
    * closed-history slice is untouched and unioned back without ever
    * joining; on a `valid_to`-partitioned table that branch is
    * partition-pruned, so a 100 TB dimension pays only for its open
    * slice + batch. Value comparison is null-safe (`<=>`). */
  def scd2Merge(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                values: Seq[String], at: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val outCols = keys ++ values ++ Seq("valid_from", "valid_to")
    require(dim.columns.toSeq == outCols,
      s"scd2Merge: dim must be exactly $outCols, got ${dim.columns.toSeq}")
    val current = dim.filter(col("valid_to") === Scd2Open)
    val hist = dim.filter(col("valid_to") =!= Scd2Open)
    val u = updates.select(
      keys.map(col) ++ values.map(v => col(v).as(s"__u_$v")) :+ lit(1).as("__has_u"): _*)
    val j = current.withColumn("__has_c", lit(1)).join(u, keys, "full_outer")
    val same = values.map(v => col(v) <=> col(s"__u_$v")).reduce(_ && _)
    val hasC = col("__has_c").isNotNull
    val hasU = col("__has_u").isNotNull
    val curRow = struct(values.map(v => col(v).as(v)) :+
      col("valid_from").as("valid_from") :+ col("valid_to").as("valid_to"): _*)
    val closedRow = struct(values.map(v => col(v).as(v)) :+
      col("valid_from").as("valid_from") :+ lit(at).as("valid_to"): _*)
    val newRow = struct(values.map(v => col(s"__u_$v").as(v)) :+
      lit(at).as("valid_from") :+ lit(Scd2Open).as("valid_to"): _*)
    val outcome =
      when(hasC && !hasU, array(curRow))                  // no update: keep
        .when(hasC && hasU && same, array(curRow))        // no-op update: keep
        .when(hasC && hasU && !same, array(closedRow, newRow)) // close + reopen
        .otherwise(array(newRow))                         // first version
    val merged = j
      .select(keys.map(col) :+ explode(outcome).as("__r"): _*)
      .select(keys.map(col) ++
        (values ++ Seq("valid_from", "valid_to")).map(f => col(s"__r.$f").as(f)): _*)
    hist.select(outCols.map(col): _*).unionByName(merged)
  }
}
