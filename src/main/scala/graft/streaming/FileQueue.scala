package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** T2 — the reference's file-queue "streaming": list → process → move,
  * ordered by arrival, at-least-once (`S1`+`K5`; crash before move ⇒
  * reprocess). Structured Streaming's file source subsumes the whole
  * loop and upgrades it to exactly-once within Spark via the checkpoint
  * WAL; `cleanSource=archive` IS the move-after-processing contract.
  *
  * Archival lags one batch: the file source moves batch N's files when
  * it plans batch N+1, not when batch N commits. A drain (for example
  * `Trigger.AvailableNow`) therefore leaves its LAST batch's files in
  * `srcDir` until a later run on the same checkpoint plans a batch.
  *
  * `maxFilesPerTrigger=10` mirrors the reference's download wave of 10
  * (`extractor.go:93`); `latestFirst=false` keeps arrival order (O1).
  */
object FileQueue {

  def start(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      archiveDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      // reference wave of 10; generation-delimited consumers
      // (CdcStream) pin 1 so distinct dumps never merge into one batch
      maxFilesPerTrigger: Int = 10)(
      process: (DataFrame, Long) => Unit): StreamingQuery = {
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("latestFirst", "false")
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", archiveDir)
      .json(srcDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) => process(batch, id) }
      .start()
  }

  /** Enumerate a state directory's `batch_<id>` generation subdirs as
    * (id, path) pairs — the shared primitive of the crash-replay
    * discipline: a replaying batch must see exactly the state the
    * original run saw, so every call site filters these ids against
    * its own batch id (DedupStream excludes its own; CdcStream takes
    * the highest below it). */
  def batchDirs(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch_"))
      .flatMap(p => scala.util.Try(p.getName.stripPrefix("batch_").toLong)
        .toOption.map(id => (id, p.toString)))
  }

  /** The source files that make up micro-batch `batchId`, read from the
    * file source's own checkpoint log (`sources/0/<batchId>`, or the
    * `.compact` rollup that replaces it every 10 batches) — the ONLY
    * authoritative record: the foreachBatch frame is a LogicalRDD with no
    * file lineage (`inputFiles` is empty, `_metadata` unresolvable), and
    * the srcDir listing races with archival. Entries are one JSON object
    * per line with `path` and `batchId` fields; a compact file carries
    * the whole history, so entries are filtered to the asked-for batch.
    * Replay-stable: the log is written before the batch first runs and
    * survives it. */
  def batchSourceFiles(spark: SparkSession, checkpointDir: String, batchId: Long): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$checkpointDir/sources/0")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val candidates = Seq(
      new org.apache.hadoop.fs.Path(dir, batchId.toString),
      new org.apache.hadoop.fs.Path(dir, s"$batchId.compact"))
    candidates.find(fs.exists).toSeq.flatMap { p =>
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
                 finally in.close()
      val entry = ("\"path\":\"([^\"]+)\"".r, s"\"batchId\":$batchId\\b".r)
      text.linesIterator.filter(l => entry._2.findFirstIn(l).isDefined)
        .flatMap(l => entry._1.findFirstMatchIn(l).map(_.group(1))).toSeq
    }
  }

  /** Marker file stamped on a generation dir that carries the WHOLE
    * folded state (see [[liveGenerations]]) — the compaction discipline
    * shared by SpansStream/FuzzyStream-style accumulating state. */
  val FullMarker = "_FULL"

  /** Stamp `dirPath` as a full (compacted) generation. Call AFTER the
    * generation's data commit: a half-written compaction without the
    * marker reads as a plain delta, which only the creating batch's own
    * replay ever sees (and overwrites). */
  def markFull(spark: SparkSession, dirPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dirPath, FullMarker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true).close()
  }

  /** The generation dirs a batch should read and the ones dead to every
    * future read: `(live, dead)` where live = the newest `_FULL`-marked
    * generation plus every later dir, dead = everything below it —
    * `excludeId` (the reading batch's own id) is never in either, the
    * crash-replay guard. Dead dirs are safe to delete at any point: no
    * read — replay or live — selects below a committed full generation. */
  def liveGenerations(spark: SparkSession, dir: String,
                      excludeId: Long): (Seq[String], Seq[String]) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = batchDirs(spark, dir).filter(_._1 != excludeId)
    val fullId = dirs.filter { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, FullMarker))
    }.map(_._1).maxOption.getOrElse(-1L)
    val (dead, live) = dirs.partition(_._1 < fullId)
    (live.map(_._2), dead.map(_._2))
  }

  /** Delete the given generation dirs (the `dead` half of
    * [[liveGenerations]]). */
  def deleteGenerations(spark: SparkSession, dirs: Seq[String]): Unit =
    dirs.foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      ()
    }

  /** Delete generation dirs with id strictly below `keepFrom` — state
    * retention for streams where only the latest prior generation is
    * ever read. Safe order: call AFTER the current generation's state
    * write commits; a crash replay then still finds its prior (the
    * highest id below current survives every prune). */
  def pruneBatchDirsBelow(spark: SparkSession, dir: String, keepFrom: Long): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    batchDirs(spark, dir).filter(_._1 < keepFrom).foreach { case (_, p) =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
  }
}
