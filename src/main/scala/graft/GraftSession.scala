package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point runs under: Bench,
  * Verify, PlanDump, PlanAudit and the test session all start from
  * [[builder]], so the tests exercise the same AQE settings Bench is
  * measured with and Verify is checked with. Callers add only what is
  * theirs (an app name, a warehouse dir, AQE off for a static plan
  * audit) before `getOrCreate()`.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS` if set, else every core of the host. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // r18: coalesce post-shuffle partitions by BYTES, not down to the
      // core count — the default parallelismFirst=true stops
      // AQE's coalescing at `cpus` partitions, so at bench scale every
      // shuffle stage runs `cpus` near-empty tasks whose fixed cost
      // dominates (measured: the 6 shuffle-heaviest queries total
      // 21.2 s vs 23.5 s over two interleaved A/B rounds). Bytes-based
      // coalescing is the SCALE-ADAPTIVE setting (Spark's own docs
      // recommend false): production-sized stages exceed the 64 MB
      // advisory target and keep their parallelism; tiny stages stop
      // paying per-task overhead. Low-core scaling runs inherit the
      // same rule, so the comparison stays apples-to-apples.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // ... with a PARALLELISM FLOOR scaled to the session's cores:
      // pure bytes-coalescing collapses small-byte but COMPUTE-DENSE
      // stages to one task (measured r18: q_fuzzy_pairs' levenshtein
      // verify went 3.8 → 11.8 s at 1 partition). r19 RE-MEASURED the
      // floor after the hottest stage learned to protect itself
      // (EditDist.keyLayout): removing it cost 158.5 → 187.9 s on the
      // full suite — the damage concentrated in ~20 medium queries
      // (q_curation_pipeline 4.8→8.1, q_dedup_* +60-100%) while the
      // ~150-query tail moved by a +0.03 s median, i.e. the floor's
      // extra tiny tasks cost nothing measurable. cpus/4 stays: it
      // scales with low-core runs and is irrelevant at production sizes
      // (stages above the 64 MB advisory never hit the floor). The key
      // is deprecated in Spark 4; log4j2.properties silences the
      // warning that setting it logs.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(2, cpus / 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
