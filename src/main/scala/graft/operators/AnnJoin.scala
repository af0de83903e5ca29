package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN JOIN of two LARGE vector collections — for every row of `left`,
  * the top-k max-cosine neighbors from `right` (embedding alignment of
  * one corpus against another, candidate mining for contrastive pairs,
  * cross-corpus enrichment). The existing probe path
  * ([[Similarity.ivfTopK]]) broadcasts the query side, which is right
  * only while queries are a bounded sample; here BOTH sides are
  * corpus-scale, so the design inverts:
  *
  *  - Both collections are cell-assigned MAP-SIDE against the same
  *    bounded centroid model ([[Similarity.ivfCellsMapSide]] /
  *    `ivfCellsTrained` — `nearest_centroid` fused into each scan,
  *    zero exchanges).
  *  - Each side then shuffles ONCE, on `cell` — the co-location key —
  *    and candidates are scored co-located. Nothing corpus-sized is
  *    ever broadcast or re-shuffled.
  *  - Per-left-row ranking is the bounded mergeable `top_k_by`
  *    aggregate: map-side combine ships ≤ k rows per query per task,
  *    so the post-join exchange carries O(|left|·k), never the
  *    candidate volume.
  *
  * Skew (the part AQE cannot fix): a boilerplate content cluster puts
  * millions of rows of BOTH collections behind one cell key, and
  * splitting a partition cannot split ONE key's pairing — the
  * [[PairEnum]] lesson, in R×S form. The fix is data-adaptive GRID
  * blocking: per-cell counts of both sides come from partial-aggregated
  * bounded exchanges (one row per cell crosses the wire); a cell whose
  * pair volume |L_c|·|R_c| exceeds `blockPairs` splits into a gl×gr
  * grid of id-hash sub-blocks — a left row replicates across the gr
  * cells of its row, a right row down the gl cells of its column, so
  * every (l, r) pair meets in EXACTLY one grid cell and no task
  * enumerates more than ~blockPairs pairs. Healthy cells keep
  * gl = gr = 1 and pay nothing: the emitted plan is the plain
  * co-located join. Exactly-once matters beyond cost: a duplicated
  * pair would enter `top_k_by` twice and occupy two of the k slots.
  */
object AnnJoin {

  /** Default per-task pair bound for hot-cell grid blocking — the ONE
    * definition; ScaleGrowthSpec's hot-cell growth gate references
    * it so the measured threshold can never drift from the join's. */
  val DefaultBlockPairs: Long = 4L * 1000 * 1000

  /** Left/right inputs are cells frames `(id, q, norm, cell)` from the
    * same centroid model. Output: `(query_id, neighbor_id, rk, cos)`,
    * rk 1-based best-first, ties to the lower neighbor_id. */
  def annJoin(left: DataFrame, right: DataFrame, k: Int,
              blockPairs: Long = DefaultBlockPairs): DataFrame = {
    val scored = scoredCandidates(left, right, blockPairs)
    Similarity.rankTopK(scored, k)
  }

  /** The scored candidate frame `(query_id, neighbor_id, cos)` —
    * exposed for specs (pair multiplicity is part of the contract). */
  private[graft] def scoredCandidates(left: DataFrame, right: DataFrame,
                                      blockPairs: Long): DataFrame = {
    require(blockPairs >= 1, s"annJoin: blockPairs must be >= 1, got $blockPairs")
    val spark = left.sparkSession
    graft.GraftFunctions.ensure(spark) // foreign sessions lack the extension
    // block side B: per-task pair bound is B² ≈ blockPairs
    val side = math.max(1L, math.sqrt(blockPairs.toDouble).toLong)
    // Bounded hot-cell discovery: one row per cell survives the partial
    // agg on each side; only cells whose pair product crosses the gate
    // are collected (≤ |side|/B of them by counting) and broadcast back.
    val lc = left.groupBy("cell").agg(count(lit(1)).as("nl"))
    val rc = right.groupBy("cell").agg(count(lit(1)).as("nr"))
    val hot = lc.join(rc, "cell")
      .filter(col("nl") * col("nr") > blockPairs)
      .select(col("cell"), greatest(lit(1L), ceil(col("nl") / side)).as("gl"),
        greatest(lit(1L), ceil(col("nr") / side)).as("gr"))
    // The hot set is bounded by construction — nl·nr > side² forces
    // max(nl, nr) > side, so hot cells number at most (|L|+|R|)/side —
    // but a pathological corpus (everything in a handful of giant
    // cells) with a too-small blockPairs could still flood the driver.
    // Guard LOUDLY (the Dedup.clusters discipline): the fix is a larger
    // blockPairs or a better centroid model, not a silent OOM.
    val hotRows = hot.limit(1000001).collect()
    require(hotRows.length <= 1000000,
      "annJoin: over 1e6 hot cells — raise blockPairs or retrain the " +
        "centroid model (cells this uniform defeat cell co-location)")
    val ql = left.select(col("id").as("query_id"), col("q").as("qq"),
      col("norm").as("qnorm"), col("cell"))
    val scoreOf = Similarity.dotQ(col("qq"), col("q")).cast("double") /
      (col("qnorm") * col("norm"))
    if (hotRows.isEmpty) {
      // every cell healthy: the plain co-located join IS the plan
      ql.join(right, Seq("cell"))
        .select(col("query_id"), col("id").as("neighbor_id"), scoreOf.as("cos"))
    } else {
      val hotB = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(hotRows.toIndexedSeq, 1), hot.schema))
      // left: pin to its id-hash row block, replicate across the gr columns
      val l2 = ql.join(hotB, Seq("cell"), "left")
        .withColumn("gl", coalesce(col("gl"), lit(1L)))
        .withColumn("gr", coalesce(col("gr"), lit(1L)))
        .withColumn("lb", pmod(hash(col("query_id")).cast("long"), col("gl")))
        .withColumn("rb", explode(sequence(lit(0L), col("gr") - 1)))
        .drop("gl", "gr")
      // right: pin to its id-hash column block, replicate down the gl rows
      val r2 = right.join(hotB, Seq("cell"), "left")
        .withColumn("gl", coalesce(col("gl"), lit(1L)))
        .withColumn("gr", coalesce(col("gr"), lit(1L)))
        .withColumn("rb", pmod(hash(col("id")).cast("long"), col("gr")))
        .withColumn("lb", explode(sequence(lit(0L), col("gl") - 1)))
        .drop("gl", "gr")
      l2.join(r2, Seq("cell", "lb", "rb"))
        .select(col("query_id"), col("id").as("neighbor_id"), scoreOf.as("cos"))
    }
  }

  /** The recall knob: each LEFT row probes its `nprobe` nearest cells
    * (nprobe = 1 reproduces [[annJoin]] on the rows' own cells). The
    * query→cells step is the bounded `top_k_by` aggregate over the
    * BROADCAST centroid frame — the model is bounded even though the
    * collections are not — and the fan-out multiplies only the left
    * side (shipped rows = nprobe·|left|; the right-side layout is
    * untouched). A neighbor lives in exactly one cell, so no pair is
    * scored twice and the exactly-once contract holds. Same
    * (cos desc, cent_id) tie rule as cell assignment, so nprobe = 1
    * probes exactly the assigned cell. */
  def annJoinProbe(left: DataFrame, right: DataFrame, cents: DataFrame,
                   k: Int, nprobe: Int,
                   blockPairs: Long = DefaultBlockPairs,
                   scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(nprobe > 0, s"annJoinProbe: nprobe must be positive, got $nprobe")
    graft.GraftFunctions.ensure(left.sparkSession)
    // the probe fan-out (the |left| x centroids assignment pass, the
    // probe variant's dominant cost) feeds BOTH annJoin's eager
    // hot-cell count discovery and the join execution — pin it, or the
    // whole pass runs twice
    val probed = scope.pin(buildProbed(left, cents, nprobe))
    annJoin(probed, right, k, blockPairs)
  }

  private def buildProbed(left: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    left
      .join(broadcast(cents))
      .select(col("id"), col("q"), col("norm"), col("cent_id"),
        (Similarity.dotQ(col("q"), col("cq")).cast("double") /
          (col("norm") * col("cnorm"))).as("ccos"))
      .groupBy(col("id"), col("q"), col("norm"))
      .agg(call_function("top_k_by", col("ccos"), col("cent_id"), lit(nprobe)).as("top"))
      .select(col("id"), col("q"), col("norm"),
        explode(col("top")).as("tc"))
      .select(col("id"), col("q"), col("norm"),
        col("tc").getField("payload").as("cell"))
}
