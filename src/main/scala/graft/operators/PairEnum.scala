package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-robust within-bucket pair enumeration — the shared core under
  * every LSH-family candidate join (MinHash bands, SimHash bands,
  * hyperplane buckets).
  *
  * The naive bucket self-join puts ALL rows of one bucket key into one
  * task and enumerates c²/2 pairs there. Adaptive band widths keep the
  * EXPECTED occupancy O(1), but content clusters are real — ScaleGrowthSpec
  * measured 2.8k-row buckets at sf0.1×10 even at the adaptive width, and
  * a 100 TB corpus's boilerplate cluster (empty pages, templated docs)
  * puts millions of rows behind one key: one task owns 10¹²⁺ pairs and
  * the job never finishes. AQE's skew split cannot help — splitting a
  * partition cannot split ONE key's self-pairing.
  *
  * The fix is the triangular BLOCKED self-join: rows of a bucket with
  * c > blockSize split into g = ⌈c/blockSize⌉ sub-blocks by id hash, and
  * each unordered block pair (i ≤ j) becomes its own join key — a row in
  * block b rides LEFT for keys (b, b..g−1) and RIGHT for keys (0..b, b),
  * so every row pair meets in exactly one (i, j) cell (twice on the
  * diagonal, normalized away by least/greatest + the caller's distinct)
  * and no task ever enumerates more than ~blockSize² pairs. Replication
  * cost is ~g per row, paid ONLY by oversized buckets: normal buckets
  * get g = 1, one left row, one right row, and the exact plan they had
  * before.
  *
  * Bucket sizes come from a partial-aggregated count (the exchange
  * carries one row per bucket, not per input row) filtered to the
  * oversized few, broadcast back onto the stream — buckets beyond
  * blockSize number at most n/blockSize, and in any non-degenerate
  * corpus far fewer, so the broadcast is bounded and cheap.
  */
object PairEnum {

  /** All unordered within-bucket pairs of `assign` = one row per
    * (bucket, member): emits (id_a < id_b) plus, for each payload column
    * `c`, the members' values as `${c}_a`/`${c}_b`. NOT deduplicated —
    * a pair sharing several buckets (multi-band LSH) appears once per
    * shared bucket, exactly like the naive join; callers keep their
    * existing `.distinct()`.
    *
    * DATA-ADAPTIVE (the [[Dedup.clusters]] measured-gate precedent): one
    * bounded job — the post-combine exchange carries one row per bucket,
    * not per member — checks whether any bucket exceeds `blockSize`.
    * None (every healthy corpus at every measured scale): the emitted
    * plan IS the naive self-join, zero overhead. Some: the blocked plan
    * below. The gate evaluates `assign` once eagerly at build time;
    * callers on this path already hold their signature frames cached
    * (the LSH-family cache contract), so the extra pass is a narrow
    * re-derivation, and at hot-bucket scale the guard job is noise
    * against the join it protects.
    *
    * Payload columns must be symmetric in downstream use (a distance or
    * cosine) OR consumed via the `_a`/`_b` suffixes — `_a` always
    * belongs to the smaller id.
    */
  def bucketPairs(
      assign: DataFrame,
      bucketCols: Seq[String],
      idCol: String = "id",
      payloadCols: Seq[String] = Nil,
      blockSize: Int = 4096): DataFrame = {
    require(blockSize >= 2, s"bucketPairs: blockSize must be >= 2, got $blockSize")
    val reserved = Seq("__g", "__blk", "__c", "__i", "__j")
    val clash = assign.columns.toSeq.intersect(reserved)
    require(clash.isEmpty, s"bucketPairs: reserved column names in input: $clash")
    val bcols = bucketCols.map(col)
    // oversized buckets only: one row per bucket after map-side combine,
    // then filtered — tiny by construction, safe to broadcast. NULL
    // bucket keys never equi-join (shingle-less docs from the signature
    // paths), so a large null group must not trip the gate onto the
    // blocked plan — it pairs with nothing either way.
    val heavy = assign
      .filter(bcols.map(_.isNotNull).reduce(_ && _))
      .groupBy(bcols: _*).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > blockSize)
      .select(bcols :+ ceil(col("__c") / blockSize).cast("int").as("__g"): _*)
    if (heavy.isEmpty) {
      // no oversized bucket — the naive join, exactly as if PairEnum
      // were never here
      val pairCols =
        Seq(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b")) ++
          payloadCols.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))
      return assign.as("a")
        .join(assign.as("b"),
          bucketCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(pairCols: _*)
    }
    val sized = assign.join(broadcast(heavy), bucketCols, "left")
      .withColumn("__g", coalesce(col("__g"), lit(1)))
      .withColumn("__blk", pmod(xxhash64(col(idCol)), col("__g")).cast("int"))
    val carried = (idCol +: payloadCols).map(col) ++ bcols
    val left = sized.select(carried :+ col("__blk").as("__i")
      :+ explode(sequence(col("__blk"), col("__g") - 1)).as("__j"): _*)
    val right = sized.select(carried :+ explode(sequence(lit(0), col("__blk"))).as("__i")
      :+ col("__blk").as("__j"): _*)
    val joinKeys = bucketCols ++ Seq("__i", "__j")
    val aFirst = col(s"a.$idCol") < col(s"b.$idCol")
    val pairCols =
      Seq(least(col(s"a.$idCol"), col(s"b.$idCol")).as(s"${idCol}_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as(s"${idCol}_b")) ++
        payloadCols.flatMap { c =>
          Seq(when(aFirst, col(s"a.$c")).otherwise(col(s"b.$c")).as(s"${c}_a"),
            when(aFirst, col(s"b.$c")).otherwise(col(s"a.$c")).as(s"${c}_b"))
        }
    left.as("a")
      .join(right.as("b"),
        joinKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          // a diagonal cell (i = j) sees both (x,y) and (y,x) — keep the
          // ordered one, so a normal g = 1 bucket emits each pair ONCE
          // (the exact pre-distinct volume of the naive join); an
          // off-diagonal cell meets each pair once in whichever order
          // the blocks fell, so id inequality + least/greatest suffice
          (aFirst || col("a.__i") =!= col("a.__j")) &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(pairCols: _*)
  }

  /** The CROSS-side sibling of [[bucketPairs]]: all (left × right)
    * within-bucket pairs, grid-blocked so a hot bucket key never funnels
    * |A_g| × |B_g| pairs through one task (ADVICE r11: the cross-side
    * equi-join previously leaned on AQE skew splitting, which splits
    * partitions, not one key's pairing — on ID-like domains the exact
    * motivating case defeats it).
    *
    * A bucket whose cross product exceeds `blockSize²` splits each side
    * into ⌈c/blockSize⌉ id-hash blocks; each (i, j) grid cell is its own
    * join key — a left row in block i replicates across the RIGHT side's
    * g_b cells of row i, and vice versa, so every cross pair meets in
    * exactly ONE cell and no task enumerates more than ~blockSize²
    * pairs. Healthy buckets (every measured corpus) take the naive
    * equi-join unchanged through the same measured gate as
    * [[bucketPairs]]. Emits `${idCol}_a` (left) / `${idCol}_b` (right) +
    * suffixed payloads; ids are NOT canonicalized (sides are positional)
    * and same-id cross rows are NOT dropped — callers own both. */
  def bucketJoin(
      left: DataFrame,
      right: DataFrame,
      bucketCols: Seq[String],
      idCol: String = "id",
      payloadCols: Seq[String] = Nil,
      blockSize: Int = 4096): DataFrame = {
    require(blockSize >= 2, s"bucketJoin: blockSize must be >= 2, got $blockSize")
    val reserved = Seq("__ga", "__gb", "__ca", "__cb", "__ia", "__ib")
    val clash = (left.columns.toSeq ++ right.columns.toSeq).intersect(reserved)
    require(clash.isEmpty, s"bucketJoin: reserved column names in input: $clash")
    val bcols = bucketCols.map(col)
    def counts(df: DataFrame, as: String) = df
      .filter(bcols.map(_.isNotNull).reduce(_ && _))
      .groupBy(bcols: _*).agg(count(lit(1)).as(as))
    // only buckets whose CROSS PRODUCT is oversized split — a bucket
    // big on one side but tiny on the other is a fine hash-join key
    val heavy = counts(left, "__ca").join(counts(right, "__cb"), bucketCols)
      .filter(col("__ca") * col("__cb") > blockSize.toLong * blockSize)
      .select(bcols
        :+ ceil(col("__ca") / blockSize).cast("int").as("__ga")
        :+ ceil(col("__cb") / blockSize).cast("int").as("__gb"): _*)
    def out(l: DataFrame, r: DataFrame, extraKeys: Seq[String]) = {
      val keys = bucketCols ++ extraKeys
      val pairCols =
        Seq(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b")) ++
          payloadCols.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))
      l.as("a").join(r.as("b"),
          keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))
        .select(pairCols: _*)
    }
    if (heavy.isEmpty) return out(left, right, Nil)
    val carried = (idCol +: payloadCols).map(col) ++ bcols
    val l = left.join(broadcast(heavy), bucketCols, "left")
      .withColumn("__ga", coalesce(col("__ga"), lit(1)))
      .withColumn("__gb", coalesce(col("__gb"), lit(1)))
      .select(carried
        :+ pmod(xxhash64(col(idCol)), col("__ga")).cast("int").as("__ia")
        :+ explode(sequence(lit(0), col("__gb") - 1)).as("__ib"): _*)
    val r = right.join(broadcast(heavy), bucketCols, "left")
      .withColumn("__ga", coalesce(col("__ga"), lit(1)))
      .withColumn("__gb", coalesce(col("__gb"), lit(1)))
      .select(carried
        :+ explode(sequence(lit(0), col("__ga") - 1)).as("__ia")
        :+ pmod(xxhash64(col(idCol)), col("__gb")).cast("int").as("__ib"): _*)
    out(l, r, Seq("__ia", "__ib"))
  }
}
