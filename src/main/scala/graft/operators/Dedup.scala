package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Deduplication operators for a training-data pipeline: exact (hash /
  * keyed), MinHash + banded LSH with n-gram-Jaccard verification, and
  * SimHash fingerprints.
  *
  * Scale design: near-dup detection NEVER does all-pairs. Shingling and
  * signatures are per-row map work; the only shuffles are the signature
  * group-by and the LSH bucket self-join, whose fan-out is bounded by
  * bucket size (pairs only form inside a (band, value) bucket). This is
  * the standard banded-MinHash layout (Broder's scheme as used in every
  * large dedup system; see PAPERS.md).
  *
  * Determinism/portability: hashes are md5 hex strings and signature
  * mins are STRING minima — identical in any engine — so the whole
  * family sits on the DuckDB-oracled path. (At pure-Spark scale one
  * would swap md5 for xxhash64 minima over int64; the operator keeps
  * md5 because cross-engine verifiability is part of this harness's
  * contract.)
  */
object Dedup {

  /** Exact full-row dedup — Spark-native. */
  def exactRows(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Exact keyed dedup with a deterministic representative: one hash
    * aggregate keeps min attributes + the duplicate count. */
  def exactByKey(df: DataFrame, keys: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows"), aggs: _*)

  /** Exact TEXT dedup by digest: group on md5(text) instead of the text
    * itself, keeping the min id as representative plus the copy count.
    * THE difference at corpus scale: the dedup exchange carries 16-byte
    * digests and two small aggregates — `exactRows`/group-by-text would
    * shuffle every document's full bytes. (md5 collisions are 2^-64-
    * scale birthday events — the accepted trade in every content-
    * addressed dedup store; use exactByKey on the raw text where a
    * cryptographic guarantee is genuinely required.) */
  def exactByDigest(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("id"), md5(textCol.cast("binary")).as("digest"))
      .groupBy("digest")
      .agg(min("id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingle stream, lower-cased, WITH positional
    * duplicates: (id, shingle). Single-space tokenization to match the
    * oracle. Hash-partitioned by id, so every per-id aggregate downstream
    * (minhash minima, distinct, counts) reuses the partitioning with no
    * further exchange. */
  def shinglesRaw(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    val toks = split(lower(textCol), " ")
    df.select(idCol.as("id"), toks.as("toks"))
      // a small doc table often arrives as ONE file split, and the
      // explode below multiplies rows ~100×: spread by id FIRST so the
      // heavy per-doc work parallelizes (and the per-id aggregates
      // downstream are already co-partitioned)
      .repartition(col("id"))
      .select(col("id"), explode(
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + lit(1), lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("shingle"))
  }

  /** Distinct shingle SET per id (the frame Jaccard needs). The
    * signature path deliberately does NOT use this: MIN is
    * duplicate-insensitive, so paying per-doc dedup before the minhash
    * aggregate would buy nothing.
    *
    * r18: deduped IN-ROW (`array_distinct` on the per-doc shingle array
    * before the explode) instead of `.distinct()` on the exploded
    * stream — identical set per id (rows of different ids can't
    * collide), and the full-width (id, shingle) dedup EXCHANGE is gone;
    * at any scale the dedup work rides the same narrow map-side pass
    * that builds the shingles. */
  def shingles(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    val toks = split(lower(textCol), " ")
    df.select(idCol.as("id"), toks.as("toks"))
      // spread the per-doc explode work first — see [[shinglesRaw]]
      .repartition(col("id"))
      .select(col("id"), explode(array_distinct(
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + lit(1), lit(n)), " ")))
          .otherwise(array().cast("array<string>")))).as("shingle"))
  }

  /** k-function MinHash signature per id: column m0..m{k-1}, where
    * m_i = MIN(md5("i:" ++ shingle)) as a hex string. Accepts the RAW
    * (non-distinct) shingle stream — duplicates cannot change a MIN — so
    * when fed from [[shinglesRaw]] the only exchange in this branch is
    * the id repartition the shingle stream already did. */
  def minhashSignature(shingles: DataFrame, k: Int): DataFrame = {
    val hashes = (0 until k).map(i =>
      min(md5(concat_ws(":", lit(i.toString), col("shingle")).cast("binary"))).as(s"m$i"))
    shingles.groupBy("id").agg(hashes.head, hashes.tail: _*)
  }

  /** [[minhashSignature]]'s minima folded IN-ROW over an already-built
    * per-document shingle-SET array (r18): `min` over the exploded
    * stream's md5 STRINGS has a variable-width aggregation buffer, so
    * Spark plans SortAggregate — a per-partition sort of the whole
    * shingle stream; `array_min` over the same hashes inside the row is
    * a narrow map with no aggregate at all. Value-identical (MIN over a
    * bag of per-shingle hashes is MIN over the array of them — the
    * [[minhashSignatureArr]] argument); callers hand in the set array
    * they already hold. Empty arrays yield null minima — filter them
    * upstream where the stream spelling would have emitted no row. */
  def minhashSignatureFromSets(df: DataFrame, idCol: Column, setCol: Column, k: Int): DataFrame = {
    val minima = (0 until k).map(i =>
      array_min(transform(setCol,
        s => md5(concat_ws(":", lit(i.toString), s).cast("binary")))).as(s"m$i"))
    df.select(idCol.as("id") +: minima: _*)
  }

  /** MinHash signatures computed per DOCUMENT as array expressions — no
    * shingle materialization at all: the k minima fold over the in-row
    * shingle array (`transform` + `array_min`), so the signature frame
    * comes straight off the document scan as a narrow map (the same
    * collapse that rewrote winnowing). Value-identical to
    * [[minhashSignature]] over the exploded stream: MIN over a bag of
    * per-shingle hashes is MIN over the array of them. Docs too short to
    * shingle yield null minima (the stream version yields no row); null
    * band values never match an equality join, so candidate generation
    * is unaffected. */
  def minhashSignatureArr(df: DataFrame, idCol: Column, textCol: Column, n: Int, k: Int): DataFrame = {
    val toks = split(lower(textCol), " ")
    val shingleArr =
      when(size(col("__toks")) >= n,
        transform(sequence(lit(0), size(col("__toks")) - n),
          i => array_join(slice(col("__toks"), i + lit(1), lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    val minima = (0 until k).map(i =>
      array_min(transform(col("__sh"),
        s => md5(concat_ws(":", lit(i.toString), s).cast("binary")))).as(s"m$i"))
    df.select(idCol.as("id"), toks.as("__toks"))
      // spread per-doc hashing across cores (a small doc table often
      // arrives as one file split); also the only exchange in the branch
      .repartition(col("id"))
      .select(col("id"), shingleArr.as("__sh"))
      .select(col("id") +: minima: _*)
  }

  /** Production signature path: xxhash64 int64 minima instead of md5 hex
    * strings — 8 bytes per value instead of a 32-byte string, integer
    * compares in the MIN, integer shuffle keys in the bands. Identical
    * banded-LSH structure; NOT on the DuckDB-oracled path (DuckDB has no
    * xxhash64), so it is verified by spec against the md5 path on the
    * planted near-duplicates instead. */
  def minhashSignatureFast(shingles: DataFrame, k: Int): DataFrame = {
    val hashes = (0 until k).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"m$i"))
    shingles.groupBy("id").agg(hashes.head, hashes.tail: _*)
  }

  /** Banded LSH: k/bandWidth bands, band value = concat of its minhash
    * columns → (id, band_idx, band_val). */
  def lshBands(signature: DataFrame, k: Int, bandWidth: Int): DataFrame = {
    require(k % bandWidth == 0, s"k=$k not divisible by bandWidth=$bandWidth")
    val bandStructs = (0 until k / bandWidth).map { bx =>
      val cols = (bx * bandWidth until (bx + 1) * bandWidth).map(i => col(s"m$i"))
      struct(lit(bx).as("band_idx"), concat(cols: _*).as("band_val"))
    }
    signature
      .select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
  }

  /** Fast-path bands for [[minhashSignatureFast]] signatures: the band
    * value is one xxhash64 over the band's minima — an 8-byte integer
    * bucket key instead of a concatenated hex string. */
  def lshBandsFast(signature: DataFrame, k: Int, bandWidth: Int): DataFrame = {
    require(k % bandWidth == 0, s"k=$k not divisible by bandWidth=$bandWidth")
    val bandStructs = (0 until k / bandWidth).map { bx =>
      val cols = (bx * bandWidth until (bx + 1) * bandWidth).map(i => col(s"m$i"))
      // xxhash64 SKIPS null inputs (returns the seed), so all-null
      // signature rows (shingle-less docs from the array signature path)
      // would share one bucket in every band — a candidate clique of
      // all short docs. Null the band value instead: the minima of one
      // signature are all-null together, so checking the first suffices,
      // and a null band_val never equi-joins.
      struct(lit(bx).as("band_idx"),
        when(cols.head.isNotNull, xxhash64(cols: _*)).as("band_val"))
    }
    signature
      .select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
  }

  /** Candidate pairs = ids sharing any (band_idx, band_val) bucket;
    * the bucket join shuffles once on the bucket key — never all-pairs,
    * and never one task per CONTENT CLUSTER either: enumeration rides
    * [[PairEnum.bucketPairs]], so a boilerplate bucket beyond the block
    * size splits into bounded triangular cells instead of handing one
    * task c²/2 pairs. */
  def candidatePairs(bands: DataFrame, blockSize: Int = 4096): DataFrame =
    PairEnum.bucketPairs(bands, Seq("band_idx", "band_val"), blockSize = blockSize)
      .distinct()

  /** INCREMENTAL candidate generation: pairs touching the NEW batch
    * only — new×new plus new×old, never old×old. This is how dedup has
    * to run at ingestion scale: the corpus's band assignments are a
    * persisted state table (parquet of (id, band_idx, band_val) — tiny
    * next to the text), and each arriving batch pays its own banding
    * plus one probe join, instead of re-pairing the full corpus whose
    * old×old work grows with history.
    *
    * `newBands` must carry ids disjoint from `oldBands` (ingestion
    * guarantees it; ids are not re-checked here). The new self-pairs
    * ride [[candidatePairs]] (blocked, skew-robust); the cross join
    * broadcasts the batch side by default — a batch's bands fit in
    * memory by construction; pass `broadcastNew = false` for backfills
    * where the "batch" is itself corpus-sized. */
  def incrementalCandidates(newBands: DataFrame, oldBands: DataFrame,
      broadcastNew: Boolean = true): DataFrame = {
    val n = if (broadcastNew) broadcast(newBands) else newBands
    val cross = n.as("n").join(oldBands.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_val") === col("o.band_val"))
      .select(least(col("n.id"), col("o.id")).as("id_a"),
        greatest(col("n.id"), col("o.id")).as("id_b"))
    candidatePairs(newBands).union(cross).distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs only; keeps pairs with
    * similarity ≥ threshold.
    *
    * `shingles` may carry positional duplicates ([[shinglesRaw]]): the
    * SET semantics Jaccard needs are restored here, but only AFTER a
    * broadcast semi-join cuts the stream down to candidate ids — LSH
    * candidates are a vanishing fraction of the corpus, so the dedup
    * exchange and both probe joins run over |candidate docs| · |positions|
    * rows, not the full corpus. The candidate-pair frame itself is
    * broadcast into the probes (no full-shingle shuffle on the pair key).
    *
    * The internal candidate-shingle frame is pinned through `scope` —
    * pass a [[CacheScope]] and `close()` it after consuming the result to
    * release that pin selectively; the default unmanaged scope keeps the
    * session-sweep contract (Bench/Verify clear the session cache).
    */
  def jaccardVerify(candidates: DataFrame, shingles: DataFrame, threshold: Double,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val candIds = candidates.select(col("id_a").as("id"))
      .union(candidates.select(col("id_b").as("id"))).distinct()
    // Per-candidate-doc shingle SET collected IN ROW (r19, the
    // [[SetSimJoin.verifyPairs]] shape): one aggregate — reusing the
    // shingle stream's id partitioning, so no exchange — replaces the
    // (id, shingle) distinct + two shingle-level probe joins (which
    // materialized one row per SHARED SHINGLE per pair) + the pair-key
    // count exchange + two count broadcasts. The intersection and both
    // set sizes are narrow array expressions per verified pair. Pinned:
    // both probe sides read it.
    val sets = scope.pin(shingles
      .join(broadcast(candIds), Seq("id"), "left_semi")
      .groupBy("id").agg(collect_set(col("shingle")).as("__set")))
    broadcast(candidates)
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("__i", size(array_intersect(col("sa.__set"), col("sb.__set"))))
      .select(col("id_a"), col("id_b"),
        (col("__i").cast("double") /
          (size(col("sa.__set")) + size(col("sb.__set")) - col("__i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Winnowing fingerprint selection (Schleimer et al.): hash every
    * positional shingle, take the MIN hash of each sliding window of
    * `w` consecutive positions, and keep the distinct minima — a
    * guaranteed-coverage sub-sample of the shingle set, the standard
    * scale trick for document fingerprint indexes. The window is
    * PARTITIONED BY document (bounded, parallel — never whole-frame).
    */
  def winnowFingerprints(df: DataFrame, idCol: Column, textCol: Column, n: Int, w: Int): DataFrame = {
    // The sliding-window minimum is per-document and documents are
    // bounded, so the whole selection runs as ARRAY expressions inside
    // one narrow map — no positional explode (n× row inflation), no
    // per-id window sort, and crucially no full-corpus distinct
    // exchange: fingerprints are deduped per document by array_distinct
    // before the (much smaller) fingerprint explode. The only shuffle
    // left is the id repartition that spreads per-doc compute across
    // cores when the doc table arrives as one file split.
    val toks = split(lower(textCol), " ")
    df.select(idCol.as("id"), toks.as("toks"))
      .repartition(col("id"))
      .select(col("id"),
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => md5(array_join(slice(col("toks"), i + lit(1), lit(n)), " ").cast("binary"))))
          .otherwise(array().cast("array<string>")).as("hs"))
      // fp(pos) = min hash of positions [pos, pos+w-1]; slice clamps at
      // the tail exactly like a ROWS BETWEEN CURRENT AND w-1 FOLLOWING
      // window frame does.
      .select(col("id"),
        explode(
          // guard the empty-shingle case: sequence(0, -1) would DESCEND
          when(size(col("hs")) > 0,
            array_distinct(
              transform(sequence(lit(0), size(col("hs")) - 1),
                p => array_min(slice(col("hs"), p + lit(1), lit(w))))))
            .otherwise(array().cast("array<string>"))).as("fp"))
  }

  /** SimHash NEAR-DUP matching: pairs of ids whose 16-bit signatures
    * differ in at most `maxDist` bit positions. Banded exactly like
    * MinHash-LSH: the signature splits into `bands` equal chunks, pairs
    * form only inside a shared (band_idx, band_val) bucket, and the
    * native codegen'd `hamming_dist` verifies candidates. Recall is
    * EXACT by pigeonhole — `maxDist` differing bits can spoil at most
    * `maxDist` bands, so any within-radius pair shares a band whenever
    * `maxDist < bands` (enforced). Never all-pairs.
    */
  /** Banded spelling of a `(id, simhash)` bit-string signature frame:
    * one row per (id, band) with the signature riding as payload —
    * shared by [[simhashPairs]] and [[incrementalSimhashPairs]]. A
    * signature whose width differs from the declared `sigLen` fails
    * the job loudly (a short one would make tail bands "" for EVERY
    * row — one shared bucket, silent all-pairs blowup; the width lives
    * in the data, so this must be a runtime check). */
  private def bandedSigs(signatures: DataFrame, sigLen: Int, bands: Int): DataFrame = {
    val w = sigLen / bands
    val bandStructs = (0 until bands).map { bx =>
      struct(lit(bx).as("band_idx"),
        substring(col("simhash"), bx * w + 1, w).as("band_val"))
    }
    signatures
      .select(col("id"),
        when(length(col("simhash")) === sigLen, col("simhash"))
          .otherwise(raise_error(concat(
            lit(s"simhashPairs: signature width != declared sigLen=$sigLen: "),
            col("simhash")))).as("simhash"))
      .select(col("id"), col("simhash"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("simhash"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
  }

  def simhashPairs(signatures: DataFrame, maxDist: Int, sigLen: Int, bands: Int = 4): DataFrame = {
    require(maxDist < bands,
      s"banded recall needs maxDist < bands, got maxDist=$maxDist bands=$bands")
    graft.GraftFunctions.ensure(signatures.sparkSession)
    require(sigLen % bands == 0, s"$bands bands must divide the $sigLen-bit signature")
    val banded = bandedSigs(signatures, sigLen, bands)
    PairEnum.bucketPairs(banded, Seq("band_idx", "band_val"), payloadCols = Seq("simhash"))
      .select(col("id_a"), col("id_b"),
        call_function("hamming_dist", col("simhash_a"), col("simhash_b")).as("dist"))
      // radius filter BEFORE the pair dedup: dist is a pure function of
      // the pair, so the order is semantics-free, but filtering first
      // means only WITHIN-RADIUS pairs pay the distinct exchange — the
      // candidate fan-out (every bucket collision, re-found once per
      // shared band) dies in the map stage. The hamming_dist recompute
      // on multi-band duplicates is codegen'd per-row work, orders of
      // magnitude cheaper than shuffling the duplicates.
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** INCREMENTAL [[simhashPairs]]: within-radius pairs TOUCHING the
    * new signature batch only — new×new (the blocked banded
    * self-pairing) plus new×STATE (grid-blocked banded cross probe
    * through [[PairEnum.bucketJoin]], so a boilerplate band bucket
    * never funnels |new|×|old| candidates through one task) — never
    * old×old; per-batch cost stays flat as the fingerprint corpus
    * grows. This is how perceptual-hash dedup (image dHash/WHT, audio
    * spectral signs) has to run at ingestion scale: the corpus's
    * signatures are a persisted state table (64 bits per item — tiny
    * next to the media), and each arriving batch pays its own hashing
    * plus one banded probe. Per-item signatures are corpus-independent,
    * so the result equals the full-corpus [[simhashPairs]] restricted
    * to pairs touching the batch (spec- and oracle-pinned).
    * `newSigs`/`stateSigs` must carry disjoint ids (ingestion
    * guarantees it; the stream's crash-replay guard is what prevents a
    * batch from meeting its own state). Output `(id_a, id_b, dist)`,
    * `id_a < id_b`. */
  def incrementalSimhashPairs(newSigs: DataFrame, stateSigs: DataFrame,
      maxDist: Int, sigLen: Int, bands: Int = 4,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(maxDist < bands,
      s"banded recall needs maxDist < bands, got maxDist=$maxDist bands=$bands")
    require(sigLen % bands == 0, s"$bands bands must divide the $sigLen-bit signature")
    graft.GraftFunctions.ensure(newSigs.sparkSession)
    // the batch's banded spelling feeds the self-pairing and the probe
    val nb = scope.pin(bandedSigs(newSigs, sigLen, bands))
    def score(pairs: DataFrame) = pairs
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        call_function("hamming_dist", col("simhash_a"), col("simhash_b")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
    score(PairEnum.bucketPairs(nb, Seq("band_idx", "band_val"),
        payloadCols = Seq("simhash")))
      .unionByName(score(PairEnum.bucketJoin(nb, bandedSigs(stateSigs, sigLen, bands),
        Seq("band_idx", "band_val"), payloadCols = Seq("simhash"))))
  }

  /** Near-dup CLUSTERING: verified pairs → connected components →
    * (id, canon_id = min id of the component) — the canonicalization
    * step every dedup pipeline ends with (keep one representative per
    * cluster, drop the rest).
    *
    * Two execution paths, chosen by measured edge count:
    *
    * 1. **Driver-drained union-find** (graphs ≤ `driverDrainMaxEdges`):
    *    the verified-pair graph is a vanishing fraction of the corpus by
    *    construction (LSH buckets → Jaccard threshold), so even a 100 TB
    *    corpus typically yields a pair list that fits in driver memory
    *    with a wide margin (the default 4M-edge bound is ~64 MiB of
    *    longs; STRING ids additionally gate on measured total id bytes,
    *    since a hash/URL key makes per-edge size unbounded). Collecting
    *    it once and running union-find replaces an O(diameter) sequence
    *    of Spark jobs — each dominated by fixed scheduling/checkpoint
    *    overhead, not data — with two small jobs (count/byte-measure +
    *    collect). The bound is a hard memory guarantee, checked against
    *    the materialized sizes, never assumed.
    * 2. **Distributed min-label propagation** (bigger graphs, or id
    *    types without a driver-side ordering): each round joins the
    *    label frame to the (bidirected) edge list and takes the per-node
    *    MIN; converges in O(component diameter) rounds of small joins
    *    (near-dup components are shallow — dup clusters, not social
    *    graphs). The driver never sees rows, only the converged /
    *    not-converged count.
    *
    * Both paths produce the identical (id, canon_id = min id of the
    * component) frame — the driver path's string ordering compares UTF-8
    * bytes unsigned, matching Spark's UTF8String ordering exactly.
    */
  /** Driver-drain byte cap for STRING-id edge lists: total measured
    * id bytes must stay under this (≈256 MiB of raw characters) in
    * addition to the edge-count bound — string keys make per-edge size
    * unbounded, and the count bound alone is no memory guarantee. */
  val DriverDrainMaxStringBytes: Long = 256L << 20

  def clusters(pairs: DataFrame, maxIters: Int = 50,
               driverDrainMaxEdges: Long = 4L * 1000 * 1000): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // Dataset.unpersist is a NO-OP for localCheckpoint'd frames (their
    // LogicalRDD is never registered with the cache manager), so each
    // checkpoint's RDD ids are captured by getPersistentRDDs delta and
    // freed DIRECTLY once the round that read them is over. Only the
    // final label frame's blocks stay pinned — they back the returned
    // plan; the caller releases them with the session cache sweep
    // (same contract as the operator caches).
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val d = df.localCheckpoint(true)
      (d, sc.getPersistentRDDs.keySet.toSet.diff(before.toSet))
    }
    def free(ids: Set[Int]): Unit = {
      val live = sc.getPersistentRDDs
      ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    }
    // materialize the (tiny) pair frame ONCE: the bidirected edge union
    // references it twice, and the upstream that produced it (a whole
    // LSH + verification pipeline) must not run per branch
    val (p, pIds) = checkpointTracked(pairs)
    val idType = p.schema("id_a").dataType
    val drainable = idType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    // count() over the just-checkpointed blocks is a cheap local scan;
    // the drain decision is made against the MEASURED size, never a
    // stats estimate, so the driver-memory bound is a hard guarantee.
    // STRING ids make per-edge size unbounded (URL/hash keys), so they
    // additionally gate on the measured total id bytes — a 4M-edge
    // string graph can be multi-GB where the long graph is ~64 MiB.
    val fitsDriver = drainable && {
      if (idType == org.apache.spark.sql.types.StringType) {
        val r = p.agg(count(lit(1)),
          sum(length(col("id_a")) + length(col("id_b")))).head()
        r.getLong(0) <= driverDrainMaxEdges &&
          (r.isNullAt(1) || r.getLong(1) <= DriverDrainMaxStringBytes)
      } else p.count() <= driverDrainMaxEdges
    }
    if (fitsDriver) {
      val out = driverUnionFind(p, idType)
      free(pIds)
      return out
    }
    val (edges, edgeIds) = checkpointTracked(
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst"))))
    free(pIds) // edges are materialized; the pair copy is no longer read
    // Each round references the previous label frame TWICE (propagation
    // join + union), so an un-truncated lineage doubles per round and
    // plan processing blows up on deep chains — localCheckpoint makes
    // every round's result a leaf (the frames are candidate-graph-sized,
    // i.e. tiny next to the corpus).
    var (labels, labelIds) = checkpointTracked(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")))
    // one min-label hop: every node takes the min of its own and its
    // neighbors' labels
    def propagate(l: DataFrame): DataFrame =
      l.join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), col("label"))
        .union(l)
        .groupBy("id").agg(min("label").as("label"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // TWO hops per checkpointed round: the round cost is dominated by
      // fixed per-job overhead (checkpoint materialization + convergence
      // probe over a tiny frame), not by the joins themselves, so
      // folding two propagation steps into one round halves the job
      // count for the same O(diameter) hop budget. The old label rides
      // along in the SAME materialization job, so the convergence probe
      // below reads checkpointed blocks instead of launching a second
      // join job per round.
      val (next, nextIds) = checkpointTracked(
        propagate(propagate(labels))
          .join(labels.withColumnRenamed("label", "old"), Seq("id")))
      converged = next.filter(col("label") =!= col("old")).isEmpty
      free(labelIds)
      labels = next.select(col("id"), col("label"))
      labelIds = nextIds
      iter += 1
    }
    free(edgeIds)
    // silent truncation would split true components into wrong clusters
    // downstream — fail loudly instead (a near-dup graph with diameter
    // > 2*maxIters is pathological, not a sampling accident).
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.clusters did not converge within $maxIters rounds (2 hops each) — " +
          "a component's diameter exceeds the budget; raise maxIters")
    labels.withColumnRenamed("label", "canon_id")
  }

  /** Bounded driver-side connected components over a collected pair
    * list: union-find with path halving + union by size, then one pass
    * assigning each node the MIN id of its component. Called only from
    * [[clusters]] after the edge count has been verified against the
    * drain bound — the collect here is a deliberate, size-checked model
    * gather (like centroid/codebook collects), not a corpus collect.
    *
    * Ordering contract: numeric ids compare numerically; string ids
    * compare as unsigned UTF-8 bytes — exactly UTF8String's ordering,
    * so the driver path is bit-identical to the distributed `min` path.
    */
  private def driverUnionFind(p: DataFrame,
                              idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val spark = p.sparkSession
    val cmp: java.util.Comparator[Any] =
      if (idType == StringType)
        (a: Any, b: Any) => java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
      else
        (a: Any, b: Any) => java.lang.Long.compare(
          a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
    val edges = p.select("id_a", "id_b").collect()
    val index = new java.util.HashMap[Any, java.lang.Integer](edges.length * 2)
    val keys = new scala.collection.mutable.ArrayBuffer[Any]
    val parent = new scala.collection.mutable.ArrayBuffer[Int]
    val size = new scala.collection.mutable.ArrayBuffer[Int]
    def nodeOf(k: Any): Int = {
      val got = index.get(k)
      if (got ne null) got.intValue else {
        val i = keys.length
        index.put(k, i); keys += k; parent += i; size += 1; i
      }
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { row =>
      val a = find(nodeOf(row.get(0))); val b = find(nodeOf(row.get(1)))
      if (a != b) {
        if (size(a) >= size(b)) { parent(b) = a; size(a) += size(b) }
        else { parent(a) = b; size(b) += size(a) }
      }
    }
    val minOfRoot = new java.util.HashMap[Int, Any]
    keys.indices.foreach { i =>
      val r = find(i)
      val cur = minOfRoot.get(r)
      if (cur == null || cmp.compare(keys(i), cur) < 0) minOfRoot.put(r, keys(i))
    }
    val out = keys.indices.map(i => Row(keys(i), minOfRoot.get(find(i))))
    val schema = StructType(Seq(
      StructField("id", idType, nullable = false),
      StructField("canon_id", idType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Eval-set DECONTAMINATION: drop every row whose fingerprint set
    * intersects the eval set's fingerprints — the anti-join that keeps
    * benchmark data out of training corpora. `fps`/`evalFps` are
    * (id, fp) frames (winnowing fingerprints compose naturally: they
    * guarantee coverage of every length-w shingle window, so any
    * sufficiently long verbatim overlap shares a fingerprint).
    *
    * Scale shape: the eval fingerprint set is small by nature →
    * BROADCAST semi-join marks contaminated ids with no corpus shuffle;
    * the final anti-join broadcasts the (small) contaminated-id set the
    * same way. The corpus is never shuffled at all.
    */
  def decontaminate(df: DataFrame, idCol: Column, fps: DataFrame, evalFps: DataFrame): DataFrame = {
    val bad = fps
      .join(broadcast(evalFps.select(col("fp")).distinct()), Seq("fp"), "left_semi")
      .select(col("id")).distinct()
    df.join(broadcast(bad.withColumnRenamed("id", "__bad_id")),
      idCol === col("__bad_id"), "left_anti")
  }

  /** [[decontaminate]] PER PARTITION — the multilingual funnel's
    * screen (VERDICT r17 item 8): eval benchmarks are per-language, so
    * a corpus document drops iff it shares a fingerprint with an eval
    * document OF ITS OWN partition (`keyCol`, the router's
    * `predicted_lang`); a verbatim overlap with ANOTHER language's
    * eval set is not contamination for this language's benchmark and
    * must not cost the document (translation-level contamination is
    * the semantic screen's job — maxCosExpr). `fps` is the corpus
    * fingerprint store `(id, fp)` (fingerprints are per-document, so
    * the store needs no key column — the key joins in from `df`);
    * `evalFps` carries `(k, fp)`. Same scale shape as the unkeyed
    * screen: the eval side broadcasts, the corpus never shuffles. */
  def decontaminateBy(df: DataFrame, idCol: Column, keyCol: Column,
                      fps: DataFrame, evalFps: DataFrame): DataFrame = {
    val keys = df.select(idCol.as("id"), keyCol.as("k"))
    val bad = fps
      .join(keys, Seq("id"))
      .join(broadcast(evalFps.select(col("k"), col("fp")).distinct()),
        Seq("k", "fp"), "left_semi")
      .select(col("id")).distinct()
    df.join(broadcast(bad.withColumnRenamed("id", "__bad_id")),
      idCol === col("__bad_id"), "left_anti")
  }

  /** Bloom-gated decontamination — same CONTRACT as [[decontaminate]]
    * (exact output, verified), different scale regime: when the eval
    * fingerprint set is too large to broadcast as a hash relation but
    * fits as ~10 bits/member of bloom (1-2 orders of magnitude
    * smaller), the corpus-side fingerprint stream is first cut down by
    * a codegen'd `bloom_contains` SCAN FILTER — no join, no shuffle for
    * the clean majority. Only bloom-positive fingerprints (true
    * overlaps + the fpp tail) reach the exact semi-join, whose
    * broadcast side is unchanged; the exact check erases the false
    * positives, so the result is byte-identical to [[decontaminate]]
    * (property-pinned in DedupSpec, oracled as q_decontaminate_bloom).
    *
    * The filter is built by one distributive aggregate over
    * `xxhash64(fp)` (map-side partials are the fixed-size bit array)
    * and lands on the driver as `numBits/8` bytes — bounded sketch
    * state, never rows. Delivery to executors is size-adaptive: a
    * KB-scale filter is embedded as a plan literal (inlines straight
    * into WholeStageCodegen); past `literalMaxBytes` it rides a
    * [[graft.expressions.BroadcastRef]] instead — shipped once per
    * executor over the torrent bus, NOT copied into every serialized
    * task of every referencing stage — so the operator's own motivating
    * regime (tens of MBs of bits standing in for an un-broadcastable
    * hash relation) no longer bloats the plan. Both forms are the same
    * codegen'd probe and byte-identical output (spec-pinned). */
  def bloomDecontaminate(df: DataFrame, idCol: Column, fps: DataFrame, evalFps: DataFrame,
                         numBits: Int = 1 << 20, numHashes: Int = 5,
                         scope: CacheScope = CacheScope.unmanaged,
                         literalMaxBytes: Int = 1 << 19): DataFrame = {
    graft.GraftFunctions.ensure(df.sparkSession) // foreign sessions lack the extension
    // the eval fingerprint SET feeds two consumers — the EAGER bloom
    // build (the .head below runs at construction) and the lazy exact
    // verify join — so pin it once: an un-cached caller would otherwise
    // pay the full evalFps lineage twice. Duplicates don't change a
    // bloom, so building from the distinct set is the same filter.
    val evalSet = scope.pin(evalFps.select(col("fp")).distinct())
    val bloomBytes = evalSet
      .select(xxhash64(col("fp")).as("h"))
      .agg(call_function("bloom_build", col("h"), lit(numBits), lit(numHashes)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probe =
      if (bloomBytes.length <= literalMaxBytes) lit(bloomBytes)
      else graft.expressions.BroadcastRef.column(
        df.sparkSession.sparkContext.broadcast(bloomBytes), BinaryType)
    val candidates = fps
      .filter(call_function("bloom_contains", probe, xxhash64(col("fp"))))
    val bad = candidates
      .join(broadcast(evalSet), Seq("fp"), "left_semi")
      .select(col("id")).distinct()
    df.join(broadcast(bad.withColumnRenamed("id", "__bad_id")),
      idCol === col("__bad_id"), "left_anti")
  }

  /** Per-document contamination FRACTION against an eval fingerprint
    * set — the gray-zone instrument [[decontaminate]]'s binary drop
    * cannot give: a doc sharing one boilerplate fingerprint with a
    * benchmark is a different animal from one that IS the benchmark
    * item, and corpus policy usually drops above a threshold, flags a
    * band, keeps below. Returns (id, n_fps, n_hits, permille) with
    * permille = ⌊1000·hits/fps⌋ (FLOOR of one IEEE division — the
    * engine-portable spelling, same as the repetition gates).
    *
    * Scale shape: the eval set broadcasts once with a hit flag; the
    * corpus fingerprints take ONE broadcast left-join + one per-id
    * aggregate (map-side combined) — the corpus never shuffles wider
    * than (id, counts). */
  def contaminationScore(fps: DataFrame, evalFps: DataFrame): DataFrame = {
    val eval = broadcast(evalFps.select(col("fp")).distinct().withColumn("__hit", lit(1)))
    fps.select(col("id"), col("fp")).distinct()
      .join(eval, Seq("fp"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_fps"), count(col("__hit")).as("n_hits"))
      .withColumn("permille",
        floor(col("n_hits") * lit(1000.0) / col("n_fps")).cast("long"))
  }

  /** Leakage-aware train/val/test SPLIT assignment: every document's
    * split is a hash of its near-dup cluster REPRESENTATIVE (its
    * [[clusters]] canonical label; singletons are their own), so two
    * near-duplicates can never straddle a split boundary — the standard
    * guard against eval leakage that a plain per-doc hash split walks
    * straight into. md5-based modulo keeps the assignment deterministic
    * and engine-portable (the [[graft.operators.Sample]] /
    * [[graft.operators.PoolAssign]] precedent).
    *
    * `labels` is the (id, canon_id) frame from [[clusters]] — clustered
    * docs only, small by construction, broadcast; the corpus takes one
    * broadcast left-join and no shuffle. */
  def splitByCluster(df: DataFrame, idCol: Column, labels: DataFrame, nSplits: Int): DataFrame = {
    require(nSplits > 0, s"splitByCluster: nSplits must be positive, got $nSplits")
    val reps = broadcast(labels.select(col("id").as("__cid"), col("canon_id")))
    df.join(reps, idCol === col("__cid"), "left")
      .withColumn("rep", coalesce(col("canon_id"), idCol))
      .withColumn("split", pmod(
        conv(substring(md5(col("rep").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long"),
        lit(nSplits.toLong)))
      .drop("__cid", "canon_id")
  }

  /** Streaming exact dedup: state-backed duplicate drop bounded by the
    * event-time watermark (the streaming member of the family). */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String], delay: String): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** `bits`-wide SimHash over distinct lower-cased tokens (≤ 32 — one
    * bit per md5 hex nibble): bit j is 1 iff the sum over tokens of ±1
    * (md5 hex digit j ≥ 8 → +1) is positive. Near-identical token sets
    * land on identical signatures. 16 bits suffice for fingerprinting;
    * the banded pair MATCHER wants 32 so buckets discriminate. */
  def simhash(df: DataFrame, idCol: Column, textCol: Column, bits: Int = 16): DataFrame = {
    require(bits > 0 && bits <= 256, s"simhash bits must be in 1..256, got $bits")
    // one md5 gives 32 bit-votes (one per hex nibble's top bit); wider
    // signatures draw extra 32-bit blocks from SALTED hashes of the same
    // token. Block 0 stays unsalted, so a wide signature's first 32 bits
    // are bit-identical to the narrow signature — widening never
    // re-bucketizes the prefix (pinned by DedupSpec).
    val nBlocks = (bits + 31) / 32
    val blockHashes = (0 until nBlocks).map { k =>
      val h = if (k == 0) md5(col("tok").cast("binary"))
      else md5(concat(lit(s"sh$k:"), col("tok")).cast("binary"))
      h.as(s"h$k")
    }
    // Numeric vote extraction (r19, guide §1.2 step 2 — per-task work):
    // load each hash's 32 hex nibbles as 32-bit long chunks ONCE per
    // token, then a bit's vote is shift-and-mask arithmetic. The old
    // spelling ran a fresh `substring` + 8-way string `isin` per BIT per
    // token (52 × |tokens| string allocations at the adaptive width) —
    // measured as the dominant cost of the signature aggregate. Bit
    // semantics identical: nibble value ≥ 8 ⟺ its top bit is set.
    val chunksOf = (0 until nBlocks).flatMap { k =>
      val bitsInBlock = math.min(32, bits - 32 * k)
      (0 until (bitsInBlock + 7) / 8).map(i =>
        conv(substring(col(s"h$k"), i * 8 + 1, 8), 16, 10).cast("long").as(s"c${k}_$i"))
    }
    val toks = df.select(idCol.as("id"), array_distinct(split(lower(textCol), " ")).as("ts"))
      .repartition(col("id")) // parallelize the explode; co-partition the group-by
      .select(col("id"), explode(col("ts")).as("tok"))
      .select(col("id") +: blockHashes: _*)
      .select(col("id") +: chunksOf: _*)
    val bitSums = (0 until bits).map { j =>
      val nib = j % 32 // nibble index inside the block's 32-hex-char hash
      val c = col(s"c${j / 32}_${nib / 8}")
      // nibble at hex position p (1-based) sits 4·(8−p) bits up; +3 for
      // its top bit. Vote = top bit ? +1 : −1 = 2·bit − 1.
      sum(shiftright(c, 4 * (7 - nib % 8) + 3).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$j")
    }
    toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        concat((0 until bits).map(j => when(col(s"b$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** [[simhashPairs]] with the signature width derived from the corpus
    * size — the scale rule ScaleGrowthSpec measured into place: a FIXED
    * 32-bit/4-band signature offers at most 4·2⁸ buckets, so mean bucket
    * occupancy grows linearly with the corpus (measured 10.5 → 22.3 over
    * a 10× clone at sf0.01) and the bucket self-join goes quadratic at
    * real scale. Deriving the band width from ⌈log₂ n⌉
    * ([[Similarity.adaptiveBits]] — the same rule the ANN family uses)
    * keeps the per-band bucket space ≥ n, so expected occupancy stays
    * O(1) and the pair enumeration stays linear. `maxDist < bands` keeps
    * the pigeonhole recall guarantee regardless of width.
    *
    * One column-pruned count job picks the width; the signature frame is
    * pinned (it feeds both sides of the bucket self-join) through `scope`
    * — pass a tracking [[CacheScope]] and `close()` it after consuming
    * the pairs to release the pin in a long-lived session (the default
    * keeps the session-sweep contract, matching
    * [[Similarity.incrementalBandedPairs]]). */
  def simhashPairsAdaptive(df: DataFrame, idCol: Column, textCol: Column,
      maxDist: Int = 2, bands: Int = 4, minWidth: Int = 8,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val w = Similarity.adaptiveBits(df.count(), minWidth)
    val sig = scope.pin(simhash(df, idCol, textCol, bands * w))
    simhashPairs(sig, maxDist, bands * w, bands)
  }

  /** SUBSTRING-level exact dedup (the Lee et al. 2022 curation step the
    * document-level families can't do): maximal verbatim token spans of
    * length ≥ `n` that repeat ACROSS documents, reported per document as
    * `(id, span_start, span_end, span_tokens)` in 0-based token
    * positions — the removal list a span-dedup pass consumes.
    *
    * Shape (bucketed shingle-anchor, no suffix array):
    *  1. per-document positional n-gram DIGESTS — one narrow map, the
    *     exchange carries 16-byte md5s, never gram text (the
    *     [[exactByDigest]] discipline);
    *  2. a digest repeats across documents iff min(id) != max(id) —
    *     one map-side-combined aggregate, no countDistinct expansion;
    *  3. anchor positions of repeated digests flow back over one
    *     digest equi-join (both sides hash-partitioned on `dg`);
    *  4. overlapping/adjacent anchor windows merge into maximal spans
    *     with a gaps-and-islands window PARTITIONED BY DOCUMENT —
    *     bounded per-doc work, fully parallel, never a whole-frame
    *     window.
    * Every repeated n-gram is an anchor, so a shared span of length L
    * yields L-n+1 anchors that coalesce into ONE maximal span — anchors
    * (the candidate volume) grow linearly in corpus clones
    * (ScaleGrowthSpec's spans family measures exactly that).
    *
    * Digest equality stands in for gram equality at 2^-64-collision
    * odds — the content-addressed-dedup trade documented on
    * [[exactByDigest]]; a paranoid caller re-verifies spans against
    * document text afterwards. Tokenization is the corpus single-space
    * contract WITHOUT lowercasing ("verbatim" means byte-exact). */
  /** Positional n-gram digest occurrences `(id, pos, dg)` — the span
    * family's measurement surface (ScaleGrowthSpec counts anchors and
    * digest occupancy off this frame). */
  private[graft] def spanOccurrences(df: DataFrame, idCol: Column, textCol: Column,
                                     n: Int): DataFrame = {
    require(n >= 2, s"repeatedSpans: span n-gram length must be >= 2, got $n")
    // ANSI guard: sequence(0, size-n) with size<n would count DOWNWARD
    val gramStructs = when(size(col("__t")) >= n,
      transform(sequence(lit(0), size(col("__t")) - n),
        p => struct(p.as("pos"),
          md5(array_join(slice(col("__t"), p + lit(1), lit(n)), " ").cast("binary")).as("dg"))))
      .otherwise(array().cast("array<struct<pos:int,dg:string>>"))
    df.select(idCol.as("id"), split(textCol, " ").as("__t"))
      // same single-file-split spreading rationale as shinglesRaw
      .repartition(col("id"))
      .select(col("id"), explode(gramStructs).as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.dg").as("dg"))
  }

  /** APPLY the span-removal list: documents come back with every
    * repeated-span token deleted (`clean_text`) plus the removed-token
    * count. Scale shape: the span list aggregates to ONE small row per
    * affected document (span count is bounded by anchors/n), rides one
    * equi-join back to the corpus, and the deletion itself is a narrow
    * per-row array filter — the corpus text never shuffles and no
    * token-level explode happens outside the digest pass. Documents
    * with no repeated spans pass through untouched (left join). */
  def removeRepeatedSpans(df: DataFrame, idCol: Column, textCol: Column,
                          n: Int, scope: CacheScope = CacheScope.unmanaged): DataFrame =
    applySpanRemoval(df, idCol, textCol, repeatedSpans(df, idCol, textCol, n, scope))

  /** PARAGRAPH-level decontamination APPLY: delete every
    * [[evalOverlapSpans]] span from the corpus text — the surgical
    * sibling of [[decontaminate]]'s whole-doc drop (the doc keeps
    * everything except the verbatim eval quote). Same scale shape as
    * [[removeRepeatedSpans]]: the span list aggregates to one small
    * row per affected document and the deletion is a narrow per-row
    * array filter; the corpus never shuffles. */
  def removeEvalOverlaps(df: DataFrame, idCol: Column, textCol: Column,
                         evalDigests: DataFrame, n: Int): DataFrame =
    applySpanRemoval(df, idCol, textCol,
      evalOverlapSpans(df, idCol, textCol, evalDigests, n))

  /** The shared deletion splice: spans → one row per affected doc →
    * left join → in-row token filter (see [[removeRepeatedSpans]]). */
  private def applySpanRemoval(df: DataFrame, idCol: Column, textCol: Column,
                               spansDf: DataFrame): DataFrame = {
    val spans = spansDf
      .groupBy("id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("__spans"))
    df.select(idCol.as("id"), split(textCol, " ").as("__t"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        array_join(
          filter(col("__t"), (t, p) =>
            col("__spans").isNull ||
              !exists(col("__spans"),
                sp => p.cast("long") >= sp("s") && p.cast("long") <= sp("e"))),
          " ").as("clean_text"),
        when(col("__spans").isNull, lit(0L))
          .otherwise(aggregate(col("__spans"), lit(0L),
            (acc, sp) => acc + (sp("e") - sp("s") + 1))).as("n_removed"))
  }

  /** The occurrence frame feeds the repeated-digest aggregate AND the
    * anchor join; without a pin only the pre-explode repartition
    * exchange is reused and the gram explode + per-gram md5 runs once
    * per consumer, so the operator always pins it. The scope controls
    * the pin's LIFETIME, not whether it happens: the default
    * (unmanaged) rides the session-sweep contract (Bench/Verify clear
    * the cache between queries); a long-lived caller passes a tracking
    * scope and `close()`s it once the result is materialized. A caller
    * who genuinely prefers recomputing the narrow gram map over
    * materializing it composes [[spanOccurrences]] + [[mergeAnchors]]'
    * logic directly — no scope disables the cache. */
  def repeatedSpans(df: DataFrame, idCol: Column, textCol: Column, n: Int,
                    scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val occ = scope.pin(spanOccurrences(df, idCol, textCol, n))
    val rep = occ.groupBy("dg")
      .agg(min("id").as("__mn"), max("id").as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("dg")
    mergeAnchors(occ.join(rep, Seq("dg")).select(col("id"), col("pos")), n)
  }

  /** Anchor windows `(id, pos)` → maximal merged spans — the shared
    * gaps-and-islands tail of the span family (window PARTITIONED BY
    * document: bounded, parallel). */
  private def mergeAnchors(anchors: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val prevEnds = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    anchors
      .withColumn("__e", col("pos") + lit(n - 1))
      // new island when this window starts beyond every earlier end + 1
      .withColumn("__brk",
        when(col("pos") > coalesce(max(col("__e")).over(prevEnds), lit(-2)) + 1, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(byDoc))
      .groupBy(col("id"), col("__island"))
      .agg(min("pos").as("__s"), max("__e").as("__x"))
      .select(col("id"),
        col("__s").cast("bigint").as("span_start"),
        col("__x").cast("bigint").as("span_end"),
        (col("__x") - col("__s") + 1).cast("bigint").as("span_tokens"))
  }

  /** The persisted STATE of incremental substring dedup: the distinct
    * gram-digest set of the corpus so far — the artifact a sustained
    * pipeline keeps on disk between batches (16 bytes per distinct
    * gram; positions are NOT state, only membership matters). */
  def spanDigestState(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    spanOccurrences(df, idCol, textCol, n).select("dg").distinct()

  /** Incremental [[repeatedSpans]]: maximal repeated spans in the NEW
    * batch only — a batch gram is an anchor iff its digest exists in
    * the persisted `stateDigests` (any old document had it) OR repeats
    * across ≥2 distinct batch documents. EXACTLY equals
    * `repeatedSpans(old ∪ new)` restricted to batch ids (a batch
    * gram's cross-doc partner is either an old doc — state membership
    * — or another batch doc; old×old-only digests anchor nothing in
    * the batch), which is what the oracle replays. Per-batch cost:
    * batch grams + one digest probe against the state — the old CORPUS
    * is never re-read, the state never re-derived (the
    * q_dedup_incremental discipline for substrings). At sustained
    * 100 TB scale the probe's state-side exchange is the remaining
    * cost: persist the digest state hash-CLUSTERED on `dg`
    * ([[graft.sinks.Sinks.writeClustered]] / a dg-bucketed catalog
    * table) and the semi join reads it co-located — only the
    * batch-sized side repartitions per batch. */
  def incrementalRepeatedSpans(newDf: DataFrame, idCol: Column, textCol: Column,
                               stateDigests: DataFrame, n: Int,
                               scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // three consumers (within-batch agg + two semi joins): pin the
    // batch gram frame or the explode+md5 pass runs three times
    val occ = scope.pin(spanOccurrences(newDf, idCol, textCol, n))
    val withinBatch = occ.groupBy("dg")
      .agg(min("id").as("__mn"), max("id").as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("dg")
    // two SEMI joins, not a union-distinct over the state: the state is
    // already a distinct digest set — re-distincting it per batch would
    // cost a state-sized exchange every batch; semi joins leave it a
    // pass-through probe side. The anchor union dedupes at BATCH scale.
    val fromState = occ.join(stateDigests.select("dg"), Seq("dg"), "left_semi")
    val fromBatch = occ.join(withinBatch, Seq("dg"), "left_semi")
    mergeAnchors(
      fromState.union(fromBatch).select(col("id"), col("pos")).distinct(), n)
  }

  /** PARAGRAPH-level decontamination report: the maximal verbatim
    * ≥`n`-token spans of each corpus document that also appear in the
    * EVAL set — [[repeatedSpans]]' digest machinery pointed at
    * [[decontaminate]]'s problem, so eval overlap is caught BELOW
    * document granularity (a doc that quotes one eval paragraph loses
    * the paragraph, not the doc; the whole-doc drop of
    * [[decontaminate]] is the blunt variant). `evalDigests` is the
    * eval set's [[spanDigestState]] — the 16-bytes-per-gram persisted
    * artifact a pipeline keeps next to its eval suites; eval sets are
    * benchmark-sized, so pass it `broadcast()`-hinted and the corpus
    * never shuffles: one narrow gram pass + a broadcast semi join +
    * the per-document islands merge. Output `(id, span_start,
    * span_end, span_tokens)`; compose with the
    * [[removeRepeatedSpans]]-style apply or a span-budget filter
    * downstream. */
  def evalOverlapSpans(df: DataFrame, idCol: Column, textCol: Column,
                       evalDigests: DataFrame, n: Int): DataFrame =
    mergeAnchors(
      spanOccurrences(df, idCol, textCol, n)
        .join(evalDigests.select("dg"), Seq("dg"), "left_semi")
        .select(col("id"), col("pos")), n)

  /** BOILERPLATE spans: maximal merged windows anchored at the
    * corpus's `topM` most DOCUMENT-FREQUENT n-gram digests — the
    * MassiveText/C4 repeated-boilerplate strip (headers, footers,
    * navigation chrome: text whose problem is corpus FREQUENCY, not a
    * pairwise match) in its fixed-budget form: production pipelines
    * strip a bounded most-common-phrases list, which keeps the rule
    * meaningful at ANY corpus size (an absolute doc-count threshold
    * degenerates as the corpus grows — on this harness corpus nearly
    * every 3-gram crosses any fixed count at sf0.1 while almost none
    * do at sf0.01). Document frequency counts each document ONCE
    * (per-doc positional repeats collapse before the count), and the
    * cut ranks `(n_docs DESC, dg)` — the digest tie-break keeps the
    * boundary deterministic in both engines.
    *
    * Scale shape: the digest exchange carries 16-byte md5s
    * ([[exactByDigest]] discipline), the frequency aggregate combines
    * map-side, the top-M is TakeOrdered (per-partition heaps + an
    * M-row driver merge), and the M-row boilerplate set rides a
    * broadcast back over the pinned occurrence frame — the corpus
    * text never shuffles. */
  def boilerplateSpans(df: DataFrame, idCol: Column, textCol: Column,
                       n: Int, topM: Int,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val occ = scope.pin(spanOccurrences(df, idCol, textCol, n))
    mergeAnchors(occ.join(broadcast(topDigests(occ, topM)), Seq("dg"))
      .select(col("id"), col("pos")), n)
  }

  /** The deterministic (n_docs DESC, dg) top-M cut over an occurrence
    * frame — shared by [[boilerplateSpans]] and the strip-LIST
    * artifact builder below. */
  private def topDigests(occ: DataFrame, topM: Int): DataFrame = {
    require(topM >= 1, s"boilerplate: topM must be >= 1, got $topM")
    occ.select("dg", "id").distinct()
      .groupBy("dg").agg(count(lit(1)).as("__nd"))
      .orderBy(col("__nd").desc, col("dg")).limit(topM)
      .select("dg")
  }

  /** The boilerplate STRIP LIST as a persisted artifact: the top-M
    * most document-frequent n-gram digests of a reference corpus —
    * what an incremental pipeline freezes and applies to every
    * arriving batch ([[evalOverlapSpans]] consumes it directly; the
    * list drifts only when deliberately rebuilt, the lmModelStore
    * discipline). M-row output — broadcast it at any corpus size. */
  def boilerplateDigests(df: DataFrame, idCol: Column, textCol: Column,
                         n: Int, topM: Int): DataFrame =
    topDigests(spanOccurrences(df, idCol, textCol, n), topM)

  /** APPLY the boilerplate strip: every [[boilerplateSpans]] token
    * deleted in place — same scale shape as [[removeRepeatedSpans]]
    * (span lists ride one small join; deletion is a narrow in-row
    * array filter). */
  def removeBoilerplate(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int, topM: Int,
                        scope: CacheScope = CacheScope.unmanaged): DataFrame =
    applySpanRemoval(df, idCol, textCol,
      boilerplateSpans(df, idCol, textCol, n, topM, scope))
}
