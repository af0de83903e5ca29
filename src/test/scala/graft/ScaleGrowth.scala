package graft

import graft.operators.{Bpe, Dedup, PairEnum, SetSimJoin, Similarity, SnapshotDiff, TextIndex}
import graft.sources.StatsIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth measurement functions behind ScaleGrowthSpec: MEASURE
  * (not argue) the scale-growth claims of the LSH-family candidate
  * generation and of every other family whose cost could grow faster
  * than its input.
  *
  * Each function builds an `R`-times-larger corpus with the SAME
  * duplicate rate as the input (each replica is token-perturbed for
  * text / element-rotated for vectors, so documents are near-dups only
  * WITHIN a replica and the near-dup structure of each replica is
  * exactly the original's), then records, at that scale:
  *
  *  - band-bucket count, mean/max occupancy, and the within-bucket pair
  *    total (what the bucket self-join enumerates);
  *  - candidate-pair and verified-pair counts.
  *
  * A linear engine shows ~R× pairs and ~flat occupancy (the adaptive
  * families grow their bucket space with log₂ n precisely so occupancy
  * stays put; banded MinHash keeps occupancy flat because bucket keys
  * are content hashes and the vocabulary grows with the corpus).
  * Super-linear growth in any row is a design bug. The fixed-width
  * simhash family is the KNOWN counterexample kept as the control: its
  * 1024-bucket space saturates, so at 100× merely COUNTING its ~10¹¹
  * bucket pairs is infeasible, which is the point the adaptive family
  * exists to fix.
  *
  * ScaleGrowthSpec gates the claims over a 10× clone of sf0.01. The
  * 1×/10×/100× tables recorded at sf0.1 in PLANS.md came from these
  * same functions.
  */
object ScaleGrowth {

  /** doc/vec id offset between replicas — far above any real id. */
  private val ReplicaOffset = 100000000L

  /** One family's measurements at one scale. */
  final case class FamilyStats(rows: Long, buckets: Long, meanOcc: Double,
      maxOcc: Long, bucketPairs: Long, candidates: Long, verified: Long)

  /** Replica r of a (doc_id, text) corpus: every token suffixed `_r<r>`
    * — all shingles distinct across replicas (cross-replica Jaccard =
    * 0), so the scaled corpus duplicates the original's near-dup
    * structure exactly `s` times and a linear candidate generator must
    * emit ~s× the pairs. */
  def scaledDocs(docs: DataFrame, s: Int): DataFrame =
    (0 until s).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * ReplicaOffset)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"_r$r")))).as("text"))
    }.reduce(_ union _)

  /** Replica r of a (vec_id, embedding) table: elements rotated by
    * `r % dim` positions, then sign-flipped by a per-replica pattern
    * drawn from `hash(r, i)`. Both transforms cancel inside a dot
    * product taken within one replica (rotation moves both sides the
    * same way; s_i² = 1), so within-replica cosines are EXACTLY the
    * original's; across replicas the relative transform is a rotation
    * composed with a ~half-coordinate sign flip — generic noise even
    * when the rotations coincide (r ≡ r′ mod dim), which is what lets
    * the clone factor exceed dim. */
  def scaledEmb(emb: DataFrame, s: Int, dim: Int): DataFrame =
    (0 until s).map { r =>
      if (r == 0) emb
      else {
        val rot = r % dim
        val rotated =
          if (rot == 0) col("embedding")
          else concat(slice(col("embedding"), rot + 1, dim - rot),
            slice(col("embedding"), 1, rot))
        emb.select(
          (col("vec_id") + lit(r * ReplicaOffset)).as("vec_id"),
          transform(rotated, (x, i) =>
            (x * (pmod(hash(lit(r), i), lit(2)) * 2 - 1).cast("float")).cast("float"))
            .as("embedding"))
      }
    }.reduce(_ union _)

  /** id offset for CDC-added docs — disjoint from both real ids and
    * every replica band of [[ReplicaOffset]]. */
  private val AddOffset = 1000000000000L

  /** Incremental-text-index measurements after a sustained CDC feed
    * (VERDICT r8 gap #4 — the segment/tombstone index had correctness
    * specs but no measured growth curve):
    *  - `segments`/`seg0Rows`/`deltaRows*`: per-batch maintenance cost
    *    must track the CHURN, not the index — flat in history;
    *  - `totalFiles` vs `admittedFiles`: posting files the probe
    *    search's zone maps admit vs all live posting files — the
    *    admitted count must stay flat while the corpus (and its file
    *    count) grows, or search cost scales with the corpus;
    *  - `matchedPostings`: rows the probe search actually reads —
    *    bounded by the probe terms' df, not by index size;
    *  - `liveRows`: what a compaction rewrites (the full fold cost). */
  final case class IndexGrowth(rows: Long, segments: Int, seg0Rows: Long,
      deltaRowsMin: Long, deltaRowsMax: Long, tombstones: Long,
      totalFiles: Long, admittedFiles: Long, matchedPostings: Long,
      liveRows: Long)

  /** Snapshot d of a rolling CDC chain over a (doc_id, text) corpus:
    * each delta REMOVES ~1% of docs (doc_id % 101 == d), EDITS ~1%
    * (doc_id % 103 == d — churn tokens appended), and ADDS ~1% fresh
    * ids (clones of doc_id % 107 == d at an [[AddOffset]] band) — the
    * churn scales WITH the corpus, modelling a sustained feed at every
    * clone factor. */
  def churned(prev: DataFrame, d: Int): DataFrame = {
    val adds = prev.filter(col("doc_id") % 107 === d)
      .select((col("doc_id") + lit(AddOffset) * d).as("doc_id"), col("text"))
    prev.filter(col("doc_id") % 101 =!= d)
      .withColumn("text", when(col("doc_id") % 103 === d,
        concat(col("text"), lit(s" churn_$d cdc"))).otherwise(col("text")))
      .unionByName(adds)
  }

  /** Build the index over `docs`, roll `deltas` [[churned]] feeds into
    * it, and measure. `files` should be sized with the corpus (like any
    * target-file-size knob), so the flat-admitted-files claim is tested
    * against a GROWING file count. */
  def textIndexGrowth(spark: SparkSession, docs: DataFrame, dir: String,
                      deltas: Int, files: Int,
                      probeTerms: Seq[String]): IndexGrowth = {
    require(deltas >= 1, "textIndexGrowth: need at least one delta")
    val snaps = scala.collection.mutable.ArrayBuffer(docs.localCheckpoint(true))
    val nRows = snaps.head.count()
    TextIndex.buildIndex(spark, snaps.head, dir, files = files)
    (1 to deltas).foreach { d =>
      val prev = snaps.last
      val cur = churned(prev, d).localCheckpoint(true)
      TextIndex.applyDelta(spark, dir, prev,
        SnapshotDiff.diffWithPayload(prev, cur, Seq("doc_id"),
          SnapshotDiff.rowDigest(Seq(col("text")))),
        files = math.max(1, files / 4))
      snaps += cur
    }
    val segs = TextIndex.segments(spark, dir)
    val segRows = segs.map { case (_, p) => spark.read.parquet(s"$p/postings").count() }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tomb = segs.map { case (_, p) =>
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$p/tombstones")))
        spark.read.parquet(s"$p/tombstones").count() else 0L }.sum
    var total = 0L
    var admitted = 0L
    segs.foreach { case (_, p) =>
      val seg = s"$p/postings"
      StatsIndex.readSidecar(spark, seg).foreach { stats =>
        val st = stats.collect().toSeq
        total += st.size
        admitted += probeTerms.flatMap(t => StatsIndex.pruneFiles(st,
          Seq(StatsIndex.ColRange("term", Some(t), Some(t))))).distinct.size
      }
    }
    val matched = TextIndex.livePostings(spark, dir, probeTerms).count()
    val live = TextIndex.livePostings(spark, dir, Seq.empty).count()
    snaps.foreach(_.unpersist(false))
    IndexGrowth(nRows, segs.size, segRows.head, segRows.tail.min,
      segRows.tail.max, tomb, total, admitted, matched, live)
  }

  /** (buckets, mean occupancy, max occupancy, Σ c·(c−1)/2). */
  def bucketStats(assignments: DataFrame, keyCols: Seq[String]): (Long, Double, Long, Long) = {
    val r = assignments
      .filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)), avg("c"), max("c"),
        sum(expr("c * (c - 1) / 2")).cast("long")).head()
    (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))
  }

  /** MinHash banded LSH at the q_dedup_minhash operating point. */
  def minhashStats(docs: DataFrame, nDocs: Long): FamilyStats = {
    val scope = new graft.operators.CacheScope // measurement-local pins
    try {
      val sig = scope.pin(
        Dedup.minhashSignatureArr(docs, col("doc_id"), col("text"), n = 3, k = 8))
      val bands = scope.pin(Dedup.lshBands(sig, 8, 2))
      val (b, mo, mx, bp) = bucketStats(bands, Seq("band_idx", "band_val"))
      val cands = scope.pin(Dedup.candidatePairs(bands))
      val nCand = cands.count()
      val candIds = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id"))).distinct()
      val candDocs = docs.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      val nVer = Dedup.jaccardVerify(
        cands, Dedup.shinglesRaw(candDocs, col("doc_id"), col("text"), n = 3), 0.6).count()
      FamilyStats(nDocs, b, mo, mx, bp, nCand, nVer)
    } finally scope.close()
  }

  /** SimHash at an EXPLICIT width (bands × w bits) — `w = 8` is the
    * fixed-width control row; [[simhashAdaptiveStats]] passes the
    * corpus-derived width. */
  def simhashStats(docs: DataFrame, nDocs: Long, w: Int, bands: Int = 4): FamilyStats = {
    val scope = new graft.operators.CacheScope // measurement-local pins
    try {
      val sig = scope.pin(
        Dedup.simhash(docs, col("doc_id"), col("text"), bits = bands * w))
      val banded = sig.select(col("id"),
        explode(array((0 until bands).map(bx =>
          struct(lit(bx).as("band_idx"),
            substring(col("simhash"), bx * w + 1, w).as("band_val"))): _*)).as("b"))
        .select(col("id"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
      val (b, mo, mx, bp) = bucketStats(banded, Seq("band_idx", "band_val"))
      val pairs = Dedup.simhashPairs(sig, maxDist = 2, sigLen = bands * w).count()
      FamilyStats(nDocs, b, mo, mx, bp, pairs, pairs)
    } finally scope.close()
  }

  def simhashAdaptiveStats(docs: DataFrame, nDocs: Long): (Int, FamilyStats) = {
    val w = Similarity.adaptiveBits(nDocs, 8)
    (w, simhashStats(docs, nDocs, w))
  }

  /** Prefix-filtered exact similarity join (q_simjoin operating point:
    * 3-gram shingles, t=0.6). Buckets = prefix TOKENS: replicas carry
    * disjoint token spaces, so buckets must grow ~s× with occupancy
    * flat, and candidates/verified ~s× — the linearity the prefix
    * filter promises (an all-pairs generator would go s²). */
  def simjoinStats(docs: DataFrame, nDocs: Long): FamilyStats = {
    val scope = new graft.operators.CacheScope // measurement-local pins
    try {
      val toks = scope.pin(Dedup.shingles(docs, col("doc_id"), col("text"), n = 3)
        .withColumnRenamed("shingle", "token"))
      val freq = toks.groupBy("token").agg(count(lit(1)).as("__freq"))
      val ordered = scope.pin(SetSimJoin.orderedDocs(toks, freq))
      val prefixes = SetSimJoin.prefixRows(ordered, 0.6)
      val (b, mo, mx, bp) = bucketStats(prefixes, Seq("token"))
      val cand = scope.pin(SetSimJoin.filterCandidates(
        PairEnum.bucketPairs(prefixes, Seq("token"),
          payloadCols = Seq("__rk", "__s")), 0.6))
      val nCand = cand.count()
      val nVer = SetSimJoin.verifyPairs(cand, ordered, ordered, 0.6).count()
      FamilyStats(nDocs, b, mo, mx, bp, nCand, nVer)
    } finally scope.close()
  }

  /** Adaptive hyperplane LSH over prepped embeddings (q_sim_lsh). */
  def annLshStats(p: DataFrame, nVec: Long, dim: Int): (Int, FamilyStats) = {
    val bits = Similarity.adaptiveBits(nVec, 8)
    val sig = p.select(col("id"), Similarity.lshSignature(col("q"), bits, dim).as("sig"))
    val (b, mo, mx, bp) = bucketStats(sig, Seq("sig"))
    val pairs = Similarity.lshPairsAdaptive(p, dim).count()
    (bits, FamilyStats(nVec, b, mo, mx, bp, pairs, pairs))
  }

  /** Banded embedding LSH + cosine threshold (q_dedup_embed). */
  def embedBandedStats(p: DataFrame, nVec: Long, dim: Int): (Int, FamilyStats) = {
    val width = Similarity.adaptiveBits(nVec, 4)
    val banded = p
      .select(col("id"), Similarity.lshSignature(col("q"), 4 * width, dim).as("sig"))
      .select(col("id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_idx"),
          substring(col("sig"), b * width + 1, width).as("band_val"))): _*)).as("bb"))
      .select(col("id"), col("bb.band_idx").as("band_idx"), col("bb.band_val").as("band_val"))
    val (b, mo, mx, bp) = bucketStats(banded, Seq("band_idx", "band_val"))
    val scope = new graft.operators.CacheScope // measurement-local pins
    try {
      val pairs = scope.pin(Similarity.lshBandedPairs(p, dim, scope = scope))
      val cand = pairs.count()
      val ver = pairs.filter(col("cos") >= 0.25).count()
      (width, FamilyStats(nVec, b, mo, mx, bp, cand, ver))
    } finally scope.close()
  }

  /** Replica r of a (name) string collection: every DIGIT remapped
    * through a per-replica disjoint codepoint block (a character
    * bijection, so WITHIN-replica edit distances are exactly the
    * original's), while cross-replica name pairs differ in every digit
    * position — chars from disjoint blocks can never match, so their
    * distance is at least the digit count (≫ any tested maxDist). The
    * scaled collection therefore replicates the original's
    * within-maxDist pair structure exactly `s` times, and a linear
    * candidate generator must emit ~s× the pairs with flat gram-bucket
    * occupancy (letter grams shared across replicas have frequency
    * n·s — the rarest-first prefix keeps them out of the join keys;
    * digit grams are replica-local by construction). */
  def scaledNames(names: DataFrame, s: Int): DataFrame =
    (0 until s).map { r =>
      if (r == 0) names
      else names.select(translate(col("name"), "0123456789",
        (0 until 10).map(d => (0x4E00 + (r - 1) * 10 + d).toChar).mkString).as("name"))
    }.reduce(_ union _)

  /** ED-Join prefix family ([[graft.operators.EditDist]]) at the
    * q_fuzzy_pairs operating point (maxDist=1, q=3): buckets = prefix
    * GRAMS (the candidate join's keys), candidates = post-length-filter
    * deduplicated prefix-join pairs, verified = final within-distance
    * pairs. The id IS the name (the q_fuzzy contract). */
  def editDistStats(names: DataFrame, nRows: Long, maxDist: Int = 1,
                    q: Int = 3): FamilyStats = {
    import graft.operators.{CacheScope, EditDist, PairEnum}
    val scope = new CacheScope // measurement-local pins
    try {
      val base = scope.pin(names.select(col("name").as("id"), col("name").as("s")))
      val sl = maxDist * q + q - 1
      val grams = EditDist.gramRows(base.filter(length(col("s")) > sl), q)
      val freq = grams.groupBy("g").agg(count(lit(1)).as("__f"))
      val prefix = scope.pin(EditDist.prefixRows(grams, freq, maxDist * q + 1))
      val (b, mo, mx, bp) = bucketStats(prefix, Seq("g"))
      val cands = PairEnum.bucketPairs(prefix, Seq("g"), payloadCols = Seq("s"))
        .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
        .select("id_a", "id_b").distinct().count()
      val ver = EditDist.similarPairs(base, col("id"), col("s"), maxDist, q).count()
      FamilyStats(nRows, b, mo, mx, bp, cands, ver)
    } finally scope.close()
  }

  /** Substring-span family ([[Dedup.repeatedSpans]]) over [[scaledDocs]]
    * clones: cross-replica grams are distinct (token suffixing), so the
    * original's repeated-span structure replicates exactly s times —
    * repeated digests (buckets), anchors (candidates: the digest-join
    * fan-in), and merged maximal spans (verified) must all scale ~s×,
    * with per-digest occupancy FLAT. Occupancy growing with s would
    * mean one digest's anchor list concentrates — the road to a skewed
    * digest join. */
  def spansStats(docs: DataFrame, nDocs: Long, n: Int = 8): FamilyStats = {
    // pin once up front: the occupancy aggregate AND repeatedSpans'
    // internal (canonically identical) occurrence plan hit one cached
    // frame; the tracking scope frees it before the next family runs
    val scope = new graft.operators.CacheScope
    try spansStatsPinned(docs, nDocs, n, scope) finally scope.close()
  }

  private def spansStatsPinned(docs: DataFrame, nDocs: Long, n: Int,
      scope: graft.operators.CacheScope): FamilyStats = {
    val occ = scope.pin(Dedup.spanOccurrences(docs, col("doc_id"), col("text"), n))
    val per = occ.groupBy("dg")
      .agg(count(lit(1)).as("cnt"), min("id").as("mn"), max("id").as("mx"))
      .filter(col("mn") =!= col("mx"))
    // bucket pairs keeps the shared column's meaning — Σ c·(c−1)/2 per
    // repeated digest (the volume a pair-enumerating join WOULD do) —
    // so the hot-digest quadratic signal is comparable across families
    val agg = per.agg(
      coalesce(count(lit(1)), lit(0L)), coalesce(sum("cnt"), lit(0L)),
      coalesce(max("cnt"), lit(0L)), coalesce(avg("cnt"), lit(0.0)),
      coalesce(sum(col("cnt") * (col("cnt") - 1) / 2), lit(0.0))).head
    val spans = Dedup.repeatedSpans(docs, col("doc_id"), col("text"), n, scope).count()
    FamilyStats(nDocs, agg.getLong(0), agg.getDouble(3), agg.getLong(2),
      agg.getDouble(4).toLong, agg.getLong(1), spans)
  }

  /** BPE-training measurements over PLAIN clones (ids offset, text
    * unchanged — so the vocabulary is IDENTICAL at every scale, the way
    * real corpus growth dwarfs vocabulary growth). The claims measured:
    *  - `vocab` is flat in the clone factor — so every merge iteration
    *    (a vocab-sized fold + a bounded pair aggregate) costs the same
    *    at 1× and 100×; only the single [[Bpe.wordFreq]] corpus pass
    *    scales with the data;
    *  - the learned RULE LIST is invariant: uniform R× scaling
    *    multiplies every pair count by R, so the argmax sequence (and
    *    its lexicographic tie-breaks) is unchanged — trained merges at
    *    100× must equal the 1× rules exactly, n scaled by R. */
  final case class BpeGrowth(rows: Long, vocab: Long, trainWall: Double,
      rules: Seq[Bpe.MergeRule])

  /** Plain clone r of a (doc_id, text) corpus: new ids, same text. */
  def clonedDocs(docs: DataFrame, s: Int): DataFrame =
    (0 until s).map { r =>
      if (r == 0) docs
      else docs.select((col("doc_id") + lit(r * ReplicaOffset)).as("doc_id"), col("text"))
    }.reduce(_ union _)

  def bpeGrowth(spark: SparkSession, docs: DataFrame, nMerges: Int,
                driverDrainMaxWords: Long = Bpe.DriverDrainMaxWords): BpeGrowth = {
    val rows = docs.count()
    val vocab = Bpe.wordFreq(docs, col("text")).count()
    val t0 = System.nanoTime()
    val rules = Bpe.train(spark, docs, col("text"), nMerges,
      driverDrainMaxWords = driverDrainMaxWords)
    BpeGrowth(rows, vocab, (System.nanoTime() - t0) / 1e9, rules)
  }

  /** WordPiece-training measurements over PLAIN clones (VERDICT r16
    * item 5): the vocabulary is flat in the clone factor, so the drain
    * gate's decision is clone-invariant (plain growth never flips it —
    * the gate watches the VOCABULARY, not the corpus), and a uniform
    * R× on every count divides every likelihood score by exactly R
    * (score_R = R·n / (R·nl · R·nr) = score₁/R) — order and
    * lexicographic ties hold, so the merge LIST is invariant with
    * counts scaled by R, PROVIDED the count floor scales with the
    * corpus (the scale-calibrated floor law: a FIXED floor admits
    * previously-excluded rare pairs as the corpus grows and the
    * sequence legitimately shifts — the WordPieceSpec divergence
    * control). `drained` records which path the measured gate picked,
    * so the flip point is a published number, and forcing the gate off
    * (maxWords = 0) must land on the identical merges — the flip
    * changes the PLAN, never the MODEL. */
  final case class WpGrowth(rows: Long, vocab: Long, chars: Long,
      drained: Boolean, trainWall: Double,
      merges: Seq[graft.operators.WordPiece.Merge])

  def wordpieceGrowth(spark: SparkSession, docs: DataFrame, nMerges: Int,
                      minFreq: Long,
                      driverDrainMaxWords: Long = Bpe.DriverDrainMaxWords): WpGrowth = {
    val rows = docs.count()
    val m = Bpe.wordFreq(docs, col("text"))
      .agg(count(lit(1)), coalesce(sum(length(col("word"))), lit(0L))).head()
    val (vocab, chars) = (m.getLong(0), m.getLong(1))
    val drained = vocab <= driverDrainMaxWords && chars <= Bpe.driverDrainMaxChars
    val t0 = System.nanoTime()
    val merges = graft.operators.WordPiece.train(spark, docs, col("text"),
      nMerges, minFreq, driverDrainMaxWords)
    WpGrowth(rows, vocab, chars, drained, (System.nanoTime() - t0) / 1e9, merges)
  }

  /** Lang-ID rate-model measurements over PLAIN clones of a labeled
    * `(doc_id, text, lang)` frame (VERDICT r16 item 5): per-class
    * bucket counts are ADDITIVE (clones add exactly R−1 more of each
    * count) and the rate weight is an exact integral division, so
    * `R·cnt div R·tot = cnt div tot` — the weight table is
    * BIT-INVARIANT over clones (the clfRatesGrowth claim with the
    * class in the key), counts exactly ×R, and the model stays
    * `L·(dim+1)`-row bounded at any corpus size. */
  final case class LangIdGrowth(rows: Long, modelRows: Long,
      weights: Map[(String, Long), Long], counts: Map[(String, Long), Long])

  def langIdGrowth(labeled: DataFrame, n: Int, dim: Int): LangIdGrowth = {
    import graft.operators.{CacheScope, LangId}
    val scope = new CacheScope
    try {
      val cc = scope.pin(LangId.classCounts(labeled, col("doc_id"), col("text"),
        col("lang"), n, dim))
      val w = LangId.weightsFromCounts(cc, scope)
      val wm = w.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val cm = cc.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      LangIdGrowth(labeled.count(), wm.size.toLong, wm, cm)
    } finally scope.close()
  }

  /** Unigram-tokenizer training measurements: the final model (pieces +
    * counts + weights) over PLAIN clones. A uniform R× on every
    * substring and char count leaves the seed top-k (ties break
    * lexicographically), every EM weight (ln(Rc/RT) = ln(c/T)), and
    * therefore the Viterbi segmentations and the final MODEL
    * bit-identical up to the R× counts — training cost beyond the one
    * corpus fold rides the bounded candidate set, never the corpus. */
  final case class UnigramGrowth(rows: Long, vocab: Long, trainWall: Double,
                                 model: Seq[graft.operators.Unigram.Piece])

  def unigramGrowth(spark: SparkSession, docs: DataFrame, vocabSize: Int,
                    seedSize: Int): UnigramGrowth = {
    import graft.operators.Unigram
    val rows = docs.count()
    val vocab = Bpe.wordFreq(docs, col("text")).count()
    val t0 = System.nanoTime()
    val model = Unigram.train(spark, docs, col("text"), vocabSize,
      emIters = 2, maxPieceLen = 4, seedSize = seedSize)
    UnigramGrowth(rows, vocab, (System.nanoTime() - t0) / 1e9, model)
  }

  /** Bigram-LM measurements over PLAIN clones (ids offset, text
    * unchanged — the realistic shape where corpus growth dwarfs
    * vocabulary growth): the MODEL (observed-bigram table) must be
    * EXACTLY flat in the clone factor — every count scales by R but
    * the bigram set does not — so training cost beyond the one corpus
    * fold and the per-document scoring joins ride a corpus-independent
    * artifact; scored documents scale exactly with the corpus. */
  final case class LmGrowth(rows: Long, modelRows: Long, vocab: Long, scored: Long)

  def lmGrowth(docs: DataFrame): LmGrowth = {
    import graft.operators.{CacheScope, NgramLm}
    val scope = new CacheScope
    try {
      val model = scope.pin(NgramLm.bigramModel(docs, col("doc_id"), col("text")))
      LmGrowth(docs.count(), model.count(),
        model.select("w2").distinct().count(),
        NgramLm.score(docs, col("doc_id"), col("text"), model).count())
    } finally scope.close()
  }

  /** The order-3 sibling: the trigram-count artifact (the WHOLE backoff
    * model — lower orders are marginals) must be exactly flat over
    * plain clones, with scoring linear, same as [[lmGrowth]]. */
  def lm3Growth(docs: DataFrame): LmGrowth = {
    import graft.operators.{CacheScope, NgramLm}
    val scope = new CacheScope
    try {
      val model = scope.pin(NgramLm.trigramModel(docs, col("doc_id"), col("text")))
      LmGrowth(docs.count(), model.count(),
        model.select("w3").distinct().count(),
        NgramLm.scoreBackoff(docs, col("doc_id"), col("text"), model).count())
    } finally scope.close()
  }

  /** The order-5 sibling: ONE observed-5-gram artifact is the whole
    * five-tier backoff model (every lower order a suffix marginal) —
    * must be exactly flat over plain clones, scoring linear. */
  def lm5Growth(docs: DataFrame): LmGrowth = {
    import graft.operators.{CacheScope, NgramLm}
    val scope = new CacheScope
    try {
      val model = scope.pin(
        NgramLm.ngramModel(docs, col("doc_id"), col("text"), order = 5))
      LmGrowth(docs.count(), model.count(),
        model.select("w5").distinct().count(),
        NgramLm.scoreBackoffN(docs, col("doc_id"), col("text"), model, order = 5).count())
    } finally scope.close()
  }

  /** Learned-classifier measurements over PLAIN clones of a labeled
    * `(doc_id, text, y)` frame: the weight TABLE is bounded by `dim+1`
    * rows at ANY corpus size (the whole point of feature hashing), and
    * a uniform R× on every occurrence scales each epoch's weights by
    * exactly R — scores scale by R, so every misclassification
    * decision (a sign test) is clone-invariant, giving `w_R = R·w_1`
    * and IDENTICAL keep decisions. Training cost beyond the one
    * feature pass rides the bounded weight table, never the corpus. */
  final case class ClfGrowth(rows: Long, weightRows: Long, trainWall: Double,
      weights: Map[Long, Long], nKeep: Long)

  /** Plain clone r of a labeled frame: new ids, same text and label. */
  def clonedLabeled(labeled: DataFrame, s: Int): DataFrame =
    (0 until s).map { r =>
      if (r == 0) labeled
      else labeled.withColumn("doc_id", col("doc_id") + lit(r * ReplicaOffset))
    }.reduce(_ unionByName _)

  def clfGrowth(labeled: DataFrame, n: Int, dim: Int, epochs: Int): ClfGrowth = {
    import graft.operators.QualityClassifier
    clfGrowthOf(labeled,
      QualityClassifier.train(labeled, col("doc_id"), col("text"), col("y"),
        n, dim, epochs), n, dim)
  }

  /** The closed-form (Rocchio rate-difference) sibling: exact integral
    * divisions make the model BIT-INVARIANT over plain clones
    * (R·cnt div R·tot == cnt div tot), a strictly stronger claim than
    * the perceptron's exact R-scaling. */
  def clfRatesGrowth(labeled: DataFrame, n: Int, dim: Int): ClfGrowth = {
    import graft.operators.QualityClassifier
    clfGrowthOf(labeled,
      QualityClassifier.trainRates(labeled, col("doc_id"), col("text"), col("y"),
        n, dim), n, dim)
  }

  private def clfGrowthOf(labeled: DataFrame, weights: DataFrame,
                          n: Int, dim: Int): ClfGrowth = {
    import graft.operators.{CacheScope, QualityClassifier}
    val rows = labeled.count()
    val t0 = System.nanoTime()
    val scope = new CacheScope
    try {
      val w = scope.pin(weights)
      val wm = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wall = (System.nanoTime() - t0) / 1e9
      val nKeep = QualityClassifier.score(labeled, col("doc_id"), col("text"), w, n, dim)
        .filter(col("keep") === 1).count()
      ClfGrowth(rows, wm.size.toLong, wall, wm, nKeep)
    } finally scope.close()
  }

  /** Corpus×corpus ANN-join measurements over [[scaledEmb]] clones:
    * the stride quantizer's centroid model GROWS with the corpus
    * (every 31st vector), so cell count scales linearly and per-cell
    * occupancy — hence the join's per-cell pair products and the
    * candidate total per left row — stays flat: the same
    * bucket-space-tracks-the-corpus invariant the adaptive LSH
    * families gate on, here for the co-located cell join. `hotCells`
    * counts cells whose pair product crosses the default grid-block
    * gate (healthy corpora: zero — the plain join IS the plan). */
  final case class AnnJoinGrowth(rows: Long, cells: Long, meanProduct: Double,
      maxProduct: Long, candidates: Long, hotCells: Long)

  def annJoinGrowth(spark: SparkSession, emb: DataFrame, s: Int,
                    dim: Int): AnnJoinGrowth = {
    val scope = new graft.operators.CacheScope // measurement-local pins
    try {
      val p = scope.pin(Similarity.prep(scaledEmb(emb, s, dim),
        col("vec_id"), col("embedding")))
      val cells = scope.pin(Similarity.ivfCellsMapSide(p, 31))
      val (l, r) = (cells.filter(col("id") % 2 === 0), cells.filter(col("id") % 2 === 1))
      val prod = scope.pin(l.groupBy("cell").agg(count(lit(1)).as("nl"))
        .join(r.groupBy("cell").agg(count(lit(1)).as("nr")), "cell")
        .select(col("cell"), (col("nl") * col("nr")).as("prod")))
      val agg = prod.agg(count(lit(1)), avg("prod"), max("prod"), sum("prod"),
        sum(when(col("prod") > graft.operators.AnnJoin.DefaultBlockPairs, 1L)
          .otherwise(0L))).head
      AnnJoinGrowth(p.count(), agg.getLong(0), agg.getDouble(1), agg.getLong(2),
        agg.getLong(3), agg.getLong(4))
    } finally scope.close()
  }

  /** Curation-funnel measurements over a PLAIN clone under FROZEN 1×
    * artifacts (VERDICT r15 item 5) — the deployed-model discipline: a
    * production pipeline trains its classifier and reference LM once
    * and runs them over the grown corpus. The clone offset is
    * divisible by 6 so the planted marker (`doc_id % 3`) and the
    * labeled half (`% 2`) replicate exactly; every replica then takes
    * IDENTICAL per-stage decisions, so the funnel's growth law is
    * exact, not statistical:
    *
    *  - input / gate / classifier / LM legs grow EXACTLY ×R (per-doc
    *    decisions replicate; the LM threshold is a mean whose
    *    numerator and denominator both scale by R, and
    *    `(R·S) div (R·C) = S div C` exactly);
    *  - the exact-dedup leg COLLAPSES to the 1× survivor count (every
    *    replica shares its original's digest and the original id is
    *    the min — the dedup stage catching all clones IS its job).
    *
    * Costs: one gate pass + one feature pass + one 5-gram join ladder
    * + one digest aggregate, each corpus-linear. */
  final case class FunnelGrowth(input: Long, gate: Long, clf: Long,
      lm: Long, exact: Long, wall: Double)

  /** Clone offset divisible by 6 (marker and label-half invariance). */
  private val FunnelOffset = 600000000L

  def curationFunnelGrowth(spark: SparkSession, docsRaw: DataFrame, s: Int): FunnelGrowth = {
    import graft.operators.{CacheScope, Dedup, NgramLm, QualityClassifier, TextStats}
    graft.GraftFunctions.ensure(spark)
    val scope = new CacheScope
    try {
      val marker = " curated reference corpus marker" * 3
      def planted(df: DataFrame): DataFrame = df
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(marker)))
            .otherwise(col("text")).as("text"))
      val pv1 = scope.pin(planted(docsRaw))
      // frozen 1x artifacts
      val w = scope.pin(QualityClassifier.trainRates(
        pv1.filter(col("doc_id") % 2 === 0)
          .withColumn("y", when(col("doc_id") % 3 === 0, 1).otherwise(-1)),
        col("doc_id"), col("text"), col("y"), 3, 512))
      w.count()
      val lmModel = scope.pin(NgramLm.prunedBackoffModel(
        docsRaw.filter(col("lang") === "en"), col("doc_id"), col("text"),
        order = 5, minCounts = Seq(1L, 1L, 2L, 2L, 2L)))
      lmModel.count()
      val pvN = scope.pin(planted(
        (0 until s).map { r =>
          if (r == 0) docsRaw
          else docsRaw.withColumn("doc_id", col("doc_id") + lit(r * FunnelOffset))
        }.reduce(_ unionByName _)))
      val t0 = System.nanoTime()
      val input = pvN.count()
      val gk = scope.pin(TextStats.withGateFlags(pvN, col("text"))
        .filter(col("keep")).select("doc_id"))
      val gate = gk.count()
      val ck = QualityClassifier.score(pvN, col("doc_id"), col("text"), w, 3, 512)
        .filter(col("score") <= 0).select(col("id").as("doc_id"))
      val s12 = scope.pin(gk.join(ck, Seq("doc_id"), "left_semi"))
      val clf = s12.count()
      val lms = scope.pin(NgramLm.scoreBackoffPruned(
          pvN.join(s12, Seq("doc_id"), "left_semi"),
          col("doc_id"), col("text"), lmModel, order = 5)
        .withColumnRenamed("id", "doc_id").select("doc_id", "avg_surprisal"))
      val thr = lms.agg(expr("sum(avg_surprisal) DIV count(1)").as("__t"))
      val lk = scope.pin(lms.crossJoin(broadcast(thr))
        .filter(col("avg_surprisal") <= col("__t")).select("doc_id"))
      val lmCount = lk.count()
      val ek = Dedup.exactByDigest(pvN.join(lk, Seq("doc_id"), "left_semi"),
        col("doc_id"), col("text")).select(col("keep_id").as("doc_id"))
      val exact = lk.join(ek, Seq("doc_id"), "left_semi").count()
      FunnelGrowth(input, gate, clf, lmCount, exact, (System.nanoTime() - t0) / 1e9)
    } finally scope.close()
  }

  /** MULTILINGUAL-funnel measurements over PLAIN clones under FROZEN
    * 1× artifacts (the [[curationFunnelGrowth]] discipline applied to
    * the q_multilingual_curation composition): the router trains once
    * on the 1× labeled half and the per-language reference LMs train
    * once on the 1× routed corpus; the grown corpus then routes and
    * scores under the frozen models. The clone offset is even, so the
    * labeled half replicates exactly; text is clone-identical, so
    * router predictions and per-document surprisals replicate — the
    * growth law is EXACT per language:
    *
    *  - routed / scored / LM-kept grow exactly ×R (each language's
    *    mean threshold is `(R·S) div (R·C) = S div C` exactly);
    *  - the per-language dedup leg COLLAPSES to the 1× distinct-digest
    *    count (every clone shares its original's digest).
    *
    * Per-language cost rides that language's share: one routing pass,
    * one keyed bigram join, one digest pass — each linear in the
    * language's rows. */
  final case class MlLangGrowth(lang: String, routed: Long, scored: Long,
      lmKept: Long, dedupKept: Long)

  def multilingualGrowth(spark: SparkSession, docsRaw: DataFrame,
                         s: Int): Seq[MlLangGrowth] = {
    import graft.operators.{CacheScope, LangId, NgramLm}
    graft.GraftFunctions.ensure(spark)
    val scope = new CacheScope
    try {
      val langs = Seq("de", "en", "es", "fr", "zh")
      // the q_langid_trained planted view (corpus lang labels are
      // text-independent; the marker restores the learnable signal)
      val markerCase = langs.foldRight(lit(null: String)) { (l, rest) =>
        when(col("lang") === l, s" ${l}corpusmark" * 3).otherwise(rest)
      }
      def planted(df: DataFrame): DataFrame = df
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), markerCase).as("text"))
      def routesOf(pv: DataFrame, w: DataFrame): DataFrame =
        LangId.score(pv, col("doc_id"), col("text"), w, langs, 3, 512)
          .select(col("id").as("doc_id"), col("predicted_lang"))
      // frozen 1x artifacts: the router...
      val w = scope.pin(LangId.trainRates(
        planted(docsRaw.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "lang", "text")),
        col("doc_id"), col("text"), col("lang"), 3, 512))
      w.count()
      // ...and the per-language reference LMs over the 1x routed corpus
      val routed1 = scope.pin(docsRaw.filter(col("text").isNotNull)
        .select("doc_id", "text")
        .join(routesOf(planted(docsRaw.select("doc_id", "lang", "text")), w),
          Seq("doc_id")))
      val model = scope.pin(NgramLm.bigramModelBy(
        routed1, col("doc_id"), col("text"), col("predicted_lang")))
      model.count()
      // the grown corpus under the frozen models
      val docsN = clonedLabeled(docsRaw.select("doc_id", "lang", "text"), s)
      val routedN = scope.pin(docsN.filter(col("text").isNotNull)
        .select("doc_id", "text")
        .join(routesOf(planted(docsN), w), Seq("doc_id")))
      val scored = scope.pin(NgramLm.scoreBy(
          routedN, col("doc_id"), col("text"), col("predicted_lang"), model, scope)
        .withColumnRenamed("k", "predicted_lang")
        .withColumnRenamed("id", "doc_id"))
      val thr = scored.groupBy("predicted_lang")
        .agg(expr("sum(avg_surprisal) DIV count(1)").as("__thr"))
      val kept = scope.pin(scored.join(broadcast(thr), Seq("predicted_lang"))
        .filter(col("avg_surprisal") <= col("__thr"))
        .select("predicted_lang", "doc_id"))
      val dd = routedN.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("predicted_lang"), md5(col("text").cast("binary")).as("__dg"))
        .distinct()
      val out = routedN.groupBy("predicted_lang").agg(count(lit(1)).as("n_routed"))
        .join(scored.groupBy("predicted_lang").agg(count(lit(1)).as("n_scored")),
          Seq("predicted_lang"), "left")
        .join(kept.groupBy("predicted_lang").agg(count(lit(1)).as("n_lm")),
          Seq("predicted_lang"), "left")
        .join(dd.groupBy("predicted_lang").agg(count(lit(1)).as("n_dd")),
          Seq("predicted_lang"), "left")
        .orderBy("predicted_lang")
        .collect()
      out.map(r => MlLangGrowth(r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4))).toSeq
    } finally scope.close()
  }

  /** Per-language NEAR-DUP growth (the q_multilingual_neardup leg):
    * one row per (language, scale). */
  final case class MlNearDupGrowth(lang: String, routed: Long,
      exactDistinct: Long, candPairs: Long, verPairs: Long, keep: Long)

  /** NEAR-CLONE replica r of the labeled corpus: same text plus ONE
    * replica-specific tail token — a paragraph-shape variant the exact
    * digest CANNOT collapse (every replica's digest differs) but the
    * banded MinHash chain MUST: with T tokens (every harness doc has
    * ≥ 10), original-vs-variant Jaccard is (T-2)/(T-1) and
    * variant-vs-variant (T-2)/T — both ≫ 0.6. This is the clone
    * transform that exercises the near-dup leg specifically; plain
    * clones would be eaten by the digest stage and perturbed clones
    * ([[scaledDocs]]) share no shingles at all. Carries `base_text`
    * (the parent's text) alongside the variant `text`: the trial
    * ROUTES on the parent — variants inherit their original's
    * partition the way a URL-keyed re-crawl does — so the measured law
    * is the NEAR-DUP leg's alone; content-routing boundary jitter (a
    * variant token CAN flip a borderline document's argmax — observed:
    * 2 of 500 harness docs) is the funnel trial's subject, not this
    * one's. */
  def nearClonedLabeled(labeled: DataFrame, s: Int): DataFrame =
    (0 until s).map { r =>
      if (r == 0) labeled.select(col("doc_id"), col("lang"),
        col("text"), col("text").as("base_text"))
      else labeled.select(
        (col("doc_id") + lit(r * ReplicaOffset)).as("doc_id"),
        col("lang"),
        concat(col("text"), lit(s" nearvariant$r")).as("text"),
        col("text").as("base_text"))
    }.reduce(_ unionByName _)

  /** The near-dup growth law under a FROZEN 1× router (the deployed
    * discipline), measured per language over [[nearClonedLabeled]]
    * variants:
    *
    *  - routed and exact-distinct legs grow ×R (every variant routes
    *    with its original — the planted marker dominates the one
    *    variant token — and every variant carries a distinct digest:
    *    the exact stage is structurally blind to these);
    *  - candidate/verified pairs grow ~R² WITHIN each original's
    *    variant clique — the pair graph is quadratic in clique size by
    *    definition, which is why the chain never materializes pairs
    *    outside LSH buckets and why [[graft.operators.PairEnum]]
    *    blocks hot buckets;
    *  - the KEEP count (cluster representatives) COLLAPSES to the 1×
    *    keep count per language: R variants, one survivor — the
    *    near-dup leg doing the job the digest stage cannot. */
  def multilingualNearDupGrowth(spark: SparkSession, docsRaw: DataFrame,
                                s: Int): Seq[MlNearDupGrowth] = {
    import graft.operators.{CacheScope, Dedup, LangId, PairEnum}
    graft.GraftFunctions.ensure(spark)
    val scope = new CacheScope
    try {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val markerCase = langs.foldRight(lit(null: String)) { (l, rest) =>
        when(col("lang") === l, s" ${l}corpusmark" * 3).otherwise(rest)
      }
      def planted(df: DataFrame): DataFrame = df
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), markerCase).as("text"))
      // frozen 1x router
      val w = scope.pin(LangId.trainRates(
        planted(docsRaw.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "lang", "text")),
        col("doc_id"), col("text"), col("lang"), 3, 512))
      w.count()
      val docsN = nearClonedLabeled(docsRaw.select("doc_id", "lang", "text"), s)
      // route on base_text (partition inheritance — see nearClonedLabeled)
      val routes = LangId.score(
        planted(docsN.select(col("doc_id"), col("lang"), col("base_text").as("text"))),
        col("doc_id"), col("text"), w, langs, 3, 512)
        .select(col("id").as("doc_id"), col("predicted_lang"))
      val routedN = scope.pin(docsN.filter(col("text").isNotNull)
        .select("doc_id", "text")
        .join(routes, Seq("doc_id")))
      // exact leg: per-language distinct digests (structurally ×R here)
      val exact = routedN
        .select(col("predicted_lang"), md5(col("text").cast("binary")).as("__dg"))
        .distinct()
        .groupBy("predicted_lang").agg(count(lit(1)).as("n_exact"))
      // near-dup leg: the q_multilingual_neardup chain
      val sig = scope.pin(Dedup.minhashSignatureArr(
        routedN, col("doc_id"), col("text"), n = 3, k = 8))
      val bands = Dedup.lshBands(sig, 8, 2)
        .join(routedN.select(col("doc_id").as("id"), col("predicted_lang")), Seq("id"))
      val cands = scope.pin(PairEnum.bucketPairs(
          bands, Seq("predicted_lang", "band_idx", "band_val")).distinct())
      val candIds = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id"))).distinct()
      val candDocs = routedN.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      val ver = scope.pin(Dedup.jaccardVerify(cands,
          Dedup.shinglesRaw(candDocs, col("doc_id"), col("text"), n = 3), 0.6)
        .join(routedN.select(col("doc_id").as("id_a"), col("predicted_lang")),
          Seq("id_a")))
      // keep = routed minus non-representative cluster members
      val dupMembers = Dedup.clusters(ver.select("id_a", "id_b"))
        .filter(col("id") =!= col("canon_id"))
        .select(col("id").as("doc_id"))
      val keep = routedN.join(dupMembers, Seq("doc_id"), "left_anti")
        .groupBy("predicted_lang").agg(count(lit(1)).as("n_keep"))
      val out = routedN.groupBy("predicted_lang").agg(count(lit(1)).as("n_routed"))
        .join(exact, Seq("predicted_lang"), "left")
        .join(cands.join(routedN.select(col("doc_id").as("id_a"),
              col("predicted_lang")), Seq("id_a"))
            .groupBy("predicted_lang").agg(count(lit(1)).as("n_cand")),
          Seq("predicted_lang"), "left")
        .join(ver.groupBy("predicted_lang").agg(count(lit(1)).as("n_ver")),
          Seq("predicted_lang"), "left")
        .join(keep, Seq("predicted_lang"), "left")
        .orderBy("predicted_lang")
        .collect()
      out.map(r => MlNearDupGrowth(r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3),
        if (r.isNullAt(4)) 0L else r.getLong(4),
        if (r.isNullAt(5)) 0L else r.getLong(5))).toSeq
    } finally scope.close()
  }

  /** mT5 sampled-tokenizer-corpus growth (the q_tokenizer_mix leg):
    * per-language routed/sampled counts with the analytic admission
    * expectation, plus the shared-vocab top pairs over the sample. */
  final case class TokMixGrowth(langs: Seq[(String, Long, Long, Double)],
      topPairs: Seq[(String, String, Long)])

  /** Measure the α-sampling composition under a FROZEN 1× router over
    * plain clones: routed counts grow exactly ×R; per-language
    * ADMISSIONS track the analytic policy `n·thresh/2^32` (the draw is
    * a fixed per-id fact, so each scale is asserted against its OWN
    * expectation — the temperatureMix growth-gate discipline); and the
    * shared-vocab corpus pass's TOP PAIR RANKING over the sample stays
    * stable (pair-count gaps dwarf admission noise). */
  def tokenizerMixGrowth(spark: SparkSession, docsRaw: DataFrame,
                         s: Int): TokMixGrowth = {
    import graft.operators.{Bpe, CacheScope, LangId, Sample}
    graft.GraftFunctions.ensure(spark)
    val scope = new CacheScope
    try {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val markerCase = langs.foldRight(lit(null: String)) { (l, rest) =>
        when(col("lang") === l, s" ${l}corpusmark" * 3).otherwise(rest)
      }
      def planted(df: DataFrame): DataFrame = df
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), markerCase).as("text"))
      val w = scope.pin(LangId.trainRates(
        planted(docsRaw.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "lang", "text")),
        col("doc_id"), col("text"), col("lang"), 3, 512))
      w.count()
      val docsN = clonedLabeled(docsRaw.select("doc_id", "lang", "text"), s)
      val routedN = scope.pin(docsN.filter(col("text").isNotNull)
        .select("doc_id", "text")
        .join(LangId.score(planted(docsN), col("doc_id"), col("text"), w, langs, 3, 512)
          .select(col("id").as("doc_id"), col("predicted_lang")), Seq("doc_id")))
      val sampled = scope.pin(
        Sample.temperatureMix(routedN, col("doc_id"), col("predicted_lang")))
      val perLang = routedN.groupBy("predicted_lang").agg(count(lit(1)).as("n_routed"))
        .join(sampled.groupBy("predicted_lang").agg(count(lit(1)).as("n_sampled"),
            // thresh is constant per domain — min() just projects it
            min("thresh").as("__th"), min("n_dom").as("__nd")),
          Seq("predicted_lang"), "left")
        .orderBy("predicted_lang")
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2),
          if (r.isNullAt(3)) 0d
          else r.getLong(4).toDouble * r.getLong(3) / 4294967296d)).toSeq
      val pairs = Bpe.pairCounts(Bpe.withSymbols(Bpe.wordFreq(sampled, col("text"))))
        .orderBy(desc("n"), asc("lhs"), asc("rhs")).limit(10)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      TokMixGrowth(perLang, pairs)
    } finally scope.close()
  }

  /** k-center traversal measurements: the ladder is k sequential
    * rounds, so the DRIVER JOB COUNT must ride k alone — the same k at
    * 1× and R× must submit the SAME number of jobs (each job's inside
    * is the corpus-linear part). Jobs are counted by job group via the
    * status tracker, polled to stability (listener delivery is
    * asynchronous). */
  final case class KCenterGrowth(rows: Long, k: Int, jobs: Int,
      lastDist: Long, wall: Double)

  def kcenterGrowth(spark: SparkSession, emb: DataFrame, s: Int, k: Int,
                    dim: Int = 64): KCenterGrowth = {
    val scope = new graft.operators.CacheScope
    try {
      val p = scope.pin(scaledEmb(emb, s, dim))
      val rows = p.count()
      val tag = s"kcenter_${s}x_${k}_${System.nanoTime()}"
      spark.sparkContext.setJobGroup(tag, tag)
      val t0 = System.nanoTime()
      val ladder =
        try Similarity.selectKCenter(p, col("vec_id"), col("embedding"), k)
          .orderBy("step").collect()
        finally spark.sparkContext.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      var prev = -1
      var cur = spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
      while (cur != prev) {
        Thread.sleep(200)
        prev = cur
        cur = spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
      }
      require(ladder.length == k, s"kcenter: expected $k rows, got ${ladder.length}")
      KCenterGrowth(rows, k, cur, ladder.last.getLong(2), wall)
    } finally scope.close()
  }
}
