package graft.queries

import graft.Tables
import graft.operators.{CacheScope, Dedup, SetSimJoin, StableAgg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup family over the harness tables (the testdata plants real
  * duplicates: ~14k repeated (l_orderkey, l_linenumber) pairs in
  * lineitem and near-duplicate documents at Jaccard ≈ 0.98).
  *
  * q_dedup_minhash is the full banded-LSH pipeline: shingle → 8 MinHash
  * functions → 4 bands of 2 → bucket self-join → exact Jaccard ≥ 0.6 on
  * candidates only. The DuckDB oracle replays the identical algorithm,
  * so bucketing, hashing, and verification are all value-checked.
  */
object DedupQueries extends QueryModule {

  // shared with the multilingual keyed near-dup (TextQueries) so the
  // two families can never drift apart on LSH geometry
  private[queries] val K = 8
  private[queries] val BandWidth = 2
  private[queries] val Threshold = 0.6

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactByKey(
      Tables.lineitem(spark, sfDir), Seq("l_orderkey", "l_linenumber"),
      Seq(
        min(col("l_partkey")).as("min_partkey"),
        min(col("l_suppkey")).as("min_suppkey"),
        Rnd.r(StableAgg.ssum(col("l_extendedprice")), 2).as("total_price")))
      .orderBy("l_orderkey", "l_linenumber")

  /** Exact text dedup by DIGEST: the exchange carries 16-byte md5s and
    * two small aggregates, never document bytes — what exact corpus
    * dedup has to look like at 100 TB. */
  def dedupExactText(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactByDigest(Tables.documents(spark, sfDir), col("doc_id"), col("text"))
      .orderBy("keep_id")

  /** Exact dedup over NORMALIZED text (lowercase, punctuation →
    * space, whitespace collapsed): reformatted copies collapse to one
    * canonical digest — the normalize-then-hash first stage every
    * production dedup pipeline runs before near-dup detection. Same
    * digest-only exchange as q_dedup_exact_text. */
  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactByDigest(Tables.documents(spark, sfDir), col("doc_id"),
      graft.operators.TextStats.normalized(col("text")))
      .orderBy("keep_id")

  /** q_dedup_minhash stays the LIVE producer (the q_curation_pipeline
    * discipline): its run exercises the full signature → band → bucket
    * → verify build path on the hash-exact gate, while every OTHER
    * consumer reads the published [[verifiedPairsStore]]. */
  def dedupMinhash(spark: SparkSession, sfDir: String,
                   scope: CacheScope = CacheScope.unmanaged): DataFrame =
    verifiedPairsLive(spark, sfDir, scope).orderBy("id_a", "id_b")

  /** Incremental ingestion dedup: the corpus splits 80/20 by
    * doc_id mod 10 into OLD state and the NEW batch; output = verified
    * near-dup pairs TOUCHING the batch. The old side contributes only
    * its (persisted-state-shaped) band assignments to one probe join —
    * no old×old pairing ever happens
    * ([[graft.operators.Dedup.incrementalCandidates]]). Per-doc MinHash
    * signatures are corpus-independent, so the incremental pair set
    * equals the full-corpus pair set restricted to the batch — which is
    * exactly what the oracle computes. */
  /** The 80/20 OLD/NEW split predicate shared by every incremental
    * member (docs with `doc_id mod 10 >= 8` are the arriving batch). */
  private def isNewDoc = pmod(col("doc_id"), lit(10)) >= 8

  /** The OLD side's signatures are the pipeline's persisted state — an
    * incremental dedup keeps them on disk between batches and only ever
    * computes signatures for the arriving batch. Model that literally:
    * build the old-state store once per JVM, read it thereafter. */
  private def sigOldStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "minhash_sig_old", sfDir)(
      Dedup.minhashSignatureArr(
        Tables.documents(spark, sfDir).filter(!isNewDoc),
        col("doc_id"), col("text"), n = 3, k = K))

  def dedupIncremental(spark: SparkSession, sfDir: String,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isNew = isNewDoc
    val sigNew = scope.pin(Dedup.minhashSignatureArr(
      docs.filter(isNew), col("doc_id"), col("text"), n = 3, k = K))
    val sigOld = sigOldStore(spark, sfDir)
    val cands = scope.pin(Dedup.incrementalCandidates(
      Dedup.lshBands(sigNew, K, BandWidth), Dedup.lshBands(sigOld, K, BandWidth)))
    val candIds = cands.select(col("id_a").as("doc_id"))
      .union(cands.select(col("id_b").as("doc_id"))).distinct()
    val candDocs = docs.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    Dedup.jaccardVerify(
      cands, Dedup.shinglesRaw(candDocs, col("doc_id"), col("text"), n = 3), Threshold)
      .orderBy("id_a", "id_b")
  }

  /** Canonicalization over the verified near-dup pairs: connected
    * components → (doc_id, canon_id = min doc of the cluster) — the
    * keep-one-representative step. Oracled via DuckDB's RECURSIVE
    * transitive closure over the identical pair chain. The closure
    * COMPUTATION stays live here (this query is its producer gate);
    * the pairs come off the published store, and every other
    * label consumer reads [[clusterLabelsStore]]. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.clusters(verifiedPairsStore(spark, sfDir).select("id_a", "id_b"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** The LIVE verified-pair derivation — shingle → MinHash → LSH bands
    * → bucket self-join → exact-Jaccard verify. Exactly two callers:
    * [[dedupMinhash]] (the producer query on the hash-exact gate) and
    * the [[verifiedPairsStore]] build. */
  private def verifiedPairsLive(spark: SparkSession, sfDir: String,
                                scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Signatures fold per-document over the in-row shingle array — the
    // corpus-wide shingle stream is never materialized for this branch.
    // The signature frame (|docs| rows) feeds both sides of the bucket
    // self-join; the candidate frame (|pairs| rows) feeds the id
    // semi-join and both verify probes. Both are tiny — pin them.
    val sig = scope.pin(
      Dedup.minhashSignatureArr(docs, col("doc_id"), col("text"), n = 3, k = K))
    val cands = scope.pin(Dedup.candidatePairs(Dedup.lshBands(sig, K, BandWidth)))
    // Exact-Jaccard verification only ever looks at candidate ids, so
    // shingle explosion is confined to candidate DOCUMENTS up front
    // (LSH candidates are a vanishing fraction of the corpus);
    // jaccardVerify's internal candidate-id semi-join is a no-op on the
    // pre-filtered stream.
    val candIds = cands.select(col("id_a").as("doc_id"))
      .union(cands.select(col("id_b").as("doc_id"))).distinct()
    val candDocs = docs.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    Dedup.jaccardVerify(cands, Dedup.shinglesRaw(candDocs, col("doc_id"), col("text"), n = 3), Threshold)
  }

  /** The corpus's verified near-dup PAIR GRAPH as a published artifact
    * (VERDICT r16 item 1 — the [[CurationQueries]] curationStore
    * discipline applied to the last expensive recomputed chain): at
    * 100 TB a dedup service derives the pair graph ONCE per corpus
    * snapshot and persists it; quality-signal reports, split
    * assignment, and curation pipelines consume the store. Built once
    * per (JVM, scale) by the same live chain q_dedup_minhash gates;
    * every consumer's oracle still replays the full chain, so a
    * drifted store breaks their hash gates. */
  private[queries] def verifiedPairsStore(spark: SparkSession, sfDir: String): DataFrame = {
    val scope = new CacheScope // build-only pins; parquet outlives them
    try FrameFixture(spark, "neardup_pairs", sfDir)(
      verifiedPairsLive(spark, sfDir, scope))
    finally scope.close()
  }

  /** The connected-component CLUSTER LABELS over [[verifiedPairsStore]]
    * as a published artifact — `(id, canon_id)`, the frame every
    * "drop non-canonical members" / "pin split to representative"
    * consumer joins against. The closure computation itself stays live
    * (and oracle-gated) in q_dedup_clusters. */
  private[queries] def clusterLabelsStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "neardup_labels", sfDir)(
      Dedup.clusters(verifiedPairsStore(spark, sfDir).select("id_a", "id_b")))

  /** 16-bit SimHash fingerprint per document. Served from the per-JVM
    * fingerprint store ([[FrameFixture]] — a signature table is a
    * persisted artifact, recomputed only when documents change); the
    * store build runs the live [[Dedup.simhash]] pass and the oracle
    * hash-gates every value. The compute pass also stays live (at
    * adaptive width) inside q_dedup_simhash_pairs. */
  private def simhashStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "simhash16", sfDir)(
      Dedup.simhash(Tables.documents(spark, sfDir), col("doc_id"), col("text")))

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashStore(spark, sfDir)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** SimHash near-dup MATCHING: banded bucket join over CORPUS-ADAPTIVE
    * signatures (4 bands of ⌈log₂ n⌉ ≥ 8 bits each — a fixed 32-bit
    * signature's 4·2⁸ bucket space saturates as the corpus grows;
    * ScaleGrowthSpec measured occupancy 10.5 → 22.3 over a 10× clone, the
    * road to all-pairs) + native `hamming_dist` verification at radius
    * 2. The signature frame is pinned inside the adaptive wrapper (it
    * feeds both sides of the bucket self-join; same caller cache
    * contract as minhash). */
  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashPairsAdaptive(
      Tables.documents(spark, sfDir), col("doc_id"), col("text"), maxDist = 2)
      .orderBy("id_a", "id_b")

  /** The end-to-end "dedup the corpus" step: drop every document that
    * belongs to a near-dup cluster but is NOT its canonical (min-id)
    * representative. The non-canonical id set is cluster-graph-sized →
    * broadcast anti-join; the corpus itself never shuffles. Returns the
    * keep-list with provenance (kept docs + whether they were a cluster
    * representative). */
  def dedupKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val labels = clusterLabelsStore(spark, sfDir)
    val drop = labels.filter(col("id") =!= col("canon_id"))
      .select(col("id").as("__drop_id"))
    val reps = labels.filter(col("id") === col("canon_id"))
      .select(col("id").as("__rep_id"))
    docs.join(broadcast(drop), col("doc_id") === col("__drop_id"), "left_anti")
      .join(broadcast(reps), col("doc_id") === col("__rep_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        col("__rep_id").isNotNull.cast("int").as("is_cluster_rep"))
      .orderBy("doc_id")
  }

  /** The decontamination family's shared fingerprint STORE: winnow
    * fingerprints (n=3, w=4) over the whole corpus, built once per JVM
    * and persisted under scratch ([[FrameFixture]]). Four queries join
    * against it (q_decontaminate, q_decontaminate_bloom,
    * q_contamination_score, q_corpus_pipeline) — exactly the artifact a
    * production pipeline keeps on disk next to the corpus. The winnow
    * PASS itself stays live-computed and oracle-gated in
    * q_dedup_winnow. */
  private[queries] def winnowStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "winnow_fps", sfDir)(
      Dedup.winnowFingerprints(
        Tables.documents(spark, sfDir), col("doc_id"), col("text"), n = 3, w = 4))

  /** Decontamination: the "eval set" stand-in is every 50th document;
    * any document sharing a winnowing fingerprint with it (the eval
    * docs themselves, plus near-verbatim overlaps) is dropped. One
    * fingerprint store feeds both sides — winnowing is per-document, so
    * the eval subset's fingerprints are just its rows of the corpus
    * frame. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val fps = winnowStore(spark, sfDir)
    val evalFps = fps.filter(pmod(col("id"), lit(50)) === 0)
    Dedup.decontaminate(docs, col("doc_id"), fps, evalFps)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Bloom-gated decontamination: the same eval set and the same exact
    * output as [[decontaminate]], but the corpus fingerprints pass a
    * codegen'd `bloom_contains` scan filter first — the mid-size-eval-
    * set scale path (bloom broadcasts where a hash relation wouldn't).
    * Oracled against the exact SQL: the verify step makes the bloom's
    * false positives unobservable. */
  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val fps = winnowStore(spark, sfDir)
    val evalFps = fps.filter(pmod(col("id"), lit(50)) === 0)
    Dedup.bloomDecontaminate(docs, col("doc_id"), fps, evalFps)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Winnowed fingerprints: window w=4 over 3-gram shingle hashes. */
  def dedupWinnow(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.winnowFingerprints(
      Tables.documents(spark, sfDir), col("doc_id"), col("text"), n = 3, w = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "fp")

  private[queries] val SpanN = 8

  /** Substring-level exact dedup ([[Dedup.repeatedSpans]]): maximal
    * verbatim ≥8-token spans repeated across documents — the removal
    * list of the Lee et al. exact-substring curation step. The corpus's
    * planted near-duplicates share nearly their whole text, so their
    * anchors coalesce into document-length spans; the oracle replays
    * digest anchors and the gaps-and-islands merge in SQL. */
  def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.repeatedSpans(Tables.documents(spark, sfDir), col("doc_id"), col("text"), SpanN)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")

  /** The span-removal APPLY step ([[Dedup.removeRepeatedSpans]]): the
    * corpus with every repeated span deleted in place — span lists ride
    * one small join, deletion is a narrow in-row array filter; the
    * oracle rebuilds clean text by token-level anti-join + ordered
    * string_agg. */
  def dedupSpansApply(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.removeRepeatedSpans(Tables.documents(spark, sfDir), col("doc_id"), col("text"), SpanN)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Boilerplate gram length + list budget — 3-grams (boilerplate
    * phrases are short) and a 150-phrase strip list; the SAME literals
    * feed both engines. */
  private[queries] val BoilN = 3
  private[queries] val BoilTopM = 150

  /** FREQUENCY-based boilerplate spans ([[Dedup.boilerplateSpans]]):
    * maximal windows anchored at the corpus's [[BoilTopM]] most
    * document-frequent [[BoilN]]-grams — the repeated-boilerplate
    * strip next to [[dedupSpans]]' pairwise-match member (text whose
    * problem is corpus frequency, not a shared source). The oracle
    * replays the distinct-doc frequency rank, the deterministic
    * (n_docs DESC, digest) cut, and the islands merge. */
  def boilerplateSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.boilerplateSpans(Tables.documents(spark, sfDir), col("doc_id"),
        col("text"), BoilN, BoilTopM)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")

  /** The boilerplate APPLY step ([[Dedup.removeBoilerplate]]): the
    * corpus with every boilerplate span deleted in place — the same
    * small-join + in-row-filter shape as [[dedupSpansApply]]. */
  def boilerplateApply(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.removeBoilerplate(Tables.documents(spark, sfDir), col("doc_id"),
        col("text"), BoilN, BoilTopM)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** The persisted strip-list artifact: top-[[BoilTopM]] digests over
    * the OLD corpus (`doc_id % 10 < 8`) — an incremental pipeline
    * freezes this list and applies it to every arriving batch; the
    * list drifts only when deliberately rebuilt. */
  private def boilListStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "boilerplate_top", sfDir)(
      Dedup.boilerplateDigests(
        Tables.documents(spark, sfDir).filter(col("doc_id") % 10 < 8),
        col("doc_id"), col("text"), BoilN, BoilTopM))

  /** INCREMENTAL boilerplate strip (q_boilerplate_incr): the arriving
    * 20% batch's spans under the FROZEN old-corpus strip list —
    * [[Dedup.evalOverlapSpans]] pointed at the boilerplate artifact
    * (per-batch cost = batch grams + one M-row broadcast probe; the
    * old corpus is never re-read). The oracle replays the old-side
    * top-M cut and restricts anchors to batch documents. */
  def boilerplateIncr(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.evalOverlapSpans(
        Tables.documents(spark, sfDir).filter(col("doc_id") % 10 >= 8),
        col("doc_id"), col("text"),
        broadcast(boilListStore(spark, sfDir)), BoilN)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")

  /** Incremental substring dedup ([[Dedup.incrementalRepeatedSpans]]):
    * the corpus splits 80/20 into OLD state and the NEW batch (the
    * q_dedup_incremental split); output = repeated spans in batch
    * documents only. The old side contributes ONLY its persisted
    * digest-set state ([[FrameFixture]] — membership, not positions);
    * per-batch cost is batch grams + one state probe, never an old
    * re-read. The oracle computes full-corpus spans restricted to
    * batch ids — exactly equal by the state-membership argument on
    * the operator. */
  private def spanStateStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "span_digest_state", sfDir)(
      Dedup.spanDigestState(
        Tables.documents(spark, sfDir).filter(!isNewDoc),
        col("doc_id"), col("text"), SpanN))

  def dedupSpansIncr(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val state = spanStateStore(spark, sfDir)
    Dedup.incrementalRepeatedSpans(
        docs.filter(isNewDoc), col("doc_id"), col("text"), state, SpanN)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")
  }

  /** Paragraph-decontamination granularity: ≥4-token verbatim grams —
    * below [[SpanN]] because an eval QUOTE is shorter than a wholesale
    * duplicate, and the planted corpus only shares sub-8-token phrasing
    * outside its near-dup pairs (8 would leave a 1-row surface). */
  private val EvalSpanN = 4

  /** The eval set's span-digest store ([[Dedup.spanDigestState]] over
    * this query's every-10th eval split at [[EvalSpanN]]) — 16 bytes
    * per distinct gram, the persisted artifact a pipeline keeps next to
    * its eval suites. (q_decontaminate's winnow family keeps its own
    * every-50th split; the span query uses a denser one so the oracled
    * surface spans many documents, not one.) */
  private def evalDigestStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "eval_span_digests", sfDir)(
      Dedup.spanDigestState(
        Tables.documents(spark, sfDir).filter(pmod(col("doc_id"), lit(10)) === 0),
        col("doc_id"), col("text"), EvalSpanN))

  /** PARAGRAPH-level decontamination ([[Dedup.evalOverlapSpans]]):
    * maximal verbatim ≥[[EvalSpanN]]-token spans of non-eval corpus
    * documents that also appear in the eval set — eval overlap caught
    * BELOW document granularity (q_decontaminate's whole-doc drop is
    * the blunt variant; this reports exactly WHAT leaked, for span
    * removal or a budget policy). The eval digest store rides a
    * broadcast semi join; the corpus crosses one narrow gram pass and
    * never shuffles. */
  def decontaminateSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.evalOverlapSpans(
        Tables.documents(spark, sfDir).filter(pmod(col("doc_id"), lit(10)) =!= 0),
        col("doc_id"), col("text"),
        broadcast(evalDigestStore(spark, sfDir)), EvalSpanN)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")

  /** Paragraph-decontamination APPLY ([[Dedup.removeEvalOverlaps]]):
    * the non-eval corpus with every verbatim eval quote DELETED — the
    * surgical sibling of q_decontaminate's whole-doc drop (the doc
    * keeps everything but the leaked span) and the downstream step
    * q_decontaminate_spans' report feeds. Same plan shape as
    * q_dedup_spans_apply: span list → one row per affected doc →
    * in-row token filter; the corpus never shuffles. */
  def decontaminateSpansApply(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.removeEvalOverlaps(
        Tables.documents(spark, sfDir).filter(pmod(col("doc_id"), lit(10)) =!= 0),
        col("doc_id"), col("text"),
        broadcast(evalDigestStore(spark, sfDir)), EvalSpanN)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Contamination FRACTION per document (the gray-zone instrument):
    * same winnow fingerprints and eval set as q_decontaminate, but
    * instead of a binary drop every doc reports how MUCH of it overlaps
    * the eval set — the threshold/band/keep policy input. */
  def contaminationScore(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = winnowStore(spark, sfDir)
    val evalFps = fps.filter(pmod(col("id"), lit(50)) === 0)
    Dedup.contaminationScore(fps, evalFps)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Per-document contamination permille as a published artifact (the
    * [[verifiedPairsStore]] discipline): the score join runs once per
    * (JVM, scale); report consumers (q_quality_signals) read the
    * store. q_contamination_score stays the live producer gate. */
  private[queries] def contaminationStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "contamination_pm", sfDir) {
      val fps = winnowStore(spark, sfDir)
      Dedup.contaminationScore(fps, fps.filter(pmod(col("id"), lit(50)) === 0))
        .withColumnRenamed("id", "doc_id")
    }

  /** Leakage-aware split assignment: near-dup clusters (the
    * q_dedup_clusters labels) pin every member's split to the cluster
    * representative's hash, so no near-duplicate pair straddles
    * train/val/test. */
  def splitByCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val labels = clusterLabelsStore(spark, sfDir)
    Dedup.splitByCluster(
      docs.select(col("doc_id"), col("lang"), col("source")), col("doc_id"), labels,
      nSplits = 10)
      .orderBy("doc_id")
  }

  /** The FLAGSHIP corpus-preparation composition — what a training-data
    * user actually runs, as ONE plan: exact text dedup → near-dup
    * keep-list → eval-set decontamination → repetition quality gate →
    * leakage-aware split assignment. Every stage is an
    * individually-oracled operator; composing them exercises the
    * filters as a conjunction and shares the cluster labels between the
    * keep filter and the split decoration (computed once, cached).
    * Scale shape is inherited: the corpus crosses one digest aggregate
    * and one semi-join; clusters/eval/dropped sets ride broadcasts. */
  def corpusPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // 1. exact dedup: keep the min doc_id per content digest
    val exactKeep = Dedup.exactByDigest(docs, col("doc_id"), col("text"))
      .select(col("keep_id").as("doc_id"))
    val exact = docs.join(exactKeep, Seq("doc_id"), "left_semi")
    // 2. near-dup labels — the published store feeds the drop filter
    // AND the split (a parquet read per use, no session-cache pin)
    val labels = clusterLabelsStore(spark, sfDir)
    val dropped = labels.filter(col("id") =!= col("canon_id")).select(col("id").as("__drop"))
    val deduped = exact.join(broadcast(dropped), col("doc_id") === col("__drop"), "left_anti")
    // 3. decontamination (same winnow store + eval set as q_decontaminate)
    val fps = winnowStore(spark, sfDir)
    val evalFps = fps.filter(pmod(col("id"), lit(50)) === 0)
    val clean = Dedup.decontaminate(deduped, col("doc_id"), fps, evalFps)
    // 4. repetition quality gate (the q_text_repetition thresholds)
    val gated = graft.operators.TextStats.withRepetition(clean, col("text"))
      .filter(col("n_words") >= 5 && col("dup_word_permille") <= 700)
      .select("doc_id", "lang", "source")
    // 5. split by cluster representative — no near-dup pair straddles
    Dedup.splitByCluster(gated, col("doc_id"), labels, nSplits = 10)
      .orderBy("doc_id")
  }

  /** Fuzzy entity matching ([[graft.operators.EditDist]]): every pair
    * of DISTINCT customer names within ONE edit (the typo-radius
    * entity-resolution join) — q-gram count-filter prefix candidates,
    * codegen'd levenshtein verify, deliberately brute-force oracle (a
    * candidate the prefix filter wrongly skips is a missing row). */
  def fuzzyPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.customer(spark, sfDir).select(col("c_name").as("name")).distinct()
    // ID-style names are the HARD case for any fuzzy join: the true
    // result itself is huge (262k pairs over 15k distinct names at
    // sf0.1 — every name neighbors many), so the ~7.5 s sf0.1 cost is
    // workload, not plan waste: the same result takes the DuckDB
    // brute-force oracle ~18 s. q=3 cubes the gram space (digit-dense
    // strings make every 2-gram common; measured slightly better).
    graft.operators.EditDist.similarPairs(names, col("name"), col("name"),
        maxDist = 1, q = 3)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("dist"))
      .orderBy("name_a", "name_b")
  }

  /** Name number = the digits after `Customer#` — the deterministic
    * split key both engines can compute (hash functions differ across
    * engines; the name's own digits don't). */
  private def nameNum = substring(col("name"), 10, 18).cast("long")

  /** Cross-collection fuzzy entity matching
    * ([[graft.operators.EditDist.similarJoin]]): even-numbered customer
    * names (the "master catalog") vs odd-numbered ones (the "new
    * scrape") within ONE edit — the catalog-vs-scrape ER shape of
    * q_simjoin_cross, on the edit-distance metric. One shared
    * gram-frequency order drives both prefixes; brute-force DuckDB
    * oracle (a candidate the shared-prefix filter wrongly skips is a
    * missing row). */
  def fuzzyCross(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.customer(spark, sfDir).select(col("c_name").as("name")).distinct()
    graft.operators.EditDist.similarJoin(
      names.filter(pmod(nameNum, lit(2)) === 0), col("name"), col("name"),
      names.filter(pmod(nameNum, lit(2)) === 1), col("name"), col("name"),
      maxDist = 1, q = 3)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("dist"))
      .orderBy("name_a", "name_b")
  }

  /** Incremental fuzzy matching
    * ([[graft.operators.EditDist.incrementalSimilarPairs]]): the names
    * split 80/20 into OLD state and the NEW batch (the
    * q_dedup_incremental split); output = within-one-edit pairs
    * TOUCHING the batch. The old side contributes ONLY its persisted
    * gram-index + gram-frequency state ([[FrameFixture]] — the on-disk
    * artifacts an ingestion pipeline keeps); per-batch cost is batch
    * grams + one state probe, never an old re-read. The oracle computes
    * full-corpus brute-force pairs restricted to the batch — exactly
    * equal by the shared-order prefix lemma on the operator. */
  private def oldNames(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_name").as("name")).distinct()
      .filter(!(pmod(nameNum, lit(10)) >= 8))

  private def gramStateStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "editdist_gram_state", sfDir)(
      graft.operators.EditDist.gramState(
        oldNames(spark, sfDir), col("name"), col("name"), maxDist = 1, q = 3))

  private def gramFreqStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "editdist_gram_freq", sfDir)(
      graft.operators.EditDist.gramFreqState(
        oldNames(spark, sfDir), col("name"), col("name"), maxDist = 1, q = 3))

  def fuzzyIncr(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.customer(spark, sfDir).select(col("c_name").as("name")).distinct()
    val isNew = pmod(nameNum, lit(10)) >= 8
    val state = gramStateStore(spark, sfDir)
    val freq = gramFreqStore(spark, sfDir)
    graft.operators.EditDist.incrementalSimilarPairs(
      names.filter(isNew), col("name"), col("name"), state, freq,
      maxDist = 1, q = 3)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("dist"))
      .orderBy("name_a", "name_b")
  }

  /** EXACT similarity self-join ([[SetSimJoin]], prefix filtering):
    * every 3-gram-Jaccard >= 0.6 pair, deterministically — the
    * no-false-negative counterpart of the minhash path. The oracle is
    * BRUTE FORCE (all shingle-sharing pairs verified in SQL, no
    * LSH replay), so a candidate the prefix filter wrongly skips is a
    * missing row, not a reproduced bug. */
  def simJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Dedup.shingles(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), n = 3)
      .withColumnRenamed("shingle", "token")
    SetSimJoin.similarPairs(toks, Threshold)
      .orderBy("id_a", "id_b")
  }

  /** Cross-collection entity resolution ([[SetSimJoin.similarJoin]]):
    * even-id docs vs odd-id docs, every cross pair at 3-gram Jaccard
    * >= 0.6 — the catalog-vs-scrape matching shape. Brute-force oracle
    * again (all cross shingle-sharing pairs). */
  def simJoinCross(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Dedup.shingles(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), n = 3)
      .withColumnRenamed("shingle", "token")
    SetSimJoin.similarJoin(
      toks.filter(col("id") % 2 === 0), toks.filter(col("id") % 2 === 1),
      Threshold)
      .orderBy("id_a", "id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_simjoin" -> simJoin,
    "q_simjoin_cross" -> simJoinCross,
    "q_fuzzy_pairs" -> fuzzyPairs,
    "q_fuzzy_cross" -> fuzzyCross,
    "q_fuzzy_incr" -> fuzzyIncr,
    "q_corpus_pipeline" -> corpusPipeline,
    "q_dedup_exact" -> dedupExact,
    "q_dedup_exact_text" -> dedupExactText,
    "q_dedup_normalized" -> dedupNormalized,
    "q_dedup_incremental" -> ((s, d) => dedupIncremental(s, d)),
    "q_dedup_minhash" -> ((s, d) => dedupMinhash(s, d)),
    "q_dedup_clusters" -> dedupClusters,
    "q_dedup_simhash" -> dedupSimhash,
    "q_dedup_simhash_pairs" -> dedupSimhashPairs,
    "q_dedup_winnow" -> dedupWinnow,
    "q_dedup_spans" -> dedupSpans,
    "q_dedup_spans_apply" -> dedupSpansApply,
    "q_boilerplate_spans" -> boilerplateSpans,
    "q_boilerplate_apply" -> boilerplateApply,
    "q_boilerplate_incr" -> boilerplateIncr,
    "q_dedup_spans_incr" -> dedupSpansIncr,
    "q_dedup_keep" -> dedupKeep,
    "q_decontaminate" -> decontaminate,
    "q_decontaminate_bloom" -> decontaminateBloom,
    "q_decontaminate_spans" -> decontaminateSpans,
    "q_decontaminate_spans_apply" -> decontaminateSpansApply,
    "q_contamination_score" -> contaminationScore,
    "q_split_by_cluster" -> splitByCluster)

  override def warmFixtures(spark: SparkSession, sfDir: String): Unit = {
    sigOldStore(spark, sfDir)
    simhashStore(spark, sfDir)
    spanStateStore(spark, sfDir)
    evalDigestStore(spark, sfDir)
    gramStateStore(spark, sfDir)
    gramFreqStore(spark, sfDir)
    winnowStore(spark, sfDir)
    boilListStore(spark, sfDir)
    verifiedPairsStore(spark, sfDir)
    clusterLabelsStore(spark, sfDir)
    contaminationStore(spark, sfDir)
    ()
  }

  /** The positional-digest occurrence frame `occ(doc_id, pos, dg)` at
    * gram length `n` — the head every span-family oracle chain shares. */
  private def spansOccSqlN(n: Int): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |occ AS (
       |  SELECT doc_id, u['p'] AS pos, u['dg'] AS dg FROM (
       |    SELECT doc_id, unnest(list_transform(range(0, len(t) - $n + 1),
       |      p -> {'p': p,
       |            'dg': md5(array_to_string(list_slice(t, p + 1, p + $n), ' '))})) AS u
       |    FROM toks))""".stripMargin

  private[queries] val spansOccSql = spansOccSqlN(SpanN)

  /** The gaps-and-islands merge from an `anch(doc_id, pos, e)` anchor
    * relation to maximal `spansq(doc_id, s, x)` — the shared tail. */
  private val spansIslandSql =
    """g AS (SELECT doc_id, pos, e,
      |  CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
      |    THEN 1 ELSE 0 END AS brk
      |  FROM anch),
      |isl AS (SELECT doc_id, pos, e,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      |  FROM g),
      |spansq AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS x
      |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** Shared replay of [[Dedup.repeatedSpans]]: positional digest
    * anchors → cross-doc repeated digests → gaps-and-islands merge,
    * ending in `spansq(doc_id, s, x)` — interpolated into the span
    * report AND the apply oracle so the two can never desynchronize. */
  private[queries] val spansChainSql =
    s"""$spansOccSql,
       |rep AS (SELECT dg FROM occ GROUP BY dg HAVING MIN(doc_id) <> MAX(doc_id)),
       |anch AS (SELECT doc_id, pos, pos + $SpanN - 1 AS e FROM occ JOIN rep USING (dg)),
       |$spansIslandSql""".stripMargin

  /** [[Dedup.boilerplateSpans]]' replay: distinct-doc frequency per
    * digest, the deterministic (n_docs DESC, dg) top-[[BoilTopM]]
    * cut, anchors at boilerplate grams, the shared islands tail. */
  private[queries] val boilChainSql =
    s"""${spansOccSqlN(BoilN)},
       |top AS (SELECT dg FROM (
       |  SELECT dg, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY dg
       |  ORDER BY nd DESC, dg LIMIT $BoilTopM)),
       |anch AS (SELECT doc_id, pos, pos + $BoilN - 1 AS e FROM occ JOIN top USING (dg)),
       |$spansIslandSql""".stripMargin

  /** [[Dedup.evalOverlapSpans]]' replay: anchors are corpus positions
    * whose digest exists in the EVAL set's digests (this query's own
    * denser every-10th split at gram length [[EvalSpanN]]), merged by
    * the same islands tail. */
  private val spansEvalChainSql =
    s"""${spansOccSqlN(EvalSpanN)},
       |edg AS (SELECT DISTINCT dg FROM occ WHERE doc_id % 10 = 0),
       |anch AS (SELECT doc_id, pos, pos + $EvalSpanN - 1 AS e FROM occ JOIN edg USING (dg)
       |  WHERE doc_id % 10 <> 0),
       |$spansIslandSql""".stripMargin

  /** The whole span-REMOVAL replay up to `cleaned(doc_id, clean_text,
    * n_removed)` — the apply oracle's chain, shared with the tokenizer
    * pipeline flagship (q_tok_pipeline) so the two can never
    * desynchronize: every span-covered token position deleted, text
    * rebuilt in position order. */
  private[queries] lazy val spansApplyChainSql =
    s"""$spansChainSql,
       |$spansApplyTailSql""".stripMargin

  /** [[Dedup.removeEvalOverlaps]]' replay: the eval-anchored span chain
    * spliced into the same deletion tail (shared fragment — the two
    * apply oracles cannot desynchronize from their span sources). */
  private lazy val spansEvalApplyChainSql =
    s"""$spansEvalChainSql,
       |$spansApplyTailSql""".stripMargin

  /** The deletion tail from any chain ending in `toks` + `spansq`:
    * every span-covered token position deleted, text rebuilt in
    * position order, up to `cleaned(doc_id, clean_text, n_removed)`. */
  private lazy val spansApplyTailSql =
    s"""tokpos AS (SELECT doc_id, u['p'] AS pos, u['t'] AS tok FROM (
       |  SELECT doc_id, unnest(list_transform(range(0, len(t)),
       |    p -> {'p': p, 't': t[p + 1]})) AS u
       |  FROM toks)),
       |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM spansq s
       |    WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.s AND s.x)),
       |clean AS (SELECT doc_id,
       |    COALESCE(string_agg(tok, ' ' ORDER BY pos), '') AS clean_text
       |  FROM kept GROUP BY doc_id),
       |rem AS (SELECT doc_id, CAST(SUM(x - s + 1) AS BIGINT) AS n_removed
       |  FROM spansq GROUP BY doc_id),
       |cleaned AS (SELECT d.doc_id,
       |    COALESCE(c.clean_text, '') AS clean_text,
       |    CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed
       |  FROM (SELECT DISTINCT doc_id FROM toks) d
       |  LEFT JOIN clean c USING (doc_id)
       |  LEFT JOIN rem r USING (doc_id))""".stripMargin

  // The shingle bound derives from each row's token count (scalar
  // range() inside list_transform) — no fixture-dependent cap that a
  // longer document could silently overflow (ADVICE r2).
  private val shinglesSql =
    """SELECT DISTINCT id, shingle FROM (
      |  SELECT doc_id AS id,
      |    unnest(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents))""".stripMargin

  private val minhashSql = {
    val mins = (0 until K).map(i => s"MIN(md5('$i:' || shingle)) AS m$i").mkString(", ")
    s"SELECT id, $mins FROM sh GROUP BY id"
  }

  private val bandsSql = (0 until K / BandWidth).map { bx =>
    val v = (bx * BandWidth until (bx + 1) * BandWidth).map(i => s"m$i").mkString(" || ")
    s"SELECT id, $bx AS band_idx, $v AS band_val FROM sig"
  }.mkString(" UNION ALL ")

  /** The whole banded-LSH + verification chain up to `ver(id_a, id_b,
    * jaccard)` — shared by the pair query and the clustering closure. */
  private[queries] val pairChainSql =
    s"""sh AS ($shinglesSql),
       |sig AS ($minhashSql),
       |bands AS ($bandsSql),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id),
       |cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
       |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
       |  FROM cand c
       |  JOIN sh sa ON sa.id = c.id_a
       |  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY c.id_a, c.id_b),
       |ver AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
       |  FROM inter JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b
       |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $Threshold)""".stripMargin

  private def simhashBitsSql(bits: Int) = (0 until bits).map(j =>
    s"SUM(CASE WHEN substr(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j")
    .mkString(", ")
  private def simhashConcatSql(bits: Int) = (0 until bits).map(j =>
    s"(CASE WHEN b$j > 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** Shared simhash chain up to `sig(id, simhash)` — signatures for the
    * per-doc query (16-bit) and the banded pair matcher (32-bit). */
  private def simhashChainSql(bits: Int) =
    s"""t AS (SELECT DISTINCT id, tok FROM
       |  (SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)),
       |h AS (SELECT id, md5(tok) AS h FROM t),
       |s AS (SELECT id, ${simhashBitsSql(bits)} FROM h GROUP BY id),
       |sig AS (SELECT id, ${simhashConcatSql(bits)} AS simhash FROM s)""".stripMargin

  /** Corpus-adaptive simhash chain: band width w = GREATEST(minWidth,
    * ⌈log₂ n⌉) via the integer-shift rule (bit-for-bit
    * Similarity.adaptiveBits), signature = bands·w bit-votes in LONG
    * form (one row per (id, bit) — the width is data-dependent, so the
    * per-bit-column spelling can't be generated statically). Bit j's
    * vote comes from hex nibble j%32 of md5 block j/32; block 0 is the
    * unsalted token hash (the narrow chain's), block k is
    * md5('sh<k>:' || tok) — mirroring Dedup.simhash exactly. */
  private def simhashAdaptiveChainSql(bands: Int, minWidth: Int) =
    s"""t AS (SELECT DISTINCT id, tok FROM
       |  (SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)),
       |pl AS (SELECT GREATEST($minWidth, MIN(p)) AS w FROM range(1, 63) r(p)
       |  WHERE (CAST(1 AS BIGINT) << p) >= (SELECT COUNT(*) FROM documents)),
       |bv AS (SELECT id, j,
       |    SUM(CASE WHEN substr(CASE WHEN j < 32 THEN md5(tok)
       |          ELSE md5('sh' || CAST(j // 32 AS VARCHAR) || ':' || tok) END,
       |        (j % 32) + 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
       |  FROM t, range(0, 256) jj(j)
       |  WHERE j < $bands * (SELECT w FROM pl)
       |  GROUP BY id, j),
       |sig AS (SELECT id,
       |    STRING_AGG(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
       |  FROM bv GROUP BY id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      s"""SELECT l_orderkey, l_linenumber, COUNT(*) AS n_rows,
         |  MIN(l_partkey) AS min_partkey, MIN(l_suppkey) AS min_suppkey,
         |  ${Rnd.sql(StableAgg.ssumSql("l_extendedprice"), 2)} AS total_price
         |FROM lineitem GROUP BY l_orderkey, l_linenumber
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_dedup_exact_text" ->
      """SELECT md5(text) AS digest, MIN(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q_dedup_normalized" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS digest,
        |  MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $pairChainSql
         |SELECT id_a, id_b, jaccard FROM ver ORDER BY id_a, id_b""".stripMargin,
    "q_simjoin_cross" ->
      s"""WITH sh AS ($shinglesSql),
         |cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT sa.id AS id_a, sb.id AS id_b, COUNT(*) AS i
         |  FROM sh sa JOIN sh sb ON sb.shingle = sa.shingle
         |  WHERE sa.id % 2 = 0 AND sb.id % 2 = 1
         |  GROUP BY sa.id, sb.id),
         |ver AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
         |  FROM inter JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b)
         |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= $Threshold
         |ORDER BY id_a, id_b""".stripMargin,
    // brute force on purpose: candidates from ALL shingle-sharing
    // pairs, not a prefix-filter replay — exactness is what's on trial
    "q_simjoin" ->
      s"""WITH sh AS ($shinglesSql),
         |cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
         |inter AS (SELECT sa.id AS id_a, sb.id AS id_b, COUNT(*) AS i
         |  FROM sh sa JOIN sh sb ON sb.shingle = sa.shingle AND sa.id < sb.id
         |  GROUP BY sa.id, sb.id),
         |ver AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
         |  FROM inter JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b)
         |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= $Threshold
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $pairChainSql
         |SELECT id_a, id_b, jaccard FROM ver
         |WHERE (id_a % 10) >= 8 OR (id_b % 10) >= 8
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $pairChainSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM ver
         |  UNION ALL SELECT id_b, id_a FROM ver),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(a, b) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
         |SELECT a AS doc_id, MIN(b) AS canon_id FROM reach GROUP BY a
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_keep" ->
      s"""WITH RECURSIVE $pairChainSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM ver
         |  UNION ALL SELECT id_b, id_a FROM ver),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(a, b) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |labels AS (SELECT a AS id, MIN(b) AS canon_id FROM reach GROUP BY a),
         |dropped AS (SELECT id FROM labels WHERE id <> canon_id),
         |reps AS (SELECT id FROM labels WHERE id = canon_id)
         |SELECT d.doc_id, d.lang, d.source,
         |  CAST(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_cluster_rep
         |FROM documents d
         |LEFT JOIN reps r ON r.id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH ${simhashChainSql(16)}
         |SELECT id AS doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash_pairs" ->
      s"""WITH ${simhashAdaptiveChainSql(4, 8)},
         |bands AS (SELECT id, simhash, bx AS band_idx,
         |    substr(simhash, bx * (SELECT w FROM pl) + 1, (SELECT w FROM pl)) AS band_val
         |  FROM sig, range(0, 4) r(bx)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id),
         |d AS (SELECT id_a, id_b,
         |    CAST(list_sum(list_transform(range(1, 4 * (SELECT w FROM pl) + 1),
         |      i -> CASE WHEN substr(sa, i, 1) <> substr(sb, i, 1) THEN 1 ELSE 0 END)) AS INTEGER) AS dist
         |  FROM cand)
         |SELECT id_a, id_b, dist FROM d WHERE dist <= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_winnow" ->
      s"""WITH $winnowChainSql
         |SELECT id AS doc_id, fp FROM wfp ORDER BY doc_id, fp""".stripMargin,
    // deliberately brute force: band-filtered all-pairs levenshtein —
    // the prefix filter's no-false-negative contract is what's gated
    "q_fuzzy_pairs" ->
      """WITH n AS (SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |  AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    // brute force again: all cross pairs in the length band verified
    "q_fuzzy_cross" ->
      """WITH n AS (SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b
        |  ON CAST(substr(a.name, 10) AS BIGINT) % 2 = 0
        | AND CAST(substr(b.name, 10) AS BIGINT) % 2 = 1
        | AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    // incremental = full-corpus brute-force pairs touching the batch
    "q_fuzzy_incr" ->
      """WITH n AS (SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |  AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |  AND (CAST(substr(a.name, 10) AS BIGINT) % 10 >= 8
        |       OR CAST(substr(b.name, 10) AS BIGINT) % 10 >= 8)
        |ORDER BY name_a, name_b""".stripMargin,
    // positional n-gram digest anchors (cross-doc iff min!=max doc),
    // merged to maximal spans by gaps-and-islands per document — the
    // literal SQL replay of Dedup.repeatedSpans (no lowercasing:
    // verbatim means byte-exact)
    "q_dedup_spans" ->
      s"""WITH $spansChainSql
         |SELECT doc_id,
         |  CAST(s AS BIGINT) AS span_start,
         |  CAST(x AS BIGINT) AS span_end,
         |  CAST(x - s + 1 AS BIGINT) AS span_tokens
         |FROM spansq
         |ORDER BY doc_id, span_start""".stripMargin,
    // doc-frequency rank + deterministic top-M cut + islands merge
    "q_boilerplate_spans" ->
      s"""WITH $boilChainSql
         |SELECT doc_id,
         |  CAST(s AS BIGINT) AS span_start,
         |  CAST(x AS BIGINT) AS span_end,
         |  CAST(x - s + 1 AS BIGINT) AS span_tokens
         |FROM spansq
         |ORDER BY doc_id, span_start""".stripMargin,
    // the boilerplate chain spliced into the shared deletion tail
    "q_boilerplate_apply" ->
      s"""WITH $boilChainSql,
         |$spansApplyTailSql
         |SELECT doc_id, clean_text, n_removed FROM cleaned
         |ORDER BY doc_id""".stripMargin,
    // the FROZEN old-corpus strip list applied to the arriving batch:
    // old-side top-M cut replayed, anchors restricted to batch docs
    "q_boilerplate_incr" ->
      s"""WITH ${spansOccSqlN(BoilN)},
         |oldtop AS (SELECT dg FROM (
         |  SELECT dg, COUNT(DISTINCT doc_id) AS nd FROM occ
         |  WHERE doc_id % 10 < 8 GROUP BY dg
         |  ORDER BY nd DESC, dg LIMIT $BoilTopM)),
         |anch AS (SELECT doc_id, pos, pos + $BoilN - 1 AS e FROM occ JOIN oldtop USING (dg)
         |  WHERE doc_id % 10 >= 8),
         |$spansIslandSql
         |SELECT doc_id,
         |  CAST(s AS BIGINT) AS span_start,
         |  CAST(x AS BIGINT) AS span_end,
         |  CAST(x - s + 1 AS BIGINT) AS span_tokens
         |FROM spansq
         |ORDER BY doc_id, span_start""".stripMargin,
    // incremental = full-corpus spans restricted to the batch (exact:
    // a batch gram's cross-doc partner is an old doc — state membership
    // — or another batch doc; old×old-only digests anchor nothing here)
    "q_dedup_spans_incr" ->
      s"""WITH $spansChainSql
         |SELECT doc_id,
         |  CAST(s AS BIGINT) AS span_start,
         |  CAST(x AS BIGINT) AS span_end,
         |  CAST(x - s + 1 AS BIGINT) AS span_tokens
         |FROM spansq
         |WHERE doc_id % 10 >= 8
         |ORDER BY doc_id, span_start""".stripMargin,
    // the APPLY step: every span-covered token position deleted, text
    // rebuilt in position order (token-level expansion is fine for the
    // oracle; the Spark side does a narrow in-row array filter)
    "q_dedup_spans_apply" ->
      s"""WITH $spansApplyChainSql
         |SELECT doc_id, clean_text, n_removed FROM cleaned
         |ORDER BY doc_id""".stripMargin,
    "q_corpus_pipeline" ->
      s"""WITH RECURSIVE $pairChainSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM ver
         |  UNION ALL SELECT id_b, id_a FROM ver),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(a, b) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |labels AS (SELECT a AS id, MIN(b) AS canon_id FROM reach GROUP BY a),
         |$winnowChainSql,
         |efp AS (SELECT DISTINCT fp FROM wfp WHERE id % 50 = 0),
         |bad AS (SELECT DISTINCT id FROM wfp JOIN efp USING (fp)),
         |keepex AS (SELECT MIN(doc_id) AS kid
         |  FROM (SELECT doc_id, md5(text) AS dg FROM documents) GROUP BY dg),
         |dropped AS (SELECT id FROM labels WHERE id <> canon_id),
         |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |qual AS (SELECT doc_id FROM tk WHERE len(toks) >= 5
         |  AND CAST(floor(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) * 1000 / len(toks))
         |      AS BIGINT) <= 700)
         |SELECT d.doc_id, d.lang, d.source,
         |  COALESCE(l.canon_id, d.doc_id) AS rep,
         |  CAST(CAST('0x' || substr(md5(CAST(COALESCE(l.canon_id, d.doc_id) AS VARCHAR)), 1, 8)
         |    AS BIGINT) % 10 AS BIGINT) AS split
         |FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
         |WHERE d.doc_id IN (SELECT kid FROM keepex)
         |  AND d.doc_id NOT IN (SELECT id FROM dropped)
         |  AND d.doc_id NOT IN (SELECT id FROM bad)
         |  AND d.doc_id IN (SELECT doc_id FROM qual)
         |ORDER BY d.doc_id""".stripMargin,
    "q_contamination_score" ->
      s"""WITH $winnowChainSql,
         |efp AS (SELECT DISTINCT fp FROM wfp WHERE id % 50 = 0)
         |SELECT w.id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
         |  CAST(COUNT(e.fp) AS BIGINT) AS n_hits,
         |  CAST(FLOOR(COUNT(e.fp) * 1000.0 / COUNT(*)) AS BIGINT) AS permille
         |FROM wfp w LEFT JOIN efp e ON e.fp = w.fp
         |GROUP BY w.id ORDER BY doc_id""".stripMargin,
    "q_split_by_cluster" ->
      s"""WITH RECURSIVE $pairChainSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM ver
         |  UNION ALL SELECT id_b, id_a FROM ver),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(a, b) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         |labels AS (SELECT a AS id, MIN(b) AS canon_id FROM reach GROUP BY a)
         |SELECT d.doc_id, d.lang, d.source,
         |  COALESCE(l.canon_id, d.doc_id) AS rep,
         |  CAST(CAST('0x' || substr(md5(CAST(COALESCE(l.canon_id, d.doc_id) AS VARCHAR)), 1, 8)
         |    AS BIGINT) % 10 AS BIGINT) AS split
         |FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_decontaminate" -> decontaminateSql,
    // the bloom pre-filter is exactness-preserving (false positives are
    // erased by the verify join), so the oracle IS the exact-path SQL
    "q_decontaminate_bloom" -> decontaminateSql,
    // paragraph-level: anchors = corpus gram positions whose digest
    // exists in the eval split, merged by the shared islands tail
    "q_decontaminate_spans" ->
      s"""WITH $spansEvalChainSql
         |SELECT doc_id,
         |  CAST(s AS BIGINT) AS span_start,
         |  CAST(x AS BIGINT) AS span_end,
         |  CAST(x - s + 1 AS BIGINT) AS span_tokens
         |FROM spansq
         |ORDER BY doc_id, span_start""".stripMargin,
    // the eval-anchored chain spliced into the shared deletion tail;
    // `toks`/`cleaned` cover all docs, the output restricts to the
    // non-eval corpus (the Spark side's input)
    "q_decontaminate_spans_apply" ->
      s"""WITH $spansEvalApplyChainSql
         |SELECT doc_id, clean_text, n_removed FROM cleaned
         |WHERE doc_id % 10 <> 0
         |ORDER BY doc_id""".stripMargin)

  private lazy val decontaminateSql =
    s"""WITH $winnowChainSql,
       |efp AS (SELECT DISTINCT fp FROM wfp WHERE id % 50 = 0),
       |bad AS (SELECT DISTINCT id FROM wfp JOIN efp USING (fp))
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM bad)
       |ORDER BY doc_id""".stripMargin

  /** Shared winnowing chain up to `wfp(id, fp)` — the fingerprint frame
    * for the winnow query and the decontamination anti-join. */
  private[queries] lazy val winnowChainSql =
    """pos AS (
      |  SELECT id, u['pos'] AS pos, u['h'] AS h FROM (
      |    SELECT doc_id AS id,
      |      unnest(list_transform(range(1, len(toks) - 1),
      |        i -> {'pos': i - 1, 'h': md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])})) AS u
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents))),
      |w AS (SELECT id,
      |    MIN(h) OVER (PARTITION BY id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM pos),
      |wfp AS (SELECT DISTINCT id, fp FROM w)""".stripMargin
}
