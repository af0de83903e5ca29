package graft.queries

import graft.Tables
import graft.operators.{Bpe, CacheScope, Sample, TextStats, Unigram}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis family over `documents` (token counts, quality ratios,
  * language-ID heuristic, fingerprints), each mirrored exactly in
  * DuckDB. The corpus shares one vocabulary across its `lang` labels, so
  * the language-ID profiles are drawn from that vocabulary — the gate
  * verifies the OPERATOR (deterministic profile scoring + argmax), not
  * classifier accuracy.
  */
object TextQueries extends QueryModule {

  private val Stopwords = Seq("a", "the")
  private val Profiles = Map(
    "de" -> Seq("data", "batch"),
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("query", "row"),
    "fr" -> Seq("table", "column"),
    "zh" -> Seq("spark", "join"))

  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val df = TextStats.withFingerprints(
      TextStats.withQuality(Tables.documents(spark, sfDir), col("text"), Stopwords),
      col("text"))
    df.select(
      col("doc_id"), col("n_tokens"), col("re_tokens"),
      col("len_score"), col("distinct_ratio"), col("stop_ratio"),
      Rnd.r(col("quality"), 6).as("quality"),
      col("fp_md5"), col("fp_poly"))
      .orderBy("doc_id")
  }

  /** Target fraction for q_quality_prune — the same literal feeds both
    * engines' ⌈n·p⌉. */
  private val PruneFraction = 0.3

  /** Quality pruning at fraction ≥ 0.3 via the EXACT bounded-domain
    * histogram threshold: the integer permille score ([0, 3000]) makes
    * the cut a 3001-row histogram problem — one combine-collapsed
    * aggregate pass + a narrow filter, no corpus sort, no sketch
    * ([[graft.operators.Sample.topFractionByScore]]). */
  def qualityPrune(spark: SparkSession, sfDir: String): DataFrame =
    Sample.topFractionByScore(
      TextStats.withQualityInt(Tables.documents(spark, sfDir), col("text"), Stopwords),
      col("quality_pm"), PruneFraction)
      .select(col("doc_id"), col("lang"), col("quality_pm"))
      .orderBy("doc_id")

  def textLangId(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.withLangId(Tables.documents(spark, sfDir), col("text"), Profiles)
      .select(col("doc_id") +: col("lang") +:
        Profiles.keys.toSeq.sorted.map(l => col(s"hits_$l")) :+ col("predicted_lang"): _*)
      .orderBy("doc_id")

  /** Lang-ID classifier geometry (the [[CurationQueries]] clf family's
    * constants, shared with the generated oracle SQL). */
  private[graft] val LangIdN = 3
  private[graft] val LangIdDim = 512
  private[graft] val LangIdLangs = Seq("de", "en", "es", "fr", "zh")

  /** Per-language planted marker (the [[CurationQueries.ClfMarker]]
    * discipline, one suffix per class): this corpus's `lang` labels
    * are text-INDEPENDENT by construction (see the module doc), so an
    * honest classifier on the raw text is a coin flip and the demo
    * degenerate. The planted view restores a learnable signal — the
    * operator must RECOVER each language's marker n-grams from the
    * labeled half — while real-text accuracy lives in LangIdSpec's
    * separable-corpus gates. */
  private def langMarker(l: String): String = s" ${l}corpusmark" * 3

  /** The planted lang-ID corpus view: every document suffixed with its
    * language's marker; training uses the even half, scoring the whole
    * view. */
  private def langIdView(spark: SparkSession, sfDir: String): DataFrame = {
    val markerCase = LangIdLangs.foldRight(lit(null: String)) { (l, rest) =>
      when(col("lang") === l, langMarker(l)).otherwise(rest)
    }
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), markerCase).as("text"))
  }

  /** The DEPLOYED lang-ID model as a persisted artifact (the
    * lmModelStore discipline: train once, score forever). */
  private def langIdWeightsStore(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    FrameFixture(spark, "langid_clf", sfDir) {
      graft.operators.LangId.trainRates(
        langIdView(spark, sfDir).filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), col("lang"), LangIdN, LangIdDim)
    }
  }

  /** CORPUS-TRAINED language ID on the oracle (q_langid_trained —
    * VERDICT r15 item 4): every document of the planted view scored
    * under the deployed [[graft.operators.LangId]] rate model — one
    * long score per class, argmax prediction with alphabetical ties,
    * and the per-document hit flag against the actual label. The
    * oracle replays TRAINING (labeled-half class counts, per-class
    * totals, both exact divisions) and SCORING (the same FNV feature
    * pass over the full view) in one statement — one drifted bucket
    * anywhere mismatches. Decision QUALITY on separable real-text
    * corpora is LangIdSpec's gate. */
  def langIdTrained(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val view = langIdView(spark, sfDir)
    val scored = graft.operators.LangId.score(view, col("doc_id"), col("text"),
      langIdWeightsStore(spark, sfDir), LangIdLangs, LangIdN, LangIdDim)
    view.select(col("doc_id"), col("lang"))
      .join(scored.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .withColumn("hit", (col("predicted_lang") === col("lang")).cast("int"))
      .orderBy("doc_id")
  }

  /** The INCREMENTAL lang-ID trainer's persisted state: per-class
    * bucket counts over the first 80% of the labeled (even) half —
    * the clfCountsOldStore discipline with the class in the key. */
  private def langIdCountsOldStore(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    FrameFixture(spark, "langid_counts_old", sfDir) {
      graft.operators.LangId.classCounts(
        langIdView(spark, sfDir)
          .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 < 8),
        col("doc_id"), col("text"), col("lang"), LangIdN, LangIdDim)
    }
  }

  /** INCREMENTAL lang-ID training (q_langid_incr): the arriving label
    * batch (`doc_id % 10 ≥ 8` of the even half) counts once, folds
    * into the persisted per-class state (lang, bucket)-wise, and the
    * weights derive from the merged counts. Counts are ADDITIVE, so
    * the result must EQUAL direct training over the whole labeled
    * half — which is what the oracle computes (the q_quality_clf_incr
    * "incremental == full" trial, multi-class). Output the merged
    * state WITH its weights `(lang, b, cnt, w)`. */
  def langIdIncr(spark: SparkSession, sfDir: String,
                 scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val delta = graft.operators.LangId.classCounts(
      langIdView(spark, sfDir)
        .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 >= 8),
      col("doc_id"), col("text"), col("lang"), LangIdN, LangIdDim)
    // feeds the per-class totals AND the output join
    val merged = scope.pin(graft.operators.LangId.mergeClassCounts(
      langIdCountsOldStore(spark, sfDir), delta))
    graft.operators.LangId.weightsFromCounts(merged, scope)
      .join(merged, Seq("lang", "b"))
      .select(col("lang"), col("b"), col("cnt"), col("w"))
      .orderBy("lang", "b")
  }

  /** TOKENIZER-FERTILITY EVAL (q_tokenizer_eval): the standard
    * tokenizer comparison artifact — for EVERY implemented encoder
    * family (BPE word + byte, unigram word + byte, WordPiece), the
    * corpus-wide token total and the two exact integer efficiency
    * ratios every tokenizer report carries: fertility (tokens per
    * 1000 whitespace words) and compression (chars per 1000 tokens).
    * ONE corpus scan computes all five token totals — the encoders
    * are native codegen'd expressions, so the five encodes ride the
    * same WholeStageCodegen pass over the pinned text column — then a
    * `stack` unpivots to one row per family. The oracle composes all
    * five families' existing encode replays (replace chains, the
    * byte-map arithmetic, the recursive greedy WordPiece scan) into
    * one statement: a drift in ANY encoder family mismatches its row.
    * Scale shape: one scan + five per-row expressions + one 1-row
    * aggregate; the models are plan literals (bounded). */
  def tokenizerEval(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val bpeW = array(EncRules.map { case (a, b) =>
      struct(lit(a).as("lhs"), lit(b).as("rhs")) }: _*)
    val bpeB = graft.operators.Bpe.mergesLit(encBytesRulesLoaded(spark))
    val uniW = Unigram.piecesLit(UniPieces.map(p => Unigram.Piece(p, -1.0, 0L)))
    val uniB = Unigram.piecesLit(uniPiecesBytesLoaded(spark))
    val wpV = graft.operators.WordPiece.vocabLit(wpVocabLoaded(spark))
    val lt = lower(col("text"))
    val agg = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
      .agg(
        sum(size(filter(split(lt, " "), w => w =!= ""))).cast("bigint").as("n_words"),
        sum(length(col("text"))).cast("bigint").as("n_chars"),
        sum(size(call_function("bpe_encode", lt, bpeW))).cast("bigint").as("t_bpe_word"),
        sum(size(call_function("bpe_encode_bytes", lt, bpeB))).cast("bigint").as("t_bpe_byte"),
        sum(size(call_function("unigram_encode", lt, uniW))).cast("bigint").as("t_uni_word"),
        sum(size(call_function("unigram_encode_bytes", lt, uniB))).cast("bigint").as("t_uni_byte"),
        sum(size(call_function("wordpiece_encode", lt, wpV))).cast("bigint").as("t_wordpiece"))
    agg.select(col("n_words"), col("n_chars"),
        expr("stack(5, 'bpe_byte', t_bpe_byte, 'bpe_word', t_bpe_word, " +
          "'unigram_byte', t_uni_byte, 'unigram_word', t_uni_word, " +
          "'wordpiece', t_wordpiece) AS (family, n_tokens)"))
      .select(col("family"), col("n_tokens"), col("n_words"), col("n_chars"),
        expr("n_tokens * 1000 DIV n_words").as("fertility_pm"),
        expr("n_chars * 1000 DIV n_tokens").as("chars_per_token_pm"))
      .orderBy("family")
  }

  /** The router's `(doc_id, predicted_lang)` assignment frame under
    * the DEPLOYED lang-ID model — the corpus-partitioning service
    * output, PUBLISHED once per (JVM, scale) (the verifiedPairsStore
    * discipline, round 18): eight queries consume the routing
    * assignment (eval_lang, curation, pack, neardup, clf_lang, both
    * tokenizer-mix members, decontaminate), and a production pipeline
    * routes its corpus snapshot ONCE and keys every per-language stage
    * off the stored assignment — it does not re-score per stage. The
    * scoring PASS stays live and oracle-gated in q_langid_trained (the
    * producer), and every consumer's oracle still replays the full
    * router chain, so a drifted store breaks their hash gates.
    * Documents the router cannot score (null text) carry no row: a
    * router cannot vouch for what it cannot read (the
    * LangIdRouteStream rejects contract). */
  private[queries] def langRoutes(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "lang_routes", sfDir) {
      graft.operators.LangId.score(langIdView(spark, sfDir), col("doc_id"), col("text"),
          langIdWeightsStore(spark, sfDir), LangIdLangs, LangIdN, LangIdDim)
        .select(col("id").as("doc_id"), col("predicted_lang"))
    }

  /** PER-LANGUAGE tokenizer-fertility report (q_tokenizer_eval_lang —
    * VERDICT r16 item 4, the tokenizer-PARITY artifact): the
    * [[tokenizerEval]] totals for every encoder family, grouped by the
    * router's `predicted_lang` — the table a multilingual tokenizer
    * review reads to see which languages pay more tokens per word
    * under a shared vocabulary. Composition of two green chains: the
    * q_langid_trained routing pass assigns each document its language;
    * ONE corpus scan then computes all five token totals per group
    * (the encode pass stays one codegen'd scan — the q_tokenizer_eval
    * plan contract — joined BY doc_id to the bounded routing frame).
    * The oracle composes the full router replay with all five encode
    * replays, grouped by the predicted language. */
  def tokenizerEvalByLang(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val bpeW = array(EncRules.map { case (a, b) =>
      struct(lit(a).as("lhs"), lit(b).as("rhs")) }: _*)
    val bpeB = graft.operators.Bpe.mergesLit(encBytesRulesLoaded(spark))
    val uniW = Unigram.piecesLit(UniPieces.map(p => Unigram.Piece(p, -1.0, 0L)))
    val uniB = Unigram.piecesLit(uniPiecesBytesLoaded(spark))
    val wpV = graft.operators.WordPiece.vocabLit(wpVocabLoaded(spark))
    val lt = lower(col("text"))
    val agg = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")) // ORIGINAL text — markers are router-internal
      .join(langRoutes(spark, sfDir), Seq("doc_id"))
      .groupBy("predicted_lang")
      .agg(
        sum(size(filter(split(lt, " "), w => w =!= ""))).cast("bigint").as("n_words"),
        sum(length(col("text"))).cast("bigint").as("n_chars"),
        sum(size(call_function("bpe_encode", lt, bpeW))).cast("bigint").as("t_bpe_word"),
        sum(size(call_function("bpe_encode_bytes", lt, bpeB))).cast("bigint").as("t_bpe_byte"),
        sum(size(call_function("unigram_encode", lt, uniW))).cast("bigint").as("t_uni_word"),
        sum(size(call_function("unigram_encode_bytes", lt, uniB))).cast("bigint").as("t_uni_byte"),
        sum(size(call_function("wordpiece_encode", lt, wpV))).cast("bigint").as("t_wordpiece"))
    agg.select(col("predicted_lang"), col("n_words"), col("n_chars"),
        expr("stack(5, 'bpe_byte', t_bpe_byte, 'bpe_word', t_bpe_word, " +
          "'unigram_byte', t_uni_byte, 'unigram_word', t_uni_word, " +
          "'wordpiece', t_wordpiece) AS (family, n_tokens)"))
      .select(col("predicted_lang"), col("family"), col("n_tokens"),
        col("n_words"), col("n_chars"),
        expr("n_tokens * 1000 DIV n_words").as("fertility_pm"),
        expr("n_chars * 1000 DIV n_tokens").as("chars_per_token_pm"))
      .orderBy("predicted_lang", "family")
  }

  /** MULTILINGUAL curation flagship (q_multilingual_curation — VERDICT
    * r16 item 3, the CCNet end-to-end shape): the round's language
    * pieces COMPOSED — the corpus-trained router partitions the corpus
    * by predicted language, then each language partition runs its OWN
    * reference-LM filter and exact dedup, producing the per-language
    * funnel report a multilingual curation run publishes:
    *
    *  1. ROUTE: every scoreable document gets its [[langRoutes]]
    *     prediction (CCNet's fastText lang-ID split);
    *  2. per-language REFERENCE LM: ONE keyed aggregate trains all L
    *     bigram models ([[graft.operators.NgramLm.bigramModelBy]]) and
    *     every document scores against ITS language's model
    *     ([[graft.operators.NgramLm.scoreBy]]) — keep documents at or
    *     below their LANGUAGE's mean scaled surprisal (the
    *     distribution-relative CCNet cut, computed per language as a
    *     bounded aggregate broadcast back);
    *  3. per-language EXACT DEDUP among the LM survivors: distinct
    *     content digests per language (digests shuffle, never text).
    *
    * Output: one row per predicted language — routed docs, scored
    * docs, LM survivors, distinct post-dedup documents. The oracle
    * replays the ENTIRE composition (router training + scoring, all L
    * bigram models, the per-language thresholds, the digest dedup) in
    * one statement, so a drift in any stage breaks the row. Scale
    * shape: per-language cost rides that language's share — the
    * routing pass, the bigram pass, and the digest pass are each one
    * corpus-linear scan keyed by language; models and thresholds are
    * bounded broadcasts; nothing pairs. */
  def multilingualCuration(spark: SparkSession, sfDir: String,
                           scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    import graft.operators.NgramLm
    // 1. routed corpus: ORIGINAL text + the router's assignment
    // (pinned: feeds LM training, scoring, the funnel count, and the
    // dedup digest pass)
    val routed = scope.pin(Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .join(langRoutes(spark, sfDir), Seq("doc_id")))
    // 2. per-language LM filter at each language's mean surprisal
    val model = NgramLm.bigramModelBy(
      routed, col("doc_id"), col("text"), col("predicted_lang"))
    val scored = scope.pin(NgramLm.scoreBy(
        routed, col("doc_id"), col("text"), col("predicted_lang"), model, scope)
      .withColumnRenamed("k", "predicted_lang")
      .withColumnRenamed("id", "doc_id"))
    val thr = scored.groupBy("predicted_lang")
      .agg(expr("sum(avg_surprisal) DIV count(1)").as("__thr"))
    // 3. exact dedup among survivors + the whole funnel in ONE
    // annotated corpus pass (r19 — was: four per-stage aggregates,
    // three funnel joins, a keyed-cut pin and a dedup semi-join, each
    // its own AQE stage chain over the same routed rows). Every routed
    // document carries its scored/kept flags and — when kept — its
    // content digest; the funnel is then a two-level aggregate:
    // (lang, digest) groups first (non-kept rows share the null-digest
    // group, counts stay additive), then per-language totals with the
    // distinct-digest count as a plain count over the first level — no
    // countDistinct Expand (the q_profile lesson), no joins. Row-for-row
    // the same funnel: n_scored counts scoreBy rows, n_lm_kept the
    // ≤-language-mean subset, n_dedup_kept its distinct digests.
    val ann = routed
      .join(scored.select("doc_id", "avg_surprisal"), Seq("doc_id"), "left")
      .join(broadcast(thr), Seq("predicted_lang"), "left")
      .select(col("predicted_lang"),
        col("avg_surprisal").isNotNull.as("__scored"),
        (col("avg_surprisal") <= col("__thr")).as("__kept"),
        when(col("avg_surprisal") <= col("__thr"),
          md5(col("text").cast("binary"))).as("__dg"))
    ann.groupBy("predicted_lang", "__dg")
      .agg(count(lit(1)).as("__n"),
        count(when(col("__scored"), 1)).as("__ns"),
        count(when(col("__kept"), 1)).as("__nk"))
      .groupBy("predicted_lang")
      .agg(sum(col("__n")).as("n_routed"),
        sum(col("__ns")).as("n_scored"),
        sum(col("__nk")).as("n_lm_kept"),
        count(when(col("__dg").isNotNull, 1)).as("n_dedup_kept"))
      .select(col("predicted_lang"), col("n_routed"), col("n_scored"),
        col("n_lm_kept"), col("n_dedup_kept"))
      .orderBy("predicted_lang")
  }

  /** PER-LANGUAGE NEAR-DUP (q_multilingual_neardup — VERDICT r17
    * item 1, the stage where the CCNet composition's dedup leg goes
    * from exact digests to PARAGRAPH-SHAPE near-duplicates): the
    * router's language partitions each run the full banded-MinHash
    * chain WITHIN the partition — signature → bands → bucket pairing
    * KEYED BY LANGUAGE → exact-Jaccard verify — so a reformatted
    * near-copy collapses inside its language while documents of
    * different languages are never even candidates (the bucket key is
    * `(predicted_lang, band_idx, band_val)`; dedup across languages is
    * a non-goal of the per-language run by design). Geometry is
    * [[DedupQueries.K]]/[[DedupQueries.BandWidth]]/
    * [[DedupQueries.Threshold]] — shared constants, so this family
    * cannot drift from q_dedup_minhash's. Output: one row per verified
    * within-language pair `(predicted_lang, id_a, id_b, jaccard)`.
    *
    * Scale shape: signatures are per-document map-side folds
    * (language-independent — keying costs nothing until the bucket
    * key); the ONLY pairing join buckets on the 3-part key through
    * [[graft.operators.PairEnum.bucketPairs]] (a hot boilerplate
    * bucket splits into bounded triangular cells); verification
    * shingles candidate documents only. The oracle folds the banded
    * replay ([[DedupQueries.pairChainSql]]'s algebra over the ROUTED
    * corpus with the language in the bucket key) into the composed
    * router replay — one drifted band anywhere mismatches. */
  def multilingualNearDup(spark: SparkSession, sfDir: String,
                          scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    import graft.operators.Dedup
    val routed = scope.pin(Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .join(langRoutes(spark, sfDir), Seq("doc_id")))
    val sig = scope.pin(Dedup.minhashSignatureArr(
      routed, col("doc_id"), col("text"), n = 3, k = DedupQueries.K))
    // the language enters HERE: banded assignments carry their
    // document's partition, and the pair enumeration buckets on it
    val bands = Dedup.lshBands(sig, DedupQueries.K, DedupQueries.BandWidth)
      .join(routed.select(col("doc_id").as("id"), col("predicted_lang")), Seq("id"))
    val cands = scope.pin(graft.operators.PairEnum.bucketPairs(
        bands, Seq("predicted_lang", "band_idx", "band_val"))
      .distinct())
    val candIds = cands.select(col("id_a").as("doc_id"))
      .union(cands.select(col("id_b").as("doc_id"))).distinct()
    val candDocs = routed.join(broadcast(candIds), Seq("doc_id"), "left_semi")
    Dedup.jaccardVerify(cands,
        Dedup.shinglesRaw(candDocs, col("doc_id"), col("text"), n = 3),
        DedupQueries.Threshold)
      // a verified pair is language-pure by construction — id_a's
      // partition is the pair's partition
      .join(routed.select(col("doc_id").as("id_a"), col("predicted_lang")), Seq("id_a"))
      .select(col("predicted_lang"), col("id_a"), col("id_b"), col("jaccard"))
      .orderBy("predicted_lang", "id_a", "id_b")
  }

  /** TEMPERATURE-SAMPLED tokenizer-training corpus (q_tokenizer_mix —
    * VERDICT r17 item 4, the mT5 composition): shared multilingual
    * vocabularies train on an α-SAMPLED corpus, not the raw one —
    * [[graft.operators.Sample.temperatureMix]] (T = 1/2) over the
    * ROUTER's language partitions flattens the head language and keeps
    * the tail, then the per-language fertility of the sampled corpus
    * is measured under the SHARED byte-level BPE vocabulary (the
    * interchange-loaded deployed model — the fertility artifact put to
    * its intended use: checking which languages pay more tokens per
    * word under the shared vocab the sample trained). Output one row
    * per language: routed size, sampled size (the α-law share), and
    * the sampled corpus's word/token totals with the exact fertility
    * ratio. The oracle composes the router replay, the q_domain_mix
    * isqrt/threshold/md5-draw replay KEYED by predicted language, and
    * the byte-level encode replay — a drift in routing, sampling
    * policy, or the encoder mismatches. Scale shape: the mixture's
    * count aggregate collapses map-side to L rows, thresholds
    * broadcast, admission is a narrow filter, the encode is one
    * codegen'd scan over the SAMPLE — the corpus is never shuffled. */
  def tokenizerMix(spark: SparkSession, sfDir: String,
                   scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val routed = scope.pin(Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .join(langRoutes(spark, sfDir), Seq("doc_id")))
    val sampled = Sample.temperatureMix(routed, col("doc_id"), col("predicted_lang"))
      .select("doc_id", "text", "predicted_lang")
    val bpeB = Bpe.mergesLit(encBytesRulesLoaded(spark))
    val lt = lower(col("text"))
    val st = sampled.groupBy("predicted_lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum(size(filter(split(lt, " "), w => w =!= ""))).cast("bigint").as("n_words"),
        sum(size(call_function("bpe_encode_bytes", lt, bpeB))).cast("bigint").as("n_tokens"))
    routed.groupBy("predicted_lang").agg(count(lit(1)).as("n_routed"))
      .join(st, Seq("predicted_lang"), "left")
      .select(col("predicted_lang"), col("n_routed"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_words") > 0, expr("n_tokens * 1000 DIV n_words"))
          .as("fertility_pm"))
      .orderBy("predicted_lang")
  }

  /** SHARED-VOCAB TRAINING on the sampled corpus
    * (q_tokenizer_mix_pairs): the [[bpePairs]] corpus-pass — top-50
    * frequency-weighted adjacent symbol pairs — over the
    * [[tokenizerMix]] α-sample instead of the raw corpus: the actual
    * first iteration a shared multilingual BPE training run takes (the
    * iterative argmax loop stays BpeSpec/ScaleGrowthSpec territory, as for
    * q_bpe_pairs). The oracle chains router + sampling replays into
    * the pair-count replay, so a drifted admission anywhere reorders
    * the counts and mismatches. */
  def tokenizerMixPairs(spark: SparkSession, sfDir: String,
                        scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val routed = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .join(langRoutes(spark, sfDir), Seq("doc_id"))
    val sampled = Sample.temperatureMix(routed, col("doc_id"), col("predicted_lang"))
    Bpe.pairCounts(Bpe.withSymbols(Bpe.wordFreq(sampled, col("text"))))
      .orderBy(desc("n"), asc("lhs"), asc("rhs")).limit(50)
  }

  /** PER-LANGUAGE DECONTAMINATION (q_multilingual_decontaminate —
    * VERDICT r17 item 8, completing the per-language stage set): the
    * multilingual funnel's eval-overlap screen, keyed the way its
    * benchmarks are — each language partition is screened against ITS
    * OWN language's eval fingerprints
    * ([[graft.operators.Dedup.decontaminateBy]] over the shared
    * [[DedupQueries.winnowStore]]): a verbatim overlap with another
    * language's eval set costs nothing here (translation-level
    * contamination is the semantic screen's job). Eval stand-in:
    * every 50th routed document, per the q_decontaminate convention.
    * Output: the surviving `(predicted_lang, doc_id)` corpus. The
    * oracle composes the router replay with the winnow replay and the
    * keyed fingerprint screen. Scale shape: fingerprints are the
    * per-document winnow store (built once, model-next-to-corpus); the
    * eval side broadcasts; the corpus never shuffles. */
  def multilingualDecontaminate(spark: SparkSession, sfDir: String,
                                scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val routed = scope.pin(Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"))
      .join(langRoutes(spark, sfDir), Seq("doc_id")))
    val fps = DedupQueries.winnowStore(spark, sfDir)
    val evalFps = fps.join(
        routed.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select(col("doc_id").as("id"), col("predicted_lang").as("k")),
        Seq("id"))
      .select("k", "fp")
    graft.operators.Dedup.decontaminateBy(routed, col("doc_id"),
        col("predicted_lang"), fps, evalFps)
      .select(col("predicted_lang"), col("doc_id"))
      .orderBy("predicted_lang", "doc_id")
  }

  /** Per-language mix weights for [[packByLang]] — upsample the
    * low-resource tail, thin the head (the mT5 stratified-epochs
    * shape); a 2.0, a pure fraction, two mixed fractions, and an exact
    * 1.0 exercise every gate branch. Both engines derive their integer
    * gate constants from THIS map. */
  private val LangMixWeights: Seq[(String, Double)] = Seq(
    "de" -> 2.0, "en" -> 0.5, "es" -> 1.5, "fr" -> 1.25, "zh" -> 1.0)

  /** PER-LANGUAGE STRATIFIED PACK (q_pack_by_lang — the VERDICT r16
    * optional surface): the router's language partitions, each
    * stratified to its target epochs ([[Sample.mixByWeights]] keyed by
    * `predicted_lang` — fractional epochs ride the md5 gate) and
    * packed INDEPENDENTLY into its own character-budget bin sequence
    * ([[graft.operators.PrefixSum.packByBudget]] in md5-interleaved
    * order) — the per-language shard layout a multilingual loader
    * consumes (language-pure bins; each language's mix knob moves only
    * its own shards). Scale shape: one routing pass + one narrow
    * mix/explode map, then L bounded plan branches (L is the router's
    * constant class list — the CCNet per-language run), each the
    * distributed prefix sum, never a corpus window. The oracle replays
    * router + gate constants + the per-language window sum. */
  private[graft] def packByLangMixed(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val routed = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("n_chars"))
      .join(langRoutes(spark, sfDir), Seq("doc_id"))
    // feeds L per-language pack branches — the caller pins so routing
    // + the mix gate run once. Exposed private[graft]: the plan
    // contract pins THIS stage (the routing/mix passes live above the
    // prefix sum's RDD boundary, invisible in the final plan).
    Sample.mixByWeights(routed, col("doc_id"), col("predicted_lang"),
        LangMixWeights.toMap)
      .withColumn("__key",
        md5(concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string")).cast("binary")))
  }

  def packByLang(spark: SparkSession, sfDir: String,
                 scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val mixed = scope.pin(packByLangMixed(spark, sfDir))
    LangIdLangs.map { l =>
      graft.operators.PrefixSum.packByBudget(
        mixed.filter(col("predicted_lang") === l),
        Seq(col("__key"), col("doc_id"), col("epoch")),
        col("n_chars"), SampleQueries.PackBudget, "bin",
        tieBreaker = Some(col("__key")))
    }.reduce(_ unionByName _)
      .select(col("predicted_lang"), col("doc_id"), col("epoch"), col("n_chars"),
        col("bin_end").as("offset_end"), col("bin"))
      .orderBy("predicted_lang", "doc_id", "epoch")
  }

  /** Corpus-wide vocabulary heavy-hitters: explode tokens → count →
    * top-K. Partial aggregation combines per-task before the single
    * |vocab|-sized shuffle, and the top-K is TakeOrdered (per-partition
    * heaps + driver merge of K rows) — the canonical corpus-stats scan
    * shape at any scale. Ties broken by token for determinism. */
  def vocabTopK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  /** Heavy hitters via the two-pass count-min pattern (sketch pass →
    * candidate scan filter → exact recount): the answer is EXACTLY the
    * plain group-count-having answer — which is what the oracle runs —
    * but the only per-key shuffle carries candidate keys, not the
    * vocabulary. See [[graft.operators.TextStats.heavyHitters]]. */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.TextStats.heavyHitters(
      Tables.documents(spark, sfDir)
        .select(explode(split(lower(col("text")), " ")).as("token")),
      col("token"), minCount = 500)
      .select(col("key").as("token"), col("n"))
      .orderBy("token")

  /** The Gopher/C4-style document gate ([[TextStats.withGateFlags]]):
    * rule inputs, per-rule flags, and the keep conjunction from ONE
    * narrow pass — thresholds are the [[TextStats.GateRules]] defaults,
    * which the DuckDB oracle mirrors literally (all divisions
    * permille-floored on positives, so every flag is bit-exact). */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.withGateFlags(Tables.documents(spark, sfDir), col("text"))
      .select(col("doc_id"), col("n_words"), col("mwl_pm"), col("distinct_pm"),
        col("stop_hits"),
        col("r_nwords").cast("int").as("r_nwords"),
        col("r_wordlen").cast("int").as("r_wordlen"),
        col("r_stop").cast("int").as("r_stop"),
        col("r_distinct").cast("int").as("r_distinct"),
        col("keep").cast("int").as("keep"))
      .orderBy("doc_id")

  /** TF-IDF top terms per document, in EXACT integer arithmetic: the
    * keyword-extraction / sparse-retrieval weighting of a text pipeline.
    * `score_scaled = tf·10⁶ div df` is the RATIONAL-idf variant (N/df
    * without the log, evaluated as scaled integer division) — chosen
    * because `ln` is a libm call whose final ulps differ across engines
    * and would break the hash-compared oracle; the log-idf spelling is
    * the one-line `tf * log(N/df)` swap for callers off the oracled
    * path. Plan shape: ONE shuffle builds tf (per doc-token counts); df
    * reuses the aggregated tf frame (|doc-token| rows, not raw tokens);
    * the token join shuffles |vocab|+|doc-token| rows (AQE picks
    * broadcast when the vocab side is small); the per-doc top-3 window
    * is bounded by each document's own vocabulary — parallel across
    * docs, never a whole-frame sort. */
  def tfidfTopTerms(spark: SparkSession, sfDir: String,
                    scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = scope.pin(Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
      // ^ read twice: the df aggregate and the score join
    val dfx = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score_scaled").desc, col("token"))
    tf.join(dfx, "token")
      .withColumn("score_scaled", expr("tf * 1000000 DIV df"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score_scaled"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  /** Document-length histogram in width-50 buckets: one narrow map +
    * one tiny aggregate — the length-distribution profile used to pick
    * truncation/packing thresholds. */
  def lenHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select((floor(col("n_chars") / 50) * 50).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")

  /** Exact per-language length quantiles (type-7 linear interpolation —
    * Spark `percentile` and DuckDB `quantile_cont` share the
    * definition). Exact quantiles are fine here because the aggregate's
    * state is bounded by the DOMAIN of n_chars (a counts map), not the
    * row count; for unbounded-domain columns at 100 TB the engine's
    * sketch counterpart is `approx_percentile` (same shape as
    * q_approx_distinct's rows-only contract). */
  def lenQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(
        Rnd.r(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        Rnd.r(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        Rnd.r(expr("percentile(n_chars, 0.99)"), 4).as("p99"))
      .orderBy("lang")

  /** PII-style redaction: mask every digit run with '#' — the masking
    * pass of a curation pipeline as a pure narrow map (regexp_replace
    * is codegen'd; the pattern is dialect-neutral between Java regex
    * and DuckDB's RE2). Emits the redacted fingerprint + how much was
    * masked so the oracle checks the rewrite itself, not just counts. */
  def textRedact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        md5(regexp_replace(col("text"), "[0-9]+", "#").cast("binary")).as("redacted_md5"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]+", "")))
          .cast("long").as("chars_redacted"))
      .orderBy("doc_id")

  /** The SKETCH counterpart of q_len_quantiles: `approx_percentile`
    * (Greenwald-Khanna) keeps fixed-size mergeable per-group state — the
    * 100 TB path, where exact percentiles must materialize and sort every
    * group's values. Like q_approx_distinct the estimate is
    * engine-specific, so the driver records a rows-only check; the
    * accuracy contract vs the exact percentiles is pinned in
    * TextStatsSpec. */
  def lenQuantilesApprox(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(
        expr("approx_percentile(n_chars, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(n_chars, 0.9, 1000)").as("ap90"),
        expr("approx_percentile(n_chars, 0.99, 1000)").as("ap99"))
      .orderBy("lang")

  /** The percentile sketch's RANK GUARANTEE on the hash-exact oracle
    * gate (q_len_quantiles_bound — VERDICT r14 item 1): Greenwald-
    * Khanna with accuracy `a` returns an OBSERVED value whose rank is
    * within `n/a` of the target rank, and that is checkable without
    * ever hashing the engine-specific estimate. One pass computes the
    * per-group sketch values; a second conditional-count pass ranks
    * each sketch value against its own group — the returned value `v`
    * occupies one-based ranks `(cnt_lt(v), cnt_le(v)]`, and the flag
    * asserts that interval intersects `p·n ± (n/a + 1)` (the `+1`
    * absorbs the zero/one-based rank convention). All comparisons are
    * permille-integer; the exact type-7 percentiles ride along so the
    * row still carries oracle-recomputable VALUES, and DuckDB expects
    * every flag true. Scale shape: two aggregates over a narrow
    * 2-column scan, sketch table broadcast (|langs| rows). */
  def lenQuantilesBound(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("lang"), col("n_chars"))
    val ap = docs.groupBy("lang").agg(
      expr("approx_percentile(n_chars, 0.5, 1000)").as("__a50"),
      expr("approx_percentile(n_chars, 0.9, 1000)").as("__a90"),
      expr("approx_percentile(n_chars, 0.99, 1000)").as("__a99"))
    def le(v: Column) = sum(when(col("n_chars") <= v, 1L).otherwise(0L))
    def lt(v: Column) = sum(when(col("n_chars") < v, 1L).otherwise(0L))
    def flag(ltC: Column, leC: Column, p1000: Int): Column =
      ((ltC + 1) * 1000 <= lit(p1000 + 1) * col("n_docs") + 1000 &&
        leC * 1000 >= lit(p1000 - 1) * col("n_docs") - 1000).cast("int")
    docs.join(broadcast(ap), Seq("lang"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        Rnd.r(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        Rnd.r(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        Rnd.r(expr("percentile(n_chars, 0.99)"), 4).as("p99"),
        lt(col("__a50")).as("__lt50"), le(col("__a50")).as("__le50"),
        lt(col("__a90")).as("__lt90"), le(col("__a90")).as("__le90"),
        lt(col("__a99")).as("__lt99"), le(col("__a99")).as("__le99"))
      .select(col("lang"), col("n_docs"), col("p50"), col("p90"), col("p99"),
        flag(col("__lt50"), col("__le50"), 500).as("w50"),
        flag(col("__lt90"), col("__le90"), 900).as("w90"),
        flag(col("__lt99"), col("__le99"), 990).as("w99"))
      .orderBy("lang")
  }

  /** Gopher-style repetition quality gates: per-doc duplicate-word and
    * top-bigram coverage permilles plus the keep/drop flag a curation
    * pass would filter on. Pure per-row map work (one codegen stage,
    * no shuffle beyond the output sort) — see
    * [[graft.operators.TextStats.withRepetition]]. The thresholds sit
    * inside this corpus's spread so the flag actually splits it. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.withRepetition(Tables.documents(spark, sfDir), col("text"))
      .select(
        col("doc_id"), col("n_words"), col("dup_word_permille"), col("top_bigram_permille"),
        (col("dup_word_permille") > 700 || col("top_bigram_permille") > 100)
          .cast("int").as("repetitive"))
      .orderBy("doc_id")

  private val ChunkWindow = 40
  private val ChunkStride = 20

  /** Sliding-window chunking (40-token windows every 20): the
    * long-document → training-sequence split. One narrow map stage —
    * see [[graft.operators.TextStats.chunkSliding]]. */
  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.chunkSliding(Tables.documents(spark, sfDir), col("doc_id"), col("text"),
      ChunkWindow, ChunkStride)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")

  /** The search query's fixed term list and result size — literals the
    * DuckDB oracle mirrors. */
  private val SearchTerms = Seq("vector", "scan", "merge")
  private val SearchK = 20

  /** Built-index fixtures, memoized per (tag, sfDir) per JVM: the index
    * BUILD is the expensive lifecycle step, and a bench round invokes
    * each search query `repeat` times — the build still runs (once, its
    * output validated by every search that consumes it), but repeats
    * measure the maintenance/search legs instead of re-paying a
    * construction whose cost is already q_text_search's first run.
    * Fixture dirs are never mutated: [[copyOf]] hands mutating callers
    * (applyDelta) a private copy. Dirs live under [[Scratch]], so
    * cross-process leftovers and shutdown cleanup are already handled. */
  private val indexFixtures =
    new scala.collection.concurrent.TrieMap[(String, String), String]
  private def indexFixture(tag: String, sfDir: String)(build: String => Unit): String =
    indexFixtures.getOrElseUpdate((tag, sfDir), {
      val dir = s"${Scratch.root}/tindex_${tag}_${java.util.UUID.randomUUID()}"
      build(dir)
      dir
    })

  /** Private copy of a fixture dir for a caller that mutates it. */
  private def copyOf(spark: SparkSession, src: String): String = {
    val dst = s"${Scratch.root}/tindex_work_${java.util.UUID.randomUUID()}"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src),
      fs, new org.apache.hadoop.fs.Path(dst), false, conf)
    dst
  }

  /** Inverted-index keyword search end to end: build the on-disk index
    * (clustered postings + zone-map sidecar + term/corpus stats), then
    * answer a 3-term query through per-term PRUNED posting reads and
    * the integer-exact BM25 ranker ([[graft.operators.TextIndex]]).
    * The oracle recomputes the same ranking from the raw documents
    * table in plain SQL — a posting lost to wrong clustering, a
    * mis-pruned file, or any scoring drift mismatches. */
  private def fullIndexDir(spark: SparkSession, sfDir: String): String =
    indexFixture("full", sfDir)(d =>
      graft.operators.TextIndex.buildIndex(spark,
        Tables.documents(spark, sfDir), d))

  def textSearch(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.TextIndex.search(
      spark, fullIndexDir(spark, sfDir), SearchTerms, SearchK)

  /** INCREMENTAL index maintenance end to end: index the old corpus
    * snapshot, roll a CDC feed (removals, text edits, additions) into
    * it as a segment + tombstones + stats deltas
    * ([[graft.operators.TextIndex.applyDelta]]), and answer the same
    * search — while the oracle recomputes the ranking from the NEW
    * corpus from scratch. A stale posting surviving its tombstone, a
    * missed new segment, or a drifted df/corpus stat all mismatch.
    * The base (old-corpus) index is a memoized fixture; the delta is
    * rolled into a private copy per invocation, so repeats measure the
    * MAINTENANCE leg — diff, segment append, stats roll — not a
    * rebuild of the base. */
  private def oldCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") % 10 =!= 3)

  private def oldIndexDir(spark: SparkSession, sfDir: String): String =
    indexFixture("old", sfDir)(d =>
      graft.operators.TextIndex.buildIndex(spark, oldCorpus(spark, sfDir), d))

  def textSearchIncr(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{SnapshotDiff, TextIndex}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val oldC = oldCorpus(spark, sfDir)
    val newC = docs.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" vector vector merge"))).otherwise(col("text")))
    val base = oldIndexDir(spark, sfDir)
    val dir = copyOf(spark, base)
    TextIndex.applyDelta(spark, dir, oldC,
      SnapshotDiff.diffWithPayload(oldC, newC, Seq("doc_id"),
        SnapshotDiff.rowDigest(Seq(col("text")))))
    TextIndex.search(spark, dir, SearchTerms, SearchK)
  }

  /** BPE training's per-iteration aggregate on the RAW vocabulary
    * (iteration 0 — no merges applied yet, so the count algebra is
    * SQL-expressible and the oracle replays it exactly): top-50
    * frequency-weighted adjacent symbol pairs over char+`</w>`
    * sequences. The iterative argmax loop and the encoder are gated by
    * BpeSpec (reference-implementation parity); this row keeps the
    * corpus-pass half of [[Bpe]] on the hash-exact oracle. */
  def bpePairs(spark: SparkSession, sfDir: String): DataFrame =
    Bpe.pairCounts(Bpe.withSymbols(
        Bpe.wordFreq(Tables.documents(spark, sfDir), col("text"))))
      .orderBy(desc("n"), asc("lhs"), asc("rhs")).limit(50)

  /** Fixed encoder rule list for [[bpeEncode]] — the top measured
    * character pairs of the corpus, every side a SINGLE character (or
    * the `</w>` marker). The restriction is what makes the query
    * oracle-able: single-char-sided rules can never be re-enabled by a
    * later merge (a merged symbol is multi-char and appears in no
    * rule), so the encoder's lowest-surviving-rank iteration reduces
    * to rank-order merge-all passes — exactly a chain of
    * boundary-delimited `replace` calls in SQL. Rules with shared
    * characters (e consumed by rank 0 blocks rank 1; w by rank 5
    * blocks rank 6) keep the order-sensitivity under test. */
  private val EncRules = Seq(
    "e" -> "r", "e" -> "</w>", "r" -> "</w>", "n" -> "</w>",
    "i" -> "n", "o" -> "w", "w" -> "</w>", "o" -> "r")

  /** The native `bpe_encode` expression end-to-end on the oracle: each
    * document encoded under [[EncRules]], output as token count + the
    * space-joined token string (hash-exact both ways). The TRAINED
    * rule path is BpeSpec's reference-parity gate; this row pins the
    * expression's per-word segmentation, word iteration, empty-word
    * skip, and marker handling against an independent engine. */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val merges = array(EncRules.map { case (a, b) =>
      struct(lit(a).as("lhs"), lit(b).as("rhs")) }: _*)
    Tables.documents(spark, sfDir)
      // null text encodes as empty (0 tokens, '' — ADVICE r16): without
      // the coalesce the expression returns NULL and size(NULL) is -1
      // under the default non-ANSI config, diverging from the oracle
      .select(col("doc_id"),
        call_function("bpe_encode", coalesce(lower(col("text")), lit("")), merges)
          .as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        concat_ws(" ", col("toks")).as("encoded"))
      .orderBy("doc_id")
  }

  /** Fixed BYTE-LEVEL encoder rule list for [[bpeEncodeBytes]] and the
    * upgraded [[tokPipeline]] — the [[EncRules]] restriction carried to
    * the byte alphabet: every side is a SINGLE byte stand-in (letters
    * and the leading-space marker 'Ġ'), so merged symbols appear in no
    * later rule side and the lowest-surviving-rank loop reduces to
    * rank-order merge-all passes — a boundary-delimited `replace`
    * chain in SQL (space is the boundary: no byte stand-in is a
    * literal space by construction). Shared-symbol rules keep order
    * sensitivity under test: rank 0 ("Ġ","t") starves rank 1 ("t","h")
    * at word starts, rank 5 ("Ġ","a") starves rank 6 ("a","n"). */
  private val EncRulesBytes = Seq(
    "Ġ" -> "t", "t" -> "h", "e" -> "r", "i" -> "n",
    "o" -> "n", "Ġ" -> "a", "a" -> "n", "e" -> "s")

  private def encBytesMergesCol =
    array(EncRulesBytes.map { case (a, b) =>
      struct(lit(a).as("lhs"), lit(b).as("rhs")) }: _*)

  /** [[EncRulesBytes]] routed through the INTERCHANGE round trip
    * ([[graft.operators.TokenizerModel]] save → load), memoized per
    * JVM: the oracled byte-level encode queries run off the LOADED
    * ranks-file artifact, so the documented parquet contract — not
    * just the in-memory rule list — is what the correctness gate
    * exercises. */
  private val interchangeModels =
    new scala.collection.concurrent.TrieMap[String, AnyRef]
  private def encBytesRulesLoaded(spark: SparkSession): Seq[graft.operators.Bpe.MergeRule] =
    interchangeModels.getOrElseUpdate("bpe_bytes", {
      val dir = s"${Scratch.root}/tokmodel_bpe_${java.util.UUID.randomUUID()}"
      graft.operators.TokenizerModel.saveBpe(spark,
        EncRulesBytes.zipWithIndex.map { case ((a, b), i) =>
          graft.operators.Bpe.MergeRule(i, a, b, 0L) }, dir)
      graft.operators.TokenizerModel.loadBpe(spark, dir)
    }).asInstanceOf[Seq[graft.operators.Bpe.MergeRule]]

  /** [[UniPiecesBytes]] through the same interchange round trip. */
  private def uniPiecesBytesLoaded(spark: SparkSession): Seq[Unigram.Piece] =
    interchangeModels.getOrElseUpdate("unigram_bytes", {
      val dir = s"${Scratch.root}/tokmodel_uni_${java.util.UUID.randomUUID()}"
      graft.operators.TokenizerModel.saveUnigram(spark,
        UniPiecesBytes.map(p => Unigram.Piece(p, -1.0, 0L)), dir)
      graft.operators.TokenizerModel.loadUnigram(spark, dir)
    }).asInstanceOf[Seq[Unigram.Piece]]

  /** The byte-level encoder replay over one document-text SQL
    * expression: pretokenize with the SHARED [[graft.operators.ByteLevel.PreTokPattern]]
    * (RE2-compatible by construction), byte-map each pretoken
    * ([[graft.operators.ByteLevel.mapWordSql]] — UTF-8 arithmetic from
    * codepoints, the published stand-in table as CASE arithmetic),
    * space-delimit the symbols, run the [[EncRulesBytes]] merges as a
    * replace chain in rank order, and join the per-pretoken tokens
    * with single spaces. Generated from the SAME rule constant as the
    * Spark side. */
  private def byteEncSqlExpr(textExpr: String): String = {
    val mapped = graft.operators.ByteLevel.mapWordSql("w")
    val base = s"regexp_replace($mapped, '(?s)(.)', ' \\1', 'g') || ' '"
    val chained = EncRulesBytes.foldLeft(base) { case (s, (a, b)) =>
      s"replace($s, ' $a $b ', ' $a$b ')"
    }
    s"""array_to_string(list_transform(
       |    regexp_extract_all($textExpr, '${graft.operators.ByteLevel.PreTokPattern}'),
       |    w -> trim($chained)), ' ')""".stripMargin
  }

  /** The native `bpe_encode_bytes` expression end-to-end on the oracle
    * — the byte-level sibling of [[bpeEncode]]: each document
    * pretokenized, byte-mapped, and encoded under [[EncRulesBytes]],
    * output as token count + the space-joined token string. The
    * TRAINED-rule path (and multibyte/supplementary inputs, which this
    * ASCII corpus cannot exercise) is ByteBpeSpec's independent-
    * reference parity gate; this row pins the expression's
    * pretokenizer, byte mapping, per-pretoken merge loop, and word
    * iteration against an independent engine. */
  def bpeEncodeBytes(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    // the merges column comes off the LOADED interchange artifact —
    // the ranks-file contract is on the oracled path
    val merges = graft.operators.Bpe.mergesLit(encBytesRulesLoaded(spark))
    Tables.documents(spark, sfDir)
      // null text encodes as empty — the bpeEncode null contract
      .select(col("doc_id"),
        call_function("bpe_encode_bytes", coalesce(lower(col("text")), lit("")), merges)
          .as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        concat_ws(" ", col("toks")).as("encoded"))
      .orderBy("doc_id")
  }

  /** WordPiece training's iteration-0 LIKELIHOOD table on the oracle
    * (q_wordpiece_pairs — the [[bpePairs]] discipline applied to the
    * likelihood-greedy trainer): top-50 adjacent piece pairs of the
    * raw `##`-pieced vocabulary by `n / (n_lhs · n_rhs)` (the
    * WordPiece merge score), ties to the smaller (lhs, rhs). The
    * score ORDER is computed in IEEE doubles — identical bit-for-bit
    * in both engines over exact long inputs, and ties fall through to
    * the lexicographic columns — while every OUTPUT column is an
    * exact long; the final frame re-sorts on (lhs, rhs) so row order
    * never rides the float. The iterative argmax loop and the encoder
    * are gated by WordPieceSpec (two-path + reference parity); this
    * row keeps the corpus-pass count algebra on the hash-exact
    * oracle. */
  def wordpiecePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val wp = graft.operators.WordPiece.withPieces(
      Bpe.wordFreq(Tables.documents(spark, sfDir), col("text")))
    val pairs = Bpe.pairCounts(wp)
    val syms = graft.operators.WordPiece.symbolCounts(wp)
    pairs
      .join(syms.withColumnRenamed("sym", "lhs").withColumnRenamed("c", "n_lhs"),
        Seq("lhs"))
      .join(syms.withColumnRenamed("sym", "rhs").withColumnRenamed("c", "n_rhs"),
        Seq("rhs"))
      .orderBy(
        // each side cast to double BEFORE the multiply (ADVICE r16): a
        // long product of web-scale side counts (~1e12 each) would wrap
        // silently here while DuckDB raises — doubles can't overflow,
        // and the IEEE product/divide is bit-identical in both engines
        (col("n").cast("double") /
          (col("n_lhs").cast("double") * col("n_rhs").cast("double"))).desc,
        asc("lhs"), asc("rhs"))
      .limit(50)
      .select(col("lhs"), col("rhs"), col("n"), col("n_lhs"), col("n_rhs"))
      .orderBy("lhs", "rhs")
  }

  /** Fixed encoder vocabulary for [[wordpieceEncode]] — hand-picked
    * over the corpus alphabet to exercise every branch the greedy
    * longest-match encoder has: multi-char plain pieces that shadow
    * their single-char prefixes ("sc" > "s", "join" > "j"),
    * multi-char continuations that shadow theirs ("##atch", "##lumn",
    * "##rge"), and deliberate HOLES (no "##y") so real corpus words
    * ("query", "key") take the whole-word `[UNK]` rule. What makes
    * the query oracle-able: the vocabulary is a CONSTANT, so "longest
    * match at position p" is a generated CASE over fixed lengths
    * ([[wpMatchLenSql]]) and the per-word scan is a plain recursive
    * CTE — no aggregation inside the recursion. */
  private val EncVocabWp: Seq[String] = Seq(
    "a", "b", "c", "co", "d", "f", "g", "h", "j", "join", "k", "l", "m",
    "o", "or", "p", "q", "r", "s", "sc", "sp", "t", "ta", "v", "w",
    "##a", "##an", "##ar", "##ark", "##atch", "##b", "##c", "##ch",
    "##d", "##e", "##er", "##g", "##h", "##i", "##in", "##j", "##k",
    "##l", "##le", "##low", "##lumn", "##m", "##mn", "##n", "##o",
    "##ow", "##p", "##r", "##rge", "##s", "##t", "##u", "##v", "##w")

  /** [[EncVocabWp]] through the INTERCHANGE round trip
    * ([[graft.operators.TokenizerModel]] save → load), memoized per
    * JVM — the oracled encode runs off the LOADED vocab-file artifact,
    * the [[encBytesRulesLoaded]] discipline. */
  private def wpVocabLoaded(spark: SparkSession): Seq[String] =
    interchangeModels.getOrElseUpdate("wordpiece", {
      val dir = s"${Scratch.root}/tokmodel_wp_${java.util.UUID.randomUUID()}"
      graft.operators.TokenizerModel.saveWordPiece(spark,
        graft.operators.WordPiece.UnkToken +: EncVocabWp, dir)
      graft.operators.TokenizerModel.loadWordPiece(spark, dir)
    }).asInstanceOf[Seq[String]]

  /** The native `wordpiece_encode` expression end-to-end on the
    * oracle: each document greedily longest-matched under
    * [[EncVocabWp]], output as token count + the space-joined token
    * string (hash-exact both ways). The TRAINED-vocab path is
    * WordPieceSpec's reference-parity gate; this row pins the
    * expression's per-word greedy scan, `##` position classes,
    * longest-first shadowing, whole-word `[UNK]` failure, and word
    * iteration against an independent engine's replay of the same
    * constant vocabulary. */
  def wordpieceEncode(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val vocab = graft.operators.WordPiece.vocabLit(wpVocabLoaded(spark))
    Tables.documents(spark, sfDir)
      // null text encodes as empty — matches the oracle's LEFT JOIN +
      // COALESCE(0, '') rows for docs its word CTE never sees
      .select(col("doc_id"),
        call_function("wordpiece_encode", coalesce(lower(col("text")), lit("")), vocab)
          .as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        concat_ws(" ", col("toks")).as("encoded"))
      .orderBy("doc_id")
  }

  /** "Longest [[EncVocabWp]] match at `posExpr`" as a generated CASE:
    * plain pieces at position 1, stripped `##` bodies after, probed
    * longest length first — NULL when nothing matches (the `[UNK]`
    * signal the recursive replay reads). */
  private def wpMatchLenSql(wordExpr: String, posExpr: String): String = {
    def cases(pieces: Seq[String]): String =
      pieces.groupBy(_.length).toSeq.sortBy(-_._1).map { case (l, ps) =>
        s"WHEN substr($wordExpr, $posExpr, $l) IN (${ps.sorted.map(p => s"'$p'").mkString(", ")}) THEN $l"
      }.mkString(" ")
    val plain = EncVocabWp.filterNot(_.startsWith("##"))
    val cont = EncVocabWp.filter(_.startsWith("##")).map(_.drop(2))
    s"(CASE WHEN $posExpr = 1 THEN (CASE ${cases(plain)} END) " +
      s"ELSE (CASE ${cases(cont)} END) END)"
  }

  /** The SHARED lang-ID replay chain — CTEs `docs` (planted marker
    * view) through `pred(doc_id, lang, score_*, predicted_lang)` —
    * generated from the SAME constants as the Spark side: planted
    * marker suffixes, the shared FNV window fold, labeled-half
    * per-class bucket counts, per-class totals, the exact scaled
    * division, the same scoring join, and the same
    * argmax-with-alphabetical-ties CASE chain. ONE builder feeds
    * q_langid_trained, q_tokenizer_eval_lang, and
    * q_multilingual_curation, so the router replay can never
    * desynchronize across its consumers (the cdCcosSql discipline). */
  private[queries] def langIdPredChainCtes: String = {
    val fnv = graft.operators.QualityClassifier.fnvBucketSql("t", "i", LangIdN, LangIdDim)
    val markers = LangIdLangs.map(l => s"WHEN '$l' THEN '${langMarker(l)}'").mkString(" ")
    val scoreCols = LangIdLangs.map(l =>
      s"CAST(SUM(CASE WHEN w.lang = '$l' THEN w.w ELSE 0 END) AS BIGINT) AS score_$l")
      .mkString(",\n    ")
    val predCase = {
      val init = LangIdLangs.init.zipWithIndex.map { case (l, i) =>
        val later = LangIdLangs.drop(i + 1).map(x => s"score_$x")
        val best = if (later.size == 1) later.head
          else s"greatest(${later.mkString(", ")})"
        s"WHEN score_$l >= $best THEN '$l'"
      }.mkString(" ")
      s"CASE $init ELSE '${LangIdLangs.last}' END"
    }
    val scSel = LangIdLangs.map(l => s"sc.score_$l").mkString(", ")
    // `lang IN (...)` mirrors the engine's null-text contract (ADVICE
    // r16): a corpus lang outside LangIdLangs gets a NULL marker, so
    // its planted text is NULL and the Spark side drops the document
    // everywhere (features filter null text; the output join is inner).
    // Without the filter the oracle's bias-feature leg would keep such
    // docs, train foreign classes, and emit prediction rows.
    val inLangs = LangIdLangs.map(l => s"'$l'").mkString(", ")
    s"""docs AS (SELECT doc_id, lang,
       |    lower(text || CASE lang $markers END) AS t
       |  FROM documents WHERE text IS NOT NULL AND lang IN ($inLangs)),
       |feat AS (
       |  SELECT doc_id, $fnv AS b FROM (
       |    SELECT doc_id, t, unnest(range(1, len(t) - ${LangIdN - 2})) AS i FROM docs)
       |  UNION ALL SELECT doc_id, $LangIdDim AS b FROM docs),
       |lab AS (SELECT doc_id, lang FROM docs WHERE doc_id % 2 = 0),
       |cc AS (SELECT l.lang, f.b, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM feat f JOIN lab l USING (doc_id) GROUP BY l.lang, f.b),
       |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS t2 FROM cc GROUP BY lang),
       |wt AS (SELECT cc.lang, cc.b,
       |    ${graft.operators.QualityClassifier.RateScale} * cc.cnt // tot.t2 AS w
       |  FROM cc JOIN tot USING (lang)),
       |sc AS (SELECT f.doc_id,
       |    $scoreCols
       |  FROM feat f JOIN wt w ON w.b = f.b GROUP BY f.doc_id),
       |pred AS (SELECT d.doc_id, d.lang, $scSel,
       |    $predCase AS predicted_lang
       |  FROM docs d JOIN sc ON sc.doc_id = d.doc_id)""".stripMargin
  }

  /** The q_langid_trained replay: the shared chain + the hit flag. */
  private def langIdOracleSql: String = {
    val outSel = LangIdLangs.map(l => s"score_$l").mkString(", ")
    s"""WITH $langIdPredChainCtes
       |SELECT doc_id, lang, $outSel,
       |  predicted_lang, CAST(predicted_lang = lang AS INT) AS hit
       |FROM pred ORDER BY doc_id""".stripMargin
  }

  /** The q_langid_incr replay: direct class-count training over the
    * WHOLE labeled half plus the exact per-class rate division — the
    * incremental fold must land on identical rows. */
  private def langIdIncrOracleSql: String = {
    val fnv = graft.operators.QualityClassifier.fnvBucketSql("t", "i", LangIdN, LangIdDim)
    val markers = LangIdLangs.map(l => s"WHEN '$l' THEN '${langMarker(l)}'").mkString(" ")
    // lang IN (...): same null-text contract mirror as q_langid_trained
    val inLangs = LangIdLangs.map(l => s"'$l'").mkString(", ")
    s"""WITH docs AS (SELECT doc_id, lang,
       |    lower(text || CASE lang $markers END) AS t
       |  FROM documents
       |  WHERE text IS NOT NULL AND lang IN ($inLangs) AND doc_id % 2 = 0),
       |feat AS (
       |  SELECT doc_id, $fnv AS b FROM (
       |    SELECT doc_id, t, unnest(range(1, len(t) - ${LangIdN - 2})) AS i FROM docs)
       |  UNION ALL SELECT doc_id, $LangIdDim AS b FROM docs),
       |cc AS (SELECT d.lang, f.b, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM feat f JOIN docs d USING (doc_id) GROUP BY d.lang, f.b),
       |tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS t2 FROM cc GROUP BY lang)
       |SELECT cc.lang, cc.b, cc.cnt,
       |  ${graft.operators.QualityClassifier.RateScale} * cc.cnt // tot.t2 AS w
       |FROM cc JOIN tot USING (lang)
       |ORDER BY cc.lang, cc.b""".stripMargin
  }

  /** The per-(doc, word) WordPiece token-count chain over a `base`
    * CTE carrying `(doc_id, text)`: word split → recursive greedy
    * longest-match scan → `wptoks(doc_id, widx, n)` (a failed word
    * counts 1 — the `[UNK]` rule). ONE builder feeds q_tokenizer_eval
    * and q_tokenizer_eval_lang so the replay cannot desynchronize. */
  private def wpTokChainCtes: String =
    s"""ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM base),
       |w AS (SELECT doc_id, i AS widx, ws[i] AS word
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM ws) t
       |  WHERE ws[i] <> ''),
       |step(doc_id, widx, word, pos, tok, failed) AS (
       |  SELECT doc_id, widx, word, 1, CAST(NULL AS VARCHAR), len(word) > 100 FROM w
       |  UNION ALL
       |  SELECT doc_id, widx, word,
       |    pos + COALESCE(ml, len(word) + 1),
       |    CASE WHEN ml IS NULL THEN NULL
       |         WHEN pos = 1 THEN substr(word, pos, ml)
       |         ELSE '##' || substr(word, pos, ml) END,
       |    ml IS NULL
       |  FROM (SELECT *, ${wpMatchLenSql("word", "pos")} AS ml
       |        FROM step WHERE NOT failed AND pos <= len(word)) t),
       |wptoks AS (SELECT doc_id, widx,
       |    CASE WHEN bool_or(failed) THEN 1 ELSE count(tok) END AS n
       |  FROM step GROUP BY doc_id, widx)""".stripMargin

  /** Per-document unigram piece counts over a `base` CTE — the
    * disjoint-piece Viterbi closed form of the encode oracles, emitted
    * as `(doc_id, n)` so callers can total (q_tokenizer_eval) or
    * group (q_tokenizer_eval_lang). */
  private def uniPerDocSql(pieces: Seq[String], byte: Boolean): String = {
    val inList = pieces.map(p => s"'$p'").mkString(", ")
    if (!byte) {
      val wrapped = pieces.foldLeft("lower(text)") { case (e, p) =>
        s"replace($e, '$p', ' $p ')" }
      s"""SELECT doc_id, CAST(len(flatten(list_transform(
        list_filter(string_split($wrapped, ' '), f -> f <> ''),
        f -> CASE WHEN f IN ($inList) THEN [f]
             ELSE list_transform(range(1, len(f) + 1), i -> substr(f, i, 1)) END)))
        AS BIGINT) AS n FROM base"""
    } else {
      val mapped = graft.operators.ByteLevel.mapWordSql("w")
      val wrapped = pieces.foldLeft(mapped) { case (e, p) =>
        s"replace($e, '$p', ' $p ')" }
      s"""SELECT doc_id, CAST(len(flatten(list_transform(
        regexp_extract_all(lower(text), '${graft.operators.ByteLevel.PreTokPattern}'),
        w -> flatten(list_transform(
          list_filter(string_split($wrapped, ' '), f -> f <> ''),
          f -> CASE WHEN f IN ($inList) THEN [f]
               ELSE list_transform(range(1, len(f) + 1), i -> substr(f, i, 1)) END)))))
        AS BIGINT) AS n FROM base"""
    }
  }

  /** The q_tokenizer_eval replay: all five encode chains composed —
    * per-family corpus token totals from the SAME generated
    * replace-chain / byte-map / recursive-greedy machinery as the
    * per-document encode oracles, then the two exact ratios. */
  private def tokenizerEvalOracleSql: String = {
    val bpeWord = s"""SELECT CAST(SUM(CASE WHEN e = '' THEN 0
      ELSE len(string_split(e, ' ')) END) AS BIGINT) AS n FROM (
      SELECT array_to_string(list_transform(
        list_filter(string_split(lower(text), ' '), w -> w <> ''),
        w -> $encSqlExpr), ' ') AS e FROM base)"""
    val bpeByte = s"""SELECT CAST(SUM(CASE WHEN e = '' THEN 0
      ELSE len(string_split(e, ' ')) END) AS BIGINT) AS n FROM (
      SELECT ${byteEncSqlExpr("lower(text)")} AS e FROM base)"""
    def uniCount(pieces: Seq[String], byte: Boolean): String = {
      val inList = pieces.map(p => s"'$p'").mkString(", ")
      if (!byte) {
        val wrapped = pieces.foldLeft("lower(text)") { case (e, p) =>
          s"replace($e, '$p', ' $p ')" }
        s"""SELECT CAST(SUM(len(flatten(list_transform(
          list_filter(string_split($wrapped, ' '), f -> f <> ''),
          f -> CASE WHEN f IN ($inList) THEN [f]
               ELSE list_transform(range(1, len(f) + 1), i -> substr(f, i, 1)) END))))
          AS BIGINT) AS n FROM base"""
      } else {
        val mapped = graft.operators.ByteLevel.mapWordSql("w")
        val wrapped = pieces.foldLeft(mapped) { case (e, p) =>
          s"replace($e, '$p', ' $p ')" }
        s"""SELECT CAST(SUM(len(flatten(list_transform(
          regexp_extract_all(lower(text), '${graft.operators.ByteLevel.PreTokPattern}'),
          w -> flatten(list_transform(
            list_filter(string_split($wrapped, ' '), f -> f <> ''),
            f -> CASE WHEN f IN ($inList) THEN [f]
                 ELSE list_transform(range(1, len(f) + 1), i -> substr(f, i, 1)) END))))))
          AS BIGINT) AS n FROM base"""
      }
    }
    s"""WITH RECURSIVE
       |base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |wc AS (SELECT
       |    CAST(SUM(len(list_filter(string_split(lower(text), ' '), w -> w <> '')))
       |      AS BIGINT) AS n_words,
       |    CAST(SUM(length(text)) AS BIGINT) AS n_chars FROM base),
       |$wpTokChainCtes,
       |wpn AS (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n FROM wptoks),
       |fam AS (
       |  SELECT 'bpe_byte' AS family, ($bpeByte) AS n_tokens
       |  UNION ALL SELECT 'bpe_word', ($bpeWord)
       |  UNION ALL SELECT 'unigram_byte', (${uniCount(UniPiecesBytes, byte = true)})
       |  UNION ALL SELECT 'unigram_word', (${uniCount(UniPieces, byte = false)})
       |  UNION ALL SELECT 'wordpiece', (SELECT n FROM wpn))
       |SELECT f.family, f.n_tokens, wc.n_words, wc.n_chars,
       |  f.n_tokens * 1000 // wc.n_words AS fertility_pm,
       |  wc.n_chars * 1000 // f.n_tokens AS chars_per_token_pm
       |FROM fam f CROSS JOIN wc
       |ORDER BY f.family""".stripMargin
  }

  /** The q_tokenizer_eval_lang replay: the full lang-ID router chain
    * ([[langIdPredChainCtes]]) composed with all five per-document
    * encode replays, grouped by the predicted language. */
  private def tokenizerEvalLangOracleSql: String = {
    s"""WITH RECURSIVE
       |$langIdPredChainCtes,
       |base AS (SELECT d.doc_id, d.text FROM documents d JOIN pred USING (doc_id)),
       |pdc AS (SELECT doc_id,
       |    CAST(len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS BIGINT) AS n_words,
       |    CAST(length(text) AS BIGINT) AS n_chars FROM base),
       |ebw AS (SELECT doc_id,
       |    CAST(CASE WHEN e = '' THEN 0 ELSE len(string_split(e, ' ')) END AS BIGINT) AS n
       |  FROM (SELECT doc_id, array_to_string(
       |    list_transform(list_filter(string_split(lower(text), ' '), w -> w <> ''),
       |      w -> $encSqlExpr), ' ') AS e FROM base)),
       |ebb AS (SELECT doc_id,
       |    CAST(CASE WHEN e = '' THEN 0 ELSE len(string_split(e, ' ')) END AS BIGINT) AS n
       |  FROM (SELECT doc_id, ${byteEncSqlExpr("lower(text)")} AS e FROM base)),
       |euw AS (${uniPerDocSql(UniPieces, byte = false)}),
       |eub AS (${uniPerDocSql(UniPiecesBytes, byte = true)}),
       |$wpTokChainCtes,
       |wpd AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n FROM wptoks GROUP BY doc_id),
       |grp AS (SELECT p.predicted_lang,
       |    CAST(SUM(pdc.n_words) AS BIGINT) AS n_words,
       |    CAST(SUM(pdc.n_chars) AS BIGINT) AS n_chars,
       |    CAST(SUM(ebw.n) AS BIGINT) AS t_bpe_word,
       |    CAST(SUM(ebb.n) AS BIGINT) AS t_bpe_byte,
       |    CAST(SUM(euw.n) AS BIGINT) AS t_uni_word,
       |    CAST(SUM(eub.n) AS BIGINT) AS t_uni_byte,
       |    CAST(SUM(COALESCE(wpd.n, 0)) AS BIGINT) AS t_wordpiece
       |  FROM pdc JOIN pred p USING (doc_id)
       |  JOIN ebw USING (doc_id) JOIN ebb USING (doc_id)
       |  JOIN euw USING (doc_id) JOIN eub USING (doc_id)
       |  LEFT JOIN wpd USING (doc_id)
       |  GROUP BY p.predicted_lang),
       |fam AS (
       |  SELECT predicted_lang, 'bpe_byte' AS family, t_bpe_byte AS n_tokens,
       |    n_words, n_chars FROM grp
       |  UNION ALL SELECT predicted_lang, 'bpe_word', t_bpe_word, n_words, n_chars FROM grp
       |  UNION ALL SELECT predicted_lang, 'unigram_byte', t_uni_byte, n_words, n_chars FROM grp
       |  UNION ALL SELECT predicted_lang, 'unigram_word', t_uni_word, n_words, n_chars FROM grp
       |  UNION ALL SELECT predicted_lang, 'wordpiece', t_wordpiece, n_words, n_chars FROM grp)
       |SELECT predicted_lang, family, n_tokens, n_words, n_chars,
       |  n_tokens * 1000 // n_words AS fertility_pm,
       |  n_chars * 1000 // n_tokens AS chars_per_token_pm
       |FROM fam ORDER BY predicted_lang, family""".stripMargin
  }

  /** The q_pack_by_lang replay: the router chain, the mix gate from
    * the SAME driver-computed constants as the plan (the q_corpus_mix
    * VALUES discipline), then one window sum PARTITIONED by the
    * predicted language — per-language offsets and bins. */
  private def packByLangOracleSql: String = {
    val values = LangMixWeights.map { case (s, w) =>
      val full = math.floor(w).toLong
      val gate = math.floor((w - math.floor(w)) * 4294967296d).toLong
      s"('$s', $full, $gate)"
    }.mkString(", ")
    val budget = SampleQueries.PackBudget
    s"""WITH $langIdPredChainCtes,
       |corpus AS (SELECT d.doc_id, d.n_chars, p.predicted_lang
       |  FROM documents d JOIN pred p USING (doc_id)),
       |mw(lang, f, gate) AS (VALUES $values),
       |m AS (SELECT c.doc_id, c.predicted_lang, c.n_chars, r.epoch
       |  FROM corpus c JOIN mw ON c.predicted_lang = mw.lang
       |  JOIN range(0, 65) r(epoch) ON r.epoch <= mw.f
       |  WHERE r.epoch < mw.f
       |     OR CAST('0x' || substr(md5('mix:' || CAST(c.doc_id AS VARCHAR)), 1, 8) AS BIGINT) < mw.gate),
       |k AS (SELECT doc_id, predicted_lang, n_chars, epoch,
       |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS key
       |  FROM m)
       |SELECT predicted_lang, doc_id, epoch, n_chars,
       |  CAST(SUM(n_chars) OVER (PARTITION BY predicted_lang
       |    ORDER BY key, doc_id, epoch ROWS UNBOUNDED PRECEDING) AS BIGINT) AS offset_end,
       |  CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY predicted_lang
       |    ORDER BY key, doc_id, epoch ROWS UNBOUNDED PRECEDING) - n_chars)
       |    / $budget.0) AS BIGINT) AS bin
       |FROM k ORDER BY predicted_lang, doc_id, epoch""".stripMargin
  }

  /** The q_multilingual_curation replay: the router chain, then per
    * predicted language a full bigram-LM replay (train on the routed
    * partition, add-one smoothing, integer surprisal), the exact
    * per-language mean cut, and distinct content digests among the
    * survivors. */
  private def multilingualOracleSql: String = {
    s"""WITH $langIdPredChainCtes,
       |corpus AS (SELECT d.doc_id, d.text, p.predicted_lang
       |  FROM documents d JOIN pred p USING (doc_id)),
       |dtk AS (SELECT doc_id, predicted_lang,
       |    list_prepend('<s>', list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
       |  FROM corpus),
       |dbg AS (SELECT doc_id, predicted_lang, u['w1'] AS w1, u['w2'] AS w2 FROM (
       |  SELECT doc_id, predicted_lang, unnest(list_transform(range(1, len(t)),
       |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS u
       |  FROM dtk WHERE len(t) >= 2)),
       |model AS (SELECT predicted_lang, w1, w2, COUNT(*) AS n FROM dbg GROUP BY 1, 2, 3),
       |ctx AS (SELECT predicted_lang, w1, CAST(SUM(n) AS BIGINT) AS cn
       |  FROM model GROUP BY 1, 2),
       |voc AS (SELECT predicted_lang, COUNT(DISTINCT w2) AS v FROM model GROUP BY 1),
       |sc2 AS (SELECT b.doc_id, b.predicted_lang,
       |    1000000 * (COALESCE(c.cn, 0) + voc.v) // (COALESCE(m.n, 0) + 1) AS s
       |  FROM dbg b
       |  LEFT JOIN model m USING (predicted_lang, w1, w2)
       |  LEFT JOIN ctx c USING (predicted_lang, w1)
       |  JOIN voc USING (predicted_lang)),
       |dsc AS (SELECT doc_id, predicted_lang,
       |    SUM(s) // COUNT(*) AS avg_surprisal
       |  FROM sc2 GROUP BY 1, 2),
       |thr AS (SELECT predicted_lang, SUM(avg_surprisal) // COUNT(*) AS th
       |  FROM dsc GROUP BY 1),
       |kept AS (SELECT dsc.doc_id, dsc.predicted_lang
       |  FROM dsc JOIN thr USING (predicted_lang)
       |  WHERE dsc.avg_surprisal <= thr.th),
       |dd AS (SELECT DISTINCT c.predicted_lang, md5(c.text) AS dg
       |  FROM corpus c JOIN kept k ON k.doc_id = c.doc_id),
       |r AS (SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_routed
       |  FROM corpus GROUP BY 1),
       |s2 AS (SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_scored
       |  FROM dsc GROUP BY 1),
       |k2 AS (SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_lm_kept
       |  FROM kept GROUP BY 1),
       |d2 AS (SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_dedup_kept
       |  FROM dd GROUP BY 1)
       |SELECT r.predicted_lang, r.n_routed,
       |  CAST(COALESCE(s2.n_scored, 0) AS BIGINT) AS n_scored,
       |  CAST(COALESCE(k2.n_lm_kept, 0) AS BIGINT) AS n_lm_kept,
       |  CAST(COALESCE(d2.n_dedup_kept, 0) AS BIGINT) AS n_dedup_kept
       |FROM r LEFT JOIN s2 USING (predicted_lang)
       |LEFT JOIN k2 USING (predicted_lang)
       |LEFT JOIN d2 USING (predicted_lang)
       |ORDER BY r.predicted_lang""".stripMargin
  }

  /** Router + KEYED temperature-sampling replay up to
    * `samp(doc_id, text, predicted_lang)` — the q_domain_mix
    * isqrt/threshold/md5-draw algebra with the router's predicted
    * language as the domain. ONE builder feeds q_tokenizer_mix and
    * q_tokenizer_mix_pairs (the langIdPredChainCtes discipline). */
  private def tokenizerMixChainCtes: String =
    s"""$langIdPredChainCtes,
       |corpus AS (SELECT d.doc_id, d.text, p.predicted_lang
       |  FROM documents d JOIN pred p USING (doc_id)),
       |mc AS (SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM corpus GROUP BY 1),
       |mw AS (SELECT predicted_lang, n,
       |    CAST(floor(sqrt(CAST(n * 1000000 AS DOUBLE))) AS BIGINT) AS w FROM mc),
       |mt AS (SELECT predicted_lang, n, w,
       |    CAST(LEAST(4294967296,
       |      ((4294967296 * w) // (SELECT CAST(SUM(w) AS BIGINT) FROM mw))
       |      * ((SELECT CAST(SUM(n) AS BIGINT) FROM mw) // 4) // n) AS BIGINT) AS thresh
       |  FROM mw),
       |samp AS (SELECT c.doc_id, c.text, c.predicted_lang
       |  FROM corpus c JOIN mt USING (predicted_lang)
       |  WHERE CAST('0x' || substr(md5('tmix:' || CAST(c.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |        < mt.thresh)""".stripMargin

  /** The q_tokenizer_mix replay: sampled per-language word totals and
    * byte-level encode totals, left-joined to the routed counts. */
  private def tokenizerMixOracleSql: String =
    s"""WITH $tokenizerMixChainCtes,
       |st AS (SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       |    CAST(SUM(len(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS BIGINT) AS n_words,
       |    CAST(SUM(CASE WHEN e = '' THEN 0 ELSE len(string_split(e, ' ')) END) AS BIGINT) AS n_tokens
       |  FROM (SELECT predicted_lang, text, ${byteEncSqlExpr("lower(text)")} AS e FROM samp) t
       |  GROUP BY predicted_lang)
       |SELECT mc.predicted_lang, mc.n AS n_routed,
       |  CAST(COALESCE(st.n_sampled, 0) AS BIGINT) AS n_sampled,
       |  CAST(COALESCE(st.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(st.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CASE WHEN st.n_words > 0 THEN st.n_tokens * 1000 // st.n_words END AS fertility_pm
       |FROM mc LEFT JOIN st USING (predicted_lang)
       |ORDER BY predicted_lang""".stripMargin

  /** The q_tokenizer_mix_pairs replay: the q_bpe_pairs corpus-pass
    * algebra over the sampled corpus. */
  private def tokenizerMixPairsOracleSql: String =
    s"""WITH $tokenizerMixChainCtes,
       |wf AS (SELECT w AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM samp) t
       |  WHERE w <> '' GROUP BY w),
       |pos2 AS (SELECT word, freq, unnest(generate_series(1, length(word))) AS i FROM wf),
       |p2 AS (SELECT substring(word, i, 1) AS lhs,
       |    CASE WHEN i < length(word) THEN substring(word, i + 1, 1)
       |         ELSE '</w>' END AS rhs,
       |    freq
       |  FROM pos2)
       |SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS n FROM p2 GROUP BY lhs, rhs
       |ORDER BY n DESC, lhs, rhs LIMIT 50""".stripMargin

  /** The q_multilingual_decontaminate replay: the router chain, the
    * q_dedup_winnow fingerprint chain (per-document, so computing over
    * all documents and restricting to the routed corpus equals
    * computing over the routed corpus), and the keyed screen. */
  private def multilingualDecontaminateOracleSql: String =
    s"""WITH $langIdPredChainCtes,
       |corpus AS (SELECT d.doc_id, p.predicted_lang
       |  FROM documents d JOIN pred p USING (doc_id)),
       |${DedupQueries.winnowChainSql},
       |kfp AS (SELECT w.id, w.fp, c.predicted_lang
       |  FROM wfp w JOIN corpus c ON c.doc_id = w.id),
       |efp AS (SELECT DISTINCT predicted_lang, fp FROM kfp WHERE id % 50 = 0),
       |bad AS (SELECT DISTINCT kfp.id
       |  FROM kfp JOIN efp USING (predicted_lang, fp))
       |SELECT c.predicted_lang, c.doc_id FROM corpus c
       |WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.id = c.doc_id)
       |ORDER BY predicted_lang, doc_id""".stripMargin

  /** The q_multilingual_neardup replay: the shared router chain, then
    * the q_dedup_minhash banded-LSH algebra over the ROUTED corpus
    * with `predicted_lang` in the bucket key — candidates only ever
    * form within a language. Constants come from [[DedupQueries]]
    * (shared geometry). */
  private def multilingualNearDupOracleSql: String = {
    val k = DedupQueries.K
    val bw = DedupQueries.BandWidth
    val mins = (0 until k).map(i => s"MIN(md5('$i:' || shingle)) AS m$i").mkString(", ")
    val bands = (0 until k / bw).map { bx =>
      val v = (bx * bw until (bx + 1) * bw).map(i => s"m$i").mkString(" || ")
      s"SELECT id, $bx AS band_idx, $v AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $langIdPredChainCtes,
       |corpus AS (SELECT d.doc_id, d.text, p.predicted_lang
       |  FROM documents d JOIN pred p USING (doc_id)),
       |sh AS (SELECT DISTINCT id, shingle FROM (
       |  SELECT doc_id AS id,
       |    unnest(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus))),
       |sig AS (SELECT id, $mins FROM sh GROUP BY id),
       |bands AS ($bands),
       |kb AS (SELECT b.id, b.band_idx, b.band_val, c.predicted_lang
       |  FROM bands b JOIN corpus c ON c.doc_id = b.id),
       |cand AS (SELECT DISTINCT a.predicted_lang, a.id AS id_a, b.id AS id_b
       |  FROM kb a JOIN kb b
       |  ON a.predicted_lang = b.predicted_lang
       |    AND a.band_idx = b.band_idx AND a.band_val = b.band_val
       |    AND a.id < b.id),
       |cnt AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
       |inter AS (SELECT c.predicted_lang, c.id_a, c.id_b, COUNT(*) AS i
       |  FROM cand c
       |  JOIN sh sa ON sa.id = c.id_a
       |  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2, 3)
       |SELECT predicted_lang, id_a, id_b,
       |  CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
       |FROM inter JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b
       |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= ${DedupQueries.Threshold}
       |ORDER BY predicted_lang, id_a, id_b""".stripMargin
  }

  /** Token budget per packed training sequence for q_pack_tokens. */
  private val TokenBudget = 512L

  /** TOKEN-TRUE sequence packing — the step every pretraining loader
    * actually runs: documents are measured in TOKENIZER tokens (the
    * native `bpe_encode` under [[EncRules]], fused into the scan), then
    * concat-then-slice packed into [[TokenBudget]]-token bins by the
    * distributed prefix sum ([[graft.operators.PrefixSum.packByBudget]]
    * — no whole-frame window). q_pack_sequences keeps the
    * character-budget variant; this row composes the tokenizer with the
    * packer so bins hold a fixed TOKEN budget, which is what the
    * training batch shape cares about. The oracle replays the encode
    * symbol-exactly (the q_bpe_encode replace-chain) and the pack as a
    * window sum. */
  def packTokens(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val merges = array(EncRules.map { case (a, b) =>
      struct(lit(a).as("lhs"), lit(b).as("rhs")) }: _*)
    val toks = Tables.documents(spark, sfDir)
      // null text packs as 0 tokens — the bpeEncode null contract
      // (without the coalesce, size(NULL) = -1 would poison the sums)
      .select(col("doc_id"),
        size(call_function("bpe_encode", coalesce(lower(col("text")), lit("")), merges))
          .cast("long").as("n_tokens"))
    graft.operators.PrefixSum.packByBudget(
      toks, Seq(col("doc_id")), col("n_tokens"), TokenBudget, "bin",
      // doc_id is the unique order key — skip the content-hash pass
      tieBreaker = Some(col("doc_id")))
      .select(col("doc_id"), col("n_tokens"),
        col("bin_end").as("offset_end"), col("bin"))
      .orderBy("doc_id")
  }

  /** The tokenizer-layer FLAGSHIP composition — the "prepare training
    * sequences" pipeline a pretraining loader actually runs, as ONE
    * plan (the tokenizer analog of q_corpus_pipeline): substring-level
    * exact span dedup (Lee et al., [[graft.operators.Dedup.removeRepeatedSpans]])
    * → BYTE-LEVEL BPE encode under the fixed [[EncRulesBytes]] table
    * (the native `bpe_encode_bytes` expression — regex pretokens over
    * the 256-symbol byte alphabet, fused into the stage) → drop documents
    * emptied by span removal → deterministic 80% train selection (the
    * splitByCluster md5 split on doc_id) → token-true packing into
    * [[TokenBudget]]-token bins via the distributed prefix sum. Every
    * stage is an individually-oracled operator; the composed DuckDB
    * oracle chains the span-removal replay
    * ([[DedupQueries.spansApplyChainSql]]), the encode replay, the md5
    * split, and the window-sum pack, so the stages are value-checked AS
    * a pipeline — offsets downstream of the span deletion shift if any
    * stage drifts. Scale shape is inherited: spans cross one digest
    * aggregate + one island merge, encode/select are narrow maps, the
    * pack is two bounded passes — the corpus is never pair-joined. */
  def tokPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    // 1. repeated verbatim ≥8-token spans deleted in place
    val cleaned = graft.operators.Dedup.removeRepeatedSpans(
      Tables.documents(spark, sfDir), col("doc_id"), col("text"), DedupQueries.SpanN)
    // 2-3. tokenize what survived with the BYTE-LEVEL encoder (the
    // production GPT-2/Llama front end — regex pretokens over the
    // 256-symbol byte alphabet, no unk possible); drop emptied docs
    val toks = cleaned.select(col("id").as("doc_id"), col("n_removed"),
        size(call_function("bpe_encode_bytes", lower(col("clean_text")), encBytesMergesCol))
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    // 4. deterministic 80% train mix (engine-portable md5 split)
    val sel = toks.filter(pmod(
      conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(10L)) < 8)
    // 5. token-true packing (doc_id is the unique order key)
    graft.operators.PrefixSum.packByBudget(
      sel, Seq(col("doc_id")), col("n_tokens"), TokenBudget, "bin",
      tieBreaker = Some(col("doc_id")))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("bin_end").as("offset_end"), col("bin"))
      .orderBy("doc_id")
  }

  /** Bigram-LM quality scoring ([[graft.operators.NgramLm]]) — the
    * perplexity-filter niche (CCNet/Gopher curate by reference-LM
    * score), integer-exact: the model trains on the corpus's `en`
    * documents (the reference-domain stand-in) as a persisted
    * [[FrameFixture]] artifact, then EVERY document gets the mean
    * scaled smoothed-bigram surprisal — higher = less like the
    * reference. The oracle replays training, smoothing, and scoring
    * in full. */
  private[queries] def lmModelStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "ngram_lm_en", sfDir)(
      graft.operators.NgramLm.bigramModel(
        Tables.documents(spark, sfDir).filter(col("lang") === "en"),
        col("doc_id"), col("text")))

  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val model = lmModelStore(spark, sfDir)
    graft.operators.NgramLm.score(docs, col("doc_id"), col("text"), model)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  private def lm3ModelStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "ngram_lm3_en", sfDir)(
      graft.operators.NgramLm.trigramModel(
        Tables.documents(spark, sfDir).filter(col("lang") === "en"),
        col("doc_id"), col("text")))

  /** Order-3 LM quality scoring with stupid backoff
    * ([[graft.operators.NgramLm.scoreBackoff]]) — the real CCNet/KenLM
    * filter order (≥ 3): one persisted trigram-count table is the whole
    * model (every lower order is a marginal of it), and every document
    * gets the mean scaled backoff surprisal. The oracle replays
    * training, all three backoff tiers, and the integer arithmetic in
    * full. */
  def lmScore3(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    graft.operators.NgramLm.scoreBackoff(
        docs, col("doc_id"), col("text"), lm3ModelStore(spark, sfDir))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  private def lm5ModelStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "ngram_lm5_en", sfDir)(
      graft.operators.NgramLm.ngramModel(
        Tables.documents(spark, sfDir).filter(col("lang") === "en"),
        col("doc_id"), col("text"), order = 5))

  /** ORDER-5 stupid-backoff LM scoring
    * ([[graft.operators.NgramLm.scoreBackoffN]]) — CCNet's actual
    * operating point (a 5-gram KenLM): one persisted observed-5-gram
    * table is the whole model, every lower order a suffix marginal of
    * it, and every document gets the mean scaled backoff surprisal
    * across the five tiers. The oracle replays training, all four
    * marginal derivations, every tier's α-power integer arithmetic,
    * and the floored mean. */
  def lmScore5(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    graft.operators.NgramLm.scoreBackoffN(
        docs, col("doc_id"), col("text"), lm5ModelStore(spark, sfDir), order = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** The count floors for the pruned 5-gram artifact: orders 3..5
    * pruned at 2 (singletons drop — at web scale the overwhelming
    * bulk), orders 1..2 exact. */
  private val Lm5Floors = Seq(1L, 1L, 2L, 2L, 2L)

  private[queries] def lm5pModelStore(spark: SparkSession, sfDir: String): DataFrame =
    FrameFixture(spark, "ngram_lm5p_en", sfDir)(
      graft.operators.NgramLm.prunedBackoffModel(
        Tables.documents(spark, sfDir).filter(col("lang") === "en"),
        col("doc_id"), col("text"), order = 5, minCounts = Lm5Floors))

  /** COUNT-PRUNED order-5 backoff scoring
    * ([[graft.operators.NgramLm.scoreBackoffPruned]]) — the Brants et
    * al. production artifact next to [[lmScore5]]'s exact one-table
    * form: per-order count tables with singleton 3/4/5-grams dropped
    * ([[Lm5Floors]]), scoring backing off through the floors. The
    * oracle replays the padded-stream window counts per order, every
    * floor, and all five tiers' lookups against the pruned tables. */
  def lmScore5p(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    graft.operators.NgramLm.scoreBackoffPruned(
        docs, col("doc_id"), col("text"), lm5pModelStore(spark, sfDir), order = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Corpus distribution-drift report
    * ([[graft.operators.TextStats.vocabDrift]]): even-id docs as the
    * OLD snapshot vs odd-id docs as the NEW one, with every 5th new
    * doc carrying the q_text_search_incr churn suffix — so the report
    * must surface the injected tokens at the top while the shared
    * vocabulary sits at parity. Integer-exact smoothed rate ratios;
    * the oracle replays counts, smoothing, ratio, and the top-k. */
  def vocabDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    def toks(df: DataFrame) =
      df.select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
    val old = docs.filter(col("doc_id") % 2 === 0)
    val neu = docs.filter(col("doc_id") % 2 === 1)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" vector vector merge"))).otherwise(col("text")))
    graft.operators.TextStats.vocabDrift(toks(old), toks(neu), col("token"))
  }

  /** Substring-candidate bound for the oracled unigram seed pass. */
  private val UniMaxLen = 4

  /** The unigram tokenizer's corpus-pass half on the hash-exact oracle
    * ([[graft.operators.Unigram.seedCandidates]]): top-50
    * occurrence-weighted substrings (length 2..[[UniMaxLen]]) of the
    * `(word, freq)` vocabulary — the EM loop's bounded candidate set.
    * The iterative EM itself is gated by UnigramSpec (exhaustive-
    * enumeration parity + drain == distributed), the q_bpe_pairs
    * division of labor. */
  def unigramSeed(spark: SparkSession, sfDir: String): DataFrame =
    Unigram.seedCandidates(
        Bpe.wordFreq(Tables.documents(spark, sfDir), col("text")), UniMaxLen, 50)
      .orderBy(desc("freq"), asc("piece"))

  /** Fixed piece list for [[unigramEncode]] — four two-char pieces with
    * PAIRWISE-DISJOINT character sets at one shared weight, no single
    * chars in the model. The restriction is what makes Viterbi
    * oracle-able: disjoint pieces can never overlap (no position
    * belongs to two occurrences, same-piece self-overlap needs a
    * repeated char), and one piece (−1.0) always beats its two unk
    * singles (−2·10⁴), so the UNIQUE optimum is "take every
    * occurrence, everything else single chars" — exactly a chain of
    * space-wrapping `replace` calls plus per-char splits in SQL. */
  private val UniPieces = Seq("th", "er", "an", "is")

  /** The native `unigram_encode` expression end-to-end on the oracle:
    * each document Viterbi-segmented under [[UniPieces]], output as
    * piece count + the space-joined piece string (hash-exact both
    * ways). The TRAINED-model path is UnigramSpec's parity gate; this
    * row pins the expression's per-word DP, word iteration, unk
    * fallback, and empty-word skip against an independent engine. */
  def unigramEncode(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    val model = Unigram.piecesLit(UniPieces.map(p => Unigram.Piece(p, -1.0, 0L)))
    Tables.documents(spark, sfDir)
      // null text encodes as empty — the bpeEncode null contract
      .select(col("doc_id"),
        call_function("unigram_encode", coalesce(lower(col("text")), lit("")), model)
          .as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_pieces"),
        concat_ws(" ", col("toks")).as("encoded"))
      .orderBy("doc_id")
  }

  /** Fixed piece list for [[unigramEncodeBytes]] — the [[UniPieces]]
    * restriction carried to the byte alphabet (pairwise-disjoint char
    * sets, no singles; 'Ġw' exercises the leading-space stand-in). The
    * model has NO single-char pieces, so every uncovered byte falls to
    * the unk floor — and one piece (−1.0) always beats its two unk
    * singles (−2·10⁴), so the unique optimum is "take every
    * occurrence, everything else unk singles": the replace-chain
    * closed form, per pretoken. */
  private val UniPiecesBytes = Seq("th", "er", "an", "Ġw")

  /** The native `unigram_encode_bytes` expression end-to-end on the
    * oracle — the byte-level Viterbi sibling of [[unigramEncode]]
    * (SentencePiece's byte-fallback unigram shape): pretokenize,
    * byte-map, segment each pretoken under [[UniPiecesBytes]]. The
    * TRAINED-model and multibyte paths are ByteBpeSpec's parity gate;
    * this row pins pretokenizer + mapping + per-pretoken DP + unk
    * fallback against an independent engine. */
  def unigramEncodeBytes(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftFunctions.ensure(spark)
    // the piece table comes off the LOADED interchange artifact
    val model = Unigram.piecesLit(uniPiecesBytesLoaded(spark))
    Tables.documents(spark, sfDir)
      // null text encodes as empty — the bpeEncode null contract
      .select(col("doc_id"),
        call_function("unigram_encode_bytes", coalesce(lower(col("text")), lit("")), model)
          .as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_pieces"),
        concat_ws(" ", col("toks")).as("encoded"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unigram_seed" -> unigramSeed,
    "q_unigram_encode" -> unigramEncode,
    "q_unigram_encode_bytes" -> unigramEncodeBytes,
    "q_vocab_drift" -> vocabDrift,
    "q_lm_score" -> lmScore,
    "q_lm_score3" -> lmScore3,
    "q_lm_score5" -> lmScore5,
    "q_lm_score5p" -> lmScore5p,
    "q_tok_pipeline" -> tokPipeline,
    "q_bpe_pairs" -> bpePairs,
    "q_wordpiece_pairs" -> wordpiecePairs,
    "q_wordpiece_encode" -> wordpieceEncode,
    "q_bpe_encode" -> bpeEncode,
    "q_bpe_encode_bytes" -> bpeEncodeBytes,
    "q_pack_tokens" -> packTokens,
    "q_text_search" -> textSearch,
    "q_text_search_incr" -> textSearchIncr,
    "q_quality_prune" -> qualityPrune,
    "q_quality_gate" -> qualityGate,
    "q_text_stats" -> textStats,
    "q_text_langid" -> textLangId,
    "q_langid_trained" -> langIdTrained,
    "q_tokenizer_eval" -> tokenizerEval,
    "q_tokenizer_eval_lang" -> tokenizerEvalByLang,
    "q_multilingual_curation" -> ((s, d) => multilingualCuration(s, d)),
    "q_multilingual_neardup" -> ((s, d) => multilingualNearDup(s, d)),
    "q_tokenizer_mix" -> ((s, d) => tokenizerMix(s, d)),
    "q_multilingual_decontaminate" -> ((s, d) => multilingualDecontaminate(s, d)),
    "q_tokenizer_mix_pairs" -> ((s, d) => tokenizerMixPairs(s, d)),
    "q_pack_by_lang" -> ((s, d) => packByLang(s, d)),
    "q_langid_incr" -> ((s, d) => langIdIncr(s, d)),
    "q_text_redact" -> textRedact,
    "q_vocab_topk" -> vocabTopK,
    "q_heavy_hitters" -> heavyHitters,
    "q_tfidf_topterms" -> ((s, d) => tfidfTopTerms(s, d)),
    "q_len_histogram" -> lenHistogram,
    "q_len_quantiles" -> lenQuantiles,
    "q_len_quantiles_approx" -> lenQuantilesApprox,
    "q_len_quantiles_bound" -> lenQuantilesBound,
    "q_text_repetition" -> textRepetition,
    "q_chunk_overlap" -> chunkOverlap)

  override def warmFixtures(spark: SparkSession, sfDir: String): Unit = {
    lmModelStore(spark, sfDir)
    lm3ModelStore(spark, sfDir)
    lm5ModelStore(spark, sfDir)
    lm5pModelStore(spark, sfDir)
    fullIndexDir(spark, sfDir)
    oldIndexDir(spark, sfDir)
    langIdWeightsStore(spark, sfDir)
    langRoutes(spark, sfDir)
    ()
  }

  private val toksSql = "string_split(lower(text), ' ')"

  /** The scaled-integer BM25 search over an arbitrary corpus relation
    * (`doc_id, text`) — shared by the full and incremental index
    * oracles. */
  private def searchSql(corpusSql: String): String =
    s"""WITH src AS ($corpusSql),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM src),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |c AS (SELECT COUNT(DISTINCT doc_id) AS n, COUNT(*) AS l FROM tok),
       |m AS (SELECT tf.doc_id, tf.tf, dl.dl, dfx.df, c.n, c.l
       |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (term), c
       |  WHERE tf.term IN (${SearchTerms.map(t => s"'$t'").mkString(", ")})),
       |s AS (SELECT doc_id,
       |    ((2 * (n - df) + 1) * 1000000) // (2 * df + 1) AS idf_s,
       |    (2200000 * tf * 1000000) //
       |      (1000000 * tf + 300000 + (900000 * dl * n) // l) AS tfc_s
       |  FROM m)
       |SELECT doc_id, COUNT(*) AS n_terms,
       |  CAST(SUM((idf_s * tfc_s) // 1000000) AS BIGINT) AS score_scaled
       |FROM s GROUP BY doc_id
       |ORDER BY score_scaled DESC, doc_id LIMIT $SearchK""".stripMargin
  private def stopListSql(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  private val langHitsSql = Profiles.keys.toSeq.sorted.map { l =>
    s"len(list_filter($toksSql, t -> t IN (${stopListSql(Profiles(l))}))) AS hits_$l"
  }.mkString(",\n  ")

  private val langCaseSql = {
    val langs = Profiles.keys.toSeq.sorted
    val best = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
    val whens = langs.map(l => s"WHEN hits_$l = $best THEN '$l'").mkString(" ")
    s"CASE $whens END"
  }

  /** The encoder replay: per-char boundary-delimited symbols, the
    * [[EncRules]] merges as a replace chain in rank order (non-
    * overlapping left-to-right — DuckDB replace == the expression's
    * greedy pass), then boundaries collapse to spaces. Generated from
    * the SAME EncRules constant as the Spark side. */
  private def encSqlExpr: String = {
    // (?s) dotall: words are split only on ' ', so an embedded newline
    // is an ordinary symbol to the Spark expression's codePointAt loop —
    // RE2's newline-excluding '.' would silently skip it here
    val base = """regexp_replace(w, '(?s)(.)', '|\1', 'g') || '|</w>|'"""
    val chained = EncRules.foldLeft(base) { case (s, (a, b)) =>
      s"replace($s, '|$a|$b|', '|$a$b|')"
    }
    s"replace(trim($chained, '|'), '|', ' ')"
  }

  /** The pruned order-5 model replay — `reft` (4-BOS-padded en
    * reference stream) → per-order floored count tables `o5..o1` +
    * unigram totals `tt` — shared by the q_lm_score5p oracle and the
    * curation-pipeline flagship's composed oracle (the [[lm5pModelStore]]
    * artifact's SQL mirror; floors are the [[Lm5Floors]] literals). */
  private[queries] val lm5pModelChainSql: String =
    """reft AS (
      |  SELECT list_concat(['<s>', '<s>', '<s>', '<s>'],
      |    list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
      |  FROM documents WHERE lang = 'en'),
      |o5 AS (SELECT gram, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(t) - 3),
      |    i -> array_to_string(t[i:i+4], ' '))) AS gram FROM reft WHERE len(t) >= 5)
      |  GROUP BY gram HAVING COUNT(*) >= 2),
      |o4 AS (SELECT gram, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(t) - 2),
      |    i -> array_to_string(t[i:i+3], ' '))) AS gram FROM reft WHERE len(t) >= 4)
      |  GROUP BY gram HAVING COUNT(*) >= 2),
      |o3 AS (SELECT gram, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(t) - 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS gram FROM reft WHERE len(t) >= 3)
      |  GROUP BY gram HAVING COUNT(*) >= 2),
      |o2 AS (SELECT gram, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(t)),
      |    i -> array_to_string(t[i:i+1], ' '))) AS gram FROM reft WHERE len(t) >= 2)
      |  GROUP BY gram),
      |o1 AS (SELECT gram, COUNT(*) AS n FROM (
      |  SELECT unnest(t) AS gram FROM reft) GROUP BY gram),
      |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, COUNT(*) AS v FROM o1)""".stripMargin

  /** The pruned-backoff SCORING replay against [[lm5pModelChainSql]]'s
    * tables: the caller supplies the token-list CTE body (`dt` — which
    * docs, which text column) and the emitted per-window CTE's name
    * (the flagship composition renames `sc` to dodge its classifier
    * chain's CTE names). Emits one row per 5-gram window with its
    * tier-resolved scaled surprisal `s`. */
  private[queries] def lm5pScoreChainSql(dtBodySql: String, scName: String): String =
    s"""dt AS ($dtBodySql),
       |db AS (SELECT doc_id,
       |    u['s0'] AS s0, u['s1'] AS s1, u['s2'] AS s2, u['s3'] AS s3,
       |    u['c0'] AS c0, u['c1'] AS c1, u['c2'] AS c2, u['c3'] AS c3,
       |    u['w5'] AS w5 FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> {
       |    's0': array_to_string(t[i:i+4], ' '), 's1': array_to_string(t[i+1:i+4], ' '),
       |    's2': array_to_string(t[i+2:i+4], ' '), 's3': array_to_string(t[i+3:i+4], ' '),
       |    'c0': array_to_string(t[i:i+3], ' '), 'c1': array_to_string(t[i+1:i+3], ' '),
       |    'c2': array_to_string(t[i+2:i+3], ' '), 'c3': array_to_string(t[i+3:i+3], ' '),
       |    'w5': t[i + 4]})) AS u
       |  FROM dt WHERE len(t) >= 5)),
       |$scName AS (SELECT doc_id,
       |    CASE WHEN n5.n IS NOT NULL THEN 1000000 * x0.n // n5.n
       |         WHEN n4.n IS NOT NULL THEN (5 * 1000000 * x1.n) // (2 * n4.n)
       |         WHEN n3.n IS NOT NULL THEN (25 * 1000000 * x2.n) // (4 * n3.n)
       |         WHEN n2.n IS NOT NULL THEN (125 * 1000000 * x3.n) // (8 * n2.n)
       |         ELSE (625 * 1000000 * (tt.nn + tt.v)) // (16 * (COALESCE(uu.n, 0) + 1))
       |    END AS s
       |  FROM db LEFT JOIN o5 n5 ON n5.gram = db.s0
       |    LEFT JOIN o4 x0 ON x0.gram = db.c0
       |    LEFT JOIN o4 n4 ON n4.gram = db.s1
       |    LEFT JOIN o3 x1 ON x1.gram = db.c1
       |    LEFT JOIN o3 n3 ON n3.gram = db.s2
       |    LEFT JOIN o2 x2 ON x2.gram = db.c2
       |    LEFT JOIN o2 n2 ON n2.gram = db.s3
       |    LEFT JOIN o1 x3 ON x3.gram = db.c3
       |    LEFT JOIN o1 uu ON uu.gram = db.w5, tt)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the same (word, freq) fold, then every substring of length
    // 2..UniMaxLen occurrence-weighted — ties impossible past the
    // piece-level GROUP BY, so the top-50 cut is deterministic
    "q_unigram_seed" ->
      s"""WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
         |    x -> x <> '')) AS word FROM documents),
         |wf AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
         |sub AS (SELECT unnest(flatten(list_transform(range(2, ${UniMaxLen + 1}), l ->
         |    CASE WHEN len(word) >= l
         |         THEN list_transform(range(1, len(word) - l + 2), i -> substr(word, i, l))
         |         ELSE [] END))) AS piece, freq
         |  FROM wf)
         |SELECT piece, CAST(SUM(freq) AS BIGINT) AS freq
         |FROM sub GROUP BY piece
         |ORDER BY freq DESC, piece LIMIT 50""".stripMargin,
    // disjoint-piece Viterbi closed form: wrap every occurrence in
    // spaces (occurrences can never overlap), split, then each
    // non-piece fragment decomposes to single-char unk pieces
    "q_unigram_encode" -> {
      // coalesce: null text encodes as empty, the engine-side contract
      val wrapped = UniPieces.foldLeft("lower(coalesce(text, ''))") { case (e, p) =>
        s"replace($e, '$p', ' $p ')" }
      val inList = UniPieces.map(p => s"'$p'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id,
         |  flatten(list_transform(
         |    list_filter(string_split($wrapped, ' '), f -> f <> ''),
         |    f -> CASE WHEN f IN ($inList) THEN [f]
         |         ELSE list_transform(range(1, len(f) + 1), i -> substr(f, i, 1)) END)) AS t
         |  FROM documents)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_pieces,
         |  array_to_string(t, ' ') AS encoded
         |FROM toks ORDER BY doc_id""".stripMargin
    },
    // byte-level disjoint-piece Viterbi closed form: pretokenize,
    // byte-map, wrap every piece occurrence in spaces (occurrences
    // can never overlap), split, non-piece fragments decompose to
    // single byte-stand-in unk pieces
    "q_unigram_encode_bytes" -> {
      val mapped = graft.operators.ByteLevel.mapWordSql("w")
      val wrapped = UniPiecesBytes.foldLeft(mapped) { case (e, p) =>
        s"replace($e, '$p', ' $p ')" }
      val inList = UniPiecesBytes.map(p => s"'$p'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id,
         |  flatten(list_transform(
         |    regexp_extract_all(lower(coalesce(text, '')),
         |      '${graft.operators.ByteLevel.PreTokPattern}'),
         |    w -> flatten(list_transform(
         |      list_filter(string_split($wrapped, ' '), f -> f <> ''),
         |      f -> CASE WHEN f IN ($inList) THEN [f]
         |           ELSE list_transform(range(1, len(f) + 1), i -> substr(f, i, 1)) END))))
         |    AS t
         |  FROM documents)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_pieces,
         |  array_to_string(t, ' ') AS encoded
         |FROM toks ORDER BY doc_id""".stripMargin
    },
    // snapshot drift: full replay of counts, add-one smoothed rate
    // ratio (exact 128-bit integral division), and the top-k
    "q_vocab_drift" ->
      """WITH oldt AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 0),
        |newt AS (
        |  SELECT unnest(string_split(lower(
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' vector vector merge'
        |         ELSE text END), ' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 1),
        |co AS (SELECT token, COUNT(*) AS n_old FROM oldt WHERE token <> '' GROUP BY 1),
        |cn AS (SELECT token, COUNT(*) AS n_new FROM newt WHERE token <> '' GROUP BY 1),
        |j AS (SELECT COALESCE(co.token, cn.token) AS token,
        |    COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
        |  FROM co FULL OUTER JOIN cn ON co.token = cn.token),
        |t AS (SELECT CAST(SUM(n_old) AS BIGINT) AS no_,
        |    CAST(SUM(n_new) AS BIGINT) AS nn_, COUNT(*) AS v FROM j),
        |r AS (SELECT token, n_old, n_new,
        |    1000000 * CAST(n_new + 1 AS HUGEINT) * (no_ + v)
        |      // ((n_old + 1) * CAST(nn_ + v AS HUGEINT)) AS ratio
        |  FROM j, t WHERE n_old + n_new >= 20)
        |SELECT token, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(ratio AS BIGINT) AS ratio_ppm,
        |  CAST(GREATEST(ratio, 1000000000000 // GREATEST(ratio, 1)) AS BIGINT) AS drift_ppm
        |FROM r ORDER BY drift_ppm DESC, token LIMIT 100""".stripMargin,
    // pruned order-5 replay: per-order padded-stream window counts,
    // each floored (3..5-grams at 2), all five tiers as string-keyed
    // lookups against the pruned tables
    "q_lm_score5p" ->
      s"""WITH $lm5pModelChainSql,
         |${lm5pScoreChainSql(
            """
              |  SELECT doc_id, list_concat(['<s>', '<s>', '<s>', '<s>'],
              |    list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
              |  FROM documents""".stripMargin, "sc")}
         |SELECT doc_id, COUNT(*) AS n_ngrams,
         |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS avg_surprisal
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // full order-5 replay: 4-BOS-padded 5-gram training, FOUR suffix
    // marginals + contexts, all five backoff tiers as exact α-power
    // integer ratios (5^d/2^d), and the floored mean
    "q_lm_score5" ->
      """WITH reft AS (
        |  SELECT list_concat(['<s>', '<s>', '<s>', '<s>'],
        |    list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
        |  FROM documents WHERE lang = 'en'),
        |rng AS (SELECT u['w1'] AS w1, u['w2'] AS w2, u['w3'] AS w3,
        |    u['w4'] AS w4, u['w5'] AS w5 FROM (
        |  SELECT unnest(list_transform(range(1, len(t) - 3),
        |    i -> {'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2],
        |          'w4': t[i + 3], 'w5': t[i + 4]})) AS u
        |  FROM reft WHERE len(t) >= 5)),
        |m5 AS (SELECT w1, w2, w3, w4, w5, COUNT(*) AS n5 FROM rng GROUP BY 1, 2, 3, 4, 5),
        |x0 AS (SELECT w1, w2, w3, w4, CAST(SUM(n5) AS BIGINT) AS x0n FROM m5 GROUP BY 1, 2, 3, 4),
        |c1 AS (SELECT w2, w3, w4, w5, CAST(SUM(n5) AS BIGINT) AS c1n FROM m5 GROUP BY 1, 2, 3, 4),
        |x1 AS (SELECT w2, w3, w4, CAST(SUM(n5) AS BIGINT) AS x1n FROM m5 GROUP BY 1, 2, 3),
        |c2 AS (SELECT w3, w4, w5, CAST(SUM(n5) AS BIGINT) AS c2n FROM m5 GROUP BY 1, 2, 3),
        |x2 AS (SELECT w3, w4, CAST(SUM(n5) AS BIGINT) AS x2n FROM m5 GROUP BY 1, 2),
        |c3 AS (SELECT w4, w5, CAST(SUM(n5) AS BIGINT) AS c3n FROM m5 GROUP BY 1, 2),
        |x3 AS (SELECT w4, CAST(SUM(n5) AS BIGINT) AS x3n FROM m5 GROUP BY 1),
        |ug AS (SELECT w5, CAST(SUM(n5) AS BIGINT) AS u1n FROM m5 GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n5) AS BIGINT) AS nn, COUNT(DISTINCT w5) AS v FROM m5),
        |dt AS (
        |  SELECT doc_id, list_concat(['<s>', '<s>', '<s>', '<s>'],
        |    list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
        |  FROM documents),
        |db AS (SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2, u['w3'] AS w3,
        |    u['w4'] AS w4, u['w5'] AS w5 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
        |    i -> {'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2],
        |          'w4': t[i + 3], 'w5': t[i + 4]})) AS u
        |  FROM dt WHERE len(t) >= 5)),
        |sc AS (SELECT doc_id,
        |    CASE WHEN m.n5 IS NOT NULL THEN 1000000 * x0.x0n // m.n5
        |         WHEN c1.c1n IS NOT NULL THEN (5 * 1000000 * x1.x1n) // (2 * c1.c1n)
        |         WHEN c2.c2n IS NOT NULL THEN (25 * 1000000 * x2.x2n) // (4 * c2.c2n)
        |         WHEN c3.c3n IS NOT NULL THEN (125 * 1000000 * x3.x3n) // (8 * c3.c3n)
        |         ELSE (625 * 1000000 * (tt.nn + tt.v)) // (16 * (COALESCE(ug.u1n, 0) + 1))
        |    END AS s
        |  FROM db LEFT JOIN m5 m USING (w1, w2, w3, w4, w5)
        |    LEFT JOIN x0 USING (w1, w2, w3, w4)
        |    LEFT JOIN c1 USING (w2, w3, w4, w5) LEFT JOIN x1 USING (w2, w3, w4)
        |    LEFT JOIN c2 USING (w3, w4, w5) LEFT JOIN x2 USING (w3, w4)
        |    LEFT JOIN c3 USING (w4, w5) LEFT JOIN x3 USING (w4)
        |    LEFT JOIN ug USING (w5), tt)
        |SELECT doc_id, COUNT(*) AS n_ngrams,
        |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS avg_surprisal
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // full replay of trigram-LM training (en docs, double-BOS-padded),
    // the one-table marginal derivations, all three stupid-backoff
    // tiers (α = 2/5 as exact integer ratios), and the floored mean
    "q_lm_score3" ->
      """WITH reft AS (
        |  SELECT list_concat(['<s>', '<s>'],
        |    list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
        |  FROM documents WHERE lang = 'en'),
        |rtg AS (SELECT u['w1'] AS w1, u['w2'] AS w2, u['w3'] AS w3 FROM (
        |  SELECT unnest(list_transform(range(1, len(t) - 1),
        |    i -> {'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2]})) AS u
        |  FROM reft WHERE len(t) >= 3)),
        |m3 AS (SELECT w1, w2, w3, COUNT(*) AS n3 FROM rtg GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, CAST(SUM(n3) AS BIGINT) AS c2n FROM m3 GROUP BY 1, 2),
        |bg AS (SELECT w2, w3, CAST(SUM(n3) AS BIGINT) AS b2n FROM m3 GROUP BY 1, 2),
        |c1 AS (SELECT w2, CAST(SUM(n3) AS BIGINT) AS c1n FROM m3 GROUP BY 1),
        |ug AS (SELECT w3, CAST(SUM(n3) AS BIGINT) AS u1n FROM m3 GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n3) AS BIGINT) AS nn, COUNT(DISTINCT w3) AS v FROM m3),
        |dt AS (
        |  SELECT doc_id, list_concat(['<s>', '<s>'],
        |    list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
        |  FROM documents),
        |db AS (SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2, u['w3'] AS w3 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |    i -> {'w1': t[i], 'w2': t[i + 1], 'w3': t[i + 2]})) AS u
        |  FROM dt WHERE len(t) >= 3)),
        |sc AS (SELECT doc_id,
        |    CASE WHEN m.n3 IS NOT NULL THEN 1000000 * c2.c2n // m.n3
        |         WHEN bg.b2n IS NOT NULL THEN (5 * 1000000 * c1.c1n) // (2 * bg.b2n)
        |         ELSE (25 * 1000000 * (tt.nn + tt.v)) // (4 * (COALESCE(ug.u1n, 0) + 1))
        |    END AS s
        |  FROM db LEFT JOIN m3 m USING (w1, w2, w3) LEFT JOIN c2 USING (w1, w2)
        |    LEFT JOIN bg USING (w2, w3) LEFT JOIN c1 USING (w2)
        |    LEFT JOIN ug USING (w3), tt)
        |SELECT doc_id, COUNT(*) AS n_trigrams,
        |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS avg_surprisal
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // full replay of bigram-LM training (en docs, BOS-prefixed, add-one
    // smoothing) and integer-surprisal scoring over every document
    "q_lm_score" ->
      """WITH reft AS (
        |  SELECT doc_id,
        |    list_prepend('<s>', list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
        |  FROM documents WHERE lang = 'en'),
        |rbg AS (SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS u
        |  FROM reft)),
        |model AS (SELECT w1, w2, COUNT(*) AS n FROM rbg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS cn FROM model GROUP BY 1),
        |voc AS (SELECT COUNT(DISTINCT w2) AS v FROM model),
        |dt AS (
        |  SELECT doc_id,
        |    list_prepend('<s>', list_filter(string_split(lower(text), ' '), w -> w <> '')) AS t
        |  FROM documents),
        |db AS (SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS u
        |  FROM dt)),
        |sc AS (SELECT doc_id,
        |    1000000 * (COALESCE(c.cn, 0) + (SELECT v FROM voc)) // (COALESCE(m.n, 0) + 1) AS s
        |  FROM db LEFT JOIN model m USING (w1, w2) LEFT JOIN ctx c USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS avg_surprisal
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the composed tokenizer chain: span-removal replay → BYTE-LEVEL
    // encode replay → md5 split → window-sum pack, one CTE pipeline
    "q_tok_pipeline" ->
      s"""WITH ${DedupQueries.spansApplyChainSql},
         |enc AS (
         |  SELECT doc_id, n_removed,
         |    ${byteEncSqlExpr("lower(clean_text)")} AS encoded
         |  FROM cleaned),
         |tokc AS (
         |  SELECT doc_id, n_removed,
         |    CAST(CASE WHEN encoded = '' THEN 0
         |         ELSE len(string_split(encoded, ' ')) END AS BIGINT) AS n_tokens
         |  FROM enc),
         |sel AS (SELECT * FROM tokc WHERE n_tokens > 0
         |  AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 < 8)
         |SELECT doc_id, n_tokens, n_removed,
         |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS offset_end,
         |  CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
         |    / $TokenBudget.0) AS BIGINT) AS bin
         |FROM sel ORDER BY doc_id""".stripMargin,
    // byte-level encode replay: shared-pattern pretokens, UTF-8 →
    // stand-in mapping by arithmetic, rank-order replace chain
    // (coalesce: null text encodes as empty, the engine-side contract)
    "q_bpe_encode_bytes" ->
      s"""WITH enc AS (
         |  SELECT doc_id, ${byteEncSqlExpr("lower(coalesce(text, ''))")} AS encoded
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(CASE WHEN encoded = '' THEN 0
         |       ELSE len(string_split(encoded, ' ')) END AS BIGINT) AS n_tokens,
         |  encoded
         |FROM enc ORDER BY doc_id""".stripMargin,
    "q_bpe_encode" ->
      s"""WITH enc AS (
         |  SELECT doc_id, array_to_string(
         |    list_transform(
         |      list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w <> ''),
         |      w -> $encSqlExpr), ' ') AS encoded
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(CASE WHEN encoded = '' THEN 0
         |       ELSE len(string_split(encoded, ' ')) END AS BIGINT) AS n_tokens,
         |  encoded
         |FROM enc ORDER BY doc_id""".stripMargin,
    // token-true packing: the same encode replay, then a window sum —
    // bin = floor(start_offset / budget), document binned where it STARTS
    "q_pack_tokens" ->
      s"""WITH enc AS (
         |  SELECT doc_id, array_to_string(
         |    list_transform(
         |      list_filter(string_split(lower(coalesce(text, '')), ' '), w -> w <> ''),
         |      w -> $encSqlExpr), ' ') AS encoded
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN encoded = '' THEN 0
         |         ELSE len(string_split(encoded, ' ')) END AS BIGINT) AS n_tokens
         |  FROM enc)
         |SELECT doc_id, n_tokens,
         |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS offset_end,
         |  CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
         |    / $TokenBudget.0) AS BIGINT) AS bin
         |FROM tok ORDER BY doc_id""".stripMargin,
    // literal mirror of Bpe.withSymbols/pairCounts: per-position substr
    // symbols + '</w>' marker, frequency-weighted adjacent pairs
    "q_bpe_pairs" ->
      """WITH wf AS (
        |  SELECT w AS word, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY w),
        |pos AS (
        |  SELECT word, freq, unnest(generate_series(1, length(word))) AS i FROM wf),
        |p AS (
        |  SELECT substring(word, i, 1) AS lhs,
        |    CASE WHEN i < length(word) THEN substring(word, i + 1, 1)
        |         ELSE '</w>' END AS rhs,
        |    freq
        |  FROM pos)
        |SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS n FROM p GROUP BY lhs, rhs
        |ORDER BY n DESC, lhs, rhs LIMIT 50""".stripMargin,
    // incremental lang-ID: the oracle trains DIRECTLY on the whole
    // labeled half — additivity means the merged state must equal it
    "q_langid_incr" -> langIdIncrOracleSql,
    // composed tokenizer eval: all five encode replays -> totals + ratios
    "q_tokenizer_eval" -> tokenizerEvalOracleSql,
    // router chain + all five per-doc encode replays, grouped by the
    // predicted language — the tokenizer-parity artifact
    "q_tokenizer_eval_lang" -> tokenizerEvalLangOracleSql,
    // router chain + L bigram-LM replays + per-language mean cut +
    // survivor digest dedup — the CCNet composition end to end
    "q_multilingual_curation" -> multilingualOracleSql,
    "q_multilingual_neardup" -> multilingualNearDupOracleSql,
    // router + keyed α-sampling + byte-encode replays — the mT5
    // sampled-corpus fertility report
    "q_tokenizer_mix" -> tokenizerMixOracleSql,
    // router + winnow + keyed eval screen — the per-language
    // decontamination stage
    "q_multilingual_decontaminate" -> multilingualDecontaminateOracleSql,
    // router + keyed α-sampling + the q_bpe_pairs corpus pass
    "q_tokenizer_mix_pairs" -> tokenizerMixPairsOracleSql,
    // router chain + the mixByWeights gate constants + a per-language
    // window sum — the stratified per-language pack
    "q_pack_by_lang" -> packByLangOracleSql,
    // corpus-trained lang-ID replay: planted markers, FNV features,
    // per-class counts/totals/exact-division rates, argmax CASE chain
    "q_langid_trained" -> langIdOracleSql,
    // WordPiece iteration-0 likelihood replay: ##-pieced vocabulary,
    // pair + symbol occurrence counts, IEEE-double score ORDER with
    // lexicographic ties, exact-long output re-sorted on (lhs, rhs)
    "q_wordpiece_pairs" ->
      """WITH wf AS (
        |  SELECT w AS word, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY w),
        |pc AS (
        |  SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
        |              ELSE '##' || substr(word, i, 1) END AS lhs,
        |    '##' || substr(word, i + 1, 1) AS rhs, freq
        |  FROM (SELECT word, freq, unnest(range(1, len(word))) AS i FROM wf) t),
        |pairs AS (SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS n
        |  FROM pc GROUP BY lhs, rhs),
        |syms AS (
        |  SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
        |              ELSE '##' || substr(word, i, 1) END AS sym,
        |    CAST(SUM(freq) AS BIGINT) AS c
        |  FROM (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM wf) t
        |  GROUP BY 1),
        |top AS (
        |  SELECT p.lhs, p.rhs, p.n, l.c AS n_lhs, r.c AS n_rhs
        |  FROM pairs p JOIN syms l ON l.sym = p.lhs JOIN syms r ON r.sym = p.rhs
        |  ORDER BY CAST(p.n AS DOUBLE) / (CAST(l.c AS DOUBLE) * CAST(r.c AS DOUBLE)) DESC, p.lhs, p.rhs
        |  LIMIT 50)
        |SELECT lhs, rhs, n, n_lhs, n_rhs FROM top ORDER BY lhs, rhs""".stripMargin,
    // greedy longest-match replay: per (doc, word) a recursive scan
    // whose step length is the generated constant-vocab CASE; a NULL
    // match (or an over-length word) fails the WHOLE word to [UNK]
    "q_wordpiece_encode" ->
      s"""WITH RECURSIVE
         |ws AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
         |w AS (SELECT doc_id, i AS widx, ws[i] AS word
         |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM ws) t
         |  WHERE ws[i] <> ''),
         |step(doc_id, widx, word, pos, tok, failed) AS (
         |  SELECT doc_id, widx, word, 1, CAST(NULL AS VARCHAR), len(word) > 100 FROM w
         |  UNION ALL
         |  SELECT doc_id, widx, word,
         |    pos + COALESCE(ml, len(word) + 1),
         |    CASE WHEN ml IS NULL THEN NULL
         |         WHEN pos = 1 THEN substr(word, pos, ml)
         |         ELSE '##' || substr(word, pos, ml) END,
         |    ml IS NULL
         |  FROM (SELECT *, ${wpMatchLenSql("word", "pos")} AS ml
         |        FROM step WHERE NOT failed AND pos <= len(word)) t),
         |toks AS (SELECT doc_id, widx,
         |    CASE WHEN bool_or(failed) THEN '[UNK]'
         |         ELSE string_agg(tok, ' ' ORDER BY pos) END AS wtoks,
         |    CASE WHEN bool_or(failed) THEN 1 ELSE count(tok) END AS n
         |  FROM step GROUP BY doc_id, widx),
         |enc AS (SELECT doc_id,
         |    string_agg(wtoks, ' ' ORDER BY widx) AS encoded,
         |    CAST(SUM(n) AS BIGINT) AS n_tokens
         |  FROM toks GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(e.n_tokens, 0) AS n_tokens,
         |  COALESCE(e.encoded, '') AS encoded
         |FROM documents d LEFT JOIN enc e ON e.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // literal mirror of the GateRules defaults: every division is
    // positive-integer floor (`//` here, idiv there), so flags hash-match
    "q_quality_gate" ->
      s"""WITH s AS (SELECT doc_id,
         |    len($toksSql) AS n_words,
         |    greatest(len($toksSql), 1) AS n1,
         |    (length(text) - len($toksSql) + 1) * 1000 AS wc1000,
         |    len(list_distinct($toksSql)) * 1000 AS d1000,
         |    len(list_intersect(list_distinct($toksSql),
         |      ['a','the','and','of','to','in','is','that'])) AS stop_hits
         |  FROM documents)
         |SELECT doc_id, n_words, wc1000 // n1 AS mwl_pm, d1000 // n1 AS distinct_pm,
         |  stop_hits,
         |  CAST(n_words BETWEEN 30 AND 90 AS INT) AS r_nwords,
         |  CAST(wc1000 // n1 BETWEEN 4000 AND 5000 AS INT) AS r_wordlen,
         |  CAST(stop_hits >= 2 AS INT) AS r_stop,
         |  CAST(d1000 // n1 >= 450 AS INT) AS r_distinct,
         |  CAST(n_words BETWEEN 30 AND 90 AND wc1000 // n1 BETWEEN 4000 AND 5000
         |    AND stop_hits >= 2 AND d1000 // n1 >= 450 AS INT) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_quality_prune" ->
      s"""WITH s AS (SELECT doc_id, lang,
         |    LEAST((length(text) * 1000) // 200, 1000)
         |    + (len(list_distinct($toksSql)) * 1000) // greatest(len($toksSql), 1)
         |    + (len(list_filter($toksSql, t -> t IN (${stopListSql(Stopwords)}))) * 1000)
         |      // greatest(len($toksSql), 1) AS quality_pm
         |  FROM documents),
         |h AS (SELECT quality_pm AS sc, COUNT(*) AS c FROM s GROUP BY 1),
         |cum AS (SELECT sc, SUM(c) OVER (ORDER BY sc DESC) AS cm FROM h),
         |t AS (SELECT MAX(sc) AS thr FROM cum
         |  WHERE cm >= CEIL((SELECT COUNT(*) FROM s) * $PruneFraction))
         |SELECT doc_id, lang, quality_pm FROM s
         |WHERE quality_pm >= (SELECT thr FROM t)
         |ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
         |  len($toksSql) AS n_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
         |  least(length(text) / 200.0, 1.0) AS len_score,
         |  CAST(len(list_distinct($toksSql)) AS DOUBLE) / len($toksSql) AS distinct_ratio,
         |  CAST(len(list_filter($toksSql, t -> t IN (${stopListSql(Stopwords)}))) AS DOUBLE)
         |    / len($toksSql) AS stop_ratio,
         |  ${Rnd.sql(
            s"(least(length(text) / 200.0, 1.0) " +
              s"+ CAST(len(list_distinct($toksSql)) AS DOUBLE) / len($toksSql) " +
              s"+ CAST(len(list_filter($toksSql, t -> t IN (${stopListSql(Stopwords)}))) AS DOUBLE) / len($toksSql)) / 3.0", 6)} AS quality,
         |  md5(text) AS fp_md5,
         |  CAST(list_sum(list_transform(range(1, length(text) + 1),
         |    i -> ascii(substr(text, i, 1)) * i)) AS BIGINT) AS fp_poly
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      s"""SELECT doc_id, lang,
         |  $langHitsSql,
         |  $langCaseSql AS predicted_lang
         |FROM documents ORDER BY doc_id""".stripMargin,
    // full-SQL replay of the indexed search: same tokenization, same
    // scaled-integer BM25 (log-free rational idf), same tie-break
    "q_text_search" -> searchSql("SELECT doc_id, text FROM documents"),
    // ground truth for the delta-maintained index is a from-scratch
    // ranking over the NEW corpus — no segment/tombstone machinery on
    // the oracle side at all
    "q_text_search_incr" -> searchSql(
      """SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' vector vector merge'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 7""".stripMargin),
    "q_vocab_topk" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    // the sketch pre-pass is exactness-preserving (overestimates are
    // erased by the recount), so the oracle IS the exact spelling
    "q_heavy_hitters" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY token HAVING COUNT(*) >= 500 ORDER BY token""".stripMargin,
    "q_tfidf_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |s AS (SELECT doc_id, token, tf, df, tf * 1000000 // df AS score_scaled
        |  FROM tf JOIN dfx USING (token)),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score_scaled DESC, token) AS rk FROM s)
        |SELECT doc_id, token, tf, df, score_scaled, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "q_len_histogram" ->
      """SELECT CAST(FLOOR(n_chars / 50.0) * 50 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_text_redact" ->
      """SELECT doc_id,
        |  md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS redacted_md5,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]+', '', 'g')) AS BIGINT)
        |    AS chars_redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_len_quantiles" ->
      s"""SELECT lang,
         |  ${Rnd.sql("quantile_cont(n_chars, 0.5)", 4)} AS p50,
         |  ${Rnd.sql("quantile_cont(n_chars, 0.9)", 4)} AS p90,
         |  ${Rnd.sql("quantile_cont(n_chars, 0.99)", 4)} AS p99
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // the oracle recomputes the exact side (counts + type-7
    // percentiles) and expects the engine's rank-guarantee flags to be
    // uniformly true — the sketch's published bound is what is hashed,
    // never its engine-specific estimate
    "q_len_quantiles_bound" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ${Rnd.sql("quantile_cont(n_chars, 0.5)", 4)} AS p50,
         |  ${Rnd.sql("quantile_cont(n_chars, 0.9)", 4)} AS p90,
         |  ${Rnd.sql("quantile_cont(n_chars, 0.99)", 4)} AS p99,
         |  CAST(1 AS INTEGER) AS w50,
         |  CAST(1 AS INTEGER) AS w90,
         |  CAST(1 AS INTEGER) AS w99
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // permilles as floor of the SAME IEEE double division Spark
    // performs (exact-quotient / floor-agreement bound in the operator
    // scaladoc); the bigram mode is an in-list distinct × filter count
    "q_text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, toks, len(toks) AS n,
         |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bg
         |  FROM t),
         |s AS (SELECT doc_id,
         |    CAST(n AS BIGINT) AS n_words,
         |    CAST(floor(CAST(n - len(list_distinct(toks)) AS DOUBLE) * 1000 / n) AS BIGINT)
         |      AS dup_word_permille,
         |    CAST(floor(CAST(coalesce(list_max(list_transform(list_distinct(bg),
         |        x -> len(list_filter(bg, y -> y = x)))), 0) AS DOUBLE) * 2000 / n) AS BIGINT)
         |      AS top_bigram_permille
         |  FROM b)
         |SELECT doc_id, n_words, dup_word_permille, top_bigram_permille,
         |  CAST(dup_word_permille > 700 OR top_bigram_permille > 100 AS INT) AS repetitive
         |FROM s ORDER BY doc_id""".stripMargin,
    // start offsets are a per-row scalar range() (stride 20) materialized
    // through list_transform + unnest (lateral range() on a column is
    // not supported); list_slice clamps at the list end like slice
    "q_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, toks,
         |    greatest(0, CAST(floor(CAST(len(toks) - 40 + 19 AS DOUBLE) / 20) AS BIGINT) * 20)
         |      AS last_start
         |  FROM t),
         |c AS (SELECT doc_id, toks,
         |    unnest(list_transform(range(0, last_start + 1, 20), s -> s)) AS start
         |  FROM b)
         |SELECT doc_id,
         |  start // 20 AS chunk_id,
         |  start,
         |  CAST(len(list_slice(toks, start + 1, start + 40)) AS BIGINT) AS chunk_len,
         |  array_to_string(list_slice(toks, start + 1, start + 40), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin)
}
