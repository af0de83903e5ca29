package graft.operators

import graft.expressions.UnigramEncode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer TRAINING (Kudo 2018 — the
  * SentencePiece unigram model, the other tokenizer half the field
  * uses next to [[Bpe]]), shaped exactly like BPE for 100 TB:
  *
  *  - The corpus is touched EXACTLY ONCE: [[Bpe.wordFreq]] folds it to
  *    the `(word, freq)` vocabulary; every EM iteration runs against
  *    that table (or its driver-drained copy), never the corpus.
  *  - The candidate vocabulary is BOUNDED up front: [[seedCandidates]]
  *    keeps the top `seedSize` substrings by corpus frequency (one
  *    vocabulary-sized pass + a bounded top-k) plus every single
  *    character (coverage floor) — the EM state is model-sized from
  *    iteration zero, never corpus-shaped.
  *  - HARD-EM variant, documented: the E-step Viterbi-segments each
  *    distinct word under the current piece log-probabilities (the
  *    SAME scorer the deployed encoder runs —
  *    [[graft.expressions.UnigramEncode.encodeWord]] — so training
  *    counts what application produces); the M-step re-estimates
  *    `w(p) = ln(count_p / Σcount)` and prunes to the top `vocabSize`
  *    multi-character pieces (count desc, piece asc — deterministic).
  *    Full SentencePiece runs forward-backward expected counts and a
  *    likelihood-loss prune; the hard variant keeps the same shape
  *    with exact integer counts and a rank prune.
  *  - Single characters are exempt from the `vocabSize` cap (they are
  *    the model's floor, not vocabulary spend), but ANY piece the
  *    E-step stopped using drops at count 0 — coverage rides the
  *    encoder's [[UnigramEncode.UnkWeight]] single-char fallback
  *    instead of a count floor, because a floor constant breaks exact
  *    scale equivariance (ScaleGrowthSpec pins the model bit-identical
  *    over plain clones). An unk-used char re-enters the counts the
  *    moment a segmentation needs it.
  *
  * TWO execution paths, selected by the MEASURED vocabulary size (the
  * [[Bpe.train]] drain-gate discipline, same bounds), both producing
  * identical models:
  *
  *  - **Driver-drain (the normal path, even at 100 TB):** the
  *    `(word, freq)` table is 4-5 orders of magnitude smaller than the
  *    corpus; under [[Bpe.DriverDrainMaxWords]]/
  *    [[Bpe.driverDrainMaxChars]] the EM loop runs locally —
  *    `emIters` passes over the drained vocabulary, zero Spark jobs
  *    per iteration.
  *  - **Distributed fallback** above the bound: each E-step is ONE
  *    narrow vocabulary map (the native `unigram_encode` against the
  *    broadcast-size model literal) + one bounded aggregate
  *    (`seedSize + alphabet` rows); the M-step is driver-side either
  *    way (the model is bounded state, the k-means-centroid gather).
  *
  * Weights use `StrictMath.log` so the model is bit-reproducible
  * across JVMs/platforms. Training lowercases through
  * [[Bpe.wordFreq]]; callers encode `lower(text)`.
  *
  * Reference scope: the reference repo has no tokenizer; this is the
  * beyond-reference training-data surface built on the published
  * algorithm only (Kudo 2018; the [[Bpe]] sibling).
  */
object Unigram {

  /** One model row: the piece, its log-probability under the final
    * counts, and the final count itself (provenance / prune order). */
  final case class Piece(piece: String, weight: Double, count: Long)

  /** Multi-character substring candidates over the `(word, freq)`
    * vocabulary: every substring of length 2..`maxLen`,
    * OCCURRENCE-weighted (a substring appearing twice in one word
    * counts twice, times the word's corpus frequency), top `seedSize`
    * by (freq desc, piece asc). One narrow vocabulary pass + a bounded
    * top-k — the corpus itself is never touched. */
  def seedCandidates(wf: DataFrame, maxLen: Int, seedSize: Int): DataFrame = {
    require(maxLen >= 2, s"seedCandidates: maxLen must be >= 2, got $maxLen")
    require(seedSize >= 1, s"seedCandidates: seedSize must be >= 1, got $seedSize")
    wf.filter(length(col("word")) >= 2)
      .select(col("freq"), explode(flatten(
        transform(sequence(lit(2), least(lit(maxLen), length(col("word")))),
          l => transform(sequence(lit(1), length(col("word")) - l + 1),
            i => col("word").substr(i, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("freq"))
      .orderBy(desc("freq"), asc("piece")).limit(seedSize)
  }

  /** Single-character counts over the vocabulary — the coverage floor's
    * seed (same occurrence weighting as [[seedCandidates]]). */
  def charCounts(wf: DataFrame): DataFrame =
    wf.select(col("freq"), explode(
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1)))).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("freq"))

  /** Train a unigram tokenizer model over `df[textCol]`. Returns the
    * final pieces sorted (count desc, piece asc): `vocabSize`
    * multi-character pieces at most, plus every corpus character. */
  def train(spark: SparkSession, df: DataFrame, textCol: Column,
            vocabSize: Int, emIters: Int = 2, maxPieceLen: Int = 8,
            seedSize: Int = 4096,
            driverDrainMaxWords: Long = Bpe.DriverDrainMaxWords,
            soft: Boolean = false, lossPrune: Boolean = false,
            byteLevel: Boolean = false): Seq[Piece] = {
    require(vocabSize >= 0, s"train: vocabSize must be >= 0, got $vocabSize")
    require(emIters >= 1, s"train: emIters must be >= 1, got $emIters")
    require(!lossPrune || soft,
      "train: lossPrune is the soft-EM prune criterion (Kudo 2018's likelihood " +
        "loss needs the marginal Z the soft E-step already computes); pass soft = true")
    graft.GraftFunctions.ensure(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // the vocabulary backs the seed pass, the gate measure, and every
    // distributed E-step — checkpoint once, free at the end.
    // BYTE-LEVEL mode swaps in the [[Bpe.wordFreqBytes]] front end
    // (regex pretokens over the 256-symbol byte alphabet — the
    // SentencePiece byte-fallback production shape, case-preserving);
    // everything downstream is alphabet-agnostic: mapped words carry
    // no literal space, so even the distributed E-step's
    // `unigram_encode` call segments them whole, and the deployed
    // encoder is the `unigram_encode_bytes` sibling
    // ([[graft.expressions.UnigramEncodeBytes]]).
    val wf = (if (byteLevel) Bpe.wordFreqBytes(df, textCol)
              else Bpe.wordFreq(df, textCol)).localCheckpoint(true)
    val wfIds = sc.getPersistentRDDs.keySet -- before
    try {
      val multi = seedCandidates(wf, maxPieceLen, seedSize).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val singles = charCounts(wf).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val m = wf.agg(count(lit(1)), sum(length(col("word")))).head()
      if (m.getLong(0) <= driverDrainMaxWords &&
          (m.isNullAt(1) || m.getLong(1) <= Bpe.driverDrainMaxChars)) {
        val vocab = wf.select("word", "freq").collect()
          .map(r => (r.getString(0), r.getLong(1)))
        if (soft) return softEmLoop(multi, singles, vocab, vocabSize, emIters,
          maxPieceLen, lossPrune)
        emLoop(multi, singles, vocabSize, emIters,
          weights => {
            val acc = new java.util.HashMap[String, Long]()
            vocab.foreach { case (word, freq) =>
              val segs = UnigramEncode.encodeWord(word, weights, maxPieceLen)
              var i = 0
              while (i < segs.size()) {
                acc.merge(segs.get(i), freq, (a, b) => a + b); i += 1
              }
            }
            acc
          })
      } else {
        // the EM state is model-sized, not corpus-sized, so the
        // vocabulary exceeding the drain gates is the re-shard
        // boundary for the SOFT variant (posterior accumulation is
        // a driver loop); hard-EM stays the distributed mode because
        // its E-step IS the deployed encoder expression
        require(!soft, "Unigram.train: soft EM requires the driver-drain path " +
          s"(measured vocabulary exceeds driverDrainMaxWords=$driverDrainMaxWords / " +
          s"driverDrainMaxChars=${Bpe.driverDrainMaxChars}); use hard EM or raise the gates")
        emLoop(multi, singles, vocabSize, emIters,
          weights => {
            val model = scala.collection.mutable.ArrayBuffer.empty[Piece]
            weights.forEach((p, w) => model += Piece(p, w.doubleValue(), 0L))
            val acc = new java.util.HashMap[String, Long]()
            wf.select(col("freq"),
                explode(call_function("unigram_encode", col("word"),
                  piecesLit(model.sortBy(_.piece).toSeq))).as("piece"))
              .groupBy("piece").agg(sum(col("freq")).as("n"))
              .collect()
              .foreach(r => acc.put(r.getString(0), r.getLong(1)))
            acc
          })
      }
    } finally {
      val live = sc.getPersistentRDDs
      wfIds.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** The shared EM loop: both paths differ ONLY in where the E-step's
    * Viterbi runs (`estep`: current weights → new counts). */
  private def emLoop(multiSeed: Array[(String, Long)], singleSeed: Array[(String, Long)],
                     vocabSize: Int, emIters: Int,
                     estep: java.util.HashMap[String, java.lang.Double] => java.util.HashMap[String, Long])
      : Seq[Piece] = {
    // (count desc, piece asc) — the deterministic prune order
    // everywhere. Single characters are exempt from the vocabSize cap
    // (they are the model's floor, not vocabulary spend) but a piece —
    // single or multi — the E-step never used drops at count 0: the
    // encoder's unk fallback keeps every string encodable, and any
    // COUNT-dependent floor constant would break exact scale
    // equivariance (a 10× clone multiplies every real count by 10; a
    // floored 1 stays 1 and shifts every weight's total).
    def prune(counts: Map[String, Long]): Map[String, Long] = {
      val (s, mu) = counts.partition { case (p, _) => p.length == 1 }
      val kept = mu.toSeq.sortBy { case (p, c) => (-c, p) }.take(vocabSize)
      (s ++ kept).filter { case (_, c) => c > 0L }
    }
    var counts: Map[String, Long] =
      prune((multiSeed ++ singleSeed).toMap)
    for (_ <- 1 to emIters) {
      val weights = weightsOf(counts)
      val next = estep(weights)
      val nm = new scala.collection.mutable.HashMap[String, Long]()
      // unk-used singles are counted segmentation output like any other
      // piece, so a char the model dropped re-enters the moment a
      // segmentation actually needs it
      next.forEach((p, c) => nm.put(p, c))
      counts = prune(nm.toMap)
    }
    val g = gcdOf(counts)
    val total = counts.values.sum / g
    counts.toSeq.sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) =>
        Piece(p, StrictMath.log((c / g).toDouble) - StrictMath.log(total.toDouble), c) }
  }

  /** SOFT-EM (Kudo 2018's actual E-step): per word, FORWARD-BACKWARD
    * posterior expected counts over ALL segmentations instead of the
    * Viterbi best — the likelihood-faithful variant next to [[train]]'s
    * documented hard-EM. Same seed, same prune order (count desc,
    * piece asc over the EXPECTED counts), same coverage rule
    * (zero-expected pieces drop, unk fallback covers). Counts are
    * doubles: deterministic per corpus (fixed iteration order over the
    * drained vocabulary) but NOT clone-bitwise like hard EM's integers
    * (Σ(R·f)·p accumulates differently from R·Σf·p in floating point)
    * — hard EM stays the ScaleGrowthSpec-gated scale-invariant mode.
    * Returned [[Piece.count]] is the expected count rounded to nearest
    * (provenance); weights derive from the RAW doubles. */
  private def softEmLoop(multiSeed: Array[(String, Long)], singleSeed: Array[(String, Long)],
                         vocab: Array[(String, Long)], vocabSize: Int, emIters: Int,
                         maxPieceLen: Int, lossPrune: Boolean = false): Seq[Piece] = {
    def prune(counts: Map[String, Double]): Map[String, Double] = {
      val (s, mu) = counts.partition { case (p, _) => p.length == 1 }
      val kept = mu.toSeq.sortBy { case (p, c) => (-c, p) }.take(vocabSize)
      (s ++ kept).filter { case (_, c) => c > 0.0 }
    }
    /** Kudo 2018 §4's actual prune: keep the `vocabSize` multi-char
      * pieces whose REMOVAL costs the corpus the most log-likelihood —
      * `loss(p) = Σ_w freq_w · (log Z_w − log Z_w^{−p})`, both
      * marginals under the candidate weights — instead of the
      * expected-count rank (a frequent piece whose occurrences
      * re-segment almost as well without it carries a high count but
      * a near-zero loss; a rarer piece bridging otherwise-bad
      * segmentations is the one worth vocabulary spend). Zero-expected
      * pieces still drop; singles stay the exempt floor; ties break on
      * the piece (deterministic). */
    def pruneByLoss(counts: Map[String, Double]): Map[String, Double] = {
      val live = counts.filter { case (_, c) => c > 0.0 }
      val lt = StrictMath.log(live.values.sum)
      val lw = new java.util.HashMap[String, java.lang.Double](live.size * 2)
      live.foreach { case (p, c) =>
        lw.put(p, java.lang.Double.valueOf(StrictMath.log(c) - lt)) }
      val loss = scala.collection.mutable.HashMap.empty[String, Double]
      vocab.foreach { case (word, freq) =>
        val z = logZ(word, lw, maxPieceLen)
        // distinct multi-char pieces in this word's lattice
        val seen = scala.collection.mutable.HashSet.empty[String]
        var i = 0
        while (i < word.length) {
          var l = 2
          val lMax = math.min(maxPieceLen, word.length - i)
          while (l <= lMax) {
            val p = word.substring(i, i + l)
            if (lw.containsKey(p) && seen.add(p)) {
              val z2 = logZ(word, lw, maxPieceLen, banned = p)
              loss.update(p, loss.getOrElse(p, 0.0) + freq * (z - z2))
            }
            l += 1
          }
          i += 1
        }
      }
      val (s, mu) = live.partition { case (p, _) => p.length == 1 }
      val kept = mu.keys.toSeq
        .sortBy(p => (-loss.getOrElse(p, 0.0), p)).take(vocabSize)
      s ++ kept.map(p => p -> mu(p))
    }
    val pruneFn: Map[String, Double] => Map[String, Double] =
      if (lossPrune) pruneByLoss else prune
    var counts: Map[String, Double] =
      pruneFn((multiSeed ++ singleSeed).map { case (p, c) => p -> c.toDouble }.toMap)
    for (_ <- 1 to emIters) {
      val lt = StrictMath.log(counts.values.sum)
      val lw = new java.util.HashMap[String, java.lang.Double](counts.size * 2)
      counts.foreach { case (p, c) =>
        lw.put(p, java.lang.Double.valueOf(StrictMath.log(c) - lt)) }
      val acc = new java.util.HashMap[String, java.lang.Double]()
      vocab.foreach { case (word, freq) =>
        expectedCounts(word, lw, maxPieceLen).foreach { case (p, e) =>
          acc.merge(p, java.lang.Double.valueOf(e * freq),
            (a, b) => java.lang.Double.valueOf(a.doubleValue() + b.doubleValue()))
        }
      }
      val nm = scala.collection.mutable.HashMap.empty[String, Double]
      acc.forEach((p, c) => nm.put(p, c.doubleValue()))
      counts = pruneFn(nm.toMap)
    }
    val total = counts.values.sum
    val lt = StrictMath.log(total)
    counts.toSeq.sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) => Piece(p, StrictMath.log(c) - lt, math.rint(c).toLong) }
  }

  /** Posterior expected count of every piece in ONE word under log
    * probabilities `lw` (unknown singles at
    * [[UnigramEncode.UnkWeight]], matching the encoder): forward α /
    * backward β in log space with log-sum-exp (the unk floor never
    * underflows a whole word), occurrence (i → i+l) posterior
    * `exp(α(i) + w + β(i+l) − α(n))`. Public: the spec replays it
    * against an exhaustive enumeration of segmentations. */
  private def wOf(lw: java.util.HashMap[String, java.lang.Double],
                  piece: String, l: Int, banned: String): Double = {
    if (banned != null && piece == banned) Double.NaN
    else {
      val v = lw.get(piece)
      if (v != null) v.doubleValue()
      else if (l == 1) UnigramEncode.UnkWeight else Double.NaN
    }
  }

  private def lse(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + StrictMath.log(StrictMath.exp(a - m) + StrictMath.exp(b - m)) }

  /** Forward log-marginals: `alpha(i)` = log Σ over segmentations of
    * `word[0, i)`. `banned` (optional) excludes ONE piece from the
    * lattice — the likelihood-loss prune's counterfactual; the
    * single-char unk floor keeps every position reachable either way. */
  private def forward(word: String, lw: java.util.HashMap[String, java.lang.Double],
                      maxLen: Int, banned: String): Array[Double] = {
    val n = word.length
    val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      val lMax = math.min(maxLen, i)
      while (l <= lMax) {
        val w = wOf(lw, word.substring(i - l, i), l, banned)
        if (!w.isNaN) alpha(i) = lse(alpha(i), alpha(i - l) + w)
        l += 1
      }
      i += 1
    }
    alpha
  }

  /** log Z of one word — the total log-likelihood marginal over ALL
    * segmentations under log-probabilities `lw` (unk floor included),
    * optionally with one piece `banned` from the lattice. Public: the
    * spec compares corpus likelihoods of differently-pruned models. */
  def logZ(word: String, lw: java.util.HashMap[String, java.lang.Double],
           maxLen: Int, banned: String = null): Double =
    forward(word, lw, maxLen, banned)(word.length)

  def expectedCounts(word: String, lw: java.util.HashMap[String, java.lang.Double],
                     maxLen: Int): scala.collection.Map[String, Double] = {
    val n = word.length
    val alpha = forward(word, lw, maxLen, null)
    val beta = Array.fill(n + 1)(Double.NegativeInfinity)
    beta(n) = 0.0
    var i = n - 1
    while (i >= 0) {
      var l = 1
      val lMax = math.min(maxLen, n - i)
      while (l <= lMax) {
        val w = wOf(lw, word.substring(i, i + l), l, null)
        if (!w.isNaN) beta(i) = lse(beta(i), w + beta(i + l))
        l += 1
      }
      i -= 1
    }
    val z = alpha(n)
    val out = scala.collection.mutable.HashMap.empty[String, Double]
    i = 0
    while (i < n) {
      var l = 1
      val lMax = math.min(maxLen, n - i)
      while (l <= lMax) {
        val piece = word.substring(i, i + l)
        val w = wOf(lw, piece, l, null)
        if (!w.isNaN) {
          val post = StrictMath.exp(alpha(i) + w + beta(i + l) - z)
          if (post > 0.0) out.update(piece, out.getOrElse(piece, 0.0) + post)
        }
        l += 1
      }
      i += 1
    }
    out
  }

  /** GCD of every count — weights divide it out first, so a uniform R×
    * on all counts (a plain corpus clone) yields BITWISE-identical
    * weights: ln(Rc)−ln(RT) drifts an ulp from ln(c)−ln(T), but
    * ln(c/g)−ln(T/g) is literally the same computation at both scales
    * (the ScaleGrowthSpec invariance gate). */
  private def gcdOf(counts: Map[String, Long]): Long =
    counts.values.foldLeft(0L)((a, b) => BigInt(a).gcd(BigInt(b)).toLong) max 1L

  private def weightsOf(counts: Map[String, Long]): java.util.HashMap[String, java.lang.Double] = {
    val g = gcdOf(counts)
    val lt = StrictMath.log((counts.values.sum / g).toDouble)
    val m = new java.util.HashMap[String, java.lang.Double](counts.size * 2)
    counts.foreach { case (p, c) =>
      m.put(p, java.lang.Double.valueOf(StrictMath.log((c / g).toDouble) - lt)) }
    m
  }

  /** The `pieces` argument of the native `unigram_encode` expression
    * from a model: a plan literal. For corpus-wide application of a
    * large model, deliver through BroadcastRef instead — same element
    * shape. */
  def piecesLit(model: Seq[Piece]): Column =
    if (model.isEmpty) array().cast("array<struct<piece:string,w:double>>")
    else array(model.map(p => struct(lit(p.piece).as("piece"), lit(p.weight).as("w"))): _*)
}
