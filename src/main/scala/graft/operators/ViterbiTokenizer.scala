package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VITERBI subword segmentation — the OTHER standard tokenizer-apply
  * algorithm next to qx61's greedy BPE merges: segment each word into
  * the maximum-score sequence of vocabulary pieces by dynamic
  * programming (the SentencePiece/unigram-LM decode step, Kudo 2018),
  * with the whole system rendered integer-exact so a DuckDB twin can
  * replay the DP stage for stage.
  *
  *  - **Vocabulary**: every length-2..4 substring occurring in ≥ 3
  *    distinct corpus words (a frequency-thresholded substring lexicon
  *    — the shape a unigram-LM vocab seed takes before EM prunes it),
  *    plus every single character implicitly (so segmentation is
  *    total).
  *  - **Score**: score(p) = 100·len(p)² + horner(p) mod 50 — superlinear
  *    in length (Viterbi genuinely prefers longer pieces over chains
  *    of short ones, unlike a linear score under which all
  *    segmentations tie) with a hash term that separates same-length
  *    pieces; horner is the corpus-wide (a·31 + char) mod 1000003 word
  *    hash.
  *  - **DP with a PINNED tie-break**: best[i] over piece lengths
  *    L = 1..4 maximizes the PACKED value (best[i−L] + score)·8 + L —
  *    one integer max, so "higher total, then longer last piece" is a
  *    single total order both engines share (the topk_by packing
  *    lesson). Backtracking walks the stored packed choices; the
  *    segmentation signature is the right-to-left Horner fold
  *    cs ← (cs·1009 + horner(piece)) mod P over the walk, so a wrong
  *    piece boundary anywhere breaks the hash.
  *
  * Scale shape: the DP runs once per DISTINCT word (lexicon-bounded,
  * driver-free — a mapPartitions kernel over the word table with the
  * piece vocab broadcast); the corpus-sized work is qx61's shape — one
  * explode + broadcast join + per-doc aggregate. */
object ViterbiTokenizer {

  val MaxPiece = 4
  val P = 1000003L
  val CsP = 2147483647L

  private[graft] def horner(s: String): Long = {
    var a = 0L; var j = 0
    while (j < s.length) { a = (a * 31L + s.charAt(j).toInt) % P; j += 1 }
    a
  }

  private[graft] def score(piece: String): Long =
    100L * piece.length * piece.length + horner(piece) % 50L

  /** (n_pieces, total_score, right-to-left Horner signature) for one
    * word under the piece vocabulary (single chars always allowed) —
    * derived from [[piecesOf]]'s walk so there is exactly ONE DP. */
  private[graft] def segment(word: String, vocab: Set[String]): (Long, Long, Long) = {
    val ps = piecesOf(word, vocab)
    val total = ps.iterator.map(score).sum
    val cs = ps.reverse.foldLeft(0L)((a, p) => (a * 1009L + horner(p)) % CsP)
    (ps.length.toLong, total, cs)
  }

  /** The chosen piece sequence (left-to-right): DP over the packed
    * (total·8 + L) order, then the backtrack walk. */
  private[graft] def piecesOf(word: String, vocab: Set[String]): List[String] = {
    val n = word.length
    val best = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var pk = Long.MinValue
      var l = 1
      while (l <= math.min(MaxPiece, i)) {
        val piece = word.substring(i - l, i)
        if (l == 1 || vocab(piece)) {
          val cand = ((best(i - l) >> 3) + score(piece)) * 8L + l
          if (cand > pk) pk = cand
        }
        l += 1
      }
      best(i) = pk
      i += 1
    }
    var pos = n; var acc = List.empty[String]
    while (pos > 0) {
      val l = (best(pos) & 7L).toInt
      acc = word.substring(pos - l, pos) :: acc
      pos -= l
    }
    acc
  }

  // ------------------------------------------- driver-local replays
  // Size gate ([[SizeGate]]): the lexicon build is an
  // explode+distinct+groupBy job chain and each segmentation table is
  // its own kernel job — per-JOB latency that dominates when the
  // DISTINCT-WORD table is metadata-sized (it is vocabulary-shaped at
  // any corpus scale, but a caller who cannot bound it keeps the
  // distributed spelling past the gate). The replays below reproduce
  // the Spark derivations exactly: substrings/characters are cut by
  // CODE POINTS (Spark's length/substring semantics — Java's UTF-16
  // `substring` would diverge on astral characters, the BpeTrainer
  // lesson), the DP itself is the very same [[segment]] Java function
  // the mapPartitions kernel runs, and every count is an order-free
  // integer sum.

  val WordsGate = SizeGate("spark.graft.viterbi.localMaxWords", 2000000L)

  /** Driver-local replay of [[pieceVocab]]: distinct length-2..4
    * code-point substrings per word, counted over distinct words. */
  private[graft] def pieceVocabLocal(words: Iterable[String],
                                     minWords: Long = 3L): Set[String] = {
    val cnt = new java.util.HashMap[String, Long]()
    words.foreach { w =>
      val cps = w.codePoints().toArray
      val seen = new java.util.HashSet[String]()
      var l = 2
      while (l <= MaxPiece) {
        var i = 0
        while (i + l <= cps.length) { seen.add(new String(cps, i, l)); i += 1 }
        l += 1
      }
      seen.forEach(p => cnt.merge(p, 1L, (a, b) => a + b))
    }
    val out = Set.newBuilder[String]
    cnt.forEach((p, c) => if (c >= minWords) out += p)
    out.result()
  }

  /** Driver-local replay of the qx104 alphabet derivation (every
    * single code point of every word). */
  private[graft] def alphabetLocal(words: Iterable[String]): Set[String] = {
    val out = new java.util.HashSet[String]()
    words.foreach(_.codePoints().forEach(cp => out.add(new String(Character.toChars(cp)))))
    import scala.jdk.CollectionConverters._
    out.asScala.toSet
  }

  /** Driver-local replay of [[emRefine]]: the same hard-count fold
    * (freq per chosen piece OCCURRENCE) and the same smoothed integer
    * re-score — exact Longs, order-free. */
  private[graft] def emRefineLocal(wordFreq: Iterable[(String, Long)],
                                   scores: Map[String, Long]): Map[String, Long] = {
    val cnt = new java.util.HashMap[String, Long]()
    wordFreq.foreach { case (w, freq) =>
      piecesOfScored(w, scores).foreach(p => cnt.merge(p, freq, (a, b) => a + b))
    }
    var total = 0L
    cnt.forEach((_, c) => total += c)
    val nv = scores.size.toLong
    scores.keysIterator.map { p =>
      val l = p.length.toLong
      p -> (100L * l * l + (1000000L * (cnt.getOrDefault(p, 0L) + 1L)) / (total + nv))
    }.toMap
  }

  /** The per-word (word, n_pieces, vit_score, vit_sig) table as a local
    * relation — the gated twin of [[segments]]/[[segmentsScored]]'s
    * kernel job, running the identical [[segmentScored]] per word. */
  private[graft] def segTableLocal(spark: org.apache.spark.sql.SparkSession,
                                   words: Iterable[String],
                                   scores: Map[String, Long]): DataFrame = {
    import spark.implicits._
    words.iterator.map { w =>
      val (np, sc, cs) = segmentScored(w, scores)
      (w, np, sc, cs)
    }.toSeq.toDF("word", "n_pieces", "vit_score", "vit_sig")
  }

  /** [[segments]] under the [[pieceVocab]] lexicon, with the size gate:
    * below it the lexicon count and the DP run on the driver over the
    * probed distinct words, bit-identical by the notes above; past it
    * the explode/kernel spelling runs unchanged. */
  def segmentsGated(words: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    WordsGate.probe(words.select(col("word"))).map { wArr =>
      val ws = wArr.map(_.getString(0))
      val vocab = pieceVocabLocal(ws)
      ws.iterator.map { w =>
        val (np, sc, cs) = segment(w, vocab)
        (w, np, sc, cs)
      }.toSeq.toDF("word", "n_pieces", "vit_score", "vit_sig")
    }.getOrElse(segments(words, pieceVocab(words)))
  }

  /** The qx104 hard-EM seed+refined segmentation tables
    * ((seed, refined) per-word DP tables) with the size gate: below it
    * the vocab, alphabet, seed scores, E/M-step and both DPs replay on
    * the driver from the probed distinct-word frequency table; past it
    * the original collect-vocab + kernel-job spelling runs unchanged
    * (its M-step collect was already vocab-bounded). */
  def emSegTables(wordFreq: DataFrame): (DataFrame, DataFrame) = {
    val spark = wordFreq.sparkSession
    WordsGate.probe(wordFreq.select(col("word"), col("freq"))).map { wfArr =>
      val wf = wfArr.map(r => (r.getString(0), r.getLong(1)))
      val ws = wf.map(_._1).toSeq
      val s0 = initScores(pieceVocabLocal(ws), alphabetLocal(ws))
      val s1 = emRefineLocal(wf, s0)
      (segTableLocal(spark, ws, s0), segTableLocal(spark, ws, s1))
    }.getOrElse {
      val words = wordFreq.select("word")
      val vocab = pieceVocab(words).collect().map(_.getString(0)).toSet
      val alphabet = words.select(explode(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))")).as("piece"))
        .distinct().collect().map(_.getString(0)).toSet
      val s0 = initScores(vocab, alphabet)
      val s1 = emRefine(wordFreq, s0)
      (segmentsScored(words, s0), segmentsScored(words, s1))
    }
  }

  /** The substring lexicon: length-2..4 substrings present in ≥
    * `minWords` distinct words. `words` = one column `word`
    * (distinct). */
  def pieceVocab(words: DataFrame, minWords: Long = 3L): DataFrame =
    words.select(col("word"),
        explode(expr(s"""flatten(transform(sequence(2, $MaxPiece), l ->
            CASE WHEN length(word) >= l
                 THEN transform(sequence(1, length(word) - l + 1),
                                i -> substring(word, i, l))
                 ELSE array() END))""")).as("piece"))
      .distinct()
      .groupBy("piece").agg(count(lit(1)).as("nw"))
      .where(col("nw") >= minWords)
      .select("piece")

  /** Per-word DP results (word, n_pieces, vit_score, vit_sig) — the
    * kernel pass over the distinct-word table with the vocab
    * broadcast. */
  def segments(words: DataFrame, vocab: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      vocab.collect().map(_.getString(0)).toSet)
    words.select("word").as[String].mapPartitions { it =>
      val v = bc.value
      it.map { w =>
        val (np, sc, cs) = segment(w, v)
        (w, np, sc, cs)
      }
    }.toDF("word", "n_pieces", "vit_score", "vit_sig")
  }

  // ----------------------------------------------------------- hard EM

  /** DP under an EXPLICIT per-piece score map (the EM rounds' form):
    * legality for any length = membership in the map (the map carries
    * every single corpus character by construction, so segmentation
    * stays total). Same packed (total·8 + L) tie-break as [[piecesOf]];
    * with [[initScores]] the two are identical piece-for-piece
    * (spec-pinned). */
  private[graft] def piecesOfScored(word: String,
                                    scores: scala.collection.Map[String, Long]): List[String] = {
    val n = word.length
    val best = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var pk = Long.MinValue
      var l = 1
      while (l <= math.min(MaxPiece, i)) {
        val piece = word.substring(i - l, i)
        val sc = scores.getOrElse(piece, Long.MinValue)
        if (sc != Long.MinValue) {
          val cand = ((best(i - l) >> 3) + sc) * 8L + l
          if (cand > pk) pk = cand
        }
        l += 1
      }
      best(i) = pk
      i += 1
    }
    var pos = n; var acc = List.empty[String]
    while (pos > 0) {
      val l = (best(pos) & 7L).toInt
      acc = word.substring(pos - l, pos) :: acc
      pos -= l
    }
    acc
  }

  private[graft] def segmentScored(word: String,
                                   scores: scala.collection.Map[String, Long]): (Long, Long, Long) = {
    val ps = piecesOfScored(word, scores)
    val total = ps.iterator.map(scores).sum
    val cs = ps.reverse.foldLeft(0L)((a, p) => (a * 1009L + horner(p)) % CsP)
    (ps.length.toLong, total, cs)
  }

  /** The round-0 score map: the closed [[score]] formula over the
    * thresholded vocab pieces PLUS every single corpus character (the
    * alphabet), so [[piecesOfScored]] under it equals [[piecesOf]]
    * under the bare vocab. */
  def initScores(vocab: Set[String], alphabet: Set[String]): Map[String, Long] =
    (vocab ++ alphabet).iterator.map(p => p -> score(p)).toMap

  /** [[segments]] under an explicit score map. */
  def segmentsScored(words: DataFrame,
                     scores: Map[String, Long]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(scores)
    words.select("word").as[String].mapPartitions { it =>
      val s = bc.value
      it.map { w =>
        val (np, sc, cs) = segmentScored(w, s)
        (w, np, sc, cs)
      }
    }.toDF("word", "n_pieces", "vit_score", "vit_sig")
  }

  /** (word, piece) usage rows of the DP under `scores` — the hard
    * E-step's sufficient statistic, one row per chosen piece
    * occurrence. Distinct-word-bounded (≤ maxLen rows per word). */
  def pieceUses(words: DataFrame, scores: Map[String, Long]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(scores)
    words.select("word").as[String].mapPartitions { it =>
      val s = bc.value
      it.flatMap(w => piecesOfScored(w, s).map(p => (w, p)))
    }.toDF("word", "piece")
  }

  /** ONE hard-EM refinement of the piece scores — the SentencePiece EM
    * loop (Kudo 2018) with HARD counts (Viterbi assignments, not
    * forward-backward posteriors) and an integer micro-probability
    * surrogate in place of the log-likelihood, so every statistic is an
    * exact Long and a SQL twin replays the round bit-for-bit
    * (documented divergence: the published M-step sets score = log p(p),
    * making Viterbi maximize sequence log-probability; the integer
    * rendering keeps the length² prior and adds the Laplace-smoothed
    * usage probability in micro-units — frequent pieces win DP ties and
    * attract more usage next round, the same fixed-point direction):
    *
    *   cnt(p)      = Σ_words freq(word) · uses(p, word)   (exact Long)
    *   score'(p)   = 100·len(p)² + ⌊10⁶·(cnt(p)+1) div (total + |P|)⌋
    *
    * over the FULL piece set P = vocab ∪ alphabet (unused pieces take
    * the smoothed floor, so the map's key set — and with it DP
    * legality — never changes across rounds). The counts collect is
    * vocab-bounded (the codebook discipline); the corpus-sized
    * frequency weighting stays in the plan.
    *
    * @param wordFreq (word, freq) — corpus occurrence counts
    * @return the refined score map, same key set */
  def emRefine(wordFreq: DataFrame, scores: Map[String, Long]): Map[String, Long] = {
    val uses = pieceUses(wordFreq.select("word"), scores)
    val cnt = uses
      .join(wordFreq, "word")
      .groupBy("piece").agg(sum("freq").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = cnt.valuesIterator.sum
    val nv = scores.size.toLong
    scores.keysIterator.map { p =>
      val l = p.length.toLong
      p -> (100L * l * l + (1000000L * (cnt.getOrElse(p, 0L) + 1L)) / (total + nv))
    }.toMap
  }
}
