package graft

import org.apache.spark.sql.functions._

import graft.operators.ViterbiTokenizer
import graft.sources.Tables

/** Round 18's size-gated driver-local replays for the Viterbi system
  * (qx96's seg table, qx104's hard-EM tables): every gated stage is
  * pinned bit-identical to its distributed spelling on the REAL corpus,
  * and the code-point substring/alphabet replays are pinned against the
  * Spark derivations on a fixture with non-BMP (astral) characters —
  * Spark's length/substring count code points, so a UTF-16 local replay
  * would silently diverge there (the BpeTrainer lesson). */
class ViterbiLocalSpec extends SparkTestBase {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val WORDS = "filter(split(text, ' '), w -> length(w) > 0)"

  private def corpusWords = Tables.documents(spark, dir)
    .select(explode(expr(WORDS)).as("word")).distinct()

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("segmentsGated (local) == segments under pieceVocab, word for word") {
    val words = corpusWords.localCheckpoint()
    val gated = asMap(ViterbiTokenizer.segmentsGated(words))
    val dist = asMap(ViterbiTokenizer.segments(words,
      ViterbiTokenizer.pieceVocab(words)))
    assert(gated.size === dist.size)
    assert(gated === dist)
  }

  test("segmentsGated past the gate falls through to the distributed spelling") {
    val words = corpusWords.localCheckpoint()
    val prev = spark.conf.getOption(ViterbiTokenizer.WordsGate.key)
    try {
      spark.conf.set(ViterbiTokenizer.WordsGate.key, "0")
      val forced = asMap(ViterbiTokenizer.segmentsGated(words))
      spark.conf.unset(ViterbiTokenizer.WordsGate.key)
      assert(forced === asMap(ViterbiTokenizer.segmentsGated(words)))
    } finally prev match {
      case Some(v) => spark.conf.set(ViterbiTokenizer.WordsGate.key, v)
      case None => spark.conf.unset(ViterbiTokenizer.WordsGate.key)
    }
  }

  test("emSegTables gated == forced-distributed, both rounds, on the corpus") {
    val wordFreq = Tables.documents(spark, dir)
      .select(explode(expr(WORDS)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val (g0, g1) = ViterbiTokenizer.emSegTables(wordFreq)
    val (gm0, gm1) = (asMap(g0), asMap(g1))
    val prev = spark.conf.getOption(ViterbiTokenizer.WordsGate.key)
    try {
      spark.conf.set(ViterbiTokenizer.WordsGate.key, "0")
      val (d0, d1) = ViterbiTokenizer.emSegTables(wordFreq)
      assert(gm0 === asMap(d0), "seed-round tables diverge")
      assert(gm1 === asMap(d1), "refined-round tables diverge")
    } finally prev match {
      case Some(v) => spark.conf.set(ViterbiTokenizer.WordsGate.key, v)
      case None => spark.conf.unset(ViterbiTokenizer.WordsGate.key)
    }
  }

  test("code-point replays match Spark semantics on astral characters") {
    // "𝕏" (U+1D54F) is two UTF-16 units but ONE code point: Spark's
    // substring/length treat it as one character; so must the replays.
    val astral = Seq("a𝕏b", "x𝕏by", "q𝕏bz",
      "plain", "plane", "plant")
    val wordsDf = astral.toDF("word")
    val sparkVocab = ViterbiTokenizer.pieceVocab(wordsDf)
      .collect().map(_.getString(0)).toSet
    assert(ViterbiTokenizer.pieceVocabLocal(astral) === sparkVocab)
    // the astral 3-gram around the surrogate pair must be in both
    assert(sparkVocab.contains("𝕏b"))
    val sparkAlpha = wordsDf.select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")).as("p"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(ViterbiTokenizer.alphabetLocal(astral) === sparkAlpha)
    assert(sparkAlpha.contains("𝕏"))
  }

  test("emRefineLocal == emRefine on a multiplicity-bearing fixture") {
    // "aaaa" decodes to repeated pieces — occurrence multiplicity (not
    // presence) must weight the hard counts in both spellings.
    val wf = Seq(("aaaa", 7L), ("aab", 3L), ("abab", 2L), ("bb", 5L))
    val vocab = ViterbiTokenizer.pieceVocabLocal(wf.map(_._1), minWords = 2L)
    val alpha = ViterbiTokenizer.alphabetLocal(wf.map(_._1))
    val s0 = ViterbiTokenizer.initScores(vocab, alpha)
    val local = ViterbiTokenizer.emRefineLocal(wf, s0)
    val dist = ViterbiTokenizer.emRefine(wf.toDF("word", "freq"), s0)
    assert(local === dist)
  }
}
