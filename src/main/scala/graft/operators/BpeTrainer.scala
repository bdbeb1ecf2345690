package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-Pair-Encoding vocabulary induction (Sennrich et al. 2016,
  * arXiv:1508.07909) as a distributed pipeline — the "BPE-ish" leg of the
  * builder brief's token-counting family made REAL: learn the merge table
  * from the corpus, not just count whitespace tokens.
  *
  * The published algorithm iterates: count adjacent symbol pairs over the
  * vocabulary (frequency-weighted), merge the most frequent pair
  * everywhere, repeat. The distributed rendering keeps the corpus-sized
  * work to ONE pass (the word-frequency aggregate); every iteration then
  * runs on the VOCABULARY table (distinct words + counts), which is
  * lexicon-bounded — a few million rows for any natural corpus, invariant
  * in corpus size. Per iteration: one vocabulary-sized pair count + a
  * 1-row argmax collect (the bounded Lloyd-style driver round-trip, same
  * budget class as IvfAnn's trainings) + one narrow map applying the
  * merge.
  *
  * MERGE SEMANTICS, pinned exactly: a merge (l, r) rewrites each symbol
  * sequence greedily LEFT-TO-RIGHT, non-overlapping — in `a a a` merging
  * (a,a) produces `aa a`, not `a aa`. Both engines implement it as the
  * SAME left fold over the symbol list with a string accumulator
  * ('|'-separated; '|' cannot appear in a symbol): append each symbol,
  * except when the accumulator ends with `|l` and the incoming symbol is
  * `r`, replace that tail with `|lr`. A symbol produced by the current
  * pass can never retrigger the rule because the merged symbol `lr` is
  * strictly longer than `l` — so the fold IS the greedy non-overlapping
  * rewrite, no flag needed. The DuckDB oracle replays the identical fold
  * via list_reduce (see ExtOracle.bpeChain), so the learned merge tables
  * match string-for-string.
  *
  * Tiebreak: highest pair count, then (left, right) ascending —
  * deterministic for replay.
  */
object BpeTrainer {

  val EndMark = "</w>"

  /** One learned merge. */
  final case class Merge(step: Int, left: String, right: String, pairCount: Long)

  /** Initial vocabulary state: (word, cnt, seq) where seq is the
    * '|'-prefixed, '|'-joined character sequence plus the end-of-word
    * marker — `low` → `|l|o|w|</w>`. */
  def initState(wordFreq: DataFrame): DataFrame =
    wordFreq.select(col("word"), col("cnt"),
      concat(lit("|"), array_join(split(col("word"), ""), "|"),
        lit("|" + EndMark)).as("seq"))

  /** Symbol list of a seq column (drops the leading empty from the '|'
    * prefix). Split pattern is a regex on the Spark side — escape it. */
  private def symsCol: Column = expr("filter(split(seq, '[|]'), s -> s != '')")

  /** Size gate for the driver-local training replay ([[SizeGate]]):
    * every merge step is one vocabulary-sized Spark job (pair count +
    * argmax collect), so a `steps`-merge training is `steps` sequential
    * jobs over a LEXICON-bounded table. Below the gate the initial state
    * (word, cnt, seq — built distributed, so character splitting
    * semantics stay Spark's) is collected once and the merges replay on
    * the driver: the identical '|'-fold rewrite, exact Long pair counts,
    * and the tiebreak compared in UTF-8 BYTE order (what both Spark and
    * the DuckDB oracle sort strings by — Java's UTF-16 compareTo would
    * diverge past the BMP). Past the gate the per-step loop runs
    * unchanged. */
  val WordsGate = SizeGate("spark.graft.bpe.localMaxWords", 2000000L)

  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Train `steps` merges over a (word, cnt) frequency table. Returns the
    * learned merge list and the final vocabulary state (word, cnt, seq) —
    * the per-word tokenization under the learned vocabulary. */
  def train(wordFreq: DataFrame, steps: Int): (Seq[Merge], DataFrame) = {
    WordsGate.probe(initState(wordFreq).select(col("word"), col("cnt"), col("seq")))
      .map(trainLocal(wordFreq.sparkSession, _, steps))
      .getOrElse(trainDistributed(wordFreq, steps))
  }

  /** Driver-local replay of the EXACT distributed loop over a collected
    * (word, cnt, seq) state: same pair multiset, same Long counts, same
    * (pc DESC, l ASC, r ASC) tiebreak in UTF-8 byte order, the same
    * greedy '|'-fold rewrite. */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
                         sArr: Array[org.apache.spark.sql.Row],
                         steps: Int): (Seq[Merge], DataFrame) = {
    val words = sArr.map(_.getString(0))
    val cnts = sArr.map(_.getLong(1))
    val seqs = sArr.map(_.getString(2))
    val merges = Seq.newBuilder[Merge]
    var step = 1
    while (step <= steps) {
      val pc = new java.util.HashMap[(String, String), Long]()
      var w = 0
      while (w < seqs.length) {
        val syms = seqs(w).split("\\|").filter(_.nonEmpty)
        var i = 0
        while (i < syms.length - 1) {
          pc.merge((syms(i), syms(i + 1)), cnts(w), (a, b) => a + b)
          i += 1
        }
        w += 1
      }
      require(!pc.isEmpty, s"BPE step $step: no pairs left to merge")
      var bl: String = null; var br: String = null; var bc = Long.MinValue
      pc.forEach { (p, c) =>
        if (c > bc ||
          (c == bc && (utf8Less(p._1, bl) ||
            (p._1 == bl && utf8Less(p._2, br))))) {
          bl = p._1; br = p._2; bc = c
        }
      }
      merges += Merge(step, bl, br, bc)
      val tail = "|" + bl
      w = 0
      while (w < seqs.length) {
        val syms = seqs(w).split("\\|").filter(_.nonEmpty)
        val acc = new java.lang.StringBuilder()
        var i = 0
        while (i < syms.length) {
          val x = syms(i)
          val aLen = acc.length()
          if (x == br && aLen >= tail.length &&
              acc.substring(aLen - tail.length) == tail) {
            acc.setLength(aLen - tail.length)
            acc.append('|').append(bl).append(br)
          } else acc.append('|').append(x)
          i += 1
        }
        seqs(w) = acc.toString
        w += 1
      }
      step += 1
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](words.length)
    var i = 0
    while (i < words.length) {
      out.add(org.apache.spark.sql.Row(words(i), cnts(i), seqs(i)))
      i += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.StringType, nullable = true)))
    (merges.result(), spark.createDataFrame(out, schema))
  }

  /** The per-step distributed loop — the path past the size gate (and
    * the spec's equivalence anchor for the local replay). */
  def trainDistributed(wordFreq: DataFrame, steps: Int): (Seq[Merge], DataFrame) = {
    var state = initState(wordFreq)
    state.persist()
    // The previous parent state: unpersisted only AFTER the pair-count
    // collect has (as a side effect of scanning every partition of the
    // current state) fully materialized the current state's cache.
    // Round 17: this replaces the per-step `next.count()` materialization
    // job — the argmax scan the NEXT step runs anyway is the
    // materializer, halving the sequential job count of a training
    // (2·steps jobs → steps + 1) with bit-identical merges.
    var parent: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var step = 1
    while (step <= steps) {
      val best = state
        .select(col("cnt"), symsCol.as("syms"))
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      require(best.nonEmpty, s"BPE step $step: no pairs left to merge")
      parent.foreach(_.unpersist())
      val (l, r, pc) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += Merge(step, l, r, pc)
      val lLit = lit(l); val rLit = lit(r)
      // The cut width must be in CODE POINTS: Spark's length()/substr()
      // count code points, while Java's String.length counts UTF-16
      // units — a merged symbol containing an astral character would
      // otherwise cut one unit short (ADVICE r17; BpeSpec pins the
      // astral case local == distributed).
      val lCut = l.codePointCount(0, l.length) + 1
      val next = state.select(col("word"), col("cnt"),
        aggregate(symsCol, lit(""), (acc, x) =>
          when(acc.endsWith("|" + l) && (x === rLit),
            concat(acc.substr(lit(1), length(acc) - lit(lCut)), lit("|"), lLit, rLit))
            .otherwise(concat(acc, lit("|"), x))).as("seq"))
      next.persist()
      parent = Some(state)
      state = next
      step += 1
    }
    // materialize the final state off the still-cached parent, then
    // release the parent — callers read `state` many times (token maps,
    // signatures) and must never replay the merge chain.
    state.count()
    parent.foreach(_.unpersist())
    (merges.result(), state)
  }

  /** Merge table as a DataFrame — qx60's gate shape. */
  def mergesDF(spark: org.apache.spark.sql.SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    // lhs/rhs, not left/right: LEFT/RIGHT are SQL keywords and the
    // oracle twin would have to quote them everywhere.
    merges.toDF("step", "lhs", "rhs", "pair_count")
      .select(col("step").cast("long"), col("lhs"), col("rhs"), col("pair_count"))
  }

  /** Token count per word under a trained state: symbols in seq. */
  def tokenCount: Column = size(symsCol).cast("long")
}
