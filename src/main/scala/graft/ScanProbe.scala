package graft

import org.apache.spark.sql.functions._

import graft.operators.AhoCorasick

/** Out-of-band measurement for the blocklist-scan claim (qx80): the
  * Aho-Corasick DFA is O(1)/char while a regexp alternation pays
  * O(terms)/char — run both over the same corpus at growing blocklist
  * sizes and print the wall times. The alternation is spelled with
  * `regexp_count` (codegen'd, no UDF), i.e. the BEST non-automaton
  * spelling Spark offers, counting only non-overlapping matches — it
  * computes LESS than the automaton (no overlap/nested semantics) and
  * still loses on big lists; numbers land in SURVEY §8.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.ScanProbe
  */
object ScanProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-scan-probe")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.persist().count() // take IO out of both measurements

    // Synthetic blocklists: the gate's 15 terms, then scaled-up lists of
    // corpus-plausible fragments (wNNN word prefixes ProbeGen emits).
    def list(n: Int): Seq[String] =
      AhoCorasick.GateBlocklist ++ (0 until (n - 15)).map(i => s"w${i * 37 % 9973}")

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println("terms,automaton_sec,regexp_sec")
    for (n <- Seq(15, 100, 500, 2000)) {
      val pats = list(n)
      val auto = time {
        AhoCorasick.scanDF(docs, pats).agg(sum("n_hits")).collect()
      }
      val alternation = pats.map(java.util.regex.Pattern.quote).mkString("|")
      val re = time {
        docs.select(regexp_count(col("text"), lit(alternation)).as("c"))
          .agg(sum("c")).collect()
      }
      println(f"$n,$auto%.2f,$re%.2f")
    }
    spark.stop()
  }
}
