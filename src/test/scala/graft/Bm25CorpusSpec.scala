package graft

import org.apache.spark.sql.functions._

import graft.queries.ExtQueries

/** [[ExtQueries.bm25Top20]]'s corpus totals on documents whose text is
  * NULL or has no words: Σdl must count exactly the exploded word rows
  * (a NULL text's word array has size -1 and explodes to nothing). */
class Bm25CorpusSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq[(Long, String)](
    0L -> "data stream data",
    1L -> null,
    2L -> "",
    3L -> "  spark  query ",
    50L -> "stream table").toDF("doc_id", "text")

  test("sumdl equals the exploded word rows with NULL and empty text") {
    val words = docs.select(explode(expr("filter(split(text, ' '), w -> length(w) > 0)")))
      .count()
    val stats = ExtQueries.bm25CorpusStats(docs).collect().head
    assert(words == 7L)
    assert(stats.getLong(0) == 5L && stats.getLong(1) == words)
  }

  test("bm25Top20 ranks only documents that have words") {
    val dir = tmpDir("bm25_null_text")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = ExtQueries.bm25Top20(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got.map(_._1).subsetOf(Set(0L, 50L)))
    assert(got.map(_._2).subsetOf(Set(0L, 3L, 50L)), got)
  }
}
