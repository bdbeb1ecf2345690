package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables

/** [[Tables]] resolves each table's schema once per session and file
  * version. Proofs: a table rewritten in place under another `ts`
  * physical type is re-read under the new schema (the NANOS/MICROS
  * sniff follows the file, never a stale cached schema); cached-schema
  * reads equal schema-inferring reads row for row; and a repeat read of
  * an unchanged table runs no Spark job. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private val tsNanos = Seq(1700000000123456789L, 1700000001000000000L, 1700000002999999999L)

  /** events.parquet as one file with `ts` as TIMESTAMP(`unit`), the
    * layout of the generated fixture tables. */
  private def writeEvents(path: String, unit: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts (TIMESTAMP($unit,false));
         |  required int64 user_id;
         |  required binary event_type (STRING);
         |  required double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val scale = if (unit == "NANOS") 1L else 1000L
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(path)).withConf(new Configuration())
      .withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try tsNanos.zipWithIndex.foreach { case (ts, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ts / scale)
        .append("user_id", 10L + i).append("event_type", "click").append("value", 0.5 * i))
    } finally w.close()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def fixtureDir(): String = {
    val dir = tmpDir("graft_tables")
    writeEvents(s"$dir/events.parquet", "MICROS")
    (0L until 40L).map(i => (i, s"doc $i " * (i.toInt % 5 + 1), if (i % 3 == 0) "de" else "en",
      s"src${i % 4}", 6L * (i % 5 + 1)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    (0L until 40L).map(i => (i, Seq.tabulate(8)(j => (i * 8 + j).toFloat / 7f), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("a table rewritten in place is re-read under its new ts type") {
    val dir = tmpDir("graft_tables_ts")
    val path = s"$dir/events.parquet"
    def ts() = Tables.events(spark, dir).orderBy("event_id").select("ts").as[Long].collect().toSeq

    writeEvents(path, "NANOS")
    assert(Tables.events(spark, dir).schema("ts").dataType == LongType)
    assert(ts() == tsNanos)
    writeEvents(path, "MICROS")
    assert(spark.read.parquet(path).schema("ts").dataType != LongType)
    assert(ts() == tsNanos.map(_ / 1000 * 1000))
    writeEvents(path, "NANOS")
    assert(ts() == tsNanos)
  }

  test("cached-schema reads equal schema-inferring reads row for row") {
    val dir = fixtureDir()
    for (_ <- 1 to 2) { // the first call resolves the schema, the second reuses it
      val inferred = spark.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      assert(rows(Tables.events(spark, dir)) == rows(inferred))
      for ((name, cached) <- Seq("documents" -> Tables.documents(spark, dir),
                                 "embeddings" -> Tables.embeddings(spark, dir))) {
        val inferredT = spark.read.parquet(s"$dir/$name.parquet")
        assert(cached.schema == inferredT.schema, name)
        assert(rows(cached) == rows(inferredT), name)
      }
    }
  }

  test("a repeat read of an unchanged table runs no Spark job") {
    val dir = fixtureDir()
    for (read <- Seq[() => DataFrame](() => Tables.documents(spark, dir),
                                      () => Tables.embeddings(spark, dir))) {
      assert(jobsOf(read()) >= 1) // schema inference
      assert(jobsOf(read()) == 0)
    }
  }
}
