package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fixtures.TranscriptGen
import graft.fixtures.TranscriptGen.GenConfig

class StreamingExtractionSpec extends SparkSpec {

  test("file-source stream extracts with golden equality and dedupes late re-delivery") {
    val cfg = GenConfig(nConvs = 20)
    val in = tmpDir("stream-in-")
    val out = tmpDir("stream-out-")
    val ckpt = tmpDir("stream-ckpt-")

    // batch 1: the table; batch 2: a re-delivered (late) copy of a slice
    // — the dedupe must collapse it
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    turns.write.mode("append").parquet(in)
    turns.filter(col("turn_idx") < 2).write.mode("append").parquet(in)

    val q = StreamingExtraction.start(spark, in, out, ckpt,
      TranscriptGen.WatermarkTs, availableNow = true)
    q.awaitTermination(120000)

    val result = spark.read.parquet(out)
    val batchEligible = graft.pipeline.Selection
      .ingest(turns, TranscriptGen.WatermarkTs, spark)
    // exactly the batch-eligible set, duplicates collapsed
    assert(result.count() == batchEligible.count())
    assert(result.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1).count() == 0)

    // golden equality on the streamed output
    val golden = TranscriptGen.goldenDataset(spark, cfg).toDF()
      .withColumnRenamed("extracted_text", "want")
    val bad = result.join(golden, Seq("conv_id", "turn_idx"))
      .filter(col("extracted_text") =!= col("want"))
    assert(bad.count() == 0)

    // restart with no new data: exactly-once — nothing reprocessed
    val q2 = StreamingExtraction.start(spark, in, out, ckpt,
      TranscriptGen.WatermarkTs, availableNow = true)
    q2.awaitTermination(120000)
    assert(spark.read.parquet(out).count() == batchEligible.count())
  }

  test("streaming content dedup: first writer wins on the text fingerprint") {
    import spark.implicits._
    val in = tmpDir("dedup-in-")
    val out = tmpDir("dedup-out-")
    val ckpt = tmpDir("dedup-ckpt-")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // same content under different ids/whitespace across two files;
    // distinct content survives
    Seq(
      ("c1", 0, "user", "the same doc body", null.asInstanceOf[String], ts(0)),
      ("c2", 0, "user", "  the   SAME doc body ", null.asInstanceOf[String], ts(1)),
      ("c3", 0, "user", "a different doc", null.asInstanceOf[String], ts(2)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("append").parquet(in)
    // null-text turns (e.g. tool-only) have a null fingerprint: dedup
    // must NOT conflate them — every one passes through untouched
    Seq(
      ("c4", 0, "user", "the same doc body", null.asInstanceOf[String], ts(3)),
      ("c5", 0, "assistant", null.asInstanceOf[String], "toolA", ts(4)),
      ("c6", 0, "assistant", null.asInstanceOf[String], "toolB", ts(5)),
      // null conv_id AND null text at the same turn_idx: the surrogate
      // key must keep these DISTINCT (round-5 fix — concat_ws silently
      // skips a null conv_id, which aliased such rows onto one key and
      // dropped one)
      (null.asInstanceOf[String], 7, "assistant",
        null.asInstanceOf[String], "toolA", ts(6)),
      (null.asInstanceOf[String], 7, "assistant",
        null.asInstanceOf[String], "toolB", ts(7)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("append").parquet(in)
    val stream = spark.readStream.schema(StreamingExtraction.turnSchema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = StreamingExtraction.dedupByContentStream(stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val result = spark.read.parquet(out)
    assert(result.columns.sorted.sameElements(
      StreamingExtraction.turnSchema.fieldNames.sorted),
      "fingerprint staging column never reaches the sink schema")
    val got = result.select("conv_id")
      .collect().map(_.getString(0)).filter(_ != null).toSet
    // one survivor per distinct canonical content: c1/c2/c4 collapse
    // (normText folds case+whitespace), c3 is its own content — and
    // BOTH null-text rows survive as distinct rows
    assert(got.size == 4 && got.contains("c3"))
    assert(Set("c5", "c6").subsetOf(got),
      "null-fingerprint rows must pass through dedup, not collapse")
    assert((got - "c3" - "c5" - "c6").subsetOf(Set("c1", "c2", "c4")))
    assert(result.filter(org.apache.spark.sql.functions.col("conv_id")
        .isNull).count() == 2,
      "two distinct (null conv_id, null text) turns at one turn_idx " +
        "must both survive — the surrogate key may not alias them")
  }

  test("stateful conversation summaries via mapGroupsWithState") {
    import spark.implicits._
    val cfg = GenConfig(nConvs = 10)
    val eligible = graft.pipeline.Selection.ingest(
      TranscriptGen.dataset(spark, cfg).toDF(), TranscriptGen.WatermarkTs, spark)
    val extracted = graft.pipeline.ExtractionPipeline.extractExpr(spark, eligible)
    // batch mode exercise of the same stateful function
    val sums = StreamingExtraction.conversationSummaries(extracted).collect()
    val byConv = extracted.groupBy("conv_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.nonEmpty)
    sums.foreach { s =>
      assert(s.turns == byConv(s.conv_id))
      assert(s.html_turns + s.pdf_turns + s.plain_turns == s.turns)
    }
  }
}
