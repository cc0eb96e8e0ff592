package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{ExtractionPipeline, Selection}

/** Structured Streaming variant of the extraction pipeline: the same
  * map-side extraction over a file-source stream, with event-time
  * watermarking + keyed dedupe reproducing the batch pipeline's
  * late-data policy (the reference's 1-week re-deliver window +
  * last-write-wins sink, SURVEY.md §2.10) continuously instead of per
  * cron run.
  */
object StreamingExtraction {

  val turnSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Turn].schema

  /** Build the streaming extraction DataFrame from a parquet directory
    * source. Selection reuses the batch predicates (watermark literal =
    * job start floor; the stream's own event-time watermark handles
    * lateness from there).
    */
  def extractionStream(spark: SparkSession, inputDir: String,
      since: Timestamp, lateness: String = "7 days"): Dataset[ExtractedTurn] = {
    val turns = spark.readStream
      .schema(turnSchema)
      .option("maxFilesPerTrigger", "16")
      .parquet(inputDir)
    val eligible = Selection.ingest(turns, since, spark)
    ExtractionPipeline.extractExpr(spark, eligible)
      // duplicates within the lateness window collapse on the natural
      // key. dropDuplicatesWithinWatermark is the variant whose state
      // store ACTUALLY evicts on the event-time watermark — plain
      // dropDuplicates only evicts when the event-time column is part
      // of the dedup key, so on a continuous stream its state grows
      // without bound (an OOM at 100 TB).
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")
  }

  /** Start the stream writing partitioned parquet with exactly-once
    * file-sink semantics (offset log + file manifest = the streaming
    * analog of the batch snapshot commit).
    */
  def start(spark: SparkSession, inputDir: String, outputDir: String,
      checkpointDir: String, since: Timestamp,
      availableNow: Boolean = false): StreamingQuery = {
    val q = extractionStream(spark, inputDir, since)
      .writeStream
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy(ExtractionPipeline.PartitionCols: _*)
      .outputMode(OutputMode.Append)
    (if (availableNow) q.trigger(Trigger.AvailableNow()) else q).start()
  }

  /** Streaming exact CONTENT dedup: first-writer-wins on the md5
    * fingerprint of the canonical text — the continuous analog of
    * [[graft.functions.Dedup.exactGroupsByFingerprint]] for an
    * ingest-time training-data pipeline (drop boilerplate re-crawls as
    * they arrive rather than in a nightly batch). Same scale posture as
    * the batch path: the state store keys on the 32-byte fingerprint,
    * never the payload, and `dropDuplicatesWithinWatermark` evicts
    * state on the event-time watermark, so state is bounded by the
    * lateness window's distinct-content volume — not by stream
    * lifetime. */
  def dedupByContentStream(turns: DataFrame,
      lateness: String = "7 days"): DataFrame =
    turns
      // null text → null md5, and dropDuplicatesWithinWatermark treats
      // null keys as EQUAL — every null-text turn (e.g. tool-only
      // turns) after the first inside the lateness window would be
      // silently dropped despite being a distinct row. Instead of
      // splitting the stream (a self-union scans the source and runs
      // normText+md5 twice per micro-batch), null-text rows get a
      // SURROGATE key from their natural identity (conv_id, turn_idx):
      // two distinct null-text turns can never share it, while a true
      // re-delivery of the same turn still collapses — exactly the
      // batch late-data policy's keyed dedupe. The surrogate is the
      // JSON encoding of the key struct — NOT a separator-joined
      // concat: concat_ws both skips nulls (a null turn_idx would
      // alias ("a:1", null) with ("a", 1)) and cannot survive the
      // separator appearing INSIDE a free-form value (role/tool), both
      // of which silently collapse distinct rows; to_json escapes
      // values and drops null fields by KEY, so no two distinct
      // structs share an encoding. "nt:"/"nc:" prefixes cannot collide
      // with a 32-hex md5. A NULL conv_id leaves (conv_id, turn_idx)
      // with no distinguishing identity at all — two unrelated
      // null-conv turns at the same index would share ANY key built
      // from those two fields (pinned by the streaming spec) — so such
      // rows degrade to FULL-ROW identity: distinct rows never
      // collapse, and only an exact re-delivery still dedupes.
      .withColumn("fp", coalesce(
        md5(graft.functions.TextFunctions.normText(col("text"))),
        when(col("conv_id").isNotNull,
          concat(lit("nt:"),
            to_json(struct(col("conv_id"), col("turn_idx"))))),
        concat(lit("nc:"), to_json(struct(col("turn_idx"), col("role"),
          col("tool"), col("ts"))))))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")
      // the fingerprint is dedup state, not output: keep the caller's
      // schema so the survivors wire into any turns-schema sink
      .drop("fp")

  /** Per-conversation rolling state (arbitrary stateful processing —
    * KeyValueGroupedDataset.mapGroupsWithState): turn counts, payload
    * mix and last event time per conversation, emitted on update.
    */
  final case class ConvState(turns: Long, htmlTurns: Long, pdfTurns: Long,
      plainTurns: Long, lastTs: Timestamp)
  final case class ConvSummary(conv_id: String, turns: Long,
      html_turns: Long, pdf_turns: Long, plain_turns: Long,
      last_ts: Timestamp)

  def conversationSummaries(extracted: Dataset[ExtractedTurn]): Dataset[ConvSummary] = {
    import extracted.sparkSession.implicits._
    extracted
      .groupByKey(_.conv_id)
      .mapGroupsWithState[ConvState, ConvSummary](
        GroupStateTimeout.NoTimeout) {
        (convId: String, rows: Iterator[ExtractedTurn], state: GroupState[ConvState]) =>
          var s = state.getOption.getOrElse(
            ConvState(0, 0, 0, 0, new Timestamp(0)))
          rows.foreach { t =>
            s = ConvState(
              s.turns + 1,
              s.htmlTurns + (if (t.payload_kind == "html") 1 else 0),
              s.pdfTurns + (if (t.payload_kind == "pdf") 1 else 0),
              s.plainTurns + (if (t.payload_kind == "plain") 1 else 0),
              if (t.ts.after(s.lastTs)) t.ts else s.lastTs)
          }
          state.update(s)
          ConvSummary(convId, s.turns, s.htmlTurns, s.pdfTurns,
            s.plainTurns, s.lastTs)
      }
  }
}
