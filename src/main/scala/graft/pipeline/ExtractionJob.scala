package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.{CheckpointStore, SnapshotTable}

/** End-to-end checkpointed extraction job (SURVEY.md §3.1):
  *
  *   read watermark → ingest selection → [chunk by ts range] →
  *   `ExtractAll` extraction → AQE-sized write rebalance →
  *   snapshot-commit partitioned output → lineage + metrics →
  *   advance watermark.
  *
  * Chunked execution reproduces the reference's per-chunk commit
  * semantics at scale (BatchConfiguration.java:126-143 with
  * chunk_size=2 → here a chunk is a ts-range slice of the input): a
  * failure in chunk k leaves the watermark at the end of chunk k-1, so
  * a restart re-reads only uncommitted data (the Scenario 3 vs 4
  * asymmetry, IngestScenario4Test.java:107).
  *
  * Delivery guarantee — exactly-once COMMITTED, at-least-once VISIBLE:
  * a chunk that fails mid-write exposes no table rows (the snapshot
  * pointer swap is atomic), but a crash in the window between the
  * pointer swap and the watermark advance re-processes the whole chunk
  * on restart — duplicate rows in the incremental view and duplicate
  * events, exactly the reference's at-least-once contract
  * (TxaKafkaItemWriter.java:66-79). Downstream consumers dedupe on the
  * natural key (conv_id, turn_idx), as the delete path already does.
  *
  * [[run]] is the ingest mode (watermark `<system>/ingest`, event topic
  * `<system>-ingest`); [[runDelete]] is the delete mode. Each run appends
  * one row to `<tableRoot>/metrics` (run_id, system, mode, status,
  * rows_read, rows_written, chunks_committed, watermark, duration_sec,
  * turns_per_sec) through [[RunBookkeeping]].
  */
object ExtractionJob {

  /** @param chunksCommitted chunks that reached the watermark advance
    *                        (an empty chunk keeps the watermark and
    *                        still counts)
    * @param snapshotIds     every snapshot the run made visible, in
    *                        commit order — a chunk whose commit swapped
    *                        the pointer but whose lineage or event
    *                        publish then failed is listed here, though
    *                        not counted in `chunksCommitted`
    */
  final case class JobResult(
      status: String, // COMPLETED | FAILED
      rowsRead: Long,
      rowsWritten: Long,
      chunksCommitted: Int,
      watermark: Timestamp,
      snapshotIds: Seq[String],
      durationSec: Double,
      error: Option[String])

  /** @param turns     input transcript table (conv_id, turn_idx, role,
    *                   text, tool, ts)
    * @param tableRoot output SnapshotTable + checkpoint root
    * @param nChunks   ts-range commit granularity (1 = single commit)
    * @param overrideWatermark backfill/replay hook (analog of
    *                   METADATA_LAST_COLLECTION, application.yml:25-27)
    */
  def run(spark: SparkSession, turns: DataFrame, tableRoot: String,
      system: String = "cs",
      overrideWatermark: Option[String] = None,
      nChunks: Int = 1, sink: Option[EventSink] = None): JobResult = {

    val t0 = System.nanoTime()
    val store = new CheckpointStore(tableRoot)
    val table = new SnapshotTable(tableRoot)
    val eventSink = sink.getOrElse(new ParquetEventSink(tableRoot))
    val runId = RunBookkeeping.newRunId()

    // watermark read (must exist — seed at table creation); malformed
    // or missing file fails the job before any work, Scenario-2 style
    val wm0 = store.read(system, "ingest", overrideWatermark)

    // chunk boundaries: ts quantiles over the fresh slice. Deliberately
    // computed from the raw table with ONLY the watermark predicate —
    // a column-pruned scan of `ts` alone (no payload column is touched,
    // no join) — so this pre-pass stays cheap at 100 TB and cannot trip
    // over a corrupt payload. Driver receives nChunks-1 doubles.
    val bounds: Seq[Timestamp] =
      if (nChunks <= 1) Seq.empty
      else {
        val probs = (1 until nChunks).map(_.toDouble / nChunks).toArray
        turns.filter(col("ts") > lit(wm0))
          .select(col("ts").cast("double").as("tsd"))
          .stat.approxQuantile("tsd", probs, 0.001)
          .map(d => new Timestamp((d * 1000).toLong)).toSeq
      }
    val ranges: Seq[(Option[Timestamp], Option[Timestamp])] = {
      val los = None +: bounds.map(Some(_))
      val his = bounds.map(Some(_)) :+ None
      los.zip(his)
    }

    var rowsRead = 0L
    var rowsWritten = 0L
    var committed = 0
    var wm = wm0
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[String]
    var error: Option[String] = None

    ranges.zipWithIndex.takeWhile { case ((lo, hi), chunkIdx) =>
      try {
        // ts-range slice FIRST, selection second: the range conjuncts
        // must evaluate before any payload-touching predicate (see
        // Selection.basePredicate ordering note)
        val sliceRaw = (lo, hi) match {
          case (Some(l), Some(h)) =>
            turns.filter(col("ts") > lit(l) && col("ts") <= lit(h))
          case (Some(l), None) => turns.filter(col("ts") > lit(l))
          case (None, Some(h)) => turns.filter(col("ts") <= lit(h))
          case (None, None) => turns
        }
        // observe the raw fresh rows (pre-eligibility) separately from
        // the written rows so rows_read is the scanned-input count, not
        // a copy of rows_written — both metrics fill during the single
        // commit pass (CollectMetrics nodes, no extra scan)
        val obsIn = Observation(s"chunk-$chunkIdx-in")
        val fresh = sliceRaw.filter(col("ts") > lit(wm0))
          .observe(obsIn, count(lit(1)).as("rows_in"))
        val slice = Selection.ingest(fresh, wm0, spark)
        val obs = Observation(s"chunk-$chunkIdx")
        val extracted = ExtractionPipeline.repartitionForWrite(
          ExtractionPipeline.extractExpr(spark, slice))
          .observe(obs,
            count(lit(1)).as("rows"),
            max(col("ts")).as("max_ts"))
        val snapshotId = table.commit(extracted.toDF(),
          ExtractionPipeline.PartitionCols,
          Map("run-id" -> runId, "chunk" -> chunkIdx.toString,
            "mode" -> "ingest", "system" -> system))
        // the pointer swap made the chunk visible, whatever follows
        snapshots += snapshotId
        // either CollectMetrics node may be pruned on a chunk with no
        // fresh rows: read both through RunBookkeeping
        val metrics = obs.get
        val n = RunBookkeeping.count(metrics, "rows")
        rowsRead += RunBookkeeping.count(obsIn.get, "rows_in")
        rowsWritten += n
        if (n > 0) {
          // ONE cached read of the just-committed snapshot feeds both
          // the lineage aggregation and the event publish (round 1
          // scanned the fresh output twice per chunk)
          val committedRows = table.deltaAt(spark, snapshotId)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // per-output-partition lineage (PartitionLineage model):
            // rows + ts range + bytes in/out per committed day partition
            import spark.implicits._
            val lineage = committedRows
              .groupBy(ExtractionPipeline.PartitionCols.map(col): _*)
              .agg(count(lit(1)).as("rows"),
                min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
                sum(col("payload_bytes")).as("bytes_in"),
                sum(octet_length(col("extracted_text"))).as("bytes_out"))
              .select(
                lit(runId).as("run_id"),
                (col("year").cast("int") * 10000 +
                  col("month").cast("int") * 100 +
                  col("day").cast("int")).as("partition_id"),
                col("rows"), col("min_ts"), col("max_ts"),
                col("bytes_in"), col("bytes_out"),
                lit("COMMITTED").as("status"),
                lit(chunkIdx).as("chunk"),
                lit(snapshotId).as("snapshot_id"))
              .as[graft.model.PartitionLineage]
            lineage.toDF().write.mode("append").parquet(s"$tableRoot/lineage")
            // keyed event publish (X3 analog) — the flush barrier: events
            // are durable before the watermark can advance
            eventSink.publish(EventSink.keyedEvents(committedRows),
              topic = s"$system-ingest")
          } finally committedRows.unpersist(blocking = false)
        }
        // watermark := max ts of the committed chunk (A2 running-max,
        // TxaKafkaItemWriter.java:52-79); empty chunk keeps prior wm
        RunBookkeeping.maxTs(metrics).foreach { t =>
          wm = t
          store.write(system, "ingest", wm)
        }
        committed += 1
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          error = Some(errorText(e))
          false
      }
    }.foreach(_ => ())

    record(spark, tableRoot, runId, system, "ingest", JobResult(
      if (error.isEmpty) "COMPLETED" else "FAILED", rowsRead, rowsWritten,
      committed, wm, snapshots.toSeq, secondsSince(t0), error))
  }

  /** Delete-mode run (reference §3.2: reader → writer, no processor):
    * select tombstone rows since watermark − 7 days (the deliberate
    * late-data re-deliver window, PostgresItemReader.java:140-166),
    * dedupe keyed last-write-wins, publish tombstone events, and
    * advance the DELETE watermark only — the ingest watermark is
    * untouched (DeleteScenario1Test.java:97-119 invariant).
    */
  def runDelete(spark: SparkSession, tombstones: DataFrame,
      tableRoot: String, system: String = "cs",
      overrideWatermark: Option[String] = None,
      sink: Option[EventSink] = None): JobResult = {
    import org.apache.spark.sql.expressions.Window
    val t0 = System.nanoTime()
    val store = new CheckpointStore(tableRoot)
    val eventSink = sink.getOrElse(new ParquetEventSink(tableRoot))
    val runId = RunBookkeeping.newRunId()
    val wm0 = store.read(system, "delete", overrideWatermark)
    val result = try {
      val selected = Selection.deleteLookback(tombstones, wm0)
      // last-write-wins on the natural key: the lookback makes
      // re-delivery idempotent
      val w = Window.partitionBy(col("conv_id"), col("turn_idx"))
        .orderBy(col("ts").desc)
      val deduped = selected
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val obs = Observation("delete")
      val events = EventSink.tombstones(
        deduped.observe(obs, count(lit(1)).as("rows"),
          max(col("ts")).as("max_ts")))
      eventSink.publish(events, topic = s"$system-delete")
      val metrics = obs.get
      val n = RunBookkeeping.count(metrics, "rows")
      val wm = RunBookkeeping.maxTs(metrics)
      wm.foreach(store.write(system, "delete", _))
      JobResult("COMPLETED", n, n, 1, wm.getOrElse(wm0), Seq.empty,
        secondsSince(t0), None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        JobResult("FAILED", 0, 0, 0, wm0, Seq.empty, secondsSince(t0),
          Some(errorText(e)))
    }
    record(spark, tableRoot, runId, system, "delete", result)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  /** Append the run-level metrics row (A1/A3 analog of
    * JobStartFinishListener.java:66-79 throughput logging) and return
    * the result unchanged. */
  private def record(spark: SparkSession, tableRoot: String, runId: String,
      system: String, mode: String, r: JobResult): JobResult = {
    RunBookkeeping.appendMetrics(s"$tableRoot/metrics", runId) {
      import spark.implicits._
      val throughput =
        if (r.durationSec > 0) r.rowsWritten / r.durationSec else 0.0
      Seq((runId, system, mode, r.status, r.rowsRead, r.rowsWritten,
        r.chunksCommitted, r.watermark, r.durationSec, throughput))
        .toDF("run_id", "system", "mode", "status", "rows_read",
          "rows_written", "chunks_committed", "watermark", "duration_sec",
          "turns_per_sec")
    }
    r
  }
}
