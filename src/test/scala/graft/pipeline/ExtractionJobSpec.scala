package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.fixtures.TranscriptGen
import graft.fixtures.TranscriptGen.GenConfig
import graft.table.{CheckpointStore, SnapshotTable}

/** End-to-end scenario tests — the engine translation of the
  * reference's integration scenarios 1-4 (SURVEY.md §5.1). */
class ExtractionJobSpec extends SparkSpec {

  private val cfg = GenConfig(nConvs = 40)

  private def freshTable(): (String, CheckpointStore) = {
    val root = tmpDir("graft-table-")
    val store = new CheckpointStore(root)
    store.seed("cs", "ingest", TranscriptGen.WatermarkTs)
    (root, store)
  }

  test("scenario 1: happy path — extract, golden equality, watermark = max ts") {
    val (root, store) = freshTable()
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    val res = ExtractionJob.run(spark, turns, root)
    assert(res.status == "COMPLETED")
    assert(res.rowsWritten > 0)

    val out = new SnapshotTable(root).read(spark)
    assert(out.count() == res.rowsWritten)

    // golden equality per (conv_id, turn_idx) via join (J3)
    val golden = TranscriptGen.goldenDataset(spark, cfg).toDF()
      .withColumnRenamed("extracted_text", "want")
      .withColumnRenamed("payload_kind", "want_kind")
    val joined = out.join(golden, Seq("conv_id", "turn_idx"))
    assert(joined.count() == res.rowsWritten, "every output row has a golden")
    val mismatches = joined
      .filter(col("extracted_text") =!= col("want") ||
        col("payload_kind") =!= col("want_kind"))
    assert(mismatches.count() == 0,
      s"golden mismatch: ${mismatches.take(2).mkString("; ")}")

    // watermark advanced to exactly max(ts) of the written rows
    // (IngestScenario1Test.java:115 analog)
    val maxTs = out.agg(max("ts")).head().getTimestamp(0)
    assert(store.read("cs", "ingest") == maxTs)

    // only eligible rows: nothing stale, no system/internal rows
    assert(out.filter(col("ts") <= lit(TranscriptGen.WatermarkTs)).count() == 0)
    assert(out.filter(col("role") === "system").count() == 0)
    assert(out.filter(col("tool") === "internal").count() == 0)
  }

  test("scenario 2: corrupt schema fails the job, watermark unchanged") {
    val (root, store) = freshTable()
    val before = store.read("cs", "ingest")
    // missing `text` column — hard failure at plan time, no commit
    val bad = TranscriptGen.dataset(spark, cfg).toDF()
      .drop("text").withColumnRenamed("role", "rle")
    val res = ExtractionJob.run(spark, bad, root)
    assert(res.status == "FAILED")
    assert(res.chunksCommitted == 0)
    assert(store.read("cs", "ingest") == before)
    assert(new SnapshotTable(root).currentSnapshotId.isEmpty)
  }

  test("scenario 3: poison payload in single chunk — FAILED, watermark unchanged, no output visible") {
    val (root, store) = freshTable()
    val before = store.read("cs", "ingest")
    val poison = udf((t: String, idx: Int) =>
      if (idx == 5) sys.error("poison payload") else t)
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
      .withColumn("text", poison(col("text"), col("turn_idx")))
    val res = ExtractionJob.run(spark, turns, root, nChunks = 1)
    assert(res.status == "FAILED")
    assert(res.chunksCommitted == 0)
    assert(store.read("cs", "ingest") == before)
    // atomic pointer swap — no snapshot became visible
    assert(new SnapshotTable(root).currentSnapshotId.isEmpty)
  }

  test("scenario 4: failure in a later chunk — watermark = last committed chunk; resume completes") {
    val (root, store) = freshTable()
    val before = store.read("cs", "ingest")
    // poison only rows in the last ~quarter of the ts range
    val all = TranscriptGen.dataset(spark, cfg).toDF()
    val cut = all.filter(col("ts") > lit(TranscriptGen.WatermarkTs))
      .selectExpr("cast(ts as double) d").stat.approxQuantile("d", Array(0.9), 0.001)(0)
    val cutTs = new Timestamp((cut * 1000).toLong)
    val poison = udf((t: String, tsMs: Long) =>
      if (tsMs > cutTs.getTime) sys.error("poison late row") else t)
    val turns = all.withColumn("text",
      poison(col("text"), col("ts").cast("long") * 1000))
    val res = ExtractionJob.run(spark, turns, root, nChunks = 4)
    assert(res.status == "FAILED")
    assert(res.chunksCommitted > 0 && res.chunksCommitted < 4)
    val wmAfterFail = store.read("cs", "ingest")
    assert(wmAfterFail.after(before), "watermark advanced to last good chunk")
    assert(wmAfterFail.getTime <= cutTs.getTime + 1000)

    // resume with clean data: only uncommitted rows get processed
    val res2 = ExtractionJob.run(spark, all, root, nChunks = 4)
    assert(res2.status == "COMPLETED")
    val eligibleTotal = Selection.ingest(all, before, spark).count()
    assert(res.rowsWritten + res2.rowsWritten == eligibleTotal,
      "resume processes exactly the uncommitted remainder")
  }

  test("multi-chunk run: table view = ALL chunks, lineage has typed rows") {
    val (root, _) = freshTable()
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    val res = ExtractionJob.run(spark, turns, root, nChunks = 4)
    assert(res.status == "COMPLETED" && res.chunksCommitted == 4)
    // cumulative snapshots: read() is the union of every chunk's commit,
    // not the last delta (the --chunks 8 CLI default must not hide 7/8
    // of the data)
    val out = new SnapshotTable(root).read(spark)
    assert(out.count() == res.rowsWritten)
    // rows_read counts scanned input (pre-eligibility), not a copy of
    // rows_written
    assert(res.rowsRead > res.rowsWritten)
    // lineage rows decode as the PartitionLineage model with real bytes
    import spark.implicits._
    val lineage = spark.read.parquet(s"$root/lineage")
      .as[graft.model.PartitionLineage].collect()
    assert(lineage.nonEmpty)
    assert(lineage.forall(l => l.bytes_in > 0 && l.bytes_out > 0 &&
      l.bytes_in >= l.bytes_out && l.status == "COMMITTED"))
    assert(lineage.map(_.rows).sum == res.rowsWritten)
    assert(lineage.forall(l => l.partition_id >= 20230322 &&
      l.partition_id <= 20230501))
  }

  test("metrics write failure never masks the job status (X5 never-throw)") {
    val (root, _) = freshTable()
    // make <root>/metrics an unwritable target: a FILE in its place
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "metrics"),
      "not a dir".getBytes)
    val turns = TranscriptGen.dataset(spark, GenConfig(nConvs = 5)).toDF()
    val res = ExtractionJob.run(spark, turns, root)
    assert(res.status == "COMPLETED", res.error.toString)
    assert(res.rowsWritten > 0)
  }

  test("event publish fails on chunk 2: prefix committed, chunk 2 visible; rerun restores an exact view") {
    val (root, store) = freshTable()
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    val keys = Seq("conv_id", "turn_idx")
    // the second publish throws before it writes anything
    val parquet = new ParquetEventSink(root)
    var publishes = 0
    val failSecond = new EventSink {
      override def publish(events: org.apache.spark.sql.DataFrame,
          topic: String): Unit = {
        publishes += 1
        if (publishes == 2) sys.error("event publish failed")
        parquet.publish(events, topic)
      }
    }
    val res = ExtractionJob.run(spark, turns, root, nChunks = 2,
      sink = Some(failSecond))
    assert(res.status == "FAILED" && res.chunksCommitted == 1, res.toString)
    val table = new SnapshotTable(root)
    val Seq(snap1, snap2) = table.history()
    assert(res.snapshotIds == Seq(snap1, snap2))
    val chunk1 = table.deltaAt(spark, snap1)
    val chunk2Keys = table.deltaAt(spark, snap2).select(keys.map(col): _*)
    val n1 = chunk1.count()
    val n2 = chunk2Keys.count()
    assert(n1 > 0 && n2 > 0)
    assert(store.read("cs", "ingest") ==
      chunk1.agg(max("ts")).head().getTimestamp(0),
      "watermark = chunk 1's max ts")
    // the pointer swap precedes the publish: chunk 2 is already visible
    assert(table.read(spark).count() == n1 + n2)

    val res2 = ExtractionJob.run(spark, turns, root, nChunks = 2)
    assert(res2.status == "COMPLETED", res2.error.toString)
    assert(res2.rowsWritten == n2, "the rerun re-processes chunk 2 only")
    val view = table.read(spark)
    // at-least-once visible: chunk 2's keys twice, every other key once
    val perKey = view.groupBy(keys.map(col): _*).count()
      .join(chunk2Keys.withColumn("in2", lit(true)), keys, "left")
    assert(perKey.filter(col("in2").isNotNull && col("count") =!= 2)
      .count() == 0)
    assert(perKey.filter(col("in2").isNull && col("count") =!= 1)
      .count() == 0)
    assert(perKey.filter(col("in2").isNotNull).count() == n2)
    // dedupe on the natural key restores the exact view
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "turn_idx", "payload_kind", "extracted_text")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getString(3))).sortBy(r => (r._1, r._2)).toSeq
    val want = TranscriptGen.goldenDataset(spark, cfg).toDF()
      .join(Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)
        .select(keys.map(col): _*), keys, "left_semi")
    assert(sorted(view.dropDuplicates(keys)) == sorted(want))
    // exactly-once events: the failed publish wrote nothing
    val events = EventSink.readTopic(spark, root, "cs-ingest")
      .select(col("key"), get_json_object(col("value"), "$.turnIdx").as("t"))
    assert(events.count() == n1 + n2)
    assert(events.distinct().count() == n1 + n2)
    assert(store.read("cs", "ingest") == view.agg(max("ts")).head().getTimestamp(0))
    // lineage is written before the publish, so the failed chunk keeps
    // its COMMITTED lineage rows and the rerun appends a second set
    val lineage = spark.read.parquet(s"$root/lineage")
    def rowsOf(l: org.apache.spark.sql.DataFrame) =
      l.agg(sum("rows")).head().getLong(0)
    assert(lineage.filter(col("status") =!= "COMMITTED").isEmpty)
    assert(rowsOf(lineage.filter(col("snapshot_id") === snap2)) == n2)
    assert(rowsOf(lineage) == n1 + 2 * n2)
  }

  test("resume with no new data completes with zero rows (empty chunks)") {
    val (root, store) = freshTable()
    val turns = TranscriptGen.dataset(spark, GenConfig(nConvs = 10)).toDF()
    val res1 = ExtractionJob.run(spark, turns, root, nChunks = 2)
    assert(res1.status == "COMPLETED" && res1.rowsWritten > 0)
    val wm = store.read("cs", "ingest")
    // second run sees nothing past the advanced watermark
    val res2 = ExtractionJob.run(spark, turns, root, nChunks = 2)
    assert(res2.status == "COMPLETED", res2.error.toString)
    assert(res2.rowsWritten == 0)
    assert(store.read("cs", "ingest") == wm, "watermark unchanged")
  }

  test("keyed events are published with the reference wire format") {
    val (root, _) = freshTable()
    val turns = TranscriptGen.dataset(spark, GenConfig(nConvs = 10)).toDF()
    val res = ExtractionJob.run(spark, turns, root)
    assert(res.status == "COMPLETED")
    val events = EventSink.readTopic(spark, root, "cs-ingest")
    assert(events.count() == res.rowsWritten)
    val r = events.filter(col("value").contains("\"payloadKind\":\"html\"")).head()
    val value = r.getString(events.columns.indexOf("value"))
    // camelCase keys + epoch-millis ts (DocumentSerializerTest analog)
    assert(value.contains("\"convId\":\"") && value.contains("\"turnIdx\":"))
    assert("\"ts\":(\\d{13})".r.findFirstIn(value).isDefined, value)
    assert(r.getString(events.columns.indexOf("key")).startsWith("conv-"))
  }

  test("delete run: lookback + last-write-wins, ingest watermark untouched") {
    val (root, store) = freshTable()
    store.seed("cs", "delete", TranscriptGen.WatermarkTs)
    val ingestWmBefore = store.read("cs", "ingest")
    val turns = TranscriptGen.dataset(spark, GenConfig(nConvs = 15)).toDF()
    // duplicate a slice to simulate re-delivery inside the window
    val tomb = turns.unionByName(turns.filter(col("turn_idx") === 0))
    val res = ExtractionJob.runDelete(spark, tomb, root)
    assert(res.status == "COMPLETED" && res.rowsWritten > 0)
    val events = EventSink.readTopic(spark, root, "cs-delete")
    // duplicates collapsed (keyed last-write-wins)
    assert(events.count() == res.rowsWritten)
    assert(events.groupBy("key", "value").count()
      .filter(col("count") > 1).count() == 0)
    // delete watermark advanced; ingest watermark untouched
    assert(store.read("cs", "delete").after(TranscriptGen.WatermarkTs))
    assert(store.read("cs", "ingest") == ingestWmBefore)
  }

  test("delete-mode lookback re-delivers the late window") {
    val wm = new Timestamp(TranscriptGen.BaseEpochMs + 10 * 86400000L)
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    val redelivered = Selection.deleteLookback(turns, wm)
    assert(redelivered.count() > 0, "lookback window is non-empty")
    val minTs = redelivered.agg(min("ts")).head().getTimestamp(0)
    // nothing older than wm - 7 days is re-delivered
    assert(minTs.getTime > wm.getTime - 7L * 86400000L)
    // and something strictly before wm IS re-delivered (the late window)
    assert(redelivered.filter(col("ts") <= lit(wm)).count() > 0)
  }

  test("rejected-rows audit is the exact complement of the allow-list") {
    val turns = TranscriptGen.dataset(spark, cfg).toDF()
    val wm = TranscriptGen.WatermarkTs
    val inSel = Selection.ingest(turns, wm, spark).count()
    val outSel = Selection.rejected(turns, wm, spark).count()
    val base = Selection.withCaseType(turns)
      .filter(col("text").isNotNull && col("role") =!= "system" &&
        (col("tool").isNull || col("tool") =!= "internal") &&
        col("ts") > lit(wm)).count()
    assert(inSel + outSel == base)
    assert(inSel > 0 && outSel > 0)
  }

  test("extractExpr matches a driver-side reference on a non-UTC session") {
    import spark.implicits._
    // turns 1 s either side of a UTC midnight and of a Los Angeles
    // midnight, then empty, multi-byte and unpaired-surrogate payloads —
    // all eligible (case type a1, role user, no tool, after the watermark)
    val utcMidnight = java.time.Instant.parse("2023-03-23T00:00:00Z").toEpochMilli
    val laMidnight = java.time.Instant.parse("2023-03-23T07:00:00Z").toEpochMilli
    val edges = Seq(
      (utcMidnight - 1000L, "one second before utc midnight"),
      (utcMidnight + 1000L, "<html><body><p>" +
        Seq.fill(6)("one second after utc midnight the turn is kept").mkString(" ") +
        "</p></body></html>"),
      (laMidnight - 1000L, "one second before la midnight"),
      (laMidnight + 1000L, "one second after la midnight"),
      (utcMidnight + 60000L, "\ud800A"),
      (utcMidnight + 120000L, "a\udc00"),
      (utcMidnight + 180000L, "\ud800"),
      (utcMidnight + 240000L, ""),
      (utcMidnight + 300000L, "café € euro emoji 😀")
    ).zipWithIndex.map { case ((ms, text), i) =>
      graft.model.Turn("conv-edge-a1", i, "user", text, null, new Timestamp(ms))
    }
    val turns = TranscriptGen.dataset(spark, GenConfig(nConvs = 30)).toDF()
      .unionByName(edges.toDS().toDF())
    val eligible = Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)

    val zoneKey = "spark.sql.session.timeZone"
    val zone0 = spark.conf.getOption(zoneKey)
    spark.conf.set(zoneKey, "America/Los_Angeles")
    val (input, got) = try {
      (eligible.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .as[graft.model.Turn].collect().toSeq,
        ExtractionPipeline.extractExpr(spark, eligible).collect().toSeq)
    } finally zone0.fold(spark.conf.unset(zoneKey))(spark.conf.set(zoneKey, _))

    assert(input.count(_.conv_id == "conv-edge-a1") == edges.size,
      "every edge-case turn reaches extraction")
    val want = input.map { t =>
      val r = graft.extract.Extractor.extract(t.text)
      val d = t.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
      graft.model.ExtractedTurn(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
        r.kind, r.text, r.nSpans,
        t.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length,
        "graft", f"${d.getYear}%04d", f"${d.getMonthValue}%02d",
        f"${d.getDayOfMonth}%02d")
    }
    def key(e: graft.model.ExtractedTurn) = (e.conv_id, e.turn_idx)
    val (g, w) = (got.sortBy(key), want.sortBy(key))
    assert(g.size == w.size)
    val diff = g.zip(w).filter { case (a, b) => a != b }
    if (diff.nonEmpty)
      fail(s"${diff.size} rows differ, first (got, want): ${diff.head}")
    // the midnight turns land on their UTC calendar dates
    val days = g.filter(_.conv_id == "conv-edge-a1").map(_.day)
    assert(days.take(4) == Seq("22", "23", "23", "23"))
  }
}

/** Plan shape of the expression-based extraction path. Its rows are
  * pinned against a driver-side reference in [[ExtractionJobSpec]]. */
class ExtractExprParitySpec extends graft.SparkSpec {

  test("extraction plan never shuffles the raw payload (scale invariant)") {
    val cfg = graft.fixtures.TranscriptGen.GenConfig(nConvs = 10)
    val turns = graft.fixtures.TranscriptGen.dataset(spark, cfg).toDF()
    val eligible = Selection.ingest(turns,
      graft.fixtures.TranscriptGen.WatermarkTs, spark)
    // source → selection → extraction must be one map-side pipeline: the
    // only exchange allowed anywhere is the broadcast of the allow-list
    val plan = ExtractionPipeline.extractExpr(spark, eligible)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
  }
}
