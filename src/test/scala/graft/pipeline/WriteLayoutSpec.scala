package graft.pipeline

import scala.collection.mutable
import org.apache.spark.rdd.SparkTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, input_file_name}
import graft.SparkSpec
import graft.fixtures.TranscriptGen
import graft.fixtures.TranscriptGen.GenConfig
import graft.table.{CheckpointStore, SnapshotTable}

/** The write layout of `ExtractionJob.run` (O1 + skew): the table write
  * is an AQE rebalance, so its tasks follow the advisory partition size
  * — a heavy (~50×) conversation is split across tasks, not left as one
  * straggler — and every file keeps (conv_id, turn_idx) order. */
class WriteLayoutSpec extends SparkSpec {

  /** Per-task totals of one stage, from task-end events. */
  private final case class TaskRead(shuffleRead: Long, shuffleWrite: Long,
      recordsWritten: Long)

  test("write rebalance: tasks sized to the advisory size, files in (conv_id, turn_idx) order, rows = goldens") {
    val cfg = GenConfig(nConvs = 400)
    val advisory = 16L * 1024
    val root = tmpDir("graft-layout-")
    new CheckpointStore(root).seed("cs", "ingest", TranscriptGen.WatermarkTs)
    // spread the generated input over 4 map tasks, so the write
    // shuffle has blocks from several mappers to split a skewed key by
    val turns = TranscriptGen.dataset(spark, cfg).toDF().repartition(4)

    val sc = spark.sparkContext
    val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRead]]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) tasks.synchronized {
          val m = e.taskMetrics
          tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            TaskRead(m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              m.outputMetrics.recordsWritten)
        }
    }
    // the session is shared by every suite in the JVM: restore the key
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    sc.addSparkListener(listener)
    val res =
      try {
        spark.conf.set(key, advisory.toString)
        ExtractionJob.run(spark, turns, root)
      } finally {
        prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        SparkTestAccess.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    assert(res.status == "COMPLETED", res.error)

    // the write stage: reads a shuffle, writes none, and writes exactly
    // the committed rows (lineage writes one row per day, events and
    // metrics read no shuffle)
    val writeStages = tasks.toMap.filter { case (_, ts) =>
      ts.map(_.shuffleRead).sum > 0 && ts.forall(_.shuffleWrite == 0) &&
        ts.map(_.recordsWritten).sum == res.rowsWritten
    }
    assert(writeStages.size == 1, s"write stages: ${writeStages.keys}")
    val writeTasks = writeStages.head._2
    assert(writeTasks.size > 1, "the write ran as one task")
    val largest = writeTasks.map(_.shuffleRead).max
    assert(largest <= 4 * advisory,
      s"largest write task read $largest shuffle bytes, over 4 × " +
        s"$advisory (tasks: ${writeTasks.map(_.shuffleRead).sorted})")

    // every part file is in (conv_id, turn_idx) order. One scan reads
    // them all: a small file is one split, read start to end by one
    // task, so its rows arrive contiguous and in file order (checked)
    val table = new SnapshotTable(root)
    val rows = table.deltaAt(spark, table.currentSnapshotId.get)
      .select(input_file_name(), col("conv_id"), col("turn_idx")).collect()
      .map(r => (r.getString(0), (r.getString(1), r.getInt(2))))
    val runs = mutable.ArrayBuffer.empty[(String, mutable.ArrayBuffer[(String, Int)])]
    rows.foreach { case (f, k) =>
      if (runs.isEmpty || runs.last._1 != f) runs += f -> mutable.ArrayBuffer.empty
      runs.last._2 += k
    }
    assert(runs.map(_._1).distinct.size == runs.size, "a file was split")
    runs.foreach { case (f, keys) =>
      val ordered = keys == keys.sorted
      assert(ordered, s"$f is not in (conv_id, turn_idx) order")
    }

    // the committed rows equal the goldens of the eligible turns
    val out = table.read(spark)
      .select("conv_id", "turn_idx", "payload_kind", "extracted_text")
    val want = TranscriptGen.goldenDataset(spark, cfg).toDF()
      .join(Selection.ingest(turns, TranscriptGen.WatermarkTs, spark)
        .select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_semi")
      .select("conv_id", "turn_idx", "payload_kind", "extracted_text")
    assert(out.count() == res.rowsWritten)
    assert(out.exceptAll(want).isEmpty, "committed rows without a golden")
    assert(want.exceptAll(out).isEmpty, "goldens missing from the table")
  }
}
