package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer metrics a traced run reports, with their units. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.bytes_read" -> "bytes",
    "sources.rows_scanned" -> "count",
    "selection.s" -> "s", "selection.rows_in" -> "count",
    "selection.rows_out" -> "count", "selection.rows_rejected" -> "count",
    "extract.s" -> "s", "extract.turns_per_s" -> "1/s",
    "extract.html_us" -> "us", "extract.pdf_us" -> "us",
    "extract.plain_us" -> "us", "extract.chars_out" -> "count",
    "write_shuffle.s" -> "s", "write_shuffle.bytes" -> "bytes",
    "write_shuffle.tasks" -> "count",
    "table.commit_s" -> "s", "table.files_written" -> "count",
    "table.bytes_written" -> "bytes", "table.manifest_bytes" -> "bytes",
    "table.files_read" -> "count",
    "lineage.s" -> "s", "lineage.files_read" -> "count",
    "events.publish_s" -> "s", "events.rows" -> "count",
    "events.files_written" -> "count", "events.bytes_written" -> "bytes",
    "chunking.bounds_s" -> "s", "chunking.rescan_ratio" -> "ratio",
    "checkpoint.s" -> "s", "checkpoint.writes" -> "count",
    "delete.s" -> "s", "delete.rows" -> "count", "delete.shuffle_bytes" -> "bytes",
    "dedup.s" -> "s", "dedup.rows_in" -> "count", "dedup.dropped" -> "count",
    "dedup.process_s" -> "s",
    "run_metrics.s" -> "s", "driver.s" -> "s", "process.start_s" -> "s",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.tasks" -> "count",
    "spark.spill_bytes" -> "bytes", "spark.session_s" -> "s",
    "jvm.cold_penalty_s" -> "s",
    "trace.wall_s" -> "s", "trace.layer_sum_s" -> "s",
    "trace.coverage" -> "ratio", "trace.overhead" -> "ratio",
    "host.cpu_probe_ms" -> "ms", "host.mem_probe_ms" -> "ms",
    "host.foreign_cores" -> "cores", "host.driver_gc_s" -> "s")

  /** Self-time layers: they partition a traced operation's wall time. */
  val selfTimes: Seq[String] = Seq("sources.scan_s", "selection.s",
    "extract.s", "write_shuffle.s", "table.commit_s", "lineage.s",
    "events.publish_s", "chunking.bounds_s", "checkpoint.s", "delete.s",
    "dedup.s", "run_metrics.s", "driver.s", "process.start_s")

  private val countUnits = Set("count", "bytes", "ratio")

  /** Counts repeat exactly for one seed (the exact-count guard). */
  def isCount(name: String): Boolean =
    all.find(_._1 == name).exists(u => countUnits(u._2)) &&
      !name.startsWith("trace.")
}

/** One Spark SQL execution as seen by the listeners. */
final class ExecRec(val id: Long) {
  var start = 0L
  var end = 0L
  var layer = ""
  val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** One stage's task totals. */
final class StageRec(val id: Int) {
  var exec = -1L
  var submitted = 0L
  var completed = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var spill = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var inputBytes = 0L
}

/** Raw listener record, shared by the in-process tracer and the one
  * registered into IngestApp processes. Executions are classified by
  * where they write under the table root, or by their plan. */
final class Recorder(tableRoot: String, input: String, defaultLayer: String) {
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val planned = mutable.Set.empty[Long]
  // a QueryExecution reaches both listeners with the same end event; the
  // SQL end event carries the execution id, the plan goes to the query
  // listener — whichever arrives second classifies
  private val execOfQe = mutable.Map.empty[Int, Long]
  private val pendingQe = mutable.Map.empty[Int, QueryExecution]
  private val rootOf = mutable.Map.empty[Long, Long]
  private var barrier = -1L

  private def norm(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")
  private val root = norm(Paths.get(tableRoot).toAbsolutePath.toString)
  private val source = if (input.isEmpty) "" else norm(Paths.get(input).toAbsolutePath.toString)

  private def exec(id: Long) = execs.getOrElseUpdate(id, new ExecRec(id))

  val listener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Recorder.this.synchronized {
          val top = s.rootExecutionId.getOrElse(s.executionId)
          if (s.description == Recorder.Barrier) barrier = s.executionId
          // nested executions (a command running a query) book to their root
          else if (top == s.executionId) exec(s.executionId).start = s.time
          else rootOf(s.executionId) = top
        }
      case s: SparkListenerSQLExecutionEnd =>
        Recorder.this.synchronized {
          execs.get(s.executionId).foreach(_.end = s.time)
          val qe = org.apache.spark.sql.PerfbenchAccess.queryExecution(s)
          if (qe != null) {
            val k = System.identityHashCode(qe)
            execOfQe(k) = s.executionId
            pendingQe.remove(k).foreach(classify(_, s.executionId))
          }
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
        .map(_.toLong).getOrElse(-1L)
      Recorder.this.synchronized {
        e.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId)).exec = id)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Recorder.this.synchronized {
        stages.get(e.stageInfo.stageId).foreach(_.submitted =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        stages.get(e.stageInfo.stageId).foreach(_.completed =
          e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) Recorder.this.synchronized {
        stages.get(e.stageId).foreach { s =>
          val m = e.taskMetrics
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      seen(qe)
  }

  private def seen(qe: QueryExecution): Unit = synchronized {
    val k = System.identityHashCode(qe)
    execOfQe.remove(k) match {
      case Some(id) => classify(qe, id)
      case None => pendingQe(k) = qe
    }
  }

  /** Every physical node, through adaptive plans, query stages, cached
    * relations and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  // a cached relation's plan (and its metrics) is shared by every query
  // that reads it: each metric counts once, for the first query
  private val countedMetrics = mutable.Set.empty[Long]

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).filter(m => countedMetrics.add(m.id)).map(_.value).getOrElse(0L)

  private def under(path: String, dir: String): Boolean =
    path == dir || path.startsWith(dir + "/")

  private def classify(qe: QueryExecution, id: Long): Unit = synchronized {
    planned += id
    val top = rootOf.getOrElse(id, id)
    if (!execs.contains(top)) return
    val e = execs(top)
    val all = nodes(qe.executedPlan)
    val out = all.collectFirst {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Some((norm(i.outputPath.toString), w))
        case _ => None
      }
    }.flatten
    if (top == id) e.layer = out match {
      case Some((p, _)) if under(p, s"$root/data") => "commit"
      case Some((p, _)) if under(p, s"$root/lineage") => "lineage"
      case Some((p, _)) if under(p, s"$root/events/cs-delete") => "delete"
      case Some((p, _)) if under(p, s"$root/events") => "events"
      case Some((p, _)) if under(p, s"$root/metrics") => "run_metrics"
      case Some((p, _)) if under(p, s"$root/dedup_drops") ||
        under(p, s"$root/dedup_metrics") => "dedup"
      case Some(_) => "other"
      case None if all.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[ApproximatePercentile]))) => "bounds"
      case None => defaultLayer
    }
    out.foreach { case (_, w) =>
      e.counts("written_files") += metric(w, "numFiles")
      e.counts("written_bytes") += metric(w, "numOutputBytes")
      e.counts("written_rows") += metric(w, "numOutputRows")
    }
    all.foreach {
      case s: FileSourceScanExec =>
        val paths = s.relation.location.rootPaths.map(p => norm(p.toString))
        val kind =
          if (source.nonEmpty && paths.forall(under(_, source))) "source"
          else if (paths.forall(under(_, s"$root/data"))) "table"
          else "other"
        e.counts(s"$kind.files") += metric(s, "numFiles")
        e.counts(s"$kind.bytes") += metric(s, "filesSize")
        e.counts(s"$kind.rows") += metric(s, "numOutputRows")
        e.counts(s"$kind.scan_ms") += metric(s, "scanTime")
      case x: ShuffleExchangeExec =>
        e.counts("shuffle_bytes") += metric(x, "shuffleBytesWritten")
      case s: SortExec =>
        e.counts("sort_ms") += metric(s, "sortTime")
      case _ =>
    }
  }

  /** Serialized form, for the record a child process leaves behind. */
  def render(): String = synchronized {
    val b = new StringBuilder
    execs.values.foreach { e =>
      b ++= s"exec ${e.id} ${e.start} ${e.end} ${e.layer} " +
        e.counts.map { case (k, v) => s"$k=$v" }.mkString(" ") + "\n"
    }
    stages.values.foreach { s =>
      b ++= s"stage ${s.id} ${s.exec} ${s.submitted} ${s.completed} ${s.tasks} " +
        s"${s.runMs} ${s.gcMs} ${s.spill} ${s.shuffleWriteBytes} " +
        s"${s.shuffleWriteNs} ${s.shuffleReadBytes} ${s.inputBytes}\n"
    }
    b.toString
  }

  /** Block until the listener bus has delivered every event of the
    * executions that ended so far (or `timeoutMs` passed). */
  def drain(spark: SparkSession, timeoutMs: Long = 10000L): Unit = {
    // a marker action: its events queue behind everything before it, on
    // both listeners' queues
    spark.sparkContext.setJobDescription(Recorder.Barrier)
    try spark.range(1).write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.setJobDescription(null)
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized(barrier >= 0 && planned(barrier))
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(2)
    if (!settled) System.err.println("[perfbench] listener drain timed out")
  }
}

object Recorder {
  val Barrier = "perfbench-barrier"
}

/** Parsed record plus the attribution of a wall-time window to layers. */
object Attribution {

  final case class Interval(start: Long, end: Long, layer: String)

  /** Self time per layer over [t0, t1] (epoch ms). Executions are the
    * backbone; a table write is split by its stages (the source stage
    * between sources, selection, extract and the write shuffle; the
    * write stage between the sort and the file write), gaps between
    * executions go to the driver-side work they hold. `splitSel` is the
    * share of the source stage's non-scan, non-shuffle task time that is
    * selection rather than extraction. `publishes` are the event-sink
    * spans, when known; `manifests` the snapshot-manifest write times. */
  def selfTimes(execs: Seq[ExecRec], stages: Seq[StageRec], t0: Long, t1: Long,
      splitSel: Double, publishes: Seq[(Long, Long)], manifests: Seq[Long]): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(layer: String, ms: Double): Unit = if (ms > 0) acc(layerName(layer)) += ms / 1e3
    val xs = execs.filter(e => e.start >= t0 && e.end <= t1 && e.end >= e.start)
      .sortBy(_.start)
    // event publishes replace their execution (they include its planning)
    val pubs = publishes.map { case (s, e) => Interval(s, e, "events") }
    val ivs = (xs.filterNot(e => e.layer == "events" &&
        pubs.exists(p => p.start <= e.start && e.end <= p.end))
      .map(e => Interval(e.start, e.end, e.layer)) ++ pubs).sortBy(_.start)
    var cursor = t0
    var prev = "start"
    ivs.foreach { iv =>
      if (iv.start > cursor) {
        val gap = (cursor, iv.start)
        prev match {
          case "commit" =>
            // manifest and pointer swap end the commit; the rest of
            // the gap is the next layer's preparation
            val cut = manifests.filter(m => m >= gap._1 && m <= gap._2)
              .maxOption.getOrElse(gap._1)
            add("commit_driver", cut - gap._1)
            add(iv.layer, gap._2 - cut)
          case "events" => add("checkpoint", gap._2 - gap._1)
          case _ => add(iv.layer, gap._2 - gap._1)
        }
      }
      val s = math.max(iv.start, cursor)
      if (iv.end > s) {
        val commit = xs.find(e => e.start == iv.start && e.layer == "commit")
        if (iv.layer == "commit" && commit.nonEmpty)
          splitCommit(commit.get, stages.filter(_.exec == commit.get.id), s, iv.end,
            splitSel, add)
        else add(iv.layer, iv.end - s)
        cursor = iv.end
      }
      prev = iv.layer
    }
    if (t1 > cursor) add(if (prev == "events") "checkpoint" else "driver", t1 - cursor)
    acc.toMap
  }

  private def layerName(l: String): String = l match {
    case "commit" | "commit_driver" | "file_write" => "table.commit_s"
    case "lineage" => "lineage.s"
    case "events" => "events.publish_s"
    case "delete" => "delete.s"
    case "run_metrics" => "run_metrics.s"
    case "dedup" => "dedup.s"
    case "bounds" => "chunking.bounds_s"
    case "checkpoint" => "checkpoint.s"
    case "sources" => "sources.scan_s"
    case "selection" => "selection.s"
    case "extract" => "extract.s"
    case "write_shuffle" => "write_shuffle.s"
    case "process_start" => "process.start_s"
    case _ => "driver.s"
  }

  /** Split a table-write execution's wall [s, e] among its stages: the
    * source stage by the shares of its task time that are the scan (the
    * plan's scan time), the shuffle write, and the rest; the write stage
    * by the share that is the sort (the plan's sort time). */
  private def splitCommit(x: ExecRec, st: Seq[StageRec], s: Long, e: Long,
      splitSel: Double, add: (String, Double) => Unit): Unit = {
    var covered = 0.0
    st.filter(y => y.completed >= y.submitted && y.submitted >= s).foreach { y =>
      val w = (math.min(y.completed, e) - y.submitted).toDouble
      covered += math.max(0, w)
      val run = math.max(1.0, y.runMs.toDouble)
      if (y.inputBytes > 0 && y.shuffleWriteBytes > 0) {
        val shuf = math.min(run, y.shuffleWriteNs / 1e6)
        val scan = math.min(run - shuf, x.counts("source.scan_ms").toDouble)
        val rest = run - shuf - scan
        add("sources", w * scan / run)
        add("write_shuffle", w * shuf / run)
        add("selection", w * rest * splitSel / run)
        add("extract", w * rest * (1 - splitSel) / run)
      } else if (y.shuffleReadBytes > 0) {
        val sort = math.min(run, x.counts("sort_ms").toDouble)
        add("write_shuffle", w * sort / run)
        add("file_write", w * (run - sort) / run)
      } else add("selection", w) // the allow-list broadcast
    }
    add("commit_driver", (e - s) - covered)
  }

  /** Counts of one operation, from its executions and stages (only those
    * of layers that ran: a missing one reads as 0). */
  def counts(execs: Seq[ExecRec], stages: Seq[StageRec]): Map[String, Double] = {
    def sum(layer: String, k: String) =
      execs.filter(e => layer.isEmpty || e.layer == layer).map(_.counts(k)).sum.toDouble
    val ids = execs.map(_.id).toSet
    val st = stages.filter(s => ids(s.exec))
    val commitIds = execs.filter(_.layer == "commit").map(_.id).toSet
    Map(
      "sources.bytes_read" -> sum("", "source.bytes"),
      "sources.rows_scanned" -> sum("", "source.rows"),
      "write_shuffle.bytes" -> st.filter(s => commitIds(s.exec))
        .map(_.shuffleWriteBytes).sum.toDouble,
      "write_shuffle.tasks" -> st.filter(s => commitIds(s.exec) &&
        s.shuffleReadBytes > 0 && s.shuffleWriteBytes == 0).map(_.tasks).sum.toDouble,
      "table.files_written" -> sum("commit", "written_files"),
      "table.bytes_written" -> sum("commit", "written_bytes"),
      "table.files_read" -> sum("", "table.files"),
      "lineage.files_read" -> sum("lineage", "table.files"),
      "events.rows" -> sum("events", "written_rows"),
      "events.files_written" -> sum("events", "written_files"),
      "events.bytes_written" -> sum("events", "written_bytes"),
      "delete.rows" -> sum("delete", "written_rows"),
      "delete.shuffle_bytes" -> st.filter(s => execs.exists(e =>
        e.id == s.exec && e.layer == "delete")).map(_.shuffleWriteBytes).sum.toDouble,
      "dedup.rows_in" -> sum("dedup", "table.rows"),
      "spark.task_s" -> st.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble).filter(_._2 != 0)
  }

  /** Parse a child process's record. */
  def parse(text: String): (Seq[ExecRec], Seq[StageRec]) = {
    val execs = mutable.ArrayBuffer.empty[ExecRec]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    text.split("\n").map(_.split(" ")).foreach {
      case a if a.headOption.contains("exec") && a.length >= 5 =>
        val e = new ExecRec(a(1).toLong)
        e.start = a(2).toLong; e.end = a(3).toLong; e.layer = a(4)
        a.drop(5).foreach { kv =>
          val i = kv.indexOf('='); if (i > 0) e.counts(kv.take(i)) = kv.drop(i + 1).toLong
        }
        execs += e
      case a if a.headOption.contains("stage") && a.length == 13 =>
        val s = new StageRec(a(1).toInt)
        val v = a.drop(2).map(_.toLong)
        s.exec = v(0); s.submitted = v(1); s.completed = v(2); s.tasks = v(3)
        s.runMs = v(4); s.gcMs = v(5); s.spill = v(6); s.shuffleWriteBytes = v(7)
        s.shuffleWriteNs = v(8); s.shuffleReadBytes = v(9); s.inputBytes = v(10)
        stages += s
      case _ =>
    }
    (execs.toSeq, stages.toSeq)
  }
}

/** In-process tracer for `ExtractionJob.run`: listeners registered on
  * the benchmark's session, a timing decorator around the event sink,
  * and probe actions that time the selection and extraction layers
  * through their public functions. */
final class Trace(spark: SparkSession, input: String) {

  final class Probe(root: String, rec: Recorder) {
    private val t0 = System.currentTimeMillis()
    val publishes = mutable.ArrayBuffer.empty[(Long, Long)]
    private val watch = new CheckpointWatch(Paths.get(root, "checkpoints", "cs"))

    def sink(delegate: graft.pipeline.EventSink): graft.pipeline.EventSink =
      new graft.pipeline.EventSink {
        override def publish(events: DataFrame, topic: String): Unit = {
          val s = System.currentTimeMillis()
          delegate.publish(events, topic)
          publishes.synchronized(publishes += ((s, System.currentTimeMillis())))
        }
      }

    def end(res: graft.pipeline.ExtractionJob.JobResult): Map[String, Double] = {
      val t1 = System.currentTimeMillis()
      val writes = watch.stop()
      rec.drain(spark)
      spark.listenerManager.unregister(rec.queryListener)
      spark.sparkContext.removeSparkListener(rec.listener)
      val (execs, stages) = rec.synchronized((rec.execs.values.toSeq, rec.stages.values.toSeq))
      val mine = execs.filter(e => e.start >= t0 && e.end <= t1)
      val manifests = manifestTimes(root)
      val self = Attribution.selfTimes(mine, stages, t0, t1, selShare,
        publishes.toSeq, manifests)
      Trace.summarize(self, Attribution.counts(mine, stages), (t1 - t0) / 1e3,
        res.rowsRead, res.rowsWritten, writes, root)
    }
  }

  /** Share of selection in the source stage's selection+extract task
    * time, from [[Trace.layerProbes]]; set before the first traced op. */
  var selShare = 0.1

  def begin(root: String): Probe = {
    val rec = new Recorder(root, input, "driver")
    spark.sparkContext.addSparkListener(rec.listener)
    spark.listenerManager.register(rec.queryListener)
    new Probe(root, rec)
  }

  private def manifestTimes(root: String): Seq[Long] = {
    val dir = Paths.get(root, "metadata")
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.startsWith("snapshot-"))
          .map(Files.getLastModifiedTime(_).toMillis).toSeq
      } finally s.close()
    }
  }

}

object Trace {

  /** Layer probes through the public functions, outside any timed
    * operation: the fresh source rows alone, `Selection.ingest` over
    * them, and `ExtractionPipeline.extractExpr` over that, each to
    * Spark's no-op sink (best of three); and `Extractor.extract` per
    * payload kind on the driver. Returns the selection share of
    * selection + extraction, used to split the job's source stage, and
    * the per-kind microseconds per call. */
  def layerProbes(spark: SparkSession, turns: DataFrame, wm: java.sql.Timestamp,
      payloads: Seq[(String, String)]): (Double, Map[String, Double]) = {
    import org.apache.spark.sql.functions.{col, lit}
    val fresh = turns.filter(col("ts") > lit(wm))
    val sel = graft.pipeline.Selection.ingest(fresh, wm, spark)
    def best(df: DataFrame): Double = (1 to 3).map { _ =>
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }.min
    val tScan = best(fresh)
    val tSel = best(sel)
    val tExt = best(graft.pipeline.ExtractionPipeline.extractExpr(spark, sel).toDF())
    val s = math.max(0.0, tSel - tScan)
    val x = math.max(0.0, tExt - tSel)
    val share = if (s + x > 0) s / (s + x) else 0.5
    val perKind = Seq("html", "pdf", "plain").map { k =>
      val xs = payloads.filter(_._1 == k).map(_._2).take(200)
      xs.foreach(graft.extract.Extractor.extract) // warm the JIT
      val t = System.nanoTime()
      (1 to 5).foreach(_ => xs.foreach(graft.extract.Extractor.extract))
      s"extract.${k}_us" ->
        (if (xs.isEmpty) 0.0 else (System.nanoTime() - t) / 1e3 / (5 * xs.size))
    }.toMap
    (share, perKind)
  }

  /** Self times, counts and the attribution's coverage of the wall. */
  def summarize(self: Map[String, Double], counts: Map[String, Double],
      wallS: Double, rowsIn: Long, rowsOut: Long, writes: Int,
      root: String): Map[String, Double] = {
    val sum = Layers.selfTimes.map(self.getOrElse(_, 0.0)).sum
    val extractS = self.getOrElse("extract.s", 0.0)
    self ++ counts ++ Map(
      "selection.rows_in" -> rowsIn.toDouble,
      "selection.rows_out" -> rowsOut.toDouble,
      "selection.rows_rejected" -> (rowsIn - rowsOut).toDouble,
      "extract.turns_per_s" -> (if (extractS > 0) rowsOut / extractS else 0.0),
      "table.manifest_bytes" -> Checks.bytesUnder(s"$root/metadata").toDouble,
      "checkpoint.writes" -> writes.toDouble,
      "trace.wall_s" -> wallS,
      "trace.layer_sum_s" -> sum,
      "trace.coverage" -> (if (wallS > 0) sum / wallS else 0.0))
  }

  /** Self times, counts and start-up time from a child process's record;
    * executions without a write path book to the process's mode. */
  def readProcess(file: String, launchMs: Long, exitMs: Long): Map[String, Double] = {
    val p = Paths.get(file)
    if (!Files.exists(p)) return Map.empty
    val (execs, stages) =
      Attribution.parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    val first = (execs.map(_.start).filter(_ > 0) :+ exitMs).min
    Attribution.selfTimes(execs, stages, first, exitMs, 0.5, Seq.empty, Seq.empty) ++
      Attribution.counts(execs, stages) ++
      Map("process.start_s" -> math.max(0L, first - launchMs) / 1e3)
  }
}

/** Counts watermark writes: each is an atomic rename onto
  * `<mode>.json`, which the directory watch sees as a create. */
final class CheckpointWatch(dir: java.nio.file.Path) {
  import java.nio.file.StandardWatchEventKinds.ENTRY_CREATE
  private val ws = dir.getFileSystem.newWatchService()
  Files.createDirectories(dir)
  dir.register(ws, ENTRY_CREATE)
  def stop(): Int = {
    import scala.jdk.CollectionConverters._
    var n = 0
    var key = ws.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
    while (key != null) {
      n += key.pollEvents().asScala.count(e =>
        e.context().toString.endsWith(".json") && !e.context().toString.contains("tmp"))
      key.reset()
      key = ws.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    ws.close()
    n
  }
}

/** The same record inside an IngestApp process: registered through
  * `spark.extraListeners` and `spark.sql.queryExecutionListeners`, it
  * writes the record to `perfbench.trace.out` when the JVM exits (after
  * `spark.stop()` has drained the listener bus). */
object ProcessTrace {
  lazy val recorder: Recorder = {
    val r = new Recorder(sys.props("perfbench.trace.table"),
      sys.props.getOrElse("perfbench.trace.input", ""),
      sys.props.getOrElse("perfbench.trace.mode", "driver"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      Files.write(Paths.get(sys.props("perfbench.trace.out")),
        r.render().getBytes(StandardCharsets.UTF_8))
    }))
    r
  }
}

class ProcessJobListener(conf: SparkConf) extends SparkListener {
  private val r = ProcessTrace.recorder
  override def onOtherEvent(e: SparkListenerEvent): Unit = r.listener.onOtherEvent(e)
  override def onJobStart(e: SparkListenerJobStart): Unit = r.listener.onJobStart(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = r.listener.onStageSubmitted(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = r.listener.onStageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = r.listener.onTaskEnd(e)
}

class ProcessQueryListener extends QueryExecutionListener {
  private val r = ProcessTrace.recorder
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    r.queryListener.onSuccess(funcName, qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    r.queryListener.onFailure(funcName, qe, e)
}
