package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.fixtures.TranscriptGen.GenConfig
import graft.model.Turn
import graft.pipeline.{EventSink, ExtractionJob, ParquetEventSink}
import graft.sources.TranscriptSource
import graft.table.{CheckpointStore, SnapshotTable}

/** End-to-end benchmark of the committed extraction job, driven only
  * through the program's public entry points: `ExtractionJob.run` and
  * `runDelete` in-process, and `graft.cli.IngestApp --mode dedup` as a
  * fresh process. One closed loop: one operation at a time.
  *
  * Usage (normally through `perfbench/run.py`, which builds the classes
  * and launches this main with the right JVM flags):
  * {{{
  * perfbench.Main --workload web_backfill|cron_delta --seed N
  *   --seconds S --trace 0|1 --work <scratch dir> --cpus N
  * }}}
  * Prints detail lines, then `PERFBENCH_RESULT {json}` as its last line.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, cpus: Int)

  /** web_backfill: conversations per input (see [[Inputs.profile]]). */
  val WebConvs = 60
  /** cron_delta: conversations in the history and in each tick's slice
    * (~1% of the history's turns), and where in the seed's stream the
    * slices' conversations are drawn from. */
  val CronConvs = 500
  val SliceConvs = 10
  val SliceStream = 10000000L
  /** cron_delta: ingest chunks per tick, and the most timed ticks per
    * run after the untimed tick 0. */
  val CronChunks = 2
  val MaxTicks = 6
  /** web_backfill: untimed warm-up operations. */
  val WarmUps = 1
  /** Timed operations per run, at least: one, and as many more as
    * `--seconds` holds. A run's set-up (JVM, session, input, a cold
    * first operation) takes 25-35 s, so each timed operation costs every
    * run its 6-10 s; more of them did not steady the run-to-run spread,
    * which on a shared host comes from drift that moves all of a run's
    * operations together. A traced run alternates traced and untraced
    * operations, so it needs two. */
  def minOps(r: Report): Int = if (r.o.trace) 2 else 1

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("work"), a("cpus").toInt)
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = Session.build(o.cpus)
    val r = new Report(o, spark, jvmStartMs,
      sessionS = (System.nanoTime() - t0) / 1e9)
    // run parity: the effective settings a comparison must hold equal
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
      "spark.ui.enabled").foreach(k =>
      r.parity(k, scala.util.Try(spark.conf.get(k)).getOrElse("unset")))
    r.parity("nproc", o.cpus)
    r.parity("seed", o.seed)
    r.parity("generator_version", TranscriptGen.GeneratorVersion)
    try o.workload match {
      case "web_backfill" => web(r)
      case "cron_delta" => cron(r)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case scala.util.control.NonFatal(e) =>
        r.problem(s"benchmark error: $e")
        e.printStackTrace()
    }
    val line = r.result()
    spark.stop()
    println("PERFBENCH_RESULT " + line)
  }

  // ---------------------------------------------------------------- web

  /** First ingest of web-page-sized payloads into an empty table, one
    * chunk, repeated on fresh table roots; a traced run then runs
    * `IngestApp --mode dedup` over the last committed table. */
  def web(r: Report): Unit = {
    val spark = r.spark
    val cfg = GenConfig(nConvs = WebConvs, seed = r.o.seed, paraScale = 16)
    val convs = Inputs.profiled(cfg, WebConvs)
    val gen = Inputs.rows(cfg, convs)
    val want = Inputs.expected(gen,
      Inputs.eligible(_, TranscriptGen.WatermarkTs))
    val input = s"${r.o.work}/input"
    Inputs.dataset(spark, cfg, convs).toDF().write.parquet(input)
    r.parity("input_convs", WebConvs)
    r.parity("input_rows", gen.size)
    r.parity("expected_rows", want.size)
    r.parity("input_mb", Checks.bytesUnder(input) / 1e6)
    val turns = TranscriptSource.read(spark, input)
    val tracer = if (r.o.trace) Some(new Trace(spark, input)) else None

    /** One ingest into a fresh table root; returns its job time when
      * its output checks passed. A traced op runs with the listeners and
      * the timing sink; an untraced one with neither. */
    def ingest(i: Int, timed: Boolean, traced: Boolean): Option[Double] = {
      val root = f"${r.o.work}/t$i%03d"
      new CheckpointStore(root).seed("cs", "ingest", TranscriptGen.WatermarkTs)
      val probe = if (traced) tracer.map(_.begin(root)) else None
      val sink = probe.map(_.sink(new ParquetEventSink(root)))
      val first = new FirstWrite(Paths.get(root, "events", "cs-ingest", "_SUCCESS"))
      val host = HostSample.start()
      val t0 = System.nanoTime()
      val res = ExtractionJob.run(spark, turns, root, nChunks = 1, sink = sink)
      val wall = (System.nanoTime() - t0) / 1e9
      val noise = host.stop(wall)
      first.stop()
      val layers = probe.map(_.end(res))
      val out = if (res.status == "COMPLETED")
        Some(Checks.committed(new SnapshotTable(root).read(spark), want)) else None
      val problems = out match {
        case None => Seq(s"status ${res.status}: ${res.error}")
        case Some(c) => c.problems ++
          Checks.events(EventSink.readTopic(spark, root, "cs-ingest"),
            want.keySet) ++
          Checks.watermark(new CheckpointStore(root).read("cs", "ingest"), c.maxTs) ++
          (if (first.at < 0) Seq("no event publish observed") else Seq.empty)
      }
      val counts = Map("rows_written" -> res.rowsWritten,
        "rows_read" -> res.rowsRead,
        "files_written" -> Checks.partFiles(s"$root/data").size.toLong)
      if (timed) r.op(if (traced) "ingest-traced" else "ingest", problems, counts, noise) {
        r.sample(if (traced) "traced_job_s" else "job_s", res.durationSec)
        if (!traced) {
          r.sample("op_s", wall)
          r.sample("turns_per_s", res.rowsWritten / res.durationSec)
          r.sample("first_publish_s", (first.at - t0) / 1e9)
          r.sample("stored_mb", Checks.bytesUnder(root) / 1e6)
        }
        layers.foreach { m =>
          r.layers(m)
          out.foreach(c => r.layer("extract.chars_out", c.charsOut.toDouble))
        }
      } else r.untimed("warm-up ingest", problems)
      if (problems.isEmpty) Some(res.durationSec) else None
    }

    // warm-up (untimed, checked): JIT, codegen and first-use class
    // loading; the first is also the cold run of jvm.cold_penalty_s
    val cold = ingest(0, timed = false, traced = false)
    (1 until WarmUps).foreach { i =>
      Proc.deleteTree(Paths.get(f"${r.o.work}/t${i - 1}%03d"))
      ingest(i, timed = false, traced = false)
    }
    tracer.foreach { t =>
      val (share, perKind) = Trace.layerProbes(spark, turns,
        TranscriptGen.WatermarkTs, gen.map(g => g._2.payload_kind -> g._1.text))
      t.selShare = share
      r.layers(perKind)
    }
    r.setupDone()
    var i = WarmUps
    val warm = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    while (r.elapsed < r.o.seconds || i < WarmUps + minOps(r)) {
      // a traced run alternates traced and untraced operations, so the
      // tracing overhead is measured in the same run
      val t = r.o.trace && (i - WarmUps) % 2 == 0
      ingest(i, timed = true, traced = t).foreach(s => (if (t) traced else warm) += s)
      Proc.deleteTree(Paths.get(f"${r.o.work}/t${i - 1}%03d"))
      i += 1
    }
    if (r.o.trace) {
      for (c <- cold; w <- median(warm.toSeq)) r.layer("jvm.cold_penalty_s", c - w)
      for (t <- median(traced.toSeq); w <- median(warm.toSeq))
        r.layer("trace.overhead", t / w - 1)
    }

    // dedup: a fresh IngestApp process over the last committed table.
    // At ~40 s a run it does not fit the untimed runs' budget, so only a
    // traced run measures it, as the dedup layer.
    if (r.o.trace) dedup(r, f"${r.o.work}/t${i - 1}%03d")
  }

  private def dedup(r: Report, root: String): Unit = {
    val spark = r.spark
    val committedIds = new SnapshotTable(root).read(spark)
      .select(concat_ws(":", col("conv_id"), col("turn_idx"))).collect()
      .map(_.getString(0)).toSet
    val p = Proc.ingestApp(r, Seq("--table", root, "--mode", "dedup"),
      trace = true, root = root, input = "")
    val drops = if (Files.exists(Paths.get(root, "dedup_drops")))
      spark.read.parquet(s"$root/dedup_drops").collect().map(_.getString(0)).toSeq
      else Seq.empty
    val problems = p.problems("dedup") ++
      (if (drops.toSet.subsetOf(committedIds)) Seq.empty
       else Seq("dedup dropped ids that are not in the table")) ++
      (if (p.status.exists(_.rowsWritten == drops.size)) Seq.empty
       else Seq(s"dedup reported ${p.status.map(_.rowsWritten)}, wrote ${drops.size}"))
    r.op("dedup", problems, Map("dropped" -> drops.size.toLong), p.noise) {
      val l = p.layers
      Seq("dedup.s", "dedup.rows_in", "process.start_s")
        .foreach(k => r.layer(k, l.getOrElse(k, 0.0)))
      r.layer("dedup.dropped", drops.size.toDouble)
      r.layer("dedup.process_s", p.wallS)
    }
  }

  // --------------------------------------------------------------- cron

  /** A web-sized history that grows by a ~1% slice before each tick. A
    * tick is `ExtractionJob.run` with `CronChunks` chunks over the whole
    * history, then `ExtractionJob.runDelete` over the tombstones that
    * arrived with the slice, both on the benchmark's session. A slice is
    * a batch of new conversations with a fixed profile (9 short, 1
    * medium), disjoint from the history, whose turns keep TranscriptGen's
    * content with event times re-based to the small hours of the k-th day
    * after the history ends: new data, after the watermark, in one date
    * partition. Tick 0 is an untimed warm-up. */
  def cron(r: Report): Unit = {
    val spark = r.spark
    import spark.implicits._
    val cfg = GenConfig(nConvs = CronConvs, seed = r.o.seed, paraScale = 16)
    val convs = Inputs.profiled(cfg, CronConvs)
    // the history's turns, without their payloads (the same at any paraScale)
    val history = Inputs.rows(cfg.copy(paraScale = 1), convs).map(_._1)
    val wm0 = history.map(_.ts).maxBy(_.getTime)
    val day0 = (wm0.getTime / 86400000L + 1) * 86400000L
    def slice(k: Int): Vector[(Turn, TranscriptGen.Golden)] = {
      val batch = Inputs.profiled(cfg, SliceConvs, long = false,
        from = SliceStream + k * SliceStream, rebased = true)
      Inputs.rows(cfg, batch).map { case (t, g) =>
        val slot = batch.indexOf(t.conv_id.split("-")(1).toLong)
        (t.copy(ts = new Timestamp(day0 + k * 86400000L + 3600000L +
          slot * 600000L + t.turn_idx * 60000L)), g)
      }
    }
    val input = s"${r.o.work}/input"
    val tomb = s"${r.o.work}/tombstones"
    val root = s"${r.o.work}/table"
    Inputs.dataset(spark, cfg, convs).toDF().write.parquet(input)
    val store = new CheckpointStore(root)
    store.write("cs", "ingest", wm0)
    store.write("cs", "delete", wm0)
    r.parity("history_convs", CronConvs)
    r.parity("history_rows", history.size)
    r.parity("slice_convs", SliceConvs)
    r.parity("slice_rows", slice(0).size)
    r.parity("history_mb", Checks.bytesUnder(input) / 1e6)
    r.parity("ingest_chunks", CronChunks)
    val tombstones = mutable.ArrayBuffer.empty[Turn]

    /** Tick `k`: append slice k and its tombstones, then ingest and
      * delete; returns the ingest's job time when every check passed. A
      * traced tick runs with the listeners and the timing sink. */
    def tick(k: Int, timed: Boolean, traced: Boolean): Option[Double] = {
      val rows = slice(k)
      val wm = store.read("cs", "ingest")
      rows.map(_._1).toDS().coalesce(1).write.mode("append").parquet(input)
      // tombstones: every 4th row of the slice, and a later second
      // version of every other one of those (last write wins)
      val newTomb = rows.map(_._1)
        .filter(t => math.abs((t.conv_id, t.turn_idx).hashCode) % 4 == 0)
        .flatMap { t =>
          val v1 = t.copy(text = null, ts = new Timestamp(t.ts.getTime + 1000))
          if (t.turn_idx % 2 == 0)
            Seq(v1, t.copy(text = null, ts = new Timestamp(t.ts.getTime + 2000)))
          else Seq(v1)
        }
      tombstones ++= newTomb
      newTomb.toDS().coalesce(1).write.mode("append").parquet(tomb)
      val wantRows = Inputs.expected(rows, Inputs.eligible(_, wm))
      val delWm = store.read("cs", "delete")
      val lookback = new Timestamp(delWm.getTime - 7L * 86400000L)
      val wantTomb = tombstones.filter(_.ts.after(lookback))
        .groupBy(t => (t.conv_id, t.turn_idx)).values.map(_.maxBy(_.ts.getTime))
        .map(t => (t.conv_id, t.turn_idx, t.ts.getTime)).toSet

      val table = new SnapshotTable(root)
      val snapBefore = table.currentSnapshotId
      val before = Seq("events/cs-ingest", "events/cs-delete")
        .map(d => d -> Checks.partFiles(s"$root/$d").toSet).toMap
      def added(d: String) = Checks.partFiles(s"$root/$d").filterNot(before(d))
      // a cron run reads its source afresh: the slice is new files
      val turns = TranscriptSource.read(spark, input)
      // the selection/extraction split of the job's source stage comes
      // from probes over the same input and watermark
      val probes = if (traced) Some(Trace.layerProbes(spark, turns, wm,
        rows.map(g => g._2.payload_kind -> g._1.text))) else None
      val ingProbe = probes.map { case (share, _) =>
        val t = new Trace(spark, input); t.selShare = share; t.begin(root)
      }
      val sink = ingProbe.map(_.sink(new ParquetEventSink(root)))
      val first = new FirstWrite(Paths.get(root, "events", "cs-ingest", "_SUCCESS"))
      val host = HostSample.start()
      val t0 = System.nanoTime()
      val ing = ExtractionJob.run(spark, turns, root, nChunks = CronChunks, sink = sink)
      val ingS = (System.nanoTime() - t0) / 1e9
      first.stop()
      val ingL = ingProbe.map(_.end(ing))
      // the delete's publish is its own layer, so it runs without the
      // timing sink
      val delProbe = if (traced) Some(new Trace(spark, tomb).begin(root)) else None
      val d0 = System.nanoTime()
      val del = ExtractionJob.runDelete(spark, TranscriptSource.read(spark, tomb), root)
      val delS = (System.nanoTime() - d0) / 1e9
      val noise = host.stop((System.nanoTime() - t0) / 1e9)
      val delL = delProbe.map(_.end(del))

      val delta = if (ing.status != "COMPLETED") None else Some(Checks.committed(
        snapBefore match {
          case Some(id) => table.readIncremental(spark, id)
          case None => table.read(spark)
        }, wantRows))
      val problems =
        (if (ing.status == "COMPLETED") Seq.empty
         else Seq(s"ingest status ${ing.status}: ${ing.error}")) ++
        (if (del.status == "COMPLETED") Seq.empty
         else Seq(s"delete status ${del.status}: ${del.error}")) ++
        delta.toSeq.flatMap(c => c.problems ++
          Checks.events(spark.read.parquet(added("events/cs-ingest"): _*),
            wantRows.keySet) ++
          // the slice holds the newest rows, so its max is the table's
          Checks.watermark(store.read("cs", "ingest"), c.maxTs)) ++
        (if (del.status == "COMPLETED") Checks.tombstones(
          spark.read.parquet(added("events/cs-delete"): _*), wantTomb)
         else Seq.empty) ++
        (if (first.at < 0) Seq("no event publish observed") else Seq.empty)
      val counts = Map("rows_written" -> ing.rowsWritten,
        "rows_read" -> ing.rowsRead,
        "files_written" -> Checks.partFiles(s"$root/data").size.toLong,
        "tombstones" -> del.rowsWritten)
      if (timed) r.op(if (traced) "tick-traced" else "tick", problems, counts, noise) {
        if (traced) r.sample("traced_job_s", ing.durationSec)
        else {
          r.sample("job_s", ing.durationSec)
          r.sample("op_s", ingS + delS)
          r.sample("turns_per_s", ing.rowsWritten / ing.durationSec)
          r.sample("first_publish_s", (first.at - t0) / 1e9)
          r.sample("stored_mb", Checks.bytesUnder(root) / 1e6)
        }
        for (il <- ingL; dl <- delL; (_, perKind) <- probes) {
          // the delete's own layers; the rest sums over both
          val summed = Seq("spark.task_s", "spark.gc_s", "spark.tasks",
            "spark.spill_bytes", "trace.wall_s", "trace.layer_sum_s")
          def both(k: String) = il.getOrElse(k, 0.0) + dl.getOrElse(k, 0.0)
          val deleteKeys = Seq("delete.s", "delete.rows", "delete.shuffle_bytes")
          r.layers(perKind ++ il -- summed -- deleteKeys - "trace.coverage")
          deleteKeys.foreach(k => r.layer(k, dl.getOrElse(k, 0.0)))
          summed.foreach(k => r.layer(k, both(k)))
          r.layer("trace.coverage", both("trace.layer_sum_s") / both("trace.wall_s"))
          r.layer("chunking.rescan_ratio", il.getOrElse("sources.rows_scanned", 0.0) /
            spark.read.parquet(input).count())
          delta.foreach(c => r.layer("extract.chars_out", c.charsOut.toDouble))
        }
      } else r.untimed("warm-up tick", problems)
      if (problems.isEmpty) Some(ing.durationSec) else None
    }

    val cold = tick(0, timed = false, traced = false)
    r.setupDone()
    var k = 1
    val warm = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    while (k <= minOps(r) || (k <= MaxTicks && r.elapsed < r.o.seconds)) {
      // as in web_backfill, a traced run alternates traced and untraced ticks
      val t = r.o.trace && k % 2 == 1
      tick(k, timed = true, traced = t).foreach(s => (if (t) traced else warm) += s)
      k += 1
    }
    if (r.o.trace) {
      for (c <- cold; w <- median(warm.toSeq)) r.layer("jvm.cold_penalty_s", c - w)
      for (t <- median(traced.toSeq); w <- median(warm.toSeq))
        r.layer("trace.overhead", t / w - 1)
    }
  }
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      Some(if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
    }
}

/** The Spark session exactly as `IngestApp` configures it; the master
  * is what `spark-submit --master local[n]` would pass. */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cs-ingest")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Records the first time a file is (re)written after construction, by
  * polling its modification time every millisecond from a daemon thread. */
final class FirstWrite(path: Path) {
  private def mtime(): Option[Long] =
    try Some(Files.getLastModifiedTime(path).toMillis) catch {
      case _: java.io.IOException => None
    }
  private val initial = mtime()
  @volatile var at: Long = -1L
  @volatile private var stopped = false
  private val thread = new Thread(() => {
    while (at < 0 && !stopped) {
      if (mtime() != initial) at = System.nanoTime() else Thread.sleep(1)
    }
  })
  thread.setDaemon(true)
  thread.start()
  def stop(): Unit = { stopped = true; thread.join() }
}
