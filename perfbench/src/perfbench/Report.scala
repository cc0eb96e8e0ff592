package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Collects one run's samples, checks and evidence, and renders the
  * result line. Timings are reported as medians over the run's timed
  * operations; an operation whose output check fails contributes no
  * timing, only a failure. */
final class Report(val o: Main.Opts, val spark: SparkSession,
    jvmStartMs: Long, sessionS: Double) {

  private var measureStart = System.nanoTime()
  private var setupS = Double.NaN
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val problems = mutable.ArrayBuffer.empty[String]
  private val opCounts = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
  private val parityMap = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private var failed = 0

  /** End of set-up: JVM start, session, inputs, table preparation and
    * any untimed warm-up, up to the first timed operation. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    measureStart = System.nanoTime()
  }

  /** Seconds since the first timed operation began. */
  def elapsed: Double = (System.nanoTime() - measureStart) / 1e9

  def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def layer(k: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  def layers(m: Map[String, Double]): Unit = m.foreach { case (k, v) => layer(k, v) }

  def parity(k: String, v: Any): Unit = parityMap(k) = v

  def problem(p: String): Unit = {
    problems += p
    System.err.println(s"[perfbench] $p")
  }

  /** One timed operation: its samples are recorded only if its output
    * checks passed. */
  def op(kind: String, checks: Seq[String], counts: Map[String, Long],
      noise: Map[String, Double])(record: => Unit): Unit = {
    attempted += 1
    if (checks.isEmpty) {
      record
      opCounts += kind -> counts
      noise.foreach { case (k, v) => layer(s"host.$k", v) }
    } else {
      failed += 1
      checks.foreach(c => problem(s"$kind #$attempted: $c"))
    }
    println(s"op ${attempted} $kind ${if (checks.isEmpty) "ok" else "FAILED"} " +
      (counts ++ noise).map { case (k, v) => s"$k=$v" }.mkString(" "))
  }

  /** An untimed operation (warm-up): a failed check still makes the run
    * incorrect. */
  def untimed(kind: String, checks: Seq[String]): Unit =
    checks.foreach(c => problem(s"$kind: $c"))

  /** Exact-count guard: every operation of one kind on one input must
    * report the same counts, and so must an earlier run of the same
    * seed, whose record is kept under `countsDir`. */
  private def guardCounts(countsDir: String, layerCounts: Map[String, Double]): Unit = {
    opCounts.groupBy(_._1).foreach { case (kind, ops) =>
      if (kind == "ingest" && ops.map(_._2).distinct.size > 1)
        problem(s"counts differ between $kind operations of one input: " +
          ops.map(_._2).distinct.mkString(" vs "))
    }
    val mine: Map[String, String] = (opCounts.zipWithIndex.flatMap {
      case ((kind, m), i) => m.map { case (k, v) => s"$i.$kind.$k" -> v.toString }
    } ++ layerCounts.map { case (k, v) => s"layer.$k" -> Json.num(v) }).toMap
    val dir = Paths.get(countsDir)
    Files.createDirectories(dir)
    val f = dir.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.txt")
    if (Files.exists(f)) {
      val prev = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        .split("\n").filter(_.contains("=")).map { l =>
          val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
        }.toMap
      val diff = (prev.keySet & mine.keySet).filter(k => prev(k) != mine(k))
      if (diff.nonEmpty)
        problem("counts differ from an earlier run of this seed: " +
          diff.toSeq.sorted.map(k => s"$k ${prev(k)} -> ${mine(k)}").mkString(", "))
    }
    Files.write(f, mine.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def result(): String = {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (o.trace) {
      Layers.all.foreach { case (name, unit) =>
        val v = layerSamples.get(name).map { xs =>
          if (Layers.isCount(name)) xs.head else Main.median(xs.toSeq).get
        }.getOrElse(0.0)
        metrics(name) = (v, unit)
      }
      if (!layerSamples.contains("spark.session_s"))
        metrics("spark.session_s") = (sessionS, "s")
    } else {
      metrics("setup_s") = (setupS, "s")
      Seq("job_s" -> "s", "turns_per_s" -> "1/s", "first_publish_s" -> "s",
        "op_s" -> "s", "stored_mb" -> "MB").foreach { case (k, u) =>
        samples.get(k).flatMap(xs => Main.median(xs.toSeq))
          .foreach(v => metrics(k) = (v, u))
      }
    }
    val layerCounts = if (o.trace)
      metrics.collect { case (k, (v, _)) if Layers.isCount(k) => k -> v }.toMap
      else Map.empty[String, Double]
    guardCounts(System.getProperty("perfbench.counts", s"${o.work}/counts"), layerCounts)
    val complete = attempted > 0 && failed < attempted &&
      (o.trace || Seq("setup_s", "job_s", "turns_per_s", "first_publish_s",
        "op_s", "stored_mb").forall(k => metrics.get(k).exists(m => !m._1.isNaN)))
    if (!complete) problem("no complete set of metrics")
    println("parity " + Json.obj(parityMap.toSeq.map { case (k, v) => k -> Json.any(v) } ++
      Seq("setup_s" -> Json.num(setupS), "session_s" -> Json.num(sessionS))))
    println("samples " + Json.obj(samples.toSeq.map { case (k, xs) =>
      k -> xs.map(Json.num).mkString("[", ",", "]") }))
    Json.obj(Seq(
      "correct" -> (problems.isEmpty && failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }
}

/** Just enough JSON for flat result objects. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case s => str(s.toString)
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Host-noise evidence beside one timed operation: the repository's
  * fixed-work CPU and memory-bandwidth calibration probes (run just
  * before the operation), and HostProbe's foreign-CPU and GC readings
  * over it. Child processes' CPU counts as this benchmark's own. */
final class HostSample private (cpuProbeMs: Double, memProbeMs: Double) {
  private val busy0 = graft.HostProbe.busyJiffies()
  private val cpu0 = HostSample.ownCpuNanos()
  private val gc0 = graft.HostProbe.gcMillis()

  def stop(wallS: Double): Map[String, Double] = Map(
    "cpu_probe_ms" -> cpuProbeMs,
    "mem_probe_ms" -> memProbeMs,
    "foreign_cores" -> graft.HostProbe.foreignCores(busy0,
      graft.HostProbe.busyJiffies(), cpu0, HostSample.ownCpuNanos(), wallS),
    "driver_gc_s" -> (graft.HostProbe.gcMillis() - gc0) / 1e3)
}

object HostSample {
  def start(): HostSample =
    new HostSample(graft.Bench.calibrationProbe(), graft.Bench.memCalibrationProbe())

  /** This process's CPU plus that of its reaped children, from
    * /proc/self/stat (utime, stime, cutime, cstime in USER_HZ ticks);
    * −1 when unreadable. */
  def ownCpuNanos(): Long =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
        StandardCharsets.US_ASCII)
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      // fields after the command name start at field 3 (state)
      (f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong) * 10000000L
    } catch { case scala.util.control.NonFatal(_) => -1L }
}
