package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Runs `graft.cli.IngestApp` as a fresh JVM, the way a cron job would:
  * the same classes, `-Dspark.master=local[n]` in place of
  * spark-submit's `--master`, and no other Spark settings. */
object Proc {

  /** IngestApp's status line. */
  final case class Status(mode: String, status: String, rowsWritten: Long)

  final case class Result(exit: Int, status: Option[Status], wallS: Double,
      launchMs: Long, exitMs: Long, noise: Map[String, Double],
      log: String, traceFile: Option[String]) {
    /** Layer metrics from the process's trace record. */
    def layers: Map[String, Double] =
      traceFile.map(Trace.readProcess(_, launchMs, exitMs)).getOrElse(Map.empty)

    def ok: Boolean = exit == 0 && status.exists(_.status == "COMPLETED")
    def problems(what: String): Seq[String] =
      if (ok) Seq.empty
      else Seq(s"$what process exited $exit with status " +
        s"${status.map(_.status).getOrElse("none")} (log: $log)")
  }

  private val StatusLine =
    """\{"mode":"(\w+)","status":"(\w+)","rowsWritten":(\d+),.*""".r

  private var launched = 0

  /** Launch, wait for exit, and parse the status line. With `traceTo`,
    * the benchmark's listeners are registered through Spark's
    * `spark.extraListeners` / `spark.sql.queryExecutionListeners`
    * settings and write their record to that file at JVM exit. */
  def ingestApp(r: Report, args: Seq[String], trace: Boolean, root: String,
      input: String): Result = {
    launched += 1
    val name = s"proc$launched-" + args.sliding(2).collectFirst {
      case Seq("--mode", m) => m
    }.getOrElse("ingest")
    val out = Paths.get(r.o.work, s"$name.out")
    val log = Paths.get(r.o.work, s"$name.log")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvm = System.getProperty("perfbench.childOpts", "").split('\u001f')
      .filter(_.nonEmpty).toSeq
    val mode = args.sliding(2).collectFirst { case Seq("--mode", m) => m }
      .getOrElse("ingest")
    val traceFile = if (trace) Some(s"${r.o.work}/$name.trace") else None
    val traceOpts = traceFile.toSeq.flatMap(f => Seq(
      "-Dspark.extraListeners=perfbench.ProcessJobListener",
      "-Dspark.sql.queryExecutionListeners=perfbench.ProcessQueryListener",
      s"-Dperfbench.trace.out=$f", s"-Dperfbench.trace.table=$root",
      s"-Dperfbench.trace.input=$input",
      s"-Dperfbench.trace.mode=$mode"))
    val cmd = Seq(java) ++ jvm ++ traceOpts ++
      Seq(s"-Dspark.master=local[${r.o.cpus}]", "-cp",
        System.getProperty("java.class.path"), "graft.cli.IngestApp") ++ args
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(out.toFile).redirectError(log.toFile)
    val host = HostSample.start()
    val launchMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val p = pb.start()
    val exit = try p.waitFor() catch {
      case e: InterruptedException => p.destroyForcibly(); p.waitFor(); throw e
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val exitMs = System.currentTimeMillis()
    val noise = host.stop(wall)
    val status = new String(Files.readAllBytes(out), StandardCharsets.UTF_8)
      .split("\n").reverseIterator.collectFirst {
        case StatusLine(m, s, n) => Status(m, s, n.toLong)
      }
    Result(exit, status, wall, launchMs, exitMs, noise, log.toString, traceFile)
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .foreach(Files.delete)
      } finally s.close()
    }
}
