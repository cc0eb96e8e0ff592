package graft.cli

import org.apache.spark.sql.SparkSession
import graft.pipeline.{ExtractionJob, ExtractionPipeline}
import graft.table.{CheckpointStore, Json}

/** spark-submit entrypoint — the engine analog of the reference's four
  * CronJob invocations (cs/wcs × ingest/delete, helm/notprod.yaml:1-17):
  * one JVM per (system × mode) run, mode dispatch by flag, watermark
  * override for backfills.
  *
  * Usage:
  * {{{
  * spark-submit --class graft.cli.IngestApp <jar> \
  *   --input  <transcript table path (parquet dir)> \
  *   --table  <output table root> \
  *   [--format parquet|json|csv]       # input format (default parquet)
  *   [--system cs] [--mode ingest|delete|dedup] [--chunks 8]
  *                                     # dedup: near-dedup the COMMITTED
  *                                     # table (drop list + metrics);
  *                                     # --input not required
  *   [--since "2023-03-22 11:59:59"]   # watermark override (backfill)
  *   [--seed-watermark "..."]          # bootstrap a missing checkpoint
  *   [--compact true]                  # rewrite the view into one dir
  *                                     # after a COMPLETED ingest run
  * }}}
  * Any other flag fails the run before the session starts.
  */
object IngestApp {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    // dedup mode reads the committed table, not a transcript input
    lazy val input = opts.getOrElse("input", sys.error("--input required"))
    val table = opts.getOrElse("table", sys.error("--table required"))
    val system = opts.getOrElse("system", "cs")
    val mode = opts.getOrElse("mode", "ingest")
    val nChunks = opts.getOrElse("chunks", "8").toInt

    val spark = SparkSession.builder()
      .appName(s"graft-$system-$mode")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // let AQE size the partitions of a relation persisted after a
      // shuffle (dedup's clustering rounds) instead of building it at
      // spark.sql.shuffle.partitions, which every reading stage then
      // pays in tasks; build.sbt sets the same for forked JVMs
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    opts.get("seed-watermark").foreach { ts =>
      new CheckpointStore(table).seed(system, mode,
        java.sql.Timestamp.valueOf(ts))
    }

    lazy val turns = graft.sources.TranscriptSource.read(spark, input,
      opts.getOrElse("format", "parquet"))
    val result = mode match {
      case "ingest" =>
        ExtractionJob.run(spark, turns, table, system,
          overrideWatermark = opts.get("since"), nChunks = nChunks)
      case "delete" =>
        ExtractionJob.runDelete(spark, turns, table, system,
          overrideWatermark = opts.get("since"))
      case "dedup" =>
        // content near-dedup of the COMMITTED extraction table: simhash
        // pairs (Hamming ≤ 3) → transitive clusters → drop list at
        // <table>/dedup_drops + disclosure metrics; --input is unused.
        // rowsWritten in the status line = dropped doc count.
        import org.apache.spark.sql.functions._
        val tbl = new graft.table.SnapshotTable(table)
        if (!tbl.hasData) {
          // a committed-but-empty table is an operationally normal
          // state (first run matched nothing) — a clean zero-drop run,
          // not an unresolved-column crash on the 0-column empty view
          System.err.println("[graft] dedup skipped: table view empty")
          ExtractionJob.JobResult("COMPLETED", 0L, 0L, 0,
            new java.sql.Timestamp(0), Seq.empty, 0.0, None)
        } else {
          // doc_id = conv_id:turn_idx — null keys excluded (concat_ws
          // silently SKIPS nulls, which would collide distinct rows;
          // the extraction pipeline never emits them, but a drop list
          // must not be able to name the wrong row). turn_idx is an
          // int, so splitting on the LAST ':' recovers the key even
          // when conv_id itself contains ':'.
          val view = tbl.read(spark)
            .filter(col("conv_id").isNotNull && col("turn_idx").isNotNull)
            .select(concat_ws(":", col("conv_id"), col("turn_idx"))
              .as("doc_id"), col("extracted_text").as("text"))
          val r = graft.pipeline.DedupJob.runSimhashDedup(
            spark, table, view, "text", "doc_id")
          ExtractionJob.JobResult("COMPLETED", 0L, r.outputRows, 0,
            new java.sql.Timestamp(0), Seq.empty, r.durationSec, None)
        }
      case other => sys.error(s"unknown --mode $other")
    }

    if (mode == "ingest" && result.status == "COMPLETED" &&
        opts.get("compact").contains("true")) {
      // compaction is maintenance: skip on an empty view, and never let
      // its failure mask the run's real status
      try {
        val tbl = new graft.table.SnapshotTable(table)
        if (tbl.hasData) {
          val id = tbl.compact(spark, ExtractionPipeline.PartitionCols,
            Map("run-after" -> result.snapshotIds.lastOption.getOrElse("")))
          System.err.println(s"[graft] compacted table to snapshot $id")
        } else System.err.println("[graft] compact skipped: table view empty")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] compact failed (run status " +
            s"unaffected): ${e.getMessage}")
      }
    }

    println(statusLine(mode, result))
    spark.stop()
    if (result.status != "COMPLETED") sys.exit(1)
  }

  /** The run's one-line JSON result, compact, keys in this order: mode,
    * status, rowsWritten, chunksCommitted, watermark, turnsPerSec (one
    * decimal), error (verbatim, or null). "mode" disambiguates the
    * line's semantics for parsers: in dedup mode rowsWritten is the
    * DROP count and the watermark is epoch (dedup advances no
    * watermark). Parsers match the prefix up to rowsWritten. */
  private[cli] def statusLine(mode: String,
      r: ExtractionJob.JobResult): String = {
    val turnsPerSec =
      if (r.durationSec > 0) r.rowsWritten / r.durationSec else 0.0
    Json.mapper.writeValueAsString(Json.mapper.createObjectNode()
      .put("mode", mode).put("status", r.status)
      .put("rowsWritten", r.rowsWritten)
      .put("chunksCommitted", r.chunksCommitted)
      .put("watermark", r.watermark.toString)
      .put("turnsPerSec", math.round(turnsPerSec * 10) / 10.0)
      .put("error", r.error.orNull))
  }

  /** Every flag `main` reads; a typo must not silently run with a
    * default. */
  private val Flags = Set("input", "table", "format", "system", "mode",
    "chunks", "since", "seed-watermark", "compact")

  @annotation.tailrec
  private[cli] def parse(args: List[String],
      acc: Map[String, String]): Map[String, String] =
    args match {
      case key :: value :: rest if key.startsWith("--") =>
        val name = key.drop(2)
        if (!Flags(name)) sys.error(s"unknown flag $key (known: " +
          Flags.toSeq.sorted.map("--" + _).mkString(", ") + ")")
        parse(rest, acc.updated(name, value))
      case Nil => acc
      case other => sys.error(s"bad args: $other")
    }
}
