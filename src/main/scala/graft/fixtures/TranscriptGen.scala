package graft.fixtures

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Turn

/** Deterministic synthetic transcript generator (FIXTURES.md §1).
  *
  * Every row is a pure function of (seed, convIdx, turnIdx) via a
  * SplitMix64 hash RNG — no sequential state — so generation
  * distributes: `spark.range(nConvs).flatMap(turnsForConv)` scales to
  * any size without driver materialization, and the golden extracted
  * text for any row can be recomputed independently (the generator
  * composes payloads *from* the golden content, so goldens are exact by
  * construction, never re-derived through the extractor).
  *
  * Conversation lengths are heavy-tailed (SURVEY.md §7.5 risk 5) so the
  * write rebalance's skew split is actually exercised: ~1% of
  * conversations are ~50× the median length.
  */
object TranscriptGen {

  /** Cache-key component of materialized bench inputs
    * (Bench.materializeInput): BUMP whenever generation semantics
    * change (payload mix, sizing, watermark, turn structure), or stale
    * /tmp parquet from the previous generator silently becomes the
    * benchmarked corpus — the repo's documented stale-artifact pitfall
    * class.
    *
    * r06 note: a zstd encoding of this input was tried (401 MB vs
    * 565 MB snappy — cuts the cold-cache read) and REVERTED: zstd
    * decompression taxed the warm-path extraction headline ~70%
    * (2.47 s vs 1.3-1.5 s per rep). Guide §6's "measure both" came out
    * for snappy on this read-dominated, DRAM-bound path. */
  val GeneratorVersion = 1


  final case class GenConfig(
      nConvs: Int,
      seed: Long = 42L,
      htmlFrac: Double = 0.30,
      pdfFrac: Double = 0.20,
      // fraction of rows failing each eligibility predicate
      systemRoleFrac: Double = 0.05,
      internalToolFrac: Double = 0.05,
      staleFrac: Double = 0.10,
      // payload-size multiplier: 1 = chat-sized (~2 KB); 8+ approaches
      // real web-page sizes so extraction compute dominates the scan.
      // Default 1 keeps all committed goldens stable.
      paraScale: Int = 1)

  /** Golden row: what the extractor must produce for an eligible turn. */
  final case class Golden(conv_id: String, turn_idx: Int,
      payload_kind: String, extracted_text: String)

  // --- deterministic RNG ------------------------------------------------

  /** SplitMix64 step — the public-domain mix function. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Stateless stream: value i of the stream keyed by (seed, k1, k2). */
  private def rnd(seed: Long, k1: Long, k2: Long, i: Long): Long =
    mix64(mix64(mix64(seed ^ 0x5851f42d4c957f2dL) + k1) + mix64(k2 * 0x9e3779b97f4a7c15L + i))

  private def rndDouble(seed: Long, k1: Long, k2: Long, i: Long): Double =
    ((rnd(seed, k1, k2, i) >>> 11).toDouble) / (1L << 53).toDouble

  private def rndInt(seed: Long, k1: Long, k2: Long, i: Long, bound: Int): Int =
    (((rnd(seed, k1, k2, i) >>> 1) % bound).toInt + bound) % bound

  // --- vocabulary --------------------------------------------------------

  private val Vocab: Array[String] = Array(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "data", "pipeline", "extraction", "partition", "shuffle", "stream",
    "batch", "document", "content", "analysis", "cluster", "spark",
    "table", "query", "filter", "join", "aggregate", "window", "sort",
    "merge", "column", "schema", "record", "value", "metric", "audit",
    "commit", "watermark", "checkpoint", "resume", "scale", "latency",
    "report", "summary", "detail", "result", "status", "update",
    "process", "transform", "emit", "select")

  private val CaseTypes = Array("a1", "a6", "b5", "c7", "d8", "e9")
  private val Roles = Array("user", "assistant", "tool")
  private val Tools = Array("search", "browser", "calculator", "editor")

  /** Base timestamp: matches the reference's seed watermark fixture
    * (2023-03-22 11:59:59, untrusted-s3-data/decs/cs/ingests.json). */
  val BaseEpochMs: Long = 1679486399000L // 2023-03-22 11:59:59 UTC
  val WatermarkTs: Timestamp = new Timestamp(BaseEpochMs)

  private def words(seed: Long, k1: Long, k2: Long, off: Long, n: Int): IndexedSeq[String] =
    (0 until n).map(j => Vocab(rndInt(seed, k1, k2, off + j, Vocab.length)))

  /** Heavy-tail conversation length: median ~6 turns, 1% tail ~300. */
  def convLength(cfg: GenConfig, convIdx: Long): Int = {
    val u = rndDouble(cfg.seed, convIdx, 1L, 0L)
    if (u < 0.01) 200 + rndInt(cfg.seed, convIdx, 1L, 1L, 200)
    else if (u < 0.10) 20 + rndInt(cfg.seed, convIdx, 1L, 2L, 40)
    else 2 + rndInt(cfg.seed, convIdx, 1L, 3L, 9)
  }

  def convId(cfg: GenConfig, convIdx: Long): String = {
    val ct = CaseTypes(rndInt(cfg.seed, convIdx, 2L, 0L, CaseTypes.length))
    f"conv-$convIdx%08d-$ct" // last-2-char suffix = case_type code
  }

  /** Generate one turn + its golden. Pure in (cfg, convIdx, turnIdx). */
  def turn(cfg: GenConfig, convIdx: Long, turnIdx: Int): (Turn, Golden) = {
    val cid = convId(cfg, convIdx)
    val k = turnIdx.toLong
    val role0 = Roles(rndInt(cfg.seed, convIdx, 3L, k, Roles.length))
    val isSystem = rndDouble(cfg.seed, convIdx, 4L, k) < cfg.systemRoleFrac
    val role = if (isSystem) "system" else role0
    val tool =
      if (rndDouble(cfg.seed, convIdx, 5L, k) < cfg.internalToolFrac) "internal"
      else if (role == "tool") Tools(rndInt(cfg.seed, convIdx, 6L, k, Tools.length))
      else null
    val stale = rndDouble(cfg.seed, convIdx, 7L, k) < cfg.staleFrac
    // stale rows fall before the watermark; fresh rows are spread over
    // the following 30 days, monotone in turn_idx within a conversation
    val convOffsetSec = rndInt(cfg.seed, convIdx, 12L, 0L, 30 * 86400)
    val ts = new Timestamp(
      if (stale) BaseEpochMs - 86400000L - (rnd(cfg.seed, convIdx, 8L, k) >>> 40)
      else BaseEpochMs + 1000L + convOffsetSec * 1000L + turnIdx.toLong * 60000L)

    val u = rndDouble(cfg.seed, convIdx, 9L, k)
    val (payload, kind, golden) =
      if (u < cfg.htmlFrac) htmlPayload(cfg, convIdx, k)
      else if (u < cfg.htmlFrac + cfg.pdfFrac) pdfPayload(cfg, convIdx, k)
      else plainPayload(cfg, convIdx, k)

    (Turn(cid, turnIdx, role, payload, tool, ts),
      Golden(cid, turnIdx, kind, golden))
  }

  /** Plain text payload: 1-4 sentences; golden = identity (trimmed). */
  private def plainPayload(cfg: GenConfig, ci: Long, ti: Long): (String, String, String) = {
    val nSent = (1 + rndInt(cfg.seed, ci, 10L + ti, 0L, 4)) * cfg.paraScale
    val text = (0 until nSent).map { s =>
      val n = 5 + rndInt(cfg.seed, ci, 10L + ti, s * 100L, 12)
      words(cfg.seed, ci, 11L + ti, s * 100L, n).mkString(" ") + "."
    }.mkString(" ")
    (text, "plain", text)
  }

  /** HTML payload: nav/sidebar/footer boilerplate around golden content
    * paragraphs (+ optional heading). Golden = heading + paragraphs. */
  private def htmlPayload(cfg: GenConfig, ci: Long, ti: Long): (String, String, String) = {
    val nPara = (1 + rndInt(cfg.seed, ci, 20L + ti, 0L, 4)) * cfg.paraScale
    val withHeading = rndDouble(cfg.seed, ci, 21L + ti, 0L) < 0.5
    val heading =
      if (withHeading) Some(words(cfg.seed, ci, 22L + ti, 0L,
        3 + rndInt(cfg.seed, ci, 22L + ti, 1L, 4)).mkString(" "))
      else None
    val paras = (0 until nPara).map { p =>
      val n = 12 + rndInt(cfg.seed, ci, 23L + ti, p * 100L, 28)
      words(cfg.seed, ci, 24L + ti, p * 100L, n).mkString(" ")
    }
    val navLinks = (0 until 5).map { l =>
      val w = words(cfg.seed, ci, 25L + ti, l.toLong, 1 + (l % 2)).mkString(" ")
      s"""<li><a href="/$l">$w</a></li>"""
    }.mkString
    val sideLinks = (0 until 4).map { l =>
      val w = words(cfg.seed, ci, 26L + ti, l.toLong, 2).mkString(" ")
      s"""<a href="/s$l">$w</a> """
    }.mkString
    val headingHtml = heading.map(h => s"<h2>$h</h2>").getOrElse("")
    val parasHtml = paras.map(p => s"<p>$p</p>").mkString("\n")
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>doc $ci-$ti</title>
         |<style>body { margin: 0; }</style>
         |<script>var x = 1 < 2;</script></head>
         |<body>
         |<nav><ul>$navLinks</ul></nav>
         |<div class="main">
         |$headingHtml
         |$parasHtml
         |</div>
         |<aside>$sideLinks</aside>
         |<footer><p>copyright notice</p><a href="/about">about</a></footer>
         |</body></html>""".stripMargin
    val golden = (heading.toSeq ++ paras).mkString("\n")
    (html, "html", golden)
  }

  /** PDF payload: uncompressed content stream, one absolutely-positioned
    * line per Tm/Tj pair, top-to-bottom. Golden = lines joined '\n'. */
  private def pdfPayload(cfg: GenConfig, ci: Long, ti: Long): (String, String, String) = {
    val nLines = (2 + rndInt(cfg.seed, ci, 30L + ti, 0L, 8)) * cfg.paraScale
    val lines = (0 until nLines).map { l =>
      val n = 4 + rndInt(cfg.seed, ci, 31L + ti, l * 100L, 8)
      words(cfg.seed, ci, 32L + ti, l * 100L, n).mkString(" ")
    }
    val content = new StringBuilder("BT\n/F1 12 Tf\n")
    lines.zipWithIndex.foreach { case (line, l) =>
      val y = 720 - 14 * l
      content.append(s"1 0 0 1 72 $y Tm ($line) Tj\n")
    }
    content.append("ET")
    val cs = content.toString
    val pdf =
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj
         |4 0 obj << /Length ${cs.length} >>
         |stream
         |$cs
         |endstream
         |endobj
         |trailer << /Root 1 0 R >>
         |%%EOF""".stripMargin
    (pdf, "pdf", lines.mkString("\n"))
  }

  /** All turns of one conversation. */
  def turnsForConv(cfg: GenConfig, convIdx: Long): Seq[(Turn, Golden)] =
    (0 until convLength(cfg, convIdx)).map(t => turn(cfg, convIdx, t))

  /** Distributed generation: no driver materialization. */
  def dataset(spark: SparkSession, cfg: GenConfig): Dataset[Turn] = {
    import spark.implicits._
    spark.range(0, cfg.nConvs.toLong)
      .flatMap(i => turnsForConv(cfg, i).map(_._1))
  }

  /** Distributed golden dataset (for golden-equality joins in tests). */
  def goldenDataset(spark: SparkSession, cfg: GenConfig): Dataset[Golden] = {
    import spark.implicits._
    spark.range(0, cfg.nConvs.toLong)
      .flatMap(i => turnsForConv(cfg, i).map(_._2))
  }
}
