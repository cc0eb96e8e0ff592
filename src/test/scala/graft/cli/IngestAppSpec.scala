package graft.cli

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ExtractionJob
import graft.table.Json

/** IngestApp's flag parsing: only the flags `main` reads are accepted,
  * so a typo or a retired flag fails the run instead of silently
  * falling back to a default. And its status line: valid JSON whatever
  * the error text, with a fixed prefix that parsers match. */
class IngestAppSpec extends AnyFunSuite {

  private def parse(args: String*) = IngestApp.parse(args.toList, Map.empty)

  test("every known flag parses to its value") {
    val opts = parse("--input", "in", "--table", "t", "--format", "json",
      "--system", "wcs", "--mode", "delete", "--chunks", "2",
      "--since", "2023-03-22 11:59:59", "--seed-watermark", "2023-01-01 00:00:00",
      "--compact", "true")
    assert(opts == Map("input" -> "in", "table" -> "t", "format" -> "json",
      "system" -> "wcs", "mode" -> "delete", "chunks" -> "2",
      "since" -> "2023-03-22 11:59:59",
      "seed-watermark" -> "2023-01-01 00:00:00", "compact" -> "true"))
  }

  test("a misspelled flag is rejected by name") {
    val e = intercept[RuntimeException](parse("--table", "t", "--chunk", "1"))
    assert(e.getMessage.contains("unknown flag --chunk"), e.getMessage)
  }

  test("the retired --salt flag is rejected") {
    val e = intercept[RuntimeException](parse("--table", "t", "--salt", "8"))
    assert(e.getMessage.contains("unknown flag --salt"), e.getMessage)
  }

  private def result(status: String, error: Option[String]) =
    ExtractionJob.JobResult(status, 5L, 5L, 1,
      Timestamp.valueOf("2023-03-22 11:59:59"), Seq("s1"), 2.0, error)

  test("a FAILED status line is JSON and carries the error verbatim") {
    val error = "bad \"file\" C:\\tmp\nsecond line"
    val line = IngestApp.statusLine("ingest", result("FAILED", Some(error)))
    assert(!line.contains("\n"), line)
    val node = Json.mapper.readTree(line)
    assert(node.get("status").asText == "FAILED")
    assert(node.get("error").asText == error)
  }

  test("a COMPLETED status line keeps the parsed prefix and key order") {
    val line = IngestApp.statusLine("ingest", result("COMPLETED", None))
    assert(line.startsWith(
      """{"mode":"ingest","status":"COMPLETED","rowsWritten":5,"""), line)
    assert(line.endsWith(
      """"chunksCommitted":1,"watermark":"2023-03-22 11:59:59.0",""" +
        """"turnsPerSec":2.5,"error":null}"""), line)
  }
}
