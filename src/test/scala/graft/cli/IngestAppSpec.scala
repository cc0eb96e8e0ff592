package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** IngestApp's flag parsing: only the flags `main` reads are accepted,
  * so a typo or a retired flag fails the run instead of silently
  * falling back to a default. */
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
}
