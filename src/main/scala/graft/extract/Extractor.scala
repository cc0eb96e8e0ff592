package graft.extract

/** Payload dispatch: sniff → extract (SURVEY.md §2.11). This is the
  * engine's analog of the reference's per-row processor stage
  * (S3ItemProcessor.java:62-78) — where the reference copies a PDF
  * object, we extract the embedded payload's main content.
  *
  * Pure function of the input string; instantiate nothing per row —
  * it runs once per row inside the `ExtractAll` Catalyst expression.
  */
object Extractor {

  final case class Result(kind: String, text: String, nSpans: Int)

  def extract(payload: String): Result = {
    val kind = PayloadSniffer.sniff(payload)
    kind match {
      case PayloadSniffer.Html =>
        val blocks = HtmlExtractor.extractBlocks(payload)
        Result(kind, blocks.map(_._2.text).mkString("\n"), blocks.length)
      case PayloadSniffer.Pdf =>
        val spans = PdfSpans.spans(payload)
        Result(kind, PdfSpans.text(spans), spans.length)
      case _ =>
        // plain text: identity modulo outer trim (frozen rule)
        val t = if (payload == null) "" else payload.trim
        Result(PayloadSniffer.Plain, t, if (t.isEmpty) 0 else 1)
    }
  }
}
