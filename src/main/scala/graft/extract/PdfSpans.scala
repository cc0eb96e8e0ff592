package graft.extract

import scala.collection.mutable.ArrayBuffer

/** From-scratch PDF text extraction: parses uncompressed page content
  * streams (`BT ... ET` text objects with the Td, TD, Tm, T-star, Tj,
  * quote and TJ operators) into positioned spans, then orders them by
  * layout (top-to-bottom, left-to-right).
  *
  * Scope is deliberately the subset our transcript generator emits
  * (SURVEY.md §7.5 risk 4): ASCII, uncompressed streams, literal
  * `(string)` syntax with standard escapes. A general PDF reader
  * (xref, filters, fonts, CMaps) is out of scope. The reference's own
  * PDF fixtures are 0-byte placeholders
  * (reference src/integration-test/resources/trusted-s3-data/), so the
  * span semantics here are frozen by our goldens.
  */
object PdfSpans {

  /** A positioned text span from a content stream. */
  final case class PdfSpan(text: String, x: Double, y: Double)

  /** Extract all spans from a PDF byte stream (latin-1 string),
    * in layout order: descending y (top of page first), then ascending
    * x, then original emission order.
    */
  def spans(pdf: String): Vector[PdfSpan] = {
    val out = ArrayBuffer.empty[PdfSpan]
    var from = 0
    while ({
      val s = pdf.indexOf("stream", from)
      if (s < 0) false
      else {
        // content starts after "stream" + EOL
        var c0 = s + "stream".length
        if (c0 < pdf.length && pdf.charAt(c0) == '\r') c0 += 1
        if (c0 < pdf.length && pdf.charAt(c0) == '\n') c0 += 1
        val e = pdf.indexOf("endstream", c0)
        if (e < 0) false
        else {
          parseContentStream(pdf, c0, e, out)
          from = e + "endstream".length
          true
        }
      }
    }) ()
    // stable layout sort: higher y first (PDF origin is bottom-left)
    out.zipWithIndex.sortBy { case (sp, i) => (-sp.y, sp.x, i) }
      .map(_._1).toVector
  }

  /** Layout-ordered plain text: spans on the same baseline (same y)
    * joined by a single space; baselines joined by '\n'. Frozen. */
  def extractText(pdf: String): String = text(spans(pdf))

  /** [[extractText]] over already-parsed layout-ordered spans. */
  private[extract] def text(ss: Vector[PdfSpan]): String = {
    if (ss.isEmpty) return ""
    val sb = new StringBuilder
    var prevY = ss.head.y
    sb.append(ss.head.text)
    ss.tail.foreach { sp =>
      if (sp.y == prevY) sb.append(' ') else sb.append('\n')
      sb.append(sp.text)
      prevY = sp.y
    }
    sb.toString
  }

  // --- content-stream operator machine -------------------------------

  /** Delimiter membership at O(1) (replaces a per-char indexOf scan of
    * the 10-char delimiter string in the two hottest token loops). */
  private val Delim: Array[Boolean] = {
    val a = new Array[Boolean](128)
    "()<>[]{}/%".foreach(c => a(c) = true)
    a
  }
  @inline private def isDelim(c: Char): Boolean = c < 128 && Delim(c)

  private def parseContentStream(cs: String, from: Int, until: Int,
      out: ArrayBuffer[PdfSpan]): Unit = {
    var i = from
    val n = until
    // operand stack: numbers and strings (arrays flattened to a string)
    val operands = ArrayBuffer.empty[Any]
    var lineX = 0.0; var lineY = 0.0 // text line origin
    var curX = 0.0; var curY = 0.0   // current text position
    var leading = 0.0
    var inText = false

    def num(v: Any): Double = v match {
      case d: Double => d
      case _ => 0.0
    }

    def show(text: String): Unit = {
      if (inText && text.nonEmpty) out += PdfSpan(text, curX, curY)
    }

    def op(name: String): Unit = {
      name match {
        case "BT" =>
          inText = true
          lineX = 0; lineY = 0; curX = 0; curY = 0; leading = 0
        case "ET" => inText = false
        case "Td" if operands.length >= 2 =>
          lineX += num(operands(operands.length - 2))
          lineY += num(operands(operands.length - 1))
          curX = lineX; curY = lineY
        case "TD" if operands.length >= 2 =>
          val ty = num(operands(operands.length - 1))
          leading = -ty
          lineX += num(operands(operands.length - 2))
          lineY += ty
          curX = lineX; curY = lineY
        case "Tm" if operands.length >= 6 =>
          lineX = num(operands(operands.length - 2))
          lineY = num(operands(operands.length - 1))
          curX = lineX; curY = lineY
        case "T*" =>
          lineY -= leading
          curX = lineX; curY = lineY
        case "TL" if operands.nonEmpty =>
          leading = num(operands.last)
        case "Tj" =>
          operands.lastOption.collect { case s: String => show(s) }
        case "'" =>
          lineY -= leading
          curX = lineX; curY = lineY
          operands.lastOption.collect { case s: String => show(s) }
        case "TJ" =>
          operands.lastOption.collect { case s: String => show(s) }
        case _ => // Tf, Tc, Tw, graphics ops… — ignored
      }
      operands.clear()
    }

    while (i < n) {
      val c = cs.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else if (c == '%') { // comment to EOL
        while (i < n && cs.charAt(i) != '\n') i += 1
      } else if (c == '(') {
        val (s, next) = parseString(cs, i, n)
        operands += s; i = next
      } else if (c == '[') {
        // TJ array: concatenate the strings, ignore kerning numbers
        val sb = new StringBuilder
        i += 1
        while (i < n && cs.charAt(i) != ']') {
          val cc = cs.charAt(i)
          if (cc == '(') {
            val (s, next) = parseString(cs, i, n)
            sb.append(s); i = next
          } else i += 1
        }
        if (i < n) i += 1 // skip ']'
        operands += sb.toString
      } else if (c == '/') { // name object
        i += 1
        while (i < n && !Character.isWhitespace(cs.charAt(i)) &&
               !isDelim(cs.charAt(i))) i += 1
        operands += "/name"
      } else if (c == '<') { // hex string or dict — skip balanced
        if (i + 1 < n && cs.charAt(i + 1) == '<') {
          var depth = 1; i += 2
          while (i < n && depth > 0) {
            if (cs.startsWith("<<", i)) { depth += 1; i += 2 }
            else if (cs.startsWith(">>", i)) { depth -= 1; i += 2 }
            else i += 1
          }
        } else {
          // bounded: the in-place parse must never scan past the
          // stream's `until` (the old substring enforced this shape)
          val e = cs.indexOf('>', i)
          i = if (e < 0 || e >= n) n else e + 1
        }
      } else if (c == '-' || c == '+' || c == '.' || Character.isDigit(c)) {
        val t0 = i
        i += 1
        while (i < n && (Character.isDigit(cs.charAt(i)) || cs.charAt(i) == '.')) i += 1
        try operands += cs.substring(t0, i).toDouble
        catch { case _: NumberFormatException => }
      } else { // operator token
        val t0 = i
        while (i < n && !Character.isWhitespace(cs.charAt(i)) &&
               !isDelim(cs.charAt(i))) i += 1
        if (i > t0) op(cs.substring(t0, i)) else i += 1
      }
    }
  }

  /** Parse a PDF literal string starting at `start` (pointing at '(').
    * Handles nested parens and standard escapes. Returns (text, next).
    */
  private def parseString(cs: String, start: Int, until: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = start + 1
    val n = until // never scan past the enclosing stream's boundary
    var depth = 1
    while (i < n && depth > 0) {
      val c = cs.charAt(i)
      if (c == '\\' && i + 1 < n) {
        cs.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case d if d >= '0' && d <= '7' =>
            var j = i + 1; var v = 0; var k = 0
            while (j < n && k < 3 && cs.charAt(j) >= '0' && cs.charAt(j) <= '7') {
              v = v * 8 + (cs.charAt(j) - '0'); j += 1; k += 1
            }
            sb.append(v.toChar); i = j
          case other => sb.append(other); i += 2
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) sb.append(c)
        i += 1
      } else {
        // bulk-append the run up to the next escape/paren (one range
        // copy instead of a per-char append call)
        val r0 = i
        i += 1
        while (i < n && { val cc = cs.charAt(i)
          cc != '\\' && cc != '(' && cc != ')' }) i += 1
        sb.underlying.append(cs, r0, i)
      }
    }
    (sb.toString, i)
  }
}
