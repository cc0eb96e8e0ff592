package graft.extract

import scala.collection.mutable.ArrayBuffer
import HtmlDom.{Element, Node, Text}

/** Boilerpipe/Readability-style main-content extraction over the
  * from-scratch DOM (BASELINE north rule): flatten the tree into text
  * blocks at block-element boundaries, score each block by word count /
  * link density / ancestor hints, classify content vs boilerplate with
  * a neighborhood-smoothing pass, and emit the content blocks in
  * document order.
  *
  * All thresholds are frozen constants — golden-file equality depends on
  * them (SURVEY.md §7.5 risk 1). Change ⇒ regenerate goldens.
  */
object HtmlExtractor {

  /** One flattened text block with its density features. */
  final case class Block(
      text: String,
      words: Int,
      linkWords: Int,
      inBoilerContainer: Boolean,
      isHeading: Boolean) {
    def linkDensity: Double = if (words == 0) 0.0 else linkWords.toDouble / words
  }

  private val BlockTags = Set("p", "div", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "td", "th", "tr", "table", "ul", "ol", "blockquote",
    "pre", "article", "section", "aside", "nav", "footer", "header",
    "main", "body", "html", "#root", "figcaption", "form", "dd", "dt")

  /** Containers whose text is boilerplate-biased. */
  private val BoilerTags = Set("nav", "footer", "aside", "header", "form")

  /** Subtrees dropped entirely. */
  private val DropTags = Set("script", "style", "noscript", "head",
    "title", "iframe", "svg", "button", "select", "option", "label")

  private val HeadingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  // Frozen classification thresholds
  private val MaxLinkDensity = 0.333334
  private val MinContentWords = 8
  private val LongBlockWords = 30
  private val LongBlockMaxLinkDensity = 0.5
  private val ShortNeighborMinWords = 3

  /** Flatten the DOM into feature-scored text blocks (document order).
    *
    * Allocation-lean on purpose: words stream into one reused
    * StringBuilder (no per-word substring, no word list, no mkString) —
    * at 10⁶ docs × ~50 words that removes ~10⁸ transient allocations,
    * which is what limits multi-core scaling of the extraction stage
    * (allocation-rate bound, see BENCH/BASELINE.md).
    */
  def blocks(root: Element): Vector[Block] = {
    val out = ArrayBuffer.empty[Block]
    val sb = new java.lang.StringBuilder
    var wordCount = 0
    var linkWords = 0
    var curBoiler = false
    var curHeading = false

    def flush(): Unit = {
      if (wordCount > 0) {
        out += Block(sb.toString, wordCount, linkWords,
          curBoiler, curHeading)
        sb.setLength(0)
        wordCount = 0
      }
      linkWords = 0
    }

    def appendText(v: String, inLink: Boolean, inBoiler: Boolean,
        inHeading: Boolean): Unit = {
      var i = 0
      val n = v.length
      var added = false
      while (i < n) {
        while (i < n && Character.isWhitespace(v.charAt(i))) i += 1
        val w0 = i
        while (i < n && !Character.isWhitespace(v.charAt(i))) i += 1
        if (i > w0) {
          if (wordCount > 0) sb.append(' ')
          sb.append(v, w0, i)
          wordCount += 1
          if (inLink) linkWords += 1
          added = true
        }
      }
      if (added) { curBoiler = inBoiler; curHeading = inHeading }
    }

    def walk(node: Node, inLink: Boolean, inBoiler: Boolean,
        inHeading: Boolean): Unit = node match {
      case Text(v) =>
        appendText(v, inLink, inBoiler, inHeading)
      case e: Element =>
        if (DropTags.contains(e.tag)) return
        val isBlock = BlockTags.contains(e.tag)
        val boiler = inBoiler || BoilerTags.contains(e.tag)
        val heading = inHeading || HeadingTags.contains(e.tag)
        val link = inLink || e.tag == "a"
        if (isBlock) flush()
        if (e.tag == "br") { flush(); return }
        e.children.foreach(walk(_, link, boiler, heading))
        if (isBlock) flush()
    }

    walk(root, inLink = false, inBoiler = false, inHeading = false)
    flush()
    out.toVector
  }

  /** Classify each block; returns a parallel Vector[Boolean] (isContent). */
  def classify(bs: Vector[Block]): Vector[Boolean] = {
    // pass 1: local rule
    val local = bs.map { b =>
      if (b.inBoilerContainer) false
      else if (b.words >= LongBlockWords) b.linkDensity <= LongBlockMaxLinkDensity
      else if (b.words >= MinContentWords) b.linkDensity <= MaxLinkDensity
      else false
    }
    // pass 2: neighborhood smoothing — short low-link blocks (incl.
    // headings) adjacent to content become content
    bs.indices.toVector.map { i =>
      val b = bs(i)
      if (local(i)) true
      else if (b.inBoilerContainer) false
      else if (b.words >= ShortNeighborMinWords &&
               b.linkDensity <= MaxLinkDensity) {
        val prev = i > 0 && local(i - 1)
        val next = i + 1 < bs.length && local(i + 1)
        prev || next || (b.isHeading && next)
      } else false
    }
  }

  /** Extract main-content text: content blocks joined by '\n'. */
  def extract(html: String): String =
    extractBlocks(html).map(_._2.text).mkString("\n")

  /** Content blocks with their block index (for span-style output). */
  def extractBlocks(html: String): Vector[(Int, Block)] = {
    val bs = blocks(HtmlDom.parse(html))
    val keep = classify(bs)
    bs.indices.iterator.filter(keep).map(i => (i, bs(i))).toVector
  }

}
