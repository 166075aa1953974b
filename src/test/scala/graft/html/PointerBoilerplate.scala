package graft.html

import scala.collection.mutable
import graft.ids.Identifiers
import Boilerplate.Extraction

/** The boilerplate classifier and field walk over the pointer DOM that
  * `Boilerplate` replaced with its arena walk, kept as the oracle HtmlSpec
  * compares every `Extraction` field against. It keeps its own copies of
  * the tag sets, so the arena's flag table is checked too, and its own
  * `normLen`, the classifier length the arena precomputes per text node.
  */
object PointerBoilerplate {
  val BlockTags = Set(
    "p", "div", "article", "main", "section", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "ul", "ol", "blockquote", "pre", "td", "th", "table", "tr",
    "header", "footer", "nav", "aside", "body", "figcaption", "dd", "dt")

  private val DropTags = Set(
    "script", "style", "noscript", "template", "iframe", "svg", "form",
    "button", "select", "option")

  private val ContainerTags = Set(
    "main", "article", "section", "div", "body", "td", "blockquote")

  /** Per-element aggregate stats, computed in one bottom-up pass. */
  private final class Stats {
    var textChars: Int = 0
    var linkChars: Int = 0
    var leafScore: Double = 0.0 // signed content score of leaf blocks below
    var depth: Int = 0
  }

  def extract(root: HElem): Extraction = {
    val w = new Walk(root)
    val mainText = Option(w.best).map(blockTexts(_).mkString("\n")).getOrElse("")

    // contentText (not normalizedText) everywhere a structured field is
    // built from a subtree: an inline <script>/<style> inside an h1 or a
    // citation block must not leak code into the field — the same rule
    // mainText already follows via block emission
    val title = Option(w.firstH1).map(contentText).filter(_.nonEmpty)
      .orElse(Option(w.firstTitleTag).map(contentText).filter(_.nonEmpty))
    val abstractText = Option(w.firstAbstract).map { e =>
      val texts = blockTexts(e)
      val body = texts match {
        case h :: rest if h.equalsIgnoreCase("abstract") => rest
        case other => other
      }
      body.mkString("\n")
    }.filter(_.nonEmpty)
    val doi = w.doiMetaContent.flatMap(Identifiers.extract)
      .orElse(Option(w.firstDoiMarker).flatMap(e => Identifiers.extract(contentText(e))))
      .orElse(Identifiers.extract(mainText))
    val citations = leafMost(w.cites.toList)
      .map(contentText).filter(_.nonEmpty)

    Extraction(
      mainText = mainText,
      title = title,
      abstractText = abstractText,
      doi = doi,
      citationSpans = citations)
  }

  /** The one tree walk behind `extract`, run by the constructor. Bottom up
    * it gathers the classifier's stats and keeps the best container (no
    * per-element stats map, no second traversal). The density classifier
    * picks the container maximizing signed leaf score (content leaves add
    * len*(1-linkDensity); boilerplate leaves subtract their length, so
    * enclosing everything — e.g. body — loses to the tight main block
    * whenever real boilerplate exists); ties break toward the deeper
    * (tighter) container. In the same pre-order over every element below
    * `root`, DropTags subtrees included (they add no stats), it picks each
    * structured field's candidates exactly as the reference find*
    * heuristics in the tests do (HtmlSpec pins the two together): the
    * first h1, title, abstract block, DOI meta and DOI marker, and every
    * citation candidate. */
  private final class Walk(root: HElem) {
    // preIdx preserves the original pre-order maxBy tie behavior exactly:
    // max (leafScore, depth), first-in-pre-order among full ties
    var best: HElem = null
    private var bestScore = 0.0
    private var bestDepth = -1
    private var bestPre = Int.MaxValue
    private var preCounter = 0

    var firstH1: HElem = null
    var firstTitleTag: HElem = null
    var firstAbstract: HElem = null
    private var doiMetaSeen = false
    var doiMetaContent: Option[String] = None
    var firstDoiMarker: HElem = null
    val cites = mutable.ListBuffer.empty[HElem]

    compute(root, 0, inLink = false)

    private def pick(e: HElem): Unit = {
      val tag = e.tag
      if (firstH1 == null && tag == "h1") firstH1 = e
      if (firstTitleTag == null && tag == "title") firstTitleTag = e
      if (!doiMetaSeen && tag == "meta" &&
          e.attr("name").exists(n => n.equalsIgnoreCase("citation_doi") || n.equalsIgnoreCase("dc.identifier"))) {
        doiMetaSeen = true
        doiMetaContent = e.attr("content")
      }
      val cls = e.attrs.getOrElse("class", "")
      val idv = e.attrs.getOrElse("id", "")
      if (cls.isEmpty && idv.isEmpty) {
        if (tag == "cite") cites += e
      } else {
        // the find* heuristics read the class and id joined by " " (no
        // marker word spans the separator) and, for the DOI marker,
        // joined with no separator, so "d" + "oi" is a hit there
        val lc = cls.toLowerCase(java.util.Locale.ROOT)
        val li = idv.toLowerCase(java.util.Locale.ROOT)
        if (firstAbstract == null && (lc.contains("abstract") || li.contains("abstract")) &&
            BlockTags.contains(tag))
          firstAbstract = e
        if (firstDoiMarker == null &&
            (if (li.isEmpty) lc else if (lc.isEmpty) li else lc + li).contains("doi"))
          firstDoiMarker = e
        if (tag == "cite" || citeMarker(lc) || citeMarker(li)) cites += e
      }
    }

    private def pickAll(e: HElem): Unit = {
      pick(e)
      e.children.foreach { case c: HElem => pickAll(c); case _ => () }
    }

    private def compute(e: HElem, depth: Int, inLink: Boolean): Stats = {
      val preIdx = preCounter
      preCounter += 1
      if (e ne root) pick(e)
      val s = new Stats
      s.depth = depth
      if (DropTags.contains(e.tag)) {
        e.children.foreach { case c: HElem => pickAll(c); case _ => () }
        return s
      }
      e.children.foreach {
        case t: HText =>
          val len = normLen(t.data)
          s.textChars += len
          if (inLink) s.linkChars += len
        case c: HElem =>
          val cs = compute(c, depth + 1, inLink || c.tag == "a")
          s.textChars += cs.textChars
          s.linkChars += cs.linkChars
          s.leafScore += cs.leafScore
        case _ => ()
      }
      // leaf block: a block element none of whose element children are
      // themselves blocks — the unit the classifier scores
      val isLeafBlock = BlockTags.contains(e.tag) &&
        !e.elemChildren.exists(c => BlockTags.contains(c.tag)) &&
        s.textChars > 0
      if (isLeafBlock) {
        val linkDensity =
          if (s.textChars == 0) 0.0 else s.linkChars.toDouble / s.textChars
        s.leafScore +=
          (if (s.textChars >= 25 && linkDensity <= 0.30)
             s.textChars * (1.0 - linkDensity)
           else -s.textChars.toDouble)
      }
      if ((e ne root) && ContainerTags.contains(e.tag) && s.leafScore > 0) {
        val better = s.leafScore > bestScore ||
          (s.leafScore == bestScore &&
            (s.depth > bestDepth || (s.depth == bestDepth && preIdx < bestPre)))
        if (best == null || better) {
          best = e; bestScore = s.leafScore; bestDepth = s.depth; bestPre = preIdx
        }
      }
      s
    }
  }

  /** A lowercased class or id naming a citation: one of its [\s_-]-split
    * words is "ref", "citation" or "reference" (the substring test first:
    * "ref" also covers "reference"). */
  private def citeMarker(m: String): Boolean =
    (m.contains("ref") || m.contains("citation")) &&
      MarkerSplit.split(m).exists(w => w == "ref" || w == "citation" || w == "reference")

  private val MarkerSplit = java.util.regex.Pattern.compile("[\\s_-]")

  /** Normalized text of an element SKIPPING DropTags subtrees — the leaf
    * emission form: a leaf block polluted by an inline script/style must
    * not leak code into the extracted text. Same whitespace collapse as
    * HElem.normalizedText. */
  private def contentText(e: HElem): String = {
    val sb = new java.lang.StringBuilder
    appendContent(e, sb)
    sb.toString
  }

  /** Append `el`'s text nodes, collapsed, skipping DropTags subtrees. */
  private def appendContent(el: HElem, sb: java.lang.StringBuilder): Unit =
    el.children.foreach {
      case t: HText => HElem.appendCollapsed(sb, t.data)
      case c: HElem => if (!DropTags.contains(c.tag)) appendContent(c, sb)
      case _        => ()
    }

  /** Document-order normalized texts of the blocks inside a container
    * (the paragraphs of the main content). A block with no block children
    * emits whole; a block that ALSO has direct text or inline children
    * around its block children (mixed content — the norm on real pages)
    * emits each inline run as its own block in document order, so
    * interstitial prose is never silently dropped. */
  private def blockTexts(container: HElem): List[String] = {
    val out = mutable.ListBuffer.empty[String]
    def walk(e: HElem): Unit = {
      if (DropTags.contains(e.tag)) return
      val hasBlockChild = e.elemChildren.exists(c => BlockTags.contains(c.tag))
      if (!hasBlockChild) {
        val t = contentText(e)
        if (t.nonEmpty) out += t
      } else {
        val sb = new java.lang.StringBuilder
        def flushRun(): Unit = {
          if (sb.length > 0) out += sb.toString
          sb.setLength(0)
        }
        e.children.foreach {
          case t: HText => HElem.appendCollapsed(sb, t.data)
          case c: HElem if DropTags.contains(c.tag) => ()
          case c: HElem if BlockTags.contains(c.tag) ||
              c.elemChildren.exists(b => BlockTags.contains(b.tag)) =>
            flushRun(); walk(c)
          case c: HElem => appendContent(c, sb)
          case _ => ()
        }
        flushRun()
      }
    }
    walk(container)
    out.toList
  }

  def normLen(s: String): Int = {
    // length of whitespace-collapsed text
    var count = 0
    var lastWs = true
    var i = 0
    while (i < s.length) {
      val ws = s.charAt(i).isWhitespace
      if (!ws) { count += 1; lastWs = false }
      else if (!lastWs) { count += 1; lastWs = true }
      i += 1
    }
    if (lastWs && count > 0) count - 1 else count
  }

  /** Drop candidates that are ancestors of other candidates, in
    * O(candidates x depth): each candidate walks its parent chain ONCE
    * and marks any candidate-ancestor it meets. The previous all-pairs
    * isAncestor filter was O(c^2 x depth) — ~4M chain walks for one
    * citation-dense 2000-candidate references page, on the per-page hot
    * path. Identity sets on purpose: distinct DOM nodes can be
    * structurally equal. */
  private def leafMost(candidates: List[HElem]): List[HElem] = {
    val inSet = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[HElem, java.lang.Boolean]())
    candidates.foreach(inSet.add)
    val drop = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[HElem, java.lang.Boolean]())
    candidates.foreach { e =>
      var p = e.parent
      while (p != null) { if (inSet.contains(p)) { drop.add(p): Unit }; p = p.parent }
    }
    candidates.filterNot(drop.contains)
  }
}
