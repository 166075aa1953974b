package graft.html

import graft.ids.Identifiers
import graft.textops.TextOps
import Boilerplate.{MarkerSplit, blockTexts, contentText, leafMost}
import PointerBoilerplate.BlockTags

/** The standalone heuristics that `Boilerplate`'s fused `Walk` replaced,
  * kept as the oracles HtmlSpec compares it against: the density
  * classifier's container, one finder per structured field, selectolax's
  * `.text(strip=True)` and the collapsed subtree text. Each field finder
  * reads the arena on its own, by tag name, so a drift in the fused walk's
  * candidate picks or in the arena's flag table shows up as a field
  * mismatch. */
object HtmlOracle {

  // --- reads of one node -------------------------------------------------

  /** Lowercase tag name of an element (`#root` for node 0). */
  def tagName(dom: HtmlDom, x: Int): String = dom.name(dom.tags(x))
  def parent(dom: HtmlDom, x: Int): Int = dom.parents(x)
  /** A text node's characters, entities decoded. */
  def text(dom: HtmlDom, x: Int): String = new String(dom.buf, dom.froms(x), dom.tos(x) - dom.froms(x))
  /** A text node's classifier length, computed at parse time. */
  def textLen(dom: HtmlDom, x: Int): Int = dom.lens(x)
  /** An element's attributes, in source order. */
  def attrs(dom: HtmlDom, x: Int): Seq[(String, String)] =
    (dom.froms(x) until dom.tos(x)).map(a => dom.name(dom.attrNames(a)) -> dom.attrValue(a))

  /** The elements below the root, in document order. */
  def elements(dom: HtmlDom): Iterator[Int] = (1 until dom.size).iterator.filterNot(dom.isText)

  private def textNodes(dom: HtmlDom, el: Int): Iterator[Int] =
    (el + 1 until dom.ends(el)).iterator.filter(dom.isText)

  /** Concatenated descendant text, selectolax-style: with strip=true each
    * text node is stripped as Python's `str.strip()` does (NBSP and NEL
    * included) before concatenation; otherwise raw. */
  def subtreeText(dom: HtmlDom, el: Int, strip: Boolean = false): String =
    textNodes(dom, el).map { x =>
      if (strip) TextOps.pyStrip(text(dom, x)) else text(dom, x)
    }.mkString

  /** Own + descendant text with runs of whitespace collapsed to single
    * spaces and trimmed, script and style included. */
  def normalizedText(dom: HtmlDom, el: Int): String = {
    val sb = new java.lang.StringBuilder
    textNodes(dom, el).foreach(x => HtmlDom.appendCollapsed(sb, dom.buf, dom.froms(x), dom.tos(x)))
    sb.toString
  }

  /** The density classifier: pick the container maximizing signed leaf
    * score (content leaves add len*(1-linkDensity); boilerplate leaves
    * subtract their length, so enclosing everything — e.g. body — loses
    * to the tight main block whenever real boilerplate exists).
    * Ties break toward the deeper (tighter) container.
    */
  def mainContainer(dom: HtmlDom): Option[Int] =
    Some(new Boilerplate.Walk(dom).best).filter(_ >= 0)

  // --- structured-field heuristics ---------------------------------------

  def findTitle(dom: HtmlDom): Option[String] = {
    Selectors.cssFirst(dom, "h1").map(contentText(dom, _)).filter(_.nonEmpty)
      .orElse(Selectors.cssFirst(dom, "title").map(contentText(dom, _)).filter(_.nonEmpty))
  }

  private def classAndId(dom: HtmlDom, e: Int, sep: String): String =
    (dom.attr(e, "class").getOrElse("") + sep + dom.attr(e, "id").getOrElse(""))
      .toLowerCase(java.util.Locale.ROOT)

  def findAbstract(dom: HtmlDom): Option[String] = {
    elements(dom).find { e =>
      classAndId(dom, e, " ").contains("abstract") && BlockTags.contains(tagName(dom, e))
    }.map { e =>
      val texts = blockTexts(dom, e)
      // skip a leading "Abstract" heading block if present
      val body = texts match {
        case h :: rest if h.equalsIgnoreCase("abstract") => rest
        case other => other
      }
      body.mkString("\n")
    }.filter(_.nonEmpty)
  }

  def findDoi(dom: HtmlDom, mainText: String): Option[String] = {
    val meta = elements(dom).find(e =>
      tagName(dom, e) == "meta" &&
        dom.attr(e, "name").exists(n => n.equalsIgnoreCase("citation_doi") || n.equalsIgnoreCase("dc.identifier")))
      .flatMap(dom.attr(_, "content"))
    meta.flatMap(c => Identifiers.extract(c))
      .orElse {
        elements(dom).find(e => classAndId(dom, e, "").contains("doi"))
          .flatMap(e => Identifiers.extract(contentText(dom, e)))
      }
      .orElse(Identifiers.extract(mainText))
  }

  def findCitations(dom: HtmlDom): List[String] = {
    val viaClass = elements(dom).filter { e =>
      tagName(dom, e) == "cite" ||
        MarkerSplit.split(classAndId(dom, e, " ")).exists(w => w == "ref" || w == "citation" || w == "reference")
    }.toArray
    // keep only leaf-most citation nodes (avoid container duplication)
    leafMost(dom, viaClass).map(contentText(dom, _)).filter(_.nonEmpty)
  }
}
