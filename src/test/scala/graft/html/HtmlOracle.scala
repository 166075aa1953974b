package graft.html

import graft.ids.Identifiers
import graft.textops.TextOps
import Boilerplate.{BlockTags, MarkerSplit, blockTexts, contentText, leafMost}

/** The standalone heuristics that `Boilerplate`'s fused `Walk` replaced,
  * kept as the oracles HtmlSpec compares it against: the density
  * classifier's container, one finder per structured field, and
  * selectolax's `.text(strip=True)`. Each field finder reads the tree on
  * its own, so a drift in the fused walk's candidate picks shows up as a
  * field mismatch. */
object HtmlOracle {

  /** Concatenated descendant text, selectolax-style: with strip=true each
    * text node is stripped as Python's `str.strip()` does (NBSP and NEL
    * included) before concatenation; otherwise raw. */
  def text(el: HElem, strip: Boolean = false): String = {
    val sb = new StringBuilder
    def walk(n: HNode): Unit = n match {
      case t: HText => sb.append(if (strip) TextOps.pyStrip(t.data) else t.data)
      case e: HElem => e.children.foreach(walk)
      case _        => ()
    }
    el.children.foreach(walk)
    sb.toString
  }

  /** The density classifier: pick the container maximizing signed leaf
    * score (content leaves add len*(1-linkDensity); boilerplate leaves
    * subtract their length, so enclosing everything — e.g. body — loses
    * to the tight main block whenever real boilerplate exists).
    * Ties break toward the deeper (tighter) container.
    */
  def mainContainer(root: HElem): Option[HElem] = Option(new Boilerplate.Walk(root).best)

  // --- structured-field heuristics ---------------------------------------

  def findTitle(root: HElem): Option[String] = {
    Selectors.cssFirst(root, "h1").map(contentText).filter(_.nonEmpty)
      .orElse(Selectors.cssFirst(root, "title").map(contentText).filter(_.nonEmpty))
  }

  def findAbstract(root: HElem): Option[String] = {
    root.descendants.find { e =>
      val marker = (e.attrs.getOrElse("class", "") + " " + e.attrs.getOrElse("id", ""))
        .toLowerCase(java.util.Locale.ROOT)
      marker.contains("abstract") && BlockTags.contains(e.tag)
    }.map { e =>
      val texts = blockTexts(e)
      // skip a leading "Abstract" heading block if present
      val body = texts match {
        case h :: rest if h.equalsIgnoreCase("abstract") => rest
        case other => other
      }
      body.mkString("\n")
    }.filter(_.nonEmpty)
  }

  def findDoi(root: HElem, mainText: String): Option[String] = {
    val meta = root.descendants.find(e =>
      e.tag == "meta" &&
        e.attr("name").exists(n => n.equalsIgnoreCase("citation_doi") || n.equalsIgnoreCase("dc.identifier")))
      .flatMap(_.attr("content"))
    meta.flatMap(c => Identifiers.extract(c))
      .orElse {
        root.descendants.find { e =>
          (e.attrs.getOrElse("class", "") + e.attrs.getOrElse("id", ""))
            .toLowerCase(java.util.Locale.ROOT).contains("doi")
        }.flatMap(e => Identifiers.extract(contentText(e)))
      }
      .orElse(Identifiers.extract(mainText))
  }

  def findCitations(root: HElem): List[String] = {
    val viaClass = root.descendants.filter { e =>
      val marker = (e.attrs.getOrElse("class", "") + " " + e.attrs.getOrElse("id", ""))
        .toLowerCase(java.util.Locale.ROOT)
      e.tag == "cite" || MarkerSplit.split(marker).exists(w => w == "ref" || w == "citation" || w == "reference")
    }.toList
    // keep only leaf-most citation nodes (avoid container duplication)
    leafMost(viaClass).map(contentText).filter(_.nonEmpty)
  }
}
