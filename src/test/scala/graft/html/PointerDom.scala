package graft.html

import scala.collection.mutable

/** The pointer DOM that `HtmlDom`'s flat arena replaced, kept as the
  * oracle HtmlSpec compares the arena against: one object per node, an
  * attribute `Map` and a children buffer per element, and a copied
  * `String` per text node. `PointerParser` builds it and
  * `PointerBoilerplate` classifies it.
  */
sealed trait HNode {
  var parent: HElem = _
}

final class HText(val data: String) extends HNode

final class HComment(val data: String) extends HNode

final class HElem(
    val tag: String,
    val attrs: Map[String, String]) extends HNode {
  val children: mutable.ArrayBuffer[HNode] = mutable.ArrayBuffer.empty

  def append(n: HNode): Unit = { n.parent = this; children += n }

  def id: Option[String] = attrs.get("id")
  def classes: Set[String] =
    attrs.get("class").map(c => HElem.Ws.split(c).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  def attr(name: String): Option[String] = attrs.get(name)

  /** Element children only (what :nth-child counts). Cached after first
    * read — the tree is parse-then-read (the parser never appends to a
    * node after any consumer has queried it). */
  private var _elemChildren: Seq[HElem] = _
  def elemChildren: Seq[HElem] = {
    if (_elemChildren == null)
      _elemChildren = children.collect { case e: HElem => e }.toSeq
    _elemChildren
  }

  /** 1-based position among parent's ELEMENT children. */
  def nthChildIndex: Int =
    if (parent == null) 1 else parent.elemChildren.indexWhere(_ eq this) + 1

  /** Depth-first pre-order over descendant elements, self excluded. */
  def descendants: Iterator[HElem] = new Iterator[HElem] {
    private val stack = mutable.Stack[HNode]()
    stack.pushAll(children.reverseIterator)
    private var nextElem: HElem = advance()
    private def advance(): HElem = {
      while (stack.nonEmpty) {
        stack.pop() match {
          case e: HElem =>
            stack.pushAll(e.children.reverseIterator)
            return e
          case _ => ()
        }
      }
      null
    }
    def hasNext: Boolean = nextElem != null
    def next(): HElem = { val e = nextElem; nextElem = advance(); e }
  }

  /** Own + descendant text with runs of whitespace collapsed to single
    * spaces and trimmed — the normalized form the extraction pipeline
    * emits per block. */
  def normalizedText: String = {
    val sb = new java.lang.StringBuilder
    def walk(n: HNode): Unit = n match {
      case t: HText => HElem.appendCollapsed(sb, t.data)
      case e: HElem => e.children.foreach(walk)
      case _        => ()
    }
    children.foreach(walk)
    sb.toString
  }
}

object HElem {
  private[html] val Ws = java.util.regex.Pattern.compile("\\s+")

  @inline private def isWs(c: Char): Boolean =
    c <= ' ' && (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')

  /** Append one text node to a whitespace-collapsed builder, preceded by
    * one space unless the builder is empty. Whitespace is Java regex
    * `\s`, `[ \t\n\x0B\f\r]`, and a node boundary counts as
    * whitespace, so the pending space carries across nodes: appending
    * nodes one by one gives `split("\\s+").filter(_.nonEmpty)
    * .mkString(" ")` of the nodes joined by spaces. Text between two
    * non-whitespace chars that holds only single spaces is already
    * collapsed, so each such segment is copied in bulk (a clean node
    * whole). */
  private[html] def appendCollapsed(out: java.lang.StringBuilder, s: String): Unit = {
    val n = s.length
    var i = 0
    while (i < n && isWs(s.charAt(i))) i += 1
    while (i < n) {
      val start = i
      while (i < n && (!isWs(s.charAt(i)) ||
          (s.charAt(i) == ' ' && i + 1 < n && !isWs(s.charAt(i + 1))))) i += 1
      if (out.length > 0) out.append(' ')
      if (start == 0 && i == n) out.append(s) else out.append(s, start, i)
      while (i < n && isWs(s.charAt(i))) i += 1
    }
  }

  def apply(tag: String, attrs: Map[String, String] = Map.empty): HElem =
    new HElem(tag, attrs)
}
