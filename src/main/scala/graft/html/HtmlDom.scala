package graft.html

import scala.collection.mutable

/** One parsed page as a flat struct-of-arrays arena, after the
  * arena-allocated tree of lexbor, the engine behind the reference's
  * selectolax. Nodes are numbered in
  * document pre-order (node 0 is the root), so a node's subtree is the
  * index range `[x, end(x))`, its first child is `x + 1` when that is
  * below `end(x)`, and its next sibling is `end(x)` when that is below
  * its parent's end. Per node the arena holds only ints: the interned
  * name id (or `HtmlDom.Text`), the parent, the subtree end and a range.
  * A text node's range is its characters in `buf`; an element's range is
  * its attributes in the attribute arrays, in source order, each a name
  * id and a value range in `buf`.
  *
  * `buf` starts with the page's characters, so text and attribute values
  * are ranges over the page itself; only runs holding an entity are
  * decoded, into the tail of `buf`. Each text node also carries its
  * classifier length (`HtmlDom.classifierLen`), computed once at parse
  * time.
  *
  * The tree is parse-then-read: `HtmlParser` fills it and every other
  * reader (the boilerplate classifier, `Selectors`) only reads it, by
  * node index.
  */
final class HtmlDom private[html] (html: String) {
  import HtmlDom._

  private[html] var buf: Array[Char] = {
    val a = new Array[Char](html.length + 64)
    html.getChars(0, html.length, a, 0)
    a
  }
  private var bufLen: Int = html.length

  private var nodes = 0
  private[html] var tags = new Array[Int](16 + html.length / 16)
  private[html] var parents = new Array[Int](tags.length)
  private[html] var ends = new Array[Int](tags.length)
  private[html] var froms = new Array[Int](tags.length)
  private[html] var tos = new Array[Int](tags.length)
  private[html] var lens = new Array[Int](tags.length)

  private var nAttrs = 0
  private[html] var attrNames = new Array[Int](16 + html.length / 32)
  private[html] var attrFroms = new Array[Int](attrNames.length)
  private[html] var attrTos = new Array[Int](attrNames.length)

  // names outside the static table, interned per page by their lowercase form
  private val extraIds = new java.util.HashMap[String, Integer]
  private val extraNames = mutable.ArrayBuffer.empty[String]

  /** Number of nodes, the root included. */
  def size: Int = nodes
  def isText(x: Int): Boolean = tags(x) == Text

  /** Value of an element's attribute (name matched lowercase). */
  def attr(x: Int, attrName: String): Option[String] = {
    val a = attrIndex(x, nameId(attrName))
    if (a < 0) None else Some(attrValue(a))
  }

  private[html] def attrIndex(x: Int, id: Int): Int = {
    var a = froms(x)
    val e = tos(x)
    while (a < e) { if (attrNames(a) == id) return a; a += 1 }
    -1
  }

  private[html] def attrValue(a: Int): String =
    new String(buf, attrFroms(a), attrTos(a) - attrFroms(a))

  private[html] def name(id: Int): String =
    if (id == Text) "#text" else if (id < Names.length) Names(id) else extraNames(id - Names.length)

  /** Id of a lowercase name, or `Absent` when no node of this page has it. */
  private[html] def nameId(lower: String): Int = {
    val id = lookup(lower.toCharArray, 0, lower.length)
    if (id >= 0) id else {
      val e = extraIds.get(lower)
      if (e == null) Absent else e.intValue
    }
  }

  /** Id of the name in `cs[s, e)`, lowercased as `toLowerCase(Locale.ROOT)`
    * does; names outside the static table get a page-local id. */
  private[html] def intern(cs: Array[Char], s: Int, e: Int): Int = {
    val known = lookup(cs, s, e)
    if (known >= 0) known else {
      val lower = new String(cs, s, e - s).toLowerCase(java.util.Locale.ROOT)
      val id = nameId(lower) // the static table again: KELVIN SIGN lowercases to k
      if (id != Absent) id else {
        extraNames += lower
        extraIds.put(lower, nameCount - 1)
        nameCount - 1
      }
    }
  }

  /** `intern` without adding a name: `Absent` when no node has it. */
  private[html] def find(cs: Array[Char], s: Int, e: Int): Int = {
    val known = lookup(cs, s, e)
    if (known >= 0) known else nameId(new String(cs, s, e - s).toLowerCase(java.util.Locale.ROOT))
  }

  /** One past the largest name id in use on this page. */
  private[html] def nameCount: Int = Names.length + extraNames.length

  private[html] def addNode(tag: Int, parent: Int, from: Int, to: Int, len: Int): Int = {
    if (nodes == tags.length) {
      val c = nodes * 2
      tags = java.util.Arrays.copyOf(tags, c)
      parents = java.util.Arrays.copyOf(parents, c)
      ends = java.util.Arrays.copyOf(ends, c)
      froms = java.util.Arrays.copyOf(froms, c)
      tos = java.util.Arrays.copyOf(tos, c)
      lens = java.util.Arrays.copyOf(lens, c)
    }
    val x = nodes
    tags(x) = tag; parents(x) = parent; ends(x) = x + 1
    froms(x) = from; tos(x) = to; lens(x) = len
    nodes += 1
    x
  }

  private[html] def attrCount: Int = nAttrs

  private[html] def addAttr(id: Int, from: Int, to: Int): Unit = {
    if (nAttrs == attrNames.length) {
      val c = nAttrs * 2
      attrNames = java.util.Arrays.copyOf(attrNames, c)
      attrFroms = java.util.Arrays.copyOf(attrFroms, c)
      attrTos = java.util.Arrays.copyOf(attrTos, c)
    }
    attrNames(nAttrs) = id; attrFroms(nAttrs) = from; attrTos(nAttrs) = to
    nAttrs += 1
  }

  /** Append decoded characters to `buf`; returns where they start. */
  private[html] def appendChars(sb: java.lang.StringBuilder): Int = {
    val at = bufLen
    if (at + sb.length > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, at + sb.length))
    sb.getChars(0, sb.length, buf, at)
    bufLen += sb.length
    at
  }
}

object HtmlDom {

  /** Name id of text nodes. */
  final val Text = -1
  /** Name id that no node has (a name absent from the page). */
  final val Absent = -2

  // per-tag flags
  final val Block = 1       // a block the classifier scores and blockTexts splits at
  final val Drop = 2        // a subtree whose text is never content
  final val Container = 4   // a main-content candidate
  final val Void = 8        // never has children
  final val RawText = 16    // text up to the matching close tag (RAWTEXT or RCDATA)
  final val Undecoded = 32  // RAWTEXT: entities stay as written (script, style)
  final val PCloser = 64    // opening it implicitly closes an open <p>
  final val Integration = 128 // HTML integration point inside svg/math
  final val Foreign = 256   // svg, math

  // the names the code refers to, first in the table so their ids are constants
  final val Root = 0
  final val A = 1
  final val P = 2
  final val H1 = 3
  final val Title = 4
  final val Meta = 5
  final val Cite = 6
  final val Svg = 7
  final val MathMl = 8
  final val Class = 9
  final val Id = 10
  final val NameAttr = 11
  final val Content = 12

  private val B = Block
  private val D = Drop
  private val C = Container
  private val PC = PCloser

  /** (name, flags, family): `family` is the name's bit among the tags that
    * implied end tags close or stop at (see `closes`). Common tag and
    * attribute names are listed too, so most pages intern nothing. */
  private val Table: Array[(String, Int, Int)] = Array(
    ("#root", 0, 0), ("a", 0, 0), ("p", B | PC, 0), ("h1", B | PC, 0),
    ("title", RawText, 0), ("meta", Void, 0), ("cite", 0, 0),
    ("svg", D | Foreign, 0), ("math", Foreign, 0),
    ("class", 0, 0), ("id", 0, 0), ("name", 0, 0), ("content", 0, 0),
    ("li", B, 1), ("ul", B | PC, 2), ("ol", B | PC, 4), ("dt", B, 8), ("dd", B, 16),
    ("dl", PC, 32), ("td", B | C, 64), ("th", B, 128), ("tr", B, 256),
    ("table", B | PC, 512),
    ("div", B | C | PC, 0), ("article", B | C | PC, 0), ("main", B | C | PC, 0),
    ("section", B | C | PC, 0), ("h2", B | PC, 0), ("h3", B | PC, 0), ("h4", B | PC, 0),
    ("h5", B | PC, 0), ("h6", B | PC, 0), ("blockquote", B | C | PC, 0), ("pre", B | PC, 0),
    ("header", B | PC, 0), ("footer", B | PC, 0), ("nav", B | PC, 0), ("aside", B | PC, 0),
    ("body", B | C, 0), ("figcaption", B, 0),
    ("address", PC, 0), ("fieldset", PC, 0), ("form", D | PC, 0), ("hr", Void | PC, 0),
    ("script", D | RawText | Undecoded, 0), ("style", D | RawText | Undecoded, 0),
    ("noscript", D, 0), ("template", D, 0), ("iframe", D, 0), ("button", D, 0),
    ("select", D, 0), ("option", D, 0), ("textarea", RawText, 0),
    ("area", Void, 0), ("base", Void, 0), ("br", Void, 0), ("col", Void, 0),
    ("embed", Void, 0), ("img", Void, 0), ("input", Void, 0), ("link", Void, 0),
    ("param", Void, 0), ("source", Void, 0), ("track", Void, 0), ("wbr", Void, 0),
    ("foreignobject", Integration, 0), ("desc", Integration, 0),
    ("annotation-xml", Integration, 0), ("mi", Integration, 0), ("mo", Integration, 0),
    ("mn", Integration, 0), ("ms", Integration, 0), ("mtext", Integration, 0),
    ("html", 0, 0), ("head", 0, 0), ("span", 0, 0), ("b", 0, 0), ("i", 0, 0), ("em", 0, 0),
    ("strong", 0, 0), ("code", 0, 0), ("sup", 0, 0), ("sub", 0, 0), ("href", 0, 0),
    ("src", 0, 0), ("alt", 0, 0), ("rel", 0, 0), ("type", 0, 0), ("lang", 0, 0),
    ("charset", 0, 0), ("onclick", 0, 0), ("width", 0, 0), ("height", 0, 0))

  private[html] val Names: Array[String] = Table.map(_._1)
  private val Flags: Array[Int] = Table.map(_._2)
  private val Family: Array[Int] = Table.map(_._3)

  /** Implied end tags (HTML5 tree construction) for an opening tag:
    * the family bits of the open siblings it closes and of the scope
    * boundaries that stop the search. Unclosed li/td/tr/dt/dd are
    * ubiquitous on real pages; without this they nest into each other and
    * blockTexts would drop every sibling's text except the last. */
  private val (closesBits, boundBits): (Array[Int], Array[Int]) = {
    val rules = Map(
      "li" -> (("li", "ul ol")), "dt" -> (("dt dd", "dl")), "dd" -> (("dt dd", "dl")),
      "td" -> (("td th", "tr table")), "th" -> (("td th", "tr table")), "tr" -> (("tr", "table")))
    def bits(names: String) = names.split(' ').map(n => Family(Names.indexOf(n))).reduce(_ | _)
    (Names.map(n => rules.get(n).fold(0)(r => bits(r._1))),
     Names.map(n => rules.get(n).fold(0)(r => bits(r._2))))
  }

  @inline private[html] def flags(id: Int): Int = if (id >= 0 && id < Flags.length) Flags(id) else 0
  @inline private[html] def family(id: Int): Int = if (id >= 0 && id < Family.length) Family(id) else 0
  @inline private[html] def closes(id: Int): Int = if (id < closesBits.length) closesBits(id) else 0
  @inline private[html] def bounds(id: Int): Int = if (id < boundBits.length) boundBits(id) else 0

  // open addressing over the lowercase ASCII spelling
  private val Mask = 1023
  private val NameChars: Array[Array[Char]] = Names.map(_.toCharArray)
  private val Slots: Array[Int] = {
    val s = new Array[Int](Mask + 1)
    Names.indices.foreach { id =>
      var slot = hash(NameChars(id), 0, NameChars(id).length) & Mask
      while (s(slot) != 0) slot = (slot + 1) & Mask
      s(slot) = id + 1
    }
    s
  }

  /** Hash of `cs[s, e)` folded to ASCII lowercase, or -1 when it holds a
    * non-ASCII char: every name in the table is ASCII, so such a name is
    * never in it (the caller lowercases it fully and asks again). */
  private def hash(cs: Array[Char], s: Int, e: Int): Int = {
    var h = 0
    var i = s
    while (i < e) {
      val c = cs(i)
      if (c >= 0x80) return -1
      h = 31 * h + (if (c >= 'A' && c <= 'Z') c + 32 else c)
      i += 1
    }
    (h ^ (h >>> 9)) & Int.MaxValue
  }

  /** Static-table id of `cs[s, e)` folded to lowercase, or -1. */
  private def lookup(cs: Array[Char], s: Int, e: Int): Int = {
    val h = hash(cs, s, e)
    if (h < 0) return -1
    val len = e - s
    var slot = h & Mask
    while (Slots(slot) != 0) {
      val id = Slots(slot) - 1
      val name = NameChars(id)
      if (name.length == len) {
        var k = 0
        while (k < len && {
          val c = cs(s + k)
          (if (c >= 'A' && c <= 'Z') (c + 32).toChar else c) == name(k)
        }) k += 1
        if (k == len) return id
      }
      slot = (slot + 1) & Mask
    }
    -1
  }

  /** `Character.isWhitespace` with an ASCII fast path: the whitespace of
    * the tokenizer and of the classifier length, which also counts
    * U+001C-001F, U+2028 and U+3000 and not NBSP. It differs on purpose
    * from `isWs`, the regex `\s` of the emitted text: the classifier
    * length must stay as it is, or the container pick moves. */
  @inline private[html] def isWhitespace(c: Char): Boolean =
    if (c <= ' ') c == ' ' || (c >= '\t' && c <= '\r') || c >= '\u001c'
    else c >= '\u0080' && Character.isWhitespace(c)

  /** `Character.isLetterOrDigit` with an ASCII fast path. */
  @inline private[html] def isLetterOrDigit(c: Char): Boolean =
    if (c < '\u0080') (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
    else Character.isLetterOrDigit(c)

  /** Length of `cs[s, e)` with whitespace runs collapsed to one char and
    * the ends trimmed: the text weight the boilerplate classifier sums. */
  private[html] def classifierLen(cs: Array[Char], s: Int, e: Int): Int = {
    var count = 0
    var lastWs = true
    var i = s
    while (i < e) {
      if (!isWhitespace(cs(i))) { count += 1; lastWs = false }
      else if (!lastWs) { count += 1; lastWs = true }
      i += 1
    }
    if (lastWs && count > 0) count - 1 else count
  }

  /** Java regex `\s`, `[ \t\n\x0B\f\r]`: the whitespace of emitted text. */
  @inline private[html] def isWs(c: Char): Boolean =
    c <= ' ' && (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')

  /** Append one text node, `cs[s, e)`, to a whitespace-collapsed builder,
    * preceded by one space unless the builder is empty. Whitespace is
    * `isWs`, and a node boundary counts as whitespace, so the pending
    * space carries across nodes: appending nodes one by one gives
    * `split("\\s+").filter(_.nonEmpty).mkString(" ")` of the nodes joined
    * by spaces. Text between two non-whitespace chars that holds only
    * single spaces is already collapsed, so each such segment is copied
    * in bulk (a clean node whole). */
  private[html] def appendCollapsed(out: java.lang.StringBuilder, cs: Array[Char], s: Int, e: Int): Unit = {
    var i = s
    while (i < e && isWs(cs(i))) i += 1
    while (i < e) {
      val start = i
      while (i < e && (!isWs(cs(i)) || (cs(i) == ' ' && i + 1 < e && !isWs(cs(i + 1))))) i += 1
      if (out.length > 0) out.append(' ')
      out.append(cs, start, i - start)
      while (i < e && isWs(cs(i))) i += 1
    }
  }
}
