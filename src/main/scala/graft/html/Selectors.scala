package graft.html

/** CSS selector subset matching the reference's usage
  * (/root/reference/src/webscrapers.py:129-151, :408-417;
  * /root/reference/src/downloaders.py:215-230):
  * tag, `.class`, `#id`, compound (`tag.class#id`), descendant (space),
  * child (`>`), `:nth-child(n)`. `cssFirst` = first match in document
  * order, like selectolax `css_first`.
  */
object Selectors {

  final case class Simple(
      tag: Option[String],
      id: Option[String],
      classes: Set[String],
      nthChild: Option[Int])

  sealed trait Combinator
  case object Descendant extends Combinator
  case object Child extends Combinator

  /** A compiled selector: first simple selector + (combinator, simple)* */
  final case class Selector(head: Simple, rest: List[(Combinator, Simple)])

  def compile(selector: String): Selector = {
    // split on combinators, preserving '>' tokens
    val tokens = selector.trim
      .replace(">", " > ")
      .split("\\s+").filter(_.nonEmpty).toList
    def parseParts(parts: List[String], acc: List[(Combinator, Simple)]): List[(Combinator, Simple)] =
      parts match {
        case Nil => acc.reverse
        case ">" :: simple :: tail => parseParts(tail, (Child, parseSimple(simple)) :: acc)
        case simple :: tail        => parseParts(tail, (Descendant, parseSimple(simple)) :: acc)
      }
    tokens match {
      case Nil => Selector(Simple(None, None, Set.empty, None), Nil)
      case headTok :: tail =>
        Selector(parseSimple(headTok), parseParts(tail, Nil))
    }
  }

  private val NthChild = """:nth-child\((\d+)\)""".r

  private def parseSimple(token: String): Simple = {
    var rest = token
    var nth: Option[Int] = None
    NthChild.findFirstMatchIn(rest).foreach { m =>
      nth = Some(m.group(1).toInt)
      rest = rest.substring(0, m.start) + rest.substring(m.end)
    }
    var tag: Option[String] = None
    var id: Option[String] = None
    val classes = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < rest.length) {
      val kind = rest.charAt(i) match {
        case '.' => i += 1; 'c'
        case '#' => i += 1; 'i'
        case '*' => i += 1; '*'
        case _   => 't'
      }
      val start = i
      while (i < rest.length && rest.charAt(i) != '.' && rest.charAt(i) != '#' &&
             rest.charAt(i) != ':') i += 1
      val name = rest.substring(start, i)
      kind match {
        case 'c' => classes += name
        case 'i' => id = Some(name)
        case 't' if name.nonEmpty => tag = Some(name.toLowerCase(java.util.Locale.ROOT))
        case _   => ()
      }
      if (i < rest.length && rest.charAt(i) == ':') i = rest.length // ignore other pseudos
    }
    Simple(tag, id, classes.toSet, nth)
  }

  /** All matches in document order. */
  def css(dom: HtmlDom, selector: String): Iterator[Int] = {
    val chain = new Chain(dom, compile(selector))
    Iterator.range(1, dom.size).filter(x => !dom.isText(x) && chain.matches(x))
  }

  def cssFirst(dom: HtmlDom, selector: String): Option[Int] = {
    val it = css(dom, selector)
    if (it.hasNext) Some(it.next()) else None
  }

  private final val AnyTag = Int.MinValue

  /** A selector compiled against one page: its simple selectors in an
    * array, each tag resolved to the page's name id once, so a match
    * walks ancestors right-to-left through the chain without rebuilding
    * anything per element. */
  private final class Chain(dom: HtmlDom, sel: Selector) {
    private val simples = (sel.head :: sel.rest.map(_._2)).toArray
    private val combs = sel.rest.map(_._1).toArray // combs(i) links simples(i) -> simples(i+1)
    private val tagIds = simples.map(_.tag.fold(AnyTag)(dom.nameId))

    def matches(x: Int): Boolean = matchesSimple(simples.length - 1, x) && up(x, combs.length - 1)

    private def matchesSimple(k: Int, x: Int): Boolean = {
      val s = simples(k)
      (tagIds(k) == AnyTag || dom.tags(x) == tagIds(k)) &&
        s.id.forall { i => val a = dom.attrIndex(x, HtmlDom.Id); a >= 0 && dom.attrValue(a) == i } &&
        s.classes.forall(hasClass(x, _)) &&
        s.nthChild.forall(_ == nthChildIndex(x))
    }

    /** Whether `cls` is one of the element's class tokens (the class
      * attribute split on runs of regex `\s`). */
    private def hasClass(x: Int, cls: String): Boolean = {
      val a = dom.attrIndex(x, HtmlDom.Class)
      if (a < 0 || cls.isEmpty) return false
      val cs = dom.buf
      val end = dom.attrTos(a)
      var i = dom.attrFroms(a)
      while (i < end) {
        while (i < end && HtmlDom.isWs(cs(i))) i += 1
        val start = i
        while (i < end && !HtmlDom.isWs(cs(i))) i += 1
        if (i - start == cls.length) {
          var k = 0
          while (k < cls.length && cs(start + k) == cls.charAt(k)) k += 1
          if (k == cls.length) return true
        }
      }
      false
    }

    /** 1-based position among the parent's ELEMENT children. */
    private def nthChildIndex(x: Int): Int = {
      var c = dom.parents(x) + 1
      var k = 1
      while (c != x) { if (!dom.isText(c)) k += 1; c = dom.ends(c) }
      k
    }

    private def up(node: Int, idx: Int): Boolean = {
      if (idx < 0) return true
      combs(idx) match {
        case Child =>
          val p = dom.parents(node)
          p > 0 && matchesSimple(idx, p) && up(p, idx - 1)
        case Descendant =>
          var p = dom.parents(node)
          while (p > 0) {
            if (matchesSimple(idx, p) && up(p, idx - 1)) return true
            p = dom.parents(p)
          }
          false
      }
    }
  }
}
