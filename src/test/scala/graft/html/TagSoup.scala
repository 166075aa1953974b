package graft.html

import scala.util.Random

/** Seeded tag-soup pages for the parser's fuzz and oracle checks. */
object TagSoup {

  private val StackTags = Vector("ul", "ol", "li", "dl", "dt", "dd", "table", "tr",
    "td", "th", "p", "div", "span", "main")

  /** 40 random constructs aimed at the tree builder's stack manipulation:
    * implied end tags for li/dt/dd/td/th/tr, decorated close tags and
    * stray closers. */
  def stackSoup(rng: Random): String = {
    val sb = new StringBuilder
    (0 until 40).foreach { _ =>
      val t = StackTags(rng.nextInt(StackTags.length))
      rng.nextInt(5) match {
        case 0 => sb.append(s"<$t>word ")
        case 1 => sb.append(s"</$t>")
        case 2 => sb.append(s"""</$t class="x">""")
        case 3 => sb.append(s"<$t>")
        case _ => sb.append("text ")
      }
    }
    sb.toString
  }

  private val Tags = StackTags ++ Vector("article", "section", "body", "html", "head", "h1", "h2",
    "a", "b", "cite", "title", "script", "style", "textarea", "noscript", "form", "button",
    "svg", "math", "foreignObject", "desc", "mi", "mrow", "path", "annotation-xml", "br",
    "img", "meta", "hr", "input", "nav", "footer", "aside", "blockquote", "pre", "DIV", "Li",
    "SCRIPT", "x-custom", "\u0130", "\u212Aey", "scr\u0131pt", "td2")
  private val AttrNames = Vector("class", "id", "name", "content", "CLASS", "data-k", "onclick",
    "href", "", "\u212A", "x\"y")
  private val Values = Vector("abstract", "ref", "doi", "x", "citation_doi", "10.1234/abc.1",
    "Ref-list", "a &amp; b", "&#146;", "", "a b", "DC.Identifier", "citation", "d", "oi")
  private val Texts = Vector("word ", "text", " ", "\n", "\t", "\u00a0", "\u2028", "\u3000",
    "\u001c", "&amp;", "&#x1F600;", "&#99999999999;", "&bogus;", "&#;", "a < b", "<3", "& ",
    "Abstract", "10.5555/x.1 ", "Lorem ipsum dolor sit amet, consectetur adipiscing elit ")

  /** A wider soup: start tags with attributes in every quoting form,
    * repeated names and self-closing slashes; decorated and stray close
    * tags; comments and doctypes; entities, both whitespace definitions,
    * rawtext and RCDATA elements, foreign content and its integration
    * points, and non-ASCII tag names. */
  def hostile(rng: Random): String = {
    def pick[T](v: Vector[T]): T = v(rng.nextInt(v.length))
    val sb = new StringBuilder
    (0 until 10 + rng.nextInt(60)).foreach { _ =>
      rng.nextInt(12) match {
        case 0 | 1 | 2 =>
          sb.append('<').append(pick(Tags))
          (0 until rng.nextInt(4)).foreach { _ =>
            val name = pick(AttrNames)
            val v = pick(Values)
            sb.append(rng.nextInt(5) match {
              case 0 => s""" $name="$v""""
              case 1 => s" $name='$v'"
              case 2 => s" $name=${v.replace(' ', '_')}"
              case 3 => s" $name = \"$v\""
              case _ => s" $name"
            })
          }
          sb.append(if (rng.nextInt(5) == 0) "/>" else ">")
        case 3 | 4 =>
          val t = pick(Tags)
          sb.append(rng.nextInt(4) match {
            case 0 => s"""</$t class="x">"""
            case 1 => s"</ $t >"
            case 2 => s"</$t/>"
            case _ => s"</$t>"
          })
        case 5 =>
          sb.append(rng.nextInt(10) match {
            case 0 => "<!-- open"
            case 1 => "<!DOCTYPE html>"
            case 2 => "<!---->"
            case _ => "<!-- c -->"
          })
        case _ => sb.append(pick(Texts))
      }
    }
    sb.toString
  }
}
