package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.html.{Boilerplate, HElem, HText, HtmlDom, HtmlOracle, HtmlParser, PointerBoilerplate,
  PointerParser, Selectors, TagSoup}

class HtmlSpec extends AnyFunSuite {

  /** One node of a tree's canonical form, in document order: depth, tag
    * (or "#text"), attributes in source order, text. Comments are not
    * part of it: the arena does not store them. */
  private type Token = (Int, String, Seq[(String, String)], String)

  private def canonical(dom: HtmlDom): Vector[Token] = {
    val depth = new Array[Int](dom.size)
    (1 until dom.size).map { x =>
      depth(x) = depth(HtmlOracle.parent(dom, x)) + 1
      if (dom.isText(x)) (depth(x), "#text", Nil, HtmlOracle.text(dom, x))
      else (depth(x), HtmlOracle.tagName(dom, x), HtmlOracle.attrs(dom, x), "")
    }.toVector
  }

  private def canonical(root: HElem): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    def walk(e: HElem, depth: Int): Unit = e.children.foreach {
      case t: HText => out += ((depth, "#text", Nil, t.data))
      case c: HElem => out += ((depth, c.tag, c.attrs.toSeq, "")); walk(c, depth + 1)
      case _ => ()
    }
    walk(root, 1)
    out.result()
  }

  /** Parse with the arena parser and check it against the pointer-DOM
    * oracle: the same tree and the same five extraction fields. Every
    * fixture page of this spec goes through here. */
  private def parse(html: String): HtmlDom = {
    val dom = HtmlParser.parse(html)
    val root = PointerParser.parse(html)
    assert(canonical(dom) == canonical(root), s"tree drift on: ${html.take(300)}")
    assert(Boilerplate.extract(dom) == PointerBoilerplate.extract(root),
      s"extraction drift on: ${html.take(300)}")
    dom
  }

  val page = """<!DOCTYPE html>
<html><head><title>The Page Title</title>
<meta name="citation_doi" content="10.1234/xyz.42">
<style>body { color: red }</style>
<script>var x = "<p>not content</p>";</script>
</head>
<body>
<header><nav><ul>
  <li><a href="/">Home</a></li><li><a href="/about">About</a></li>
  <li><a href="/contact">Contact</a></li>
</ul></nav></header>
<div id="content">
  <h1 class="headline main">A Study of Things</h1>
  <div class="abstract"><p>Abstract</p><p>This work studies the things in depth and at length, with methods.</p></div>
  <main>
    <p>First paragraph of the main content, long enough to count as a real content block for the classifier.</p>
    <p>Second paragraph, also substantive and &amp; entity-laden &lt;ok&gt;, carrying more than enough characters.</p>
  </main>
  <ul class="references">
    <li class="ref"><a href="/paper/1">Smith, J. (2020). Prior work one.</a></li>
    <li class="ref"><a href="/paper/2">Doe, A. (2021). Prior work two.</a></li>
  </ul>
</div>
<footer><p><a href="/tos">Terms</a> | <a href="/privacy">Privacy</a></p></footer>
</body></html>"""

  lazy val dom = parse(page)

  test("fused single-pass extract equals the standalone field heuristics") {
    // extract() computes all fields in one traversal for speed; the find*
    // methods remain the reference implementations — pin the equivalence
    // over a diverse corpus slice so neither can drift
    (0L until 200L).filterNot(graft.corpus.CorpusGen.isPdfDoc).foreach { id =>
      val html = new String(graft.corpus.CorpusGen.genDoc(id)._1.html,
        java.nio.charset.StandardCharsets.UTF_8)
      val root = parse(html)
      val ex = Boilerplate.extract(root)
      assert(ex.title == HtmlOracle.findTitle(root), s"title drift doc $id")
      assert(ex.abstractText == HtmlOracle.findAbstract(root), s"abstract drift doc $id")
      assert(ex.doi == HtmlOracle.findDoi(root, ex.mainText), s"doi drift doc $id")
      assert(ex.citationSpans == HtmlOracle.findCitations(root), s"citations drift doc $id")
    }
    val ex = Boilerplate.extract(dom)
    assert(ex.title == HtmlOracle.findTitle(dom))
    assert(ex.citationSpans == HtmlOracle.findCitations(dom))
  }

  test("fused extract finds fields inside dropped subtrees and case-folded markers") {
    // DropTags subtrees add nothing to the classifier's stats but are
    // still searched for fields, in document order, like the find* walks
    val body = "<main><p>" + "Body text that is long enough to be the main content block. " * 2 +
      "</p></main>"
    val pages = Seq(
      "form h1" -> s"<form><h1>Form Title</h1></form><h1>Later</h1>$body",
      "svg cite" -> s"$body<svg><cite>Svg, A. (2001). Cited inside svg.</cite></svg><p><cite>Plain cite</cite></p>",
      "button doi" -> s"""$body<button class="doi">doi:10.5555/button.1</button>""",
      "noscript abstract" ->
        s"""<noscript><div class="abstract"><p>Abstract</p><p>Hidden abstract text.</p></div></noscript>$body""",
      "upper-case markers" -> (s"""<DIV ID="ABSTRACT-Box"><P>Upper abstract.</P></DIV>$body""" +
        """<SPAN CLASS="Ref">Upper ref.</SPAN><LI ID="Citation_2">Upper citation.</LI>""" +
        """<DIV CLASS="D" ID="OI">10.7777/split.marker</DIV>"""),
      "non-ASCII markers" -> (s"""<section class="Résumé İABSTRACT"><p>Dotted abstract.</p></section>$body""" +
        """<span id="ΣREF-ref">Greek ref.</span><b class="ĐOI" id="dOİ">10.8888/dotted.marker</b>"""))
    pages.foreach { case (name, html) =>
      val root = parse(html)
      val ex = Boilerplate.extract(root)
      assert(ex.title == HtmlOracle.findTitle(root), s"title drift: $name")
      assert(ex.abstractText == HtmlOracle.findAbstract(root), s"abstract drift: $name")
      assert(ex.doi == HtmlOracle.findDoi(root, ex.mainText), s"doi drift: $name")
      assert(ex.citationSpans == HtmlOracle.findCitations(root), s"citations drift: $name")
    }
    def ex(name: String) = Boilerplate.extract(parse(pages.toMap.apply(name)))
    assert(ex("form h1").title.contains("Form Title"))
    assert(ex("svg cite").citationSpans == List("Svg, A. (2001). Cited inside svg.", "Plain cite"))
    assert(ex("button doi").doi.contains("10.5555/button.1"))
    assert(ex("noscript abstract").abstractText.contains("Hidden abstract text."))
    val upper = ex("upper-case markers")
    assert(upper.abstractText.contains("Upper abstract."))
    assert(upper.citationSpans == List("Upper ref.", "Upper citation."))
    assert(upper.doi.contains("10.7777/split.marker"))
    val nonAscii = ex("non-ASCII markers")
    assert(nonAscii.abstractText.contains("Dotted abstract."))
    assert(nonAscii.citationSpans == List("Greek ref."))
    // "dOİ" lowercases to "doi" plus a combining dot, so it is a DOI marker
    assert(nonAscii.doi.contains("10.8888/dotted.marker"))
  }

  test("a repeated attribute keeps its first value") {
    val d = parse(
      """<div class="x" class="abstract" id="a" id="b"><p>Not an abstract.</p></div>""" +
        """<p data-k=1 data-k='2' data-k>v</p>""")
    val div = Selectors.cssFirst(d, "div").get
    assert(HtmlOracle.attrs(d, div) == Seq("class" -> "x", "id" -> "a"))
    assert(Selectors.cssFirst(d, "div.x#a").isDefined)
    assert(Selectors.cssFirst(d, "div.abstract").isEmpty && Selectors.cssFirst(d, "#b").isEmpty)
    assert(d.attr(Selectors.css(d, "p").toList.last, "data-k").contains("1"))
    // the field heuristics read the first class, so this is no abstract block
    assert(Boilerplate.extract(d).abstractText.isEmpty)
    assert(HtmlOracle.findAbstract(d).isEmpty)
  }

  test("full HTML4 named entity set decodes") {
    val d = parse(
      "<body><p>caf&eacute; &Uuml;ber r&eacute;sum&eacute; &alpha;&beta; &euro;9 &frac12; &deg;C &Omega;</p></body>")
    val t = HtmlOracle.normalizedText(d, Selectors.cssFirst(d, "p").get)
    assert(t == "café Über résumé αβ €9 ½ °C Ω", t)
  }

  test("long/zero-padded numeric charrefs decode; out-of-range becomes U+FFFD (round-5 review)") {
    val d = parse(
      "<body><p>&#x0001F600; &#128512; &#x12345678; &#99999999999999; &#x; &nosuchentity;</p></body>")
    val t = HtmlOracle.normalizedText(d, Selectors.cssFirst(d, "p").get)
    // zero-padded hex and plain decimal both hit U+1F600; digit strings
    // past 0x10FFFF (or past Long) are the HTML5 out-of-range error ->
    // U+FFFD; empty digits and unknown names stay literal text
    assert(t == "😀 😀 � � &#x; &nosuchentity;", t)
  }

  test("title is RCDATA: entities decode; script/style stay raw") {
    val d = parse(
      "<html><head><title>Fish &amp; Chips &#8211; Review</title></head><body><p>x</p></body></html>")
    assert(HtmlOracle.findTitle(d).contains("Fish & Chips – Review"))
    val s = parse("<body><script>a &amp; b</script><p>t</p></body>")
    assert(HtmlOracle.subtreeText(s, Selectors.cssFirst(s, "script").get) == "a &amp; b")
  }

  test("rawtext close-tag must be a real closer (no prefix match)") {
    val d = parse(
      """<body><script>var s="</scriptend>";</script><p>after</p></body>""")
    val ex = Boilerplate.extract(d)
    assert(!ex.mainText.contains("scriptend"))
    val t = parse("<head><title>a</titleX>b</title></head><body><p>c</p></body>")
    assert(HtmlOracle.findTitle(t).contains("a</titleX>b"))
  }

  test("self-closing syntax is ignored on HTML non-void elements, honored in foreign content") {
    // HTML5 tree construction (and the reference's selectolax/lexbor
    // engine): '/' on a non-void HTML start tag is IGNORED — '<title/>'
    // still enters RCDATA and owns the following text (round-6 review:
    // honoring it dropped XHTML-styled titles into body)
    val d = parse(
      "<html><head><title/>Actual Title</title></head><body><p>x</p></body></html>")
    assert(HtmlOracle.findTitle(d).contains("Actual Title"))
    // '<script/>' is RAWTEXT until a real closer — markup after it must
    // not leak into extracted text
    val s = parse(
      """<body><script src="x.js"/>var leaked = "<b>no</b>";</script>""" +
        "<p>kept paragraph with plenty of words so the boilerplate " +
        "classifier scores this block as the page's main content</p></body>")
    val ex = Boilerplate.extract(s)
    assert(!ex.mainText.contains("leaked"))
    assert(ex.mainText.contains("kept"))
    // but in FOREIGN content (svg/math) self-closing is real: '<path/>'
    // closes, so the sibling text is NOT swallowed into the path element
    val f = parse(
      "<body><svg><path d='M0 0'/></svg><p>after the svg a long enough " +
        "paragraph of real words that the classifier keeps as main text</p></body>")
    assert(HtmlOracle.subtreeText(f, Selectors.cssFirst(f, "path").get) == "")
    assert(Boilerplate.extract(f).mainText.contains("after the svg"))
    // HTML INTEGRATION POINTS: inside svg's foreignObject content is
    // HTML again, so '<p/>' there is ignored and owns the caption text
    val ip = parse(
      "<body><svg><foreignObject><p/>caption text here</p></foreignObject></svg></body>")
    assert(HtmlOracle.subtreeText(ip, Selectors.cssFirst(ip, "p").get) == "caption text here")
    // MathML TEXT integration points (mi/mo/mn/ms/mtext, round-6 ADVICE):
    // content under <math><mi> is HTML again, so '<b/>' does NOT
    // self-close and owns the following text — lexbor parity
    val mi = parse(
      "<body><math><mi><b/>bold inside mi</b></mi></math></body>")
    assert(HtmlOracle.subtreeText(mi, Selectors.cssFirst(mi, "b").get) == "bold inside mi")
    // ...while a non-integration-point MathML element stays foreign:
    // '<b/>' under <math><mrow> really closes and swallows nothing
    val mrow = parse(
      "<body><math><mrow><b/>sibling text</mrow></math></body>")
    assert(HtmlOracle.subtreeText(mrow, Selectors.cssFirst(mrow, "b").get) == "")
  }

  test("pathologically deep nesting degrades gracefully, never kills the task") {
    val deep = "<body>" + "<div>" * 100000 + "content here that is long enough to score" +
      "</div>" * 100000 + "</body>"
    val page = graft.model.PageRecord("https://x.example/deep",
      new java.sql.Timestamp(0), deep.getBytes("UTF-8"), "", "en")
    val doc = graft.pipeline.Extractor.extract(page) // must not throw (Error included)
    assert(doc.url == "https://x.example/deep")
  }

  test("DOI meta matches Dublin Core capitalization variants") {
    val d = parse(
      """<head><meta name="DC.Identifier" content="10.1234/abc.1"></head><body><p>x</p></body>""")
    assert(Boilerplate.extract(d).doi.contains("10.1234/abc.1"))
  }

  test("parser builds the tree and decodes entities") {
    val p2 = Selectors.css(dom, "main p").toList
    assert(p2.length == 2)
    assert(HtmlOracle.normalizedText(dom, p2(1)).contains("& entity-laden <ok>"))
  }

  test("script/style content is not treated as markup") {
    assert(Selectors.css(dom, "script p").isEmpty)
  }

  test("selector subset: tag, .class, #id, child, nth-child") {
    assert(Selectors.cssFirst(dom, "h1.headline").map(HtmlOracle.normalizedText(dom, _)) ==
      Some("A Study of Things"))
    assert(Selectors.cssFirst(dom, "#content > main > p").isDefined)
    assert(Selectors.cssFirst(dom, "ul.references > li:nth-child(2)")
      .map(HtmlOracle.normalizedText(dom, _)) == Some("Doe, A. (2021). Prior work two."))
    // reference-shaped selectors (webscrapers.py:408-417 uses deep descent)
    assert(Selectors.cssFirst(dom, "div#content main p").isDefined)
  }

  test("text(strip) concatenates stripped text nodes, selectolax-style") {
    val h1 = Selectors.cssFirst(dom, "h1").get
    assert(HtmlOracle.subtreeText(dom, h1, strip = true) == "A Study of Things")
    // Python's str.strip() also removes NBSP, NEL, U+2007 and U+202F,
    // which Java's String.strip() keeps
    val d = parse("<h1>\u00a0A Study\u0085<b>\u2007of\u202f</b> Things\u00a0</h1>")
    assert(HtmlOracle.subtreeText(d, Selectors.cssFirst(d, "h1").get, strip = true) == "A StudyofThings")
  }

  // text fragments over both whitespace definitions: regex \s (six ASCII
  // chars, what emitted text collapses) and Character.isWhitespace (which
  // adds U+001C-001F, U+2028 and U+3000 but not NBSP: the classifier length)
  private val frags = Vector("a", "Bc", "d e", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\r\n",
    "\u00a0", "\u0085", "\u2028", "\u3000", "x\ty", "", "z ", "\u001c", "\u001f")

  test("normalizedText equals the regex collapse of the space-joined text nodes (seeded property)") {
    // the reference collapse: every text node followed by a space, then
    // runs of Java regex \s collapsed and the ends trimmed
    def collapse(nodes: Seq[String]): String =
      nodes.map(_ + " ").mkString.split("\\s+").filter(_.nonEmpty).mkString(" ")
    val rnd = new scala.util.Random(10)
    (1 to 5000).foreach { _ =>
      val texts = Seq.newBuilder[String]
      // an empty comment after each run keeps adjacent runs two text nodes
      def build(depth: Int): String = {
        val sb = new StringBuilder("<span>")
        (0 until rnd.nextInt(4)).foreach { _ =>
          if (depth < 3 && rnd.nextInt(3) == 0) sb.append(build(depth + 1))
          else {
            val t = Vector.fill(rnd.nextInt(4))(frags(rnd.nextInt(frags.length))).mkString
            texts += t
            sb.append(t).append("<!---->")
          }
        }
        sb.append("</span>").toString
      }
      val dom = HtmlParser.parse(build(0))
      val nodes = texts.result()
      assert(HtmlOracle.normalizedText(dom, 1) == collapse(nodes), nodes.map(_.map(_.toInt)).toString)
    }
  }

  test("the precomputed classifier length equals the pointer walk's normLen (seeded property)") {
    // normLen counts Character.isWhitespace runs, not regex \s ones: a
    // "fix" that made the two agree would move the container pick
    val rnd = new scala.util.Random(11)
    (1 to 5000).foreach { _ =>
      val t = Vector.fill(1 + rnd.nextInt(6))(frags(rnd.nextInt(frags.length))).mkString
      if (t.nonEmpty) {
        val dom = HtmlParser.parse("<p>" + t + "</p>")
        assert(dom.size == 3 && HtmlOracle.text(dom, 2) == t)
        assert(HtmlOracle.textLen(dom, 2) == PointerBoilerplate.normLen(t), t.map(_.toInt).toString)
      }
    }
  }

  test("the arena tree and extraction equal the pointer-DOM oracle (seeded property)") {
    val corpus = (0L until 5000L).filterNot(graft.corpus.CorpusGen.isPdfDoc).iterator.map(id =>
      new String(graft.corpus.CorpusGen.genDoc(id)._1.html, java.nio.charset.StandardCharsets.UTF_8))
    val stack = { val rng = new scala.util.Random(7); Iterator.fill(300)(TagSoup.stackSoup(rng)) }
    val hostile = { val rng = new scala.util.Random(12); Iterator.fill(5000)(TagSoup.hostile(rng)) }
    var pages = 0
    (corpus ++ stack ++ hostile).foreach { html => parse(html); pages += 1 }
    assert(pages == 3500 + 300 + 5000)
  }

  test("boilerplate classifier picks main over nav/footer/body") {
    val main = HtmlOracle.mainContainer(dom)
    assert(main.isDefined)
    assert(HtmlOracle.tagName(dom, main.get) == "main")
  }

  test("extraction fields: title, abstract, doi, citations") {
    val ex = Boilerplate.extract(dom)
    assert(ex.title == Some("A Study of Things"))
    assert(ex.abstractText ==
      Some("This work studies the things in depth and at length, with methods."))
    assert(ex.doi == Some("10.1234/xyz.42"))
    assert(ex.citationSpans == List(
      "Smith, J. (2020). Prior work one.",
      "Doe, A. (2021). Prior work two."))
    assert(ex.mainText ==
      "First paragraph of the main content, long enough to count as a real content block for the classifier.\n" +
      "Second paragraph, also substantive and & entity-laden <ok>, carrying more than enough characters.")
  }

  test("void and self-closing tags do not break nesting") {
    val d = parse("<div><p>a<br>b</p><img src=x><p>c</p></div>")
    assert(Selectors.css(d, "div > p").length == 2)
  }

  test("unclosed and stray close tags are tolerated") {
    val d = parse("<div><p>one<p>two</span></div>")
    assert(Selectors.css(d, "p").length == 2)
  }

  test("unclosed li/td/tr get implied end tags; no sibling text is lost") {
    val d = parse("<ul><li>one<li>two<li>three</ul>")
    assert(Selectors.css(d, "ul > li").length == 3)
    assert(Boilerplate.blockTexts(d, Selectors.cssFirst(d, "ul").get) ==
      List("one", "two", "three"))
    val t = parse(
      "<table><tr><td>a<td>b<tr><td>c</table>")
    assert(Selectors.css(t, "tr").length == 2)
    assert(Selectors.css(t, "td").length == 3)
    // the boundary holds: a li inside a NESTED list never closes the outer li
    val nested = parse("<ul><li>outer<ul><li>inner</ul></li></ul>")
    assert(Selectors.css(nested, "ul > li > ul > li").length == 1)
  }

  test("close tags with attributes or trailing slash still close") {
    val d = parse("""<div><p>a</p></div class="x"><p>b</p>""")
    // the decorated close ends the div, so the second p is its SIBLING
    assert(Selectors.css(d, "div > p").length == 1)
    assert(Selectors.css(d, "p").length == 2)
  }

  test("C1 numeric charrefs map through Windows-1252 (HTML5 table)") {
    val d = parse("<p>it&#146;s &#147;quoted&#148; &#151; ok</p>")
    assert(HtmlOracle.normalizedText(d, Selectors.cssFirst(d, "p").get) ==
      "it’s “quoted” — ok")
    // unmapped C1 points pass through; normal refs unaffected
    val ab = parse("<p>&#65;&#x42;</p>")
    assert(HtmlOracle.normalizedText(ab, HtmlOracle.elements(ab).next()) == "AB")
  }

  test("mixed content: direct text around block children is emitted, in order") {
    val d = parse(
      "<main>Intro sentence before the list.<p>para one</p>tail <b>note</b><p>para two</p></main>")
    val main = Selectors.cssFirst(d, "main").get
    assert(Boilerplate.blockTexts(d, main) ==
      List("Intro sentence before the list.", "para one", "tail note", "para two"))
  }

  test("inline script/style never leak into title or citation spans") {
    val page = """<html><body>
      <h1>Real Title <script>track("h1");</script></h1>
      <main><p>Body text long enough to be the main content of this page, clearly.</p></main>
      <div class="ref">Smith 2020 <script>clickRef(1);</script></div>
      </body></html>"""
    val ex = Boilerplate.extract(parse(page))
    assert(ex.title.contains("Real Title"))
    assert(ex.citationSpans == List("Smith 2020"))
  }
}
