package graft

import graft.parse.{DomNode, MiniDom}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalatest.funsuite.AnyFunSuite

class MiniDomSpec extends AnyFunSuite {

  test("descendants walk in document order; strippedText follows bs4 get_text(strip=True)") {
    val dom = MiniDom.parse(
      """<div id="a"><p> Hello&nbsp;</p><span class="x">  world </span>""" +
        """<div id="b"><p>!</p><input name="q"/></div></div> tail """)
    assert(dom.descendants.map(_.tag).toSeq == Seq("div", "p", "span", "div", "p", "input"))
    assert(dom.find("div").flatMap(_.attr("id")).contains("a"))
    assert(dom.findAll("div").flatMap(_.attr("id")) == Seq("a", "b"))
    assert(dom.findAll("p").map(_.strippedText) == Seq("Hello", "!"))
    assert(dom.strippedText == "Helloworld!tail")
  }

  test("10^5-deep nesting: find, findAll and strippedText do not overflow the stack") {
    val depth = 100000
    val dom = MiniDom.parse("<div>" * depth + "<span>x</span>" + "</div>" * depth)
    assert(dom.find("span").map(_.strippedText).contains("x"))
    assert(dom.findAll("div").size == depth)
    assert(dom.strippedText == "x")
  }

  test("stray closes are skipped in O(1): 2·10^4 open divs and 10^5 stray closes parse within 5 s") {
    val opens = 20000
    val html = "<div>" * opens + "x" + "</span>" * 100000
    val t0 = System.nanoTime()
    val dom = MiniDom.parse(html)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(dom.findAll("div").size == opens && dom.strippedText == "x")
    assert(secs < 5.0, f"parse took $secs%.1f s")
  }
}

/** MiniDom.parse against a reference tree built from the same token
  * sequence by the original close handling: a close walks up from the
  * current node towards the root and, when it meets an open element of
  * its tag, pops to that element's parent. */
object MiniDomProps extends Properties("MiniDom") {

  sealed trait Tok
  final case class Open(tag: String, id: Int) extends Tok
  final case class Close(tag: String) extends Tok
  final case class Void(tag: String) extends Tok
  final case class Text(s: String) extends Tok

  /** A node as plain data: tag, attributes, text, children. */
  final case class Tree(tag: String, attrs: Map[String, String], text: String, kids: Seq[Tree])

  private def tree(n: DomNode): Tree =
    Tree(n.tag, n.attrs, n.textContent, n.children.map(tree).toSeq)

  private val containers = Seq("div", "span", "p", "b")
  private val voids = Seq("br", "img", "input")
  private val genTok: Gen[Tok] = Gen.frequency(
    4 -> Gen.zip(Gen.oneOf(containers), Gen.choose(0, 9)).map { case (t, i) => Open(t, i) },
    4 -> Gen.oneOf(containers ++ voids).map(Close(_)),
    1 -> Gen.oneOf(voids).map(Void(_)),
    2 -> Gen.alphaStr.map(s => Text(s.take(4))))

  private def render(toks: Seq[Tok]): String = toks.map {
    case Open(t, i) => s"""<$t id="$i">"""
    case Close(t) => s"</$t>"
    case Void(t) => s"<$t/>"
    case Text(s) => s
  }.mkString

  /** The reference: the tree the original walk builds from `toks`. */
  private def reference(toks: Seq[Tok]): DomNode = {
    val root = new DomNode("root", Map.empty, null)
    var current = root
    val pending = new StringBuilder
    def flush(): Unit = if (pending.nonEmpty) {
      val tn = new DomNode("#text", Map.empty, current)
      tn.textContent = pending.toString
      current.children += tn
      pending.clear()
    }
    toks.foreach {
      case Text(s) => pending ++= s
      case Close(t) =>
        flush()
        var n = current
        while (n != root && n.tag != t) n = n.parent
        if (n != root) current = n.parent
      case Void(t) =>
        flush()
        current.children += new DomNode(t, Map.empty, current)
      case Open(t, i) =>
        flush()
        val node = new DomNode(t, Map("id" -> i.toString), current)
        current.children += node
        current = node
    }
    flush()
    root
  }

  property("parse builds the original walk's tree") =
    Prop.forAll(Gen.listOf(genTok)) { toks =>
      tree(MiniDom.parse(render(toks))) == tree(reference(toks))
    }
}
