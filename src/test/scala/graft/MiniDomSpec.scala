package graft

import graft.parse.MiniDom
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
}
