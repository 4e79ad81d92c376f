package graft

import graft.parse.PageParser
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Golden-fixture parity with the reference extractor (FIXTURES.md §3).
  * The fixture HTML is read from the read-only reference checkout at
  * runtime — reference/template/table.html is the same one-resultbox page
  * the reference's parser was built against (fpds_enhanced_extractor.py:
  * 204-276). */
class PageParserSpec extends AnyFunSuite with GoldenFixtureReport {

  private val tablePath = Paths.get("/root/reference/template/table.html")
  protected def goldenFiles = Seq(tablePath)
  private def tableHtml: String = new String(Files.readAllBytes(tablePath), "UTF-8")

  test("golden table.html: resultbox fields match the reference field set") {
    assume(Files.exists(tablePath))
    val fields = PageParser.resultboxFields(tableHtml).toMap
    assert(fields.contains("award_id_mod"))
    assert(fields("award_id_mod").contains("0007"))
    assert(fields("award_type") == "DELIVERY ORDER")
    assert(fields("legal_business_name") == "RENOVA-SOVEREIGN JOINT VENTURE")
    assert(fields("contracting_agency") == "DEPT OF THE NAVY")
    assert(fields("date_signed") == "April 05, 2023")
    assert(fields("action_obligation") == "$180,963.1")
  }

  test("golden table.html: view-link params parse (F2)") {
    assume(Files.exists(tablePath))
    val params = PageParser.viewLinkParams(tableHtml)
    assert(params("agencyID") == "9700")
    assert(params("PIID") == "0007")
    assert(params("modNumber") == "6")
    assert(params("idvPIID") == "N4008516D2290")
    assert(params("contractType") == "AWARD")
    assert(params("docType") == "C")
  }

  test("clean_field_name matches reference semantics (F1)") {
    assert(PageParser.cleanFieldName("Award ID (Mod#):") == "award_id_mod")
    assert(PageParser.cleanFieldName("  Legal  Business   Name: ") == "legal_business_name")
    assert(PageParser.cleanFieldName("NAICS Code:") == "naics_code")
  }

  test("links/images extraction on synthetic page shapes (F6/F7)") {
    val html =
      """<a href="/rel/x">rel</a>
        |<a href="http://h.test/abs">abs</a>
        |<img src="http://h.test/img/img-00000001.png" alt="caption one">
        |<img src="/img/img-00000002.jpg" alt="caption – two $1,234.56">""".stripMargin
    val links = PageParser.links("http://h.test/base/page", html)
    assert(links.map(_.url) == Seq("http://h.test/rel/x", "http://h.test/abs"))
    val imgs = PageParser.images("http://h.test/base/page", html)
    assert(imgs.map(_.imageId) == Seq("img-00000001", "img-00000002"))
    assert(imgs.map(_.fmt) == Seq("png", "jpeg"))
    assert(imgs(1).caption == "caption – two $1,234.56")
  }

  test("pagination total parse (F3)") {
    assert(PageParser.paginationTotal("Results 1-30 of <b>12345</b>").contains(12345L))
    assert(PageParser.paginationTotal("no total here").isEmpty)
  }

  test("synthetic web pages parse to their generators' structures") {
    val web = new graft.web.SyntheticWeb(graft.web.WebConfig(nHosts = 4, pagesPerHost = 8))
    val body = web.html(1, 2)
    val imgs = PageParser.images(web.pageUrl(1, 2), body)
    assert(imgs.map(_.imageId) == web.imageIdsOf(1, 2))
    imgs.foreach(r => assert(r.caption == web.captionOf(r.imageId)))
    val links = PageParser.links(web.pageUrl(1, 2), body)
    assert(links.map(_.url) == web.rawOutlinks(1, 2))
  }
}
