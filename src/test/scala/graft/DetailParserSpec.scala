package graft

import graft.parse.{DetailParser, TypeCoercion}
import graft.parse.TypeCoercion._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Golden detail-page parity (FIXTURES.md §3): parsing
  * template/detail.html must equal the 133-key data/detail.json record
  * exactly, and the typed coercion must convert the money/date examples
  * the fixture calls out. */
class DetailParserSpec extends AnyFunSuite with GoldenFixtureReport {

  private val htmlPath = Paths.get("/root/reference/template/detail.html")
  private val jsonPath = Paths.get("/root/reference/data/detail.json")
  protected def goldenFiles = Seq(htmlPath, jsonPath)

  private lazy val golden: Map[String, String] = {
    val s = new String(Files.readAllBytes(jsonPath), "UTF-8")
    val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    def unesc(x: String) = x.replace("\\\"", "\"").replace("\\\\", "\\")
      .replace("\\n", "\n").replace("\\/", "/")
    pair.findAllMatchIn(s).map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
  }

  private lazy val parsed: Map[String, String] =
    DetailParser.parse(new String(Files.readAllBytes(htmlPath), "UTF-8"))

  test("detail parser output equals the 133-key golden record exactly") {
    assume(Files.exists(htmlPath) && Files.exists(jsonPath))
    assert(golden.size == 133, s"golden fixture has ${golden.size} keys")
    assert(parsed.keySet == golden.keySet,
      s"missing=${(golden.keySet -- parsed.keySet).take(5)} extra=${(parsed.keySet -- golden.keySet).take(5)}")
    golden.foreach { case (k, v) =>
      assert(parsed(k) == v, s"value mismatch for $k: got='${parsed(k)}' exp='$v'")
    }
  }

  test("typed coercion of the golden record matches the fixture contract (F11)") {
    assume(Files.exists(htmlPath) && Files.exists(jsonPath))
    val typed = TypeCoercion.coerceRecord(parsed)
    // FIXTURES.md §3 named examples
    assert(typed("action_obligation_total_obligation_amount") == TFloat(96949157.90))
    assert(typed("date_signed_date_signed") ==
      TDate(java.time.LocalDate.of(2020, 1, 30)))
    // whitelisted integers come out integral
    assert(typed("award_id_modification_number").isInstanceOf[TInt])
    // plain text stays a string
    assert(typed("award_type_display") == TString("Delivery/Task Order"))
  }

  test("coercion pattern order matches the reference (datetime > date > money > int > float)") {
    assert(coerce("x", "01/30/2020 12:34:56") ==
      TDateTime(java.time.LocalDateTime.of(2020, 1, 30, 12, 34, 56)))
    assert(coerce("x", "01/30/2020") == TDate(java.time.LocalDate.of(2020, 1, 30)))
    assert(coerce("x", "$1,234.56") == TFloat(1234.56))
    assert(coerce("x", "123") == TInt(123))
    assert(coerce("x", "1.25") == TFloat(1.25))
    assert(coerce("x", "N/A") == TString("N/A"))
    assert(coerce("x", "") == TNull)
  }
}
