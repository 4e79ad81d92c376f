package graft

import graft.urlkit.UrlKit
import org.scalacheck.{Gen, Prop, Properties}

/** Property tests (SURVEY.md §5 item 3) via ScalaCheck's native sbt
  * framework (no scalatest bridge available offline). */
object UrlKitProps extends Properties("UrlKit") {

  private val genHost = Gen.oneOf("a.test", "HOST-001.Test", "x.y.example")
  private val genUrl: Gen[String] = for {
    host <- genHost
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    nseg <- Gen.choose(0, 3)
    segs <- Gen.listOfN(nseg, Gen.alphaNumStr.map(_.take(5)))
    q <- Gen.oneOf("", "?b=2&a=1", "?x=1&x=0", "?k")
    f <- Gen.oneOf("", "#frag", "#a/b")
  } yield s"http://$host$port/${segs.mkString("/")}$q$f"

  property("canonicalize is idempotent") = Prop.forAll(genUrl) { u =>
    val once = UrlKit.canonicalize(u)
    UrlKit.canonicalize(once) == once
  }

  property("canonical URLs never keep fragments or default ports") =
    Prop.forAll(genUrl) { u =>
      val c = UrlKit.canonicalize(u)
      !c.contains("#") && !c.contains(":80/") && !c.endsWith(":80")
    }

  property("host extraction is lowercase and consistent with canonical form") =
    Prop.forAll(genUrl) { u =>
      val h = UrlKit.host(UrlKit.canonicalize(u))
      h == h.toLowerCase && UrlKit.canonicalize(u).contains(h)
    }

  property("jitter stays in [0.8, 1.2) and is pure") =
    Prop.forAll(Gen.long, Gen.choose(1, 9)) { (h, a) =>
      val j = UrlKit.jitter(h, a)
      j >= 0.8 && j < 1.2 && j == UrlKit.jitter(h, a)
    }

  property("xxhash64 is pure and separates distinct strings") =
    Prop.forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (a, b) =>
      (UrlKit.xxhash64(a) == UrlKit.xxhash64(a)) &&
        (a == b || UrlKit.xxhash64(s"p:$a") != UrlKit.xxhash64(s"p:$b"))
    }
}

object TypingProps extends Properties("TypeCoercion") {

  // F11 parity with the reference's parsers (bulk_insert_helper.py:280-339)
  private val genMoney = for {
    d <- Gen.choose(0L, 99999999L)
    c <- Gen.choose(0, 99)
  } yield (d, c)

  property("money strings round-trip through strip-and-cast") =
    Prop.forAll(genMoney) { case (d, c) =>
      val s = f"$$$d%,d.$c%02d"
      val cleaned = s.replaceAll("[$,]", "")
      math.abs(cleaned.toDouble - (d + c / 100.0)) < 1e-6
    }

  property("MM/dd/yyyy strings round-trip") =
    Prop.forAll(Gen.choose(1, 12), Gen.choose(1, 28), Gen.choose(1990, 2030)) {
      (m, d, y) =>
        val s = f"$m%02d/$d%02d/$y%d"
        val parsed = java.time.LocalDate.parse(s,
          java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy"))
        parsed.getMonthValue == m && parsed.getDayOfMonth == d && parsed.getYear == y
    }
}
