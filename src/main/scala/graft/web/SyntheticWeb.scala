package graft.web

import graft.model.RobotsRule
import graft.urlkit.UrlKit

/** Deterministic synthetic web (FIXTURES.md §2): the crawl substrate for
  * tests and benchmarks. Page content is a *pure function of the URL* —
  * nothing is materialized, so the same generator scales to a 10^10-URL
  * frontier (SURVEY.md §7.4 "never materialize").
  *
  * Structure mirrors the reference's page shapes: resultbox tables
  * (template/table.html), `<img src alt>` payload refs (lib/utils.py:116-160)
  * and `<a href>` outlinks (lib/utils.py:80-113), with noise variants
  * (fragments, unsorted query params, default port, uppercase host) that
  * exercise canonicalization, plus per-host robots rules and hash-chosen
  * transient failures that exercise the retry path
  * (fpds_high_performance.py:315-336 semantics).
  */
final case class WebConfig(
    seed: Long = 42L,
    nHosts: Int = 16,
    pagesPerHost: Int = 50,
    hotFactor: Int = 8,        // host-000 has hotFactor× the pages (skew)
    failPct: Int = 3,          // % of (url, attempt) fetches that fail
    imagesPerPage: Int = 3,
    linksPerPage: Int = 5,
    imageSpace: Long = 100000L // distinct image ids
)

final case class FetchResponse(status: Int, body: String)

class SyntheticWeb(val cfg: WebConfig) extends Serializable {

  // the fetch hot path formats a handful of strings per page, and
  // java.util.Formatter (every f"…%03d…" interpolation) measures ~1-2 µs
  // per call — hand-rolled padding/grouping below produces byte-identical
  // strings (pinned by SyntheticWebSpec) at a fraction of the cost
  @transient private lazy val hostNames: Array[String] =
    Array.tabulate(cfg.nHosts)(i => "host-" + SyntheticWeb.pad(i.toLong, 3) + ".test")

  def hostName(i: Int): String =
    if (i >= 0 && i < cfg.nHosts) hostNames(i)
    else "host-" + SyntheticWeb.pad(i.toLong, 3) + ".test"

  def nPages(hostIdx: Int): Int =
    if (hostIdx == 0) cfg.pagesPerHost * cfg.hotFactor else cfg.pagesPerHost

  def pageUrl(hostIdx: Int, page: Int): String =
    s"http://${hostName(hostIdx)}/page/$page"

  /** Seed list: page 0 of every host, in host order (canonical URLs). */
  def seeds: Seq[String] = (0 until cfg.nHosts).map(pageUrl(_, 0))

  /** Every 5th host (index ≡ 1 mod 5) disallows the /private/ prefix —
    * index-deterministic so any web with ≥2 hosts exercises the gate. */
  def robots: Seq[RobotsRule] = (0 until cfg.nHosts).map { i =>
    val dis = if (i % 5 == 1) Seq("/private/") else Seq.empty[String]
    RobotsRule(hostName(i), dis)
  }

  /** Parse a canonical URL back to (hostIdx, page); None when off-web. */
  def locate(canonicalUrl: String): Option[(Int, Int)] = {
    val m = SyntheticWeb.PageRe.findFirstMatchIn(canonicalUrl)
    m.flatMap { mm =>
      val h = mm.group(1).toInt
      val p = mm.group(2).toInt
      if (h < cfg.nHosts && p < nPages(h)) Some((h, p)) else None
    }
  }

  /** Deterministic per-(url, attempt) transient failure. */
  def failsAt(canonicalUrl: String, attempt: Int): Boolean =
    math.floorMod(UrlKit.xxhash64(s"${cfg.seed}:fail:$canonicalUrl:$attempt"), 100L) < cfg.failPct

  /** Fetch a page. 404 off-web, 500 on transient failure, 200 + HTML body. */
  def fetch(canonicalUrl: String, attempt: Int): FetchResponse =
    locate(canonicalUrl) match {
      case None => FetchResponse(404, "")
      case Some((h, p)) =>
        if (failsAt(canonicalUrl, attempt)) FetchResponse(500, "")
        else FetchResponse(200, html(h, p))
    }

  /** Image ids referenced by a page (deterministic, with cross-page reuse). */
  def imageIdsOf(hostIdx: Int, page: Int): Seq[String] =
    (0 until cfg.imagesPerPage).map { k =>
      val n = math.floorMod(UrlKit.xxhash64(s"${cfg.seed}:img:$hostIdx:$page:$k"), cfg.imageSpace)
      "img-" + SyntheticWeb.pad(n, 8)
    }

  /** Deterministic caption for an image id — includes unicode, $-amounts
    * and MM/dd/yyyy dates (exercises the reference's type parsers F10/F11).
    * No double quotes (captions are embedded in alt="..."). */
  def captionOf(imageId: String): String = {
    val h = UrlKit.xxhash64(s"${cfg.seed}:cap:$imageId")
    val nouns = Array("contract", "award", "vessel", "bridge", "façade", "depot", "übersicht", "naïve plan")
    val noun = nouns(math.floorMod(h, nouns.length.toLong).toInt)
    val cents = math.floorMod(h >>> 7, 100L)
    val dollars = math.floorMod(h >>> 17, 10000000L)
    val month = 1 + math.floorMod(h >>> 37, 12L)
    val day = 1 + math.floorMod(h >>> 42, 28L)
    val year = 2015 + math.floorMod(h >>> 47, 10L)
    val sb = new java.lang.StringBuilder(96)
    sb.append("Photo of ").append(noun).append(' ').append(imageId)
      .append(" — obligation $").append(SyntheticWeb.grouped(dollars))
      .append('.').append(SyntheticWeb.pad(cents, 2))
      .append(" signed ").append(SyntheticWeb.pad(month, 2))
      .append('/').append(SyntheticWeb.pad(day, 2))
      .append('/').append(year)
    sb.toString
  }

  /** Outlink hrefs as they appear in the page (pre-canonicalization noise). */
  def rawOutlinks(hostIdx: Int, page: Int): Seq[String] = {
    val np = nPages(hostIdx)
    val base = (1 to cfg.linksPerPage).flatMap { k =>
      val tgt = page * 2 + k // frontier-expanding tree walk
      if (tgt < np) {
        val u = pageUrl(hostIdx, tgt)
        // hash-chosen noise variant, canonically equal to `u`
        math.floorMod(UrlKit.xxhash64(s"${cfg.seed}:noise:$hostIdx:$page:$k"), 5L) match {
          case 0 => Some(u + "#frag")
          case 1 => Some(s"http://${hostName(hostIdx).toUpperCase}:80/page/$tgt")
          case 2 => Some(u + "?b=2&a=1") // NOTE: query variants canonicalize to a distinct URL
          case _ => Some(u)
        }
      } else None
    }
    // one cross-host link (dedup pressure: many pages link page 0 of next host)
    val cross = Seq(pageUrl((hostIdx + 1) % cfg.nHosts, 0))
    // one robots-disallowed link on ~1/4 of pages
    val priv =
      if (math.floorMod(UrlKit.xxhash64(s"${cfg.seed}:priv:$hostIdx:$page"), 4L) == 0)
        Seq(s"http://${hostName(hostIdx)}/private/$page")
      else Seq.empty
    base ++ cross ++ priv
  }

  /** Full deterministic page body. */
  def html(hostIdx: Int, page: Int): String = {
    val sb = new StringBuilder(4096)
    sb.append(s"<html><head><title>Host ${hostName(hostIdx)} page $page</title></head><body>\n")
    sb.append("<table class=\"resultbox1\">\n")
    sb.append(s"<tr><td>Award ID</td><td>AW-$hostIdx-$page</td><td>Date Signed</td><td>01/0${1 + page % 9}/2020</td></tr>\n")
    sb.append(s"<tr><td>Action Obligation</td><td>$$${1000 + page * 7}.00</td></tr>\n")
    sb.append("</table>\n")
    imageIdsOf(hostIdx, page).foreach { id =>
      val ext = if (ImageKit_fmt(id) == "jpeg") "jpg" else "png"
      sb.append(s"""<img src="http://${hostName(hostIdx)}/img/$id.$ext" alt="${captionOf(id)}">""").append('\n')
    }
    rawOutlinks(hostIdx, page).foreach { href =>
      sb.append(s"""<a href="$href">link to $href</a>""").append('\n')
    }
    sb.append("</body></html>")
    sb.toString
  }

  private def ImageKit_fmt(id: String): String = graft.images.ImageKit.fmt(id)

  /** Query-noise links resolve to real pages too: /page/N?b=2&a=1 is served
    * as page N content — the seen-set treats it as a distinct canonical URL
    * (the reference also keys identity on the full query string). */
}

object SyntheticWeb {
  private val PageRe = "^http://host-([0-9]{3})\\.test/page/([0-9]+)".r

  /** `%0<w>d` without java.util.Formatter. As in the Formatter form, the
    * width counts a minus sign and the zeros go after it (-5 → "-05"). */
  private[web] def pad(v: Long, w: Int): String = {
    val s = java.lang.Long.toString(v)
    if (s.length >= w) s
    else {
      val sign = if (v < 0) 1 else 0
      val sb = new java.lang.StringBuilder(w)
      sb.append(s, 0, sign)
      var i = s.length
      while (i < w) { sb.append('0'); i += 1 }
      sb.append(s, sign, s.length).toString
    }
  }

  /** `%,d` (comma thousands grouping) for non-negative longs. */
  private[web] def grouped(v: Long): String = {
    val s = java.lang.Long.toString(v)
    if (s.length <= 3) s
    else {
      val sb = new java.lang.StringBuilder(s.length + (s.length - 1) / 3)
      val head = s.length % 3
      var i = 0
      if (head > 0) { sb.append(s, 0, head); i = head }
      while (i < s.length) {
        if (i > 0) sb.append(',')
        sb.append(s, i, i + 3)
        i += 3
      }
      sb.toString
    }
  }
}
