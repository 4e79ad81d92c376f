package graft.parse

import scala.collection.mutable

/** Minimal strict HTML DOM for machine-generated pages (the FPDS detail
  * pages are balanced markup with self-closed inputs — verified on the
  * golden fixture). Just enough tree structure for the detail parser's
  * BeautifulSoup-equivalent traversals: descendant/child find, attribute
  * access, and bs4 `get_text(strip=True)` semantics (strip each text
  * node, drop empties, concatenate without separator). */
final class DomNode(
    val tag: String,
    val attrs: Map[String, String],
    val parent: DomNode) {

  val children: mutable.ArrayBuffer[DomNode] = mutable.ArrayBuffer.empty
  var textContent: String = "" // only for #text nodes

  def isText: Boolean = tag == "#text"

  def attr(name: String): Option[String] = attrs.get(name)

  def classes: Set[String] =
    attrs.getOrElse("class", "").split("\\s+").filter(_.nonEmpty).toSet

  /** All descendants in document order (excluding text nodes). Walks an
    * explicit stack, so nesting depth is bounded by the heap, not the
    * thread's stack. */
  def descendants: Iterator[DomNode] = new Iterator[DomNode] {
    private val pending = mutable.Stack.empty[DomNode]
    pushChildren(DomNode.this)
    private def pushChildren(n: DomNode): Unit =
      n.children.reverseIterator.filterNot(_.isText).foreach(pending.push)
    def hasNext: Boolean = pending.nonEmpty
    def next(): DomNode = { val n = pending.pop(); pushChildren(n); n }
  }

  def findAll(tagName: String): Seq[DomNode] =
    descendants.filter(_.tag == tagName).toSeq

  def find(tagName: String): Option[DomNode] =
    descendants.find(_.tag == tagName)

  def childElements(tagName: String): Seq[DomNode] =
    children.filter(c => !c.isText && c.tag == tagName).toSeq

  /** bs4 get_text(strip=True): stripped text nodes concatenated.
    * Stripping follows python str.strip() (unicode whitespace incl.
    * NBSP), not Java trim (ASCII-only). */
  def strippedText: String = {
    val sb = new StringBuilder
    val pending = mutable.Stack(this)
    while (pending.nonEmpty) {
      val n = pending.pop()
      if (n.isText) {
        val t = MiniDom.pyStrip(n.textContent)
        if (t.nonEmpty) sb.append(t)
      } else n.children.reverseIterator.foreach(pending.push)
    }
    sb.toString
  }
}

object MiniDom {

  /** python str.strip(): unicode whitespace including NBSP variants. */
  def pyStrip(s: String): String = {
    def isSpace(c: Char): Boolean =
      Character.isWhitespace(c) || c == ' ' || c == ' ' || c == ' '
    var i = 0; var j = s.length
    while (i < j && isSpace(s.charAt(i))) i += 1
    while (j > i && isSpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  private val VoidTags = Set("input", "br", "img", "meta", "link", "hr", "area", "base", "col")
  private val TagRe = """(?s)<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>"']|"[^"]*"|'[^']*')*?)(/?)>""".r
  private val AttrRe = """([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("([^"]*)"|'([^']*)'|[^\s>]*))?""".r
  private val CommentRe = """(?s)<!--.*?-->""".r
  private val ScriptRe = """(?is)<script\b.*?</script>""".r
  private val StyleRe = """(?is)<style\b.*?</style>""".r

  private def decodeEntities(s: String): String =
    s.replace("&nbsp;", " ").replace("&amp;", "&")
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")

  private def parseAttrs(s: String): Map[String, String] =
    AttrRe.findAllMatchIn(s).flatMap { m =>
      val name = m.group(1).toLowerCase
      val value =
        if (m.group(3) != null) m.group(3)
        else if (m.group(4) != null) m.group(4)
        else Option(m.group(2)).getOrElse("")
      if (name.nonEmpty) Some(name -> decodeEntities(value)) else None
    }.toMap

  /** Parse balanced HTML into a tree rooted at a synthetic <root>. */
  def parse(html: String): DomNode = {
    val cleaned = StyleRe.replaceAllIn(ScriptRe.replaceAllIn(
      CommentRe.replaceAllIn(html, ""), ""), "")
    val root = new DomNode("root", Map.empty, null)
    var current = root
    // open elements per tag on the path from the root to `current`, so a
    // stray close is skipped in O(1) instead of walking to the root
    val open = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var pos = 0
    for (m <- TagRe.findAllMatchIn(cleaned)) {
      if (m.start > pos) {
        val text = cleaned.substring(pos, m.start)
        if (text.nonEmpty) {
          val tn = new DomNode("#text", Map.empty, current)
          tn.textContent = decodeEntities(text)
          current.children += tn
        }
      }
      pos = m.end
      val closing = m.group(1) == "/"
      val tag = m.group(2).toLowerCase
      val selfClosed = m.group(4) == "/" || VoidTags(tag)
      if (closing) {
        // strict markup: pop to the matching open tag if present
        if (open(tag) > 0) {
          while (current.tag != tag) { open(current.tag) -= 1; current = current.parent }
          open(tag) -= 1
          current = current.parent
        }
      } else {
        val node = new DomNode(tag, parseAttrs(m.group(3)), current)
        current.children += node
        if (!selfClosed) { open(tag) += 1; current = node }
      }
    }
    if (pos < cleaned.length) {
      val tn = new DomNode("#text", Map.empty, current)
      tn.textContent = decodeEntities(cleaned.substring(pos))
      current.children += tn
    }
    root
  }
}
