package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML → plain-text extraction — the rewrite pass that turns a fetched
  * web page (the [[graft.sources.WarcCorpus]] response payload) into the
  * `text` column every curation/dedup operator consumes. One bounded
  * left-to-right scan per document, no DOM, no allocation beyond the
  * output builder — the only shape that survives a 100 TB crawl scan.
  *
  * Deterministic contract (what the spec pins):
  *  - tags are removed; `script`/`style` elements lose their CONTENT
  *    too (code is not prose); comments `<!-- -->`, doctypes and
  *    processing instructions are removed; attribute values may contain
  *    `>` inside quotes without desyncing the tag scan;
  *  - block-level boundaries (`p div li ul ol h1..h6 tr table br
  *    blockquote pre section article header footer td th title`) become
  *    newlines, inline tags (`a span em b i …`) become nothing, so
  *    the page `title` is kept — it IS prose, on its own line — and
  *    "visual words" joined by markup stay joined and paragraphs stay
  *    separated;
  *  - the five XML named entities plus `&nbsp;` and numeric
  *    `&#NNN;`/`&#xHH;` references are decoded; unknown entities pass
  *    through verbatim (a lossy guess is worse than visible noise);
  *  - whitespace is normalized per line: runs collapse to one space,
  *    lines are trimmed, empty lines are dropped, lines join with \n.
  *
  * A malformed page cannot error — an unclosed tag or entity simply
  * consumes to end-of-input under the same rules (garbage in, best
  * effort out; curation quality filters downstream catch the rest).
  */
object HtmlTextUtil {

  private val BlockTags: Set[String] = Set(
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "table", "br", "blockquote", "pre", "section", "article",
    "header", "footer", "td", "th", "title")

  private val RawTextTags: Set[String] = Set("script", "style")

  /** Extract visible text from an HTML string per the contract above. */
  def extract(html: String): String = {
    val n = html.length
    val out = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        i = tag(html, i, out)
      } else if (c == '&') {
        i = entity(html, i, out)
      } else {
        out.append(c)
        i += 1
      }
    }
    normalize(out.toString)
  }

  /** Consume one `<...>` construct starting at `i` (which points at the
    * '<'); returns the index after it. Emits a '\n' for block tags.
    * A bare '<' that opens nothing tag-like is literal text. */
  private def tag(s: String, i: Int, out: java.lang.StringBuilder): Int = {
    val n = s.length
    if (i + 1 >= n) { out.append('<'); return i + 1 }
    val c1 = s.charAt(i + 1)
    if (c1 == '!') {
      // comment or doctype/CDATA
      if (s.startsWith("<!--", i)) {
        val end = s.indexOf("-->", i + 4)
        return if (end < 0) n else end + 3
      }
      val end = s.indexOf('>', i + 2)
      return if (end < 0) n else end + 1
    }
    if (c1 == '?') { // processing instruction
      val end = s.indexOf('>', i + 2)
      return if (end < 0) n else end + 1
    }
    val isClose = c1 == '/'
    val nameStart = if (isClose) i + 2 else i + 1
    if (nameStart >= n || !s.charAt(nameStart).isLetter) {
      out.append('<'); return i + 1 // "< 5" etc. — literal text
    }
    var j = nameStart
    while (j < n && (s.charAt(j).isLetterOrDigit)) j += 1
    val name = s.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
    // scan to the closing '>' honoring quoted attribute values
    var selfClosed = false
    var q: Char = 0
    while (j < n && (q != 0 || s.charAt(j) != '>')) {
      val cj = s.charAt(j)
      if (q != 0) { if (cj == q) q = 0 }
      else if (cj == '"' || cj == '\'') q = cj
      j += 1
    }
    if (j < n && j > nameStart && s.charAt(j - 1) == '/') selfClosed = true
    val after = if (j < n) j + 1 else n
    if (BlockTags(name)) out.append('\n')
    if (!isClose && !selfClosed && RawTextTags(name)) {
      // skip raw content to the matching close tag (case-insensitive)
      var k = after
      while (k < n) {
        val lt = s.indexOf('<', k)
        if (lt < 0) return n
        if (lt + 2 + name.length <= n && s.charAt(lt + 1) == '/' &&
            s.regionMatches(true, lt + 2, name, 0, name.length)) {
          val gt = s.indexOf('>', lt)
          return if (gt < 0) n else gt + 1
        }
        k = lt + 1
      }
      return n
    }
    after
  }

  /** Decode one `&...;` reference at `i`; unknown forms emit verbatim.
    * Returns the index after the consumed input. */
  private def entity(s: String, i: Int, out: java.lang.StringBuilder): Int = {
    val semi = s.indexOf(';', i + 1)
    // entities are short; a far-away ';' means this '&' is literal
    if (semi < 0 || semi - i > 10) { out.append('&'); return i + 1 }
    val body = s.substring(i + 1, semi)
    val decoded: Int = body match {
      case "amp" => '&'
      case "lt" => '<'
      case "gt" => '>'
      case "quot" => '"'
      case "apos" => '\''
      case "nbsp" => ' '
      case _ if body.length > 1 && body.charAt(0) == '#' =>
        try {
          val cp =
            if (body.charAt(1) == 'x' || body.charAt(1) == 'X')
              Integer.parseInt(body.substring(2), 16)
            else Integer.parseInt(body.substring(1))
          if (Character.isValidCodePoint(cp) && cp > 0) cp else -1
        } catch { case _: NumberFormatException => -1 }
      case _ => -1
    }
    if (decoded >= 0) { out.appendCodePoint(decoded); semi + 1 }
    else { out.append('&'); i + 1 }
  }

  /** Collapse whitespace runs, trim lines, drop blanks, join with \n. */
  private def normalize(raw: String): String = {
    val out = new java.lang.StringBuilder(raw.length)
    var pendingSpace = false
    var pendingNewline = false
    var lineHasText = false
    var i = 0
    val n = raw.length
    while (i < n) {
      val c = raw.charAt(i)
      if (c == '\n') { if (lineHasText) pendingNewline = true; pendingSpace = false }
      else if (c.isWhitespace) pendingSpace = true
      else {
        if (pendingNewline) { out.append('\n'); pendingNewline = false; pendingSpace = false }
        else if (pendingSpace && lineHasText) out.append(' ')
        pendingSpace = false
        out.append(c)
        lineHasText = true
      }
      i += 1
    }
    out.toString
  }

  /** Expression-facing wrapper. */
  def eval(s: UTF8String): UTF8String = UTF8String.fromString(extract(s.toString))
}

/** `html_text(string)` → string — native codegen (one static call, same
  * pattern as [[MediaDims]]) so page extraction runs inside whole-stage
  * codegen on the crawl scan. */
case class HtmlText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"html_text requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "html_text"

  override def nullSafeEval(input: Any): Any =
    HtmlTextUtil.eval(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlTextUtil.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlText =
    copy(child = newChild)
}
