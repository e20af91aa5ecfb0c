package graft.kernel

/** E2 - HTML main-content extraction (boilerplate strip), from scratch.
  *
  * Boilerpipe/Readability-style block classification per the north rule:
  * lightweight tag tokenizer -> text blocks at block-element boundaries ->
  * per-block (word count, link density, tag context) features -> keep/drop.
  * The reference delegates HTML to its parser jar
  * (reference: README.md:319, spec/integration/web_url_processing_spec.rb:65-78);
  * the keep/drop thresholds here are OUR deterministic contract, pinned by
  * our own fixtures.
  *
  * Deterministic thresholds (documented contract):
  *  - blocks inside nav/header/footer/aside/form/menu are boilerplate;
  *  - script/style/noscript/template/svg contents are dropped outright;
  *  - a block is CONTENT if linkDensity <= 0.33 and wordCount >= 10,
  *    or 3 <= wordCount < 10 with linkDensity <= 0.33 when an adjacent
  *    block is content (quote/short-line rescue);
  *  - headings (h1..h6, title-like) with linkDensity = 0 are kept when any
  *    body content exists;
  *  - TABLE ROWS emit as ONE block per tr with cells tab-joined (the
  *    DOCX/XLSX row convention); a row with >= 2 non-empty cells and
  *    linkDensity <= 0.33 is content (data-table shape) — single-cell
  *    layout-table rows follow the normal word-count rules, and link
  *    farms inside tables still fail on link density.
  */
object HtmlKernel {

  final case class Block(
      text: String,
      words: Int,
      linkedWords: Int,
      isHeading: Boolean,
      inBoiler: Boolean,
      tableCells: Int = 0,   // > 0: a table ROW (non-empty cell count)
      isListItem: Boolean = false) {
    def linkDensity: Double = if (words == 0) 0.0 else linkedWords.toDouble / words
  }

  final case class Result(blocks: Vector[String], title: String, metadata: Map[String, String])

  private val blockTags = Set(
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "tr", "table", "article", "section", "main", "blockquote",
    "pre", "dd", "dt", "figure", "figcaption", "body", "html", "header",
    "footer", "nav", "aside", "form", "br", "hr")
  private val dropTags = Set("script", "style", "noscript", "template", "svg", "head")
  private val boilerTags = Set("nav", "header", "footer", "aside", "form", "menu")
  private val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  /** Full-text mode: keep every non-dropped block (script/style/head
    * still excluded) — the reference's Tika semantics, where "extraction"
    * means all rendered text. Main-content mode (the default, per the
    * north rule) additionally classifies and drops boilerplate blocks.
    */
  def extractFullText(html: String): Result = {
    val r = extractRaw(html)
    Result(r._1.map(_.text), r._2, r._3)
  }

  def extract(html: String): Result = {
    val r = extractRaw(html)
    Result(classify(r._1), r._2, r._3)
  }

  private def extractRaw(html: String): (Vector[Block], String, Map[String, String]) = {
    val blocks = Vector.newBuilder[Block]
    var title = ""
    var metaTags = Map.empty[String, String]

    val cur = new StringBuilder
    var curWords = 0
    var curLinked = 0
    var inAnchor = 0
    var boilerDepth = 0
    var headingDepth = 0
    var dropDepth = 0
    var inTitle = false
    // table state: rows collect cells; one block per tr, cells \t-joined
    var tableDepth = 0
    var cellDepth = 0
    // tables OPENED INSIDE a cell (nested layout tables, common in real
    // HTML): their table/tr/td tags are in-cell content so the outer
    // row's structure survives (ADVICE r5)
    var cellTableDepth = 0
    var rowCells = Vector.empty[String]
    var rowWords = 0
    var rowLinked = 0

    var listDepth = 0

    def flush(): Unit = {
      val t = normalizeWs(cur.toString)
      if (t.nonEmpty)
        blocks += Block(t, curWords, curLinked, headingDepth > 0, boilerDepth > 0,
          isListItem = listDepth > 0)
      cur.setLength(0); curWords = 0; curLinked = 0
    }
    def flushCell(): Unit = {
      rowCells :+= normalizeWs(cur.toString)
      rowWords += curWords; rowLinked += curLinked
      cur.setLength(0); curWords = 0; curLinked = 0
    }
    def flushRow(): Unit = {
      if (cellDepth > 0) { flushCell(); cellDepth = 0 }
      if (rowCells.nonEmpty) {
        // trailing empty cells drop; interior empties keep their tab slot
        val trimmed = rowCells.reverse.dropWhile(_.isEmpty).reverse
        if (trimmed.nonEmpty)
          blocks += Block(trimmed.mkString("\t"), rowWords, rowLinked,
            isHeading = false, inBoiler = boilerDepth > 0,
            tableCells = trimmed.count(_.nonEmpty))
      }
      rowCells = Vector.empty; rowWords = 0; rowLinked = 0
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else {
          val e = html.indexOf('>', i)
          if (e < 0) { i = n }
          else {
            val inner = html.substring(i + 1, e)
            val closing = inner.startsWith("/")
            val rawName = (if (closing) inner.drop(1) else inner)
              .takeWhile(ch => ch.isLetterOrDigit).toLowerCase(java.util.Locale.ROOT)
            val selfClosed = inner.endsWith("/")
            if (rawName.nonEmpty) {
              if (dropTags.contains(rawName)) {
                if (!closing && !selfClosed) {
                  if (rawName == "head") dropDepth += 1
                  else {
                    // skip to matching close tag (scripts/styles don't
                    // nest); case-insensitive scan without copying
                    val close = "</" + rawName
                    var p = e
                    var found = -1
                    while (found < 0 && p <= n - close.length) {
                      if (html.regionMatches(true, p, close, 0, close.length)) found = p
                      else p += 1
                    }
                    i = if (found < 0) n else html.indexOf('>', found) + 1
                    if (i <= 0) i = n
                  }
                } else if (closing && rawName == "head" && dropDepth > 0) dropDepth -= 1
              }
              if (rawName == "title") {
                if (!closing) inTitle = true else inTitle = false
              }
              if (rawName == "meta" && !closing) {
                val nm = attr(inner, "name").orElse(attr(inner, "property"))
                val cn = attr(inner, "content")
                for (k <- nm; v <- cn) metaTags += (k -> v)
              }
              if (rawName == "a") {
                if (!closing && !selfClosed) inAnchor += 1
                else if (closing && inAnchor > 0) inAnchor -= 1
              }
              if (blockTags.contains(rawName)) {
                rawName match {
                  case "table" if !closing && !selfClosed && cellDepth > 0 =>
                    cur.append(' '); cellTableDepth += 1 // nested in-cell table
                  case "table" if closing && cellTableDepth > 0 =>
                    cur.append(' '); cellTableDepth -= 1
                  case "table" =>
                    if (!closing && !selfClosed) { flush(); flushRow(); tableDepth += 1 }
                    else if (closing && tableDepth > 0) { flushRow(); flush(); tableDepth -= 1 }
                    else flush()
                  case "tr" | "td" | "th" if cellTableDepth > 0 =>
                    cur.append(' ') // structure of a nested in-cell table
                  case "tr" if tableDepth > 0 =>
                    if (!closing) { flushRow(); flush() } // stray caption text
                    else flushRow()
                  case "td" | "th" if tableDepth > 0 =>
                    if (!closing && !selfClosed) {
                      if (cellDepth > 0) flushCell() else flush() // stray text
                      cellDepth = 1
                    } else if (closing && cellDepth > 0) { flushCell(); cellDepth = 0 }
                  case "ul" | "ol" =>
                    if (cellDepth > 0) cur.append(' ') // list inside a cell
                    else {
                      flush()
                      if (!closing && !selfClosed) listDepth += 1
                      else if (closing && listDepth > 0) listDepth -= 1
                    }
                  case _ =>
                    // a block boundary INSIDE a table cell separates with
                    // a space, keeping the cell one tab field
                    if (cellDepth > 0) cur.append(' ') else flush()
                }
                if (boilerTags.contains(rawName)) {
                  if (!closing && !selfClosed) boilerDepth += 1
                  else if (closing && boilerDepth > 0) boilerDepth -= 1
                }
                if (headingTags.contains(rawName)) {
                  if (!closing) headingDepth += 1
                  else if (headingDepth > 0) headingDepth -= 1
                }
              }
            }
            if (i < e + 1) i = e + 1
          }
        }
      } else {
        val e = html.indexOf('<', i)
        val end = if (e < 0) n else e
        val raw = html.substring(i, end)
        if (dropDepth == 0) {
          val decoded = decodeEntities(raw)
          if (inTitle) title += decoded
          else {
            val ws = countWords(decoded)
            cur.append(decoded)
            curWords += ws
            if (inAnchor > 0) curLinked += ws
          }
        } else if (inTitle) title += decodeEntities(raw)
        i = end
      }
    }
    flushRow() // unterminated table at EOF
    flush()

    val all = blocks.result()
    (all, normalizeWs(title), metaTags ++
      (if (title.trim.nonEmpty) Map("dc:title" -> normalizeWs(title)) else Map.empty))
  }

  /** Keep/drop per the documented thresholds + neighbor rescue + the
    * list-run rule: a contiguous run of list items PRECEDED by a core
    * block is content (bulleted lists follow their intro paragraph);
    * each item still needs linkDensity <= 0.33 and a word — nav menus
    * (inBoiler) and link lists keep dropping.
    */
  private def classify(all: Vector[Block]): Vector[String] = {
    if (all.isEmpty) return Vector.empty
    val core = all.map { b =>
      !b.inBoiler && b.linkDensity <= 0.33 &&
        (b.words >= 10 || (b.tableCells >= 2 && b.words >= 1))
    }
    val anyCore = core.contains(true)
    val keep = Array.tabulate(all.length) { i =>
      val b = all(i)
      if (b.inBoiler) false
      else if (core(i)) true
      else if (b.isHeading && anyCore && b.linkDensity == 0.0 && b.words >= 1) true
      else if (b.words >= 3 && b.linkDensity <= 0.33 &&
        ((i > 0 && core(i - 1)) || (i + 1 < all.length && core(i + 1)))) true
      else false
    }
    var i = 0
    while (i < all.length) {
      if (all(i).isListItem) {
        var j = i
        while (j < all.length && all(j).isListItem) j += 1
        if (i > 0 && core(i - 1)) {
          var k = i
          while (k < j) {
            val b = all(k)
            if (!b.inBoiler && b.linkDensity <= 0.33 && b.words >= 1) keep(k) = true
            k += 1
          }
        }
        i = j
      } else i += 1
    }
    all.indices.collect { case i if keep(i) => all(i).text }.toVector
  }

  /** number of maximal non-whitespace runs == split("\\s+") count. */
  private def countWords(s: String): Int = {
    var n = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == 11.toChar ||
        c == '\f' || c == '\r'
      if (!ws && !inWord) { n += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    n
  }

  // single-pass equivalent of s.split("\\s+").filter(_.nonEmpty)
  // .mkString(" ") — the regex split was ~40% of HTML kernel time.
  // Matches java-regex \s exactly (ASCII only; NOT Character
  // .isWhitespace, which would also fold U+2002 etc. and shift goldens).
  private def normalizeWs(s: String): String = {
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == 11.toChar /* VT */ || c == '\f' || c == '\r'
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    sb.toString
  }

  private def attr(tag: String, name: String): Option[String] = {
    val p = java.util.regex.Pattern.compile(
      name + "\\s*=\\s*(\"([^\"]*)\"|'([^']*)'|([^\\s>]+))",
      java.util.regex.Pattern.CASE_INSENSITIVE)
    val m = p.matcher(tag)
    if (m.find()) Option(m.group(2)).orElse(Option(m.group(3))).orElse(Option(m.group(4)))
    else None
  }

  private val entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> "\u00a0", "mdash" -> "\u2014", "ndash" -> "\u2013",
    "rsquo" -> "\u2019", "lsquo" -> "\u2018", "ldquo" -> "\u201c",
    "rdquo" -> "\u201d", "hellip" -> "\u2026", "copy" -> "\u00a9",
    "eacute" -> "\u00e9", "egrave" -> "\u00e8", "agrave" -> "\u00e0",
    "ccedil" -> "\u00e7", "uuml" -> "\u00fc", "ouml" -> "\u00f6",
    "auml" -> "\u00e4", "szlig" -> "\u00df", "ntilde" -> "\u00f1")

  def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          if (ent.startsWith("#x") || ent.startsWith("#X")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(ent.drop(2), 16))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else if (ent.startsWith("#")) {
            try { sb.appendAll(Character.toChars(ent.drop(1).toInt)); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else entities.get(ent) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None      => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
