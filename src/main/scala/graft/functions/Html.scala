package graft.functions

import java.nio.charset.StandardCharsets

/** Pure HTML extraction — `[SPEC-X1]` / `[SPEC-X2]` (SURVEY.md §2.3).
  *
  * No external HTML library exists on disk, so both functions are single-pass
  * scanners over the decoded string. They are total: any byte sequence yields
  * a (possibly empty) result, never an exception.
  *
  * extractText (X2) — frozen order of operations (the byte-exactness contract
  * of BASELINE.json `input_hint`): strip <script>/<style> blocks → strip all
  * tags → decode the 5 XML entities + &nbsp; (single left-to-right pass; the
  * '&' produced by &amp; is NOT rescanned) → collapse [ \t\r\n]+ to one space
  * → trim. &nbsp; decodes to a plain space (then collapsed).
  *
  * extractLinks (X1): <a href> attributes in document order, quote-aware
  * attribute parsing, anchor text extracted with X2 semantics applied to the
  * element body, deduplicated within the page by href keeping the first.
  */
object Html {

  final case class Link(href: String, anchor: String)

  private def decodeUtf8(bytes: Array[Byte]): String =
    if (bytes == null) "" else new String(bytes, StandardCharsets.UTF_8)

  /** Single left-to-right entity decode of the frozen entity set. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        if (s.startsWith("&amp;", i)) { sb.append('&'); i += 5 }
        else if (s.startsWith("&lt;", i)) { sb.append('<'); i += 4 }
        else if (s.startsWith("&gt;", i)) { sb.append('>'); i += 4 }
        else if (s.startsWith("&quot;", i)) { sb.append('"'); i += 6 }
        else if (s.startsWith("&apos;", i)) { sb.append('\''); i += 6 }
        else if (s.startsWith("&nbsp;", i)) { sb.append(' '); i += 6 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Collapse [ \t\r\n]+ runs to a single space, then trim. */
  def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def isWs(c: Char) = c == ' ' || c == '\t' || c == '\r' || c == '\n'

  /** True if `html` at position i opens a tag whose name is `name`
    * (case-insensitive), i.e. `<name` followed by whitespace, '>' or '/'.
    */
  private def tagAt(html: String, i: Int, name: String): Boolean = {
    if (i + 1 + name.length > html.length) return false
    if (html.charAt(i) != '<') return false
    var j = 0
    while (j < name.length) {
      if (Character.toLowerCase(html.charAt(i + 1 + j)) != name.charAt(j)) return false
      j += 1
    }
    val after = i + 1 + name.length
    after >= html.length || isWs(html.charAt(after)) ||
      html.charAt(after) == '>' || html.charAt(after) == '/'
  }

  /** Index just past the matching `</name ...>` close tag, or html.length. */
  private def skipBlock(html: String, openIdx: Int, name: String): Int = {
    var i = html.indexOf('>', openIdx)
    if (i < 0) return html.length
    i += 1
    while (i < html.length) {
      if (html.charAt(i) == '<' && i + 1 < html.length && html.charAt(i + 1) == '/' &&
          tagAtClose(html, i, name)) {
        val gt = html.indexOf('>', i)
        return if (gt < 0) html.length else gt + 1
      }
      i += 1
    }
    html.length
  }

  private def tagAtClose(html: String, i: Int, name: String): Boolean = {
    // expects html(i) == '<', html(i+1) == '/'
    if (i + 2 + name.length > html.length) return false
    var j = 0
    while (j < name.length) {
      if (Character.toLowerCase(html.charAt(i + 2 + j)) != name.charAt(j)) return false
      j += 1
    }
    val after = i + 2 + name.length
    after >= html.length || isWs(html.charAt(after)) || html.charAt(after) == '>'
  }

  /** X2 over raw markup string: strip blocks → strip tags → entities →
    * collapse → trim (collapseWs also trims).
    */
  def extractTextFromString(html: String): String = {
    if (html == null) return ""
    val noTags = new java.lang.StringBuilder(html.length)
    var i = 0
    while (i < html.length) {
      val c = html.charAt(i)
      if (c == '<') {
        if (tagAt(html, i, "script")) i = skipBlock(html, i, "script")
        else if (tagAt(html, i, "style")) i = skipBlock(html, i, "style")
        else {
          val gt = html.indexOf('>', i)
          i = if (gt < 0) html.length else gt + 1
        }
      } else { noTags.append(c); i += 1 }
    }
    collapseWs(decodeEntities(noTags.toString))
  }

  /** X2: html bytes (UTF-8) → byte-identical extracted text. */
  def extractText(html: Array[Byte]): String = extractTextFromString(decodeUtf8(html))

  /** Parse the tag starting at `lt` (html(lt)=='<') for its `href`
    * attribute only: quote-aware, unquoted values end at whitespace or
    * '>', names case-insensitive, first occurrence wins — the general
    * attribute grammar, specialized so no attribute map or unused
    * name/value substrings are allocated. Returns (href or null,
    * indexPastGt).
    */
  private def parseHref(html: String, lt: Int): (String, Int) = {
    var i = lt + 1
    while (i < html.length && html.charAt(i) != '>' && !isWs(html.charAt(i)) && html.charAt(i) != '/') i += 1
    var href: String = null
    while (i < html.length && html.charAt(i) != '>') {
      while (i < html.length && (isWs(html.charAt(i)) || html.charAt(i) == '/')) i += 1
      if (i >= html.length || html.charAt(i) == '>') return (href, if (i < html.length) i + 1 else html.length)
      val nameStart = i
      while (i < html.length && html.charAt(i) != '=' && html.charAt(i) != '>' && !isWs(html.charAt(i))) i += 1
      val isHref = i - nameStart == 4 &&
        Character.toLowerCase(html.charAt(nameStart)) == 'h' &&
        Character.toLowerCase(html.charAt(nameStart + 1)) == 'r' &&
        Character.toLowerCase(html.charAt(nameStart + 2)) == 'e' &&
        Character.toLowerCase(html.charAt(nameStart + 3)) == 'f'
      var j = i
      while (j < html.length && isWs(html.charAt(j))) j += 1
      if (j < html.length && html.charAt(j) == '=') {
        j += 1
        while (j < html.length && isWs(html.charAt(j))) j += 1
        if (j < html.length && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
          val q = html.charAt(j)
          val vStart = j + 1
          var k = vStart
          while (k < html.length && html.charAt(k) != q) k += 1
          if (isHref && href == null) href = html.substring(vStart, k)
          i = if (k < html.length) k + 1 else k
        } else {
          val vStart = j
          var k = vStart
          while (k < html.length && !isWs(html.charAt(k)) && html.charAt(k) != '>') k += 1
          if (isHref && href == null) href = html.substring(vStart, k)
          i = k
        }
      } else {
        if (isHref && href == null) href = ""
        i = j
      }
    }
    (href, if (i < html.length) i + 1 else html.length)
  }

  /** X1: ordered (href, anchor) pairs from <a href> tags; in-page dedup by
    * href keeping the first occurrence `[SPEC-X1]`.
    */
  def extractLinksFromString(html: String): Array[Link] = {
    if (html == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Link]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i < html.length) {
      val c = html.charAt(i)
      if (c == '<') {
        if (tagAt(html, i, "script")) i = skipBlock(html, i, "script")
        else if (tagAt(html, i, "style")) i = skipBlock(html, i, "style")
        else if (tagAt(html, i, "a")) {
          val (hrefRaw, past) = parseHref(html, i)
          // anchor body = text up to matching </a> (or next <a / end)
          var j = past
          var end = html.length
          var bodyEnd = html.length
          var found = false
          while (j < html.length && !found) {
            if (html.charAt(j) == '<') {
              if (j + 1 < html.length && html.charAt(j + 1) == '/' && tagAtClose(html, j, "a")) {
                bodyEnd = j
                val gt = html.indexOf('>', j)
                end = if (gt < 0) html.length else gt + 1
                found = true
              } else if (tagAt(html, j, "a")) { // nested <a> — close implicitly
                bodyEnd = j; end = j; found = true
              }
            }
            if (!found) j += 1
          }
          if (!found) { bodyEnd = html.length; end = html.length }
          if (hrefRaw != null && hrefRaw.nonEmpty) {
            val href = decodeEntities(hrefRaw).trim
            if (href.nonEmpty && !seen.contains(href)) {
              seen += href
              out += Link(href, extractTextFromString(html.substring(past, bodyEnd)))
            }
          }
          i = end
        } else {
          val gt = html.indexOf('>', i)
          i = if (gt < 0) html.length else gt + 1
        }
      } else i += 1
    }
    out.toArray
  }

  /** X1 over html bytes (UTF-8). */
  def extractLinks(html: Array[Byte]): Array[Link] = extractLinksFromString(decodeUtf8(html))

  // ---- allocation-free text hashing for the crawl hot path ----
  //
  // The engine never stores extracted text — only xxhash64(text) (fetch-log
  // text_xxh64). Materializing the text costs ~4 page-sized allocations per
  // page (noTags builder + entity/collapse builders + String + UTF8String
  // re-encode); at local[32] that allocation rate makes GC the scaling
  // limiter. textHash produces the SAME 64-bit value as
  // xxhash64(extractText(html)) using two thread-local reused buffers and
  // zero per-page garbage. Byte-identity with X2 is pinned by a property
  // test (hash equality on the corpus + adversarial vectors); extractText
  // itself — the user-facing X2 operator — is untouched.

  private final class ScanBuffers {
    var chars = new Array[Char](16 * 1024)
    var bytes = new Array[Byte](16 * 1024)
    def ensureChars(n: Int): Unit =
      if (chars.length < n) chars = new Array[Char](Integer.highestOneBit(n) * 2)
    def ensureBytes(n: Int): Unit =
      if (bytes.length < n) bytes = new Array[Byte](Integer.highestOneBit(n) * 2)
  }
  private val buffers = ThreadLocal.withInitial[ScanBuffers](() => new ScanBuffers)

  /** xxhash64(seed 42) of the UTF-8 bytes of extractTextFromString(html),
    * without materializing the text. Pass structure mirrors X2's frozen
    * order exactly: strip blocks/tags → entity decode over the STRIPPED
    * stream → collapse → trim, fused into reused buffers.
    */
  def textHashFromString(html: String): Long = {
    if (html == null) return emptyTextHash
    val buf = buffers.get()
    buf.ensureChars(html.length)
    val stripped = buf.chars
    // pass 1: strip script/style blocks and tags (X2 pass 1)
    var n = 0
    var i = 0
    while (i < html.length) {
      val c = html.charAt(i)
      if (c == '<') {
        if (tagAt(html, i, "script")) i = skipBlock(html, i, "script")
        else if (tagAt(html, i, "style")) i = skipBlock(html, i, "style")
        else {
          val gt = html.indexOf('>', i)
          i = if (gt < 0) html.length else gt + 1
        }
      } else { stripped(n) = c; n += 1; i += 1 }
    }
    // pass 2 (fused X2 passes 2+3): entity decode over the stripped stream,
    // whitespace collapse + trim, emitted in place over the same buffer
    // (the write index never overtakes the read index: every entity decode
    // shrinks and collapse never grows)
    var w = 0
    var pendingSpace = false
    i = 0
    def startsWithAt(lit: String, at: Int): Boolean = {
      if (at + lit.length > n) return false
      var j = 0
      while (j < lit.length) {
        if (stripped(at + j) != lit.charAt(j)) return false
        j += 1
      }
      true
    }
    while (i < n) {
      var c = stripped(i)
      var step = 1
      if (c == '&') {
        if (startsWithAt("&amp;", i)) { c = '&'; step = 5 }
        else if (startsWithAt("&lt;", i)) { c = '<'; step = 4 }
        else if (startsWithAt("&gt;", i)) { c = '>'; step = 4 }
        else if (startsWithAt("&quot;", i)) { c = '"'; step = 6 }
        else if (startsWithAt("&apos;", i)) { c = '\''; step = 6 }
        else if (startsWithAt("&nbsp;", i)) { c = ' '; step = 6 }
      }
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') pendingSpace = true
      else {
        if (pendingSpace && w > 0) { stripped(w) = ' '; w += 1 }
        pendingSpace = false
        stripped(w) = c
        w += 1
      }
      i += step
    }
    hashUtf8(stripped, w, buf)
  }

  /** XXH64(seed 42) over the UTF-8 encoding of chars[0, n) — identical to
    * Spark's xxhash64 over the equivalent string column.
    */
  private def hashUtf8(chars: Array[Char], n: Int, buf: ScanBuffers): Long = {
    buf.ensureBytes(n * 3 + 4)
    val out = buf.bytes
    var o = 0
    var i = 0
    while (i < n) {
      val c = chars(i)
      if (c < 0x80) { out(o) = c.toByte; o += 1 }
      else if (c < 0x800) {
        out(o) = (0xc0 | (c >> 6)).toByte
        out(o + 1) = (0x80 | (c & 0x3f)).toByte
        o += 2
      } else if (Character.isHighSurrogate(c) && i + 1 < n && Character.isLowSurrogate(chars(i + 1))) {
        val cp = Character.toCodePoint(c, chars(i + 1))
        out(o) = (0xf0 | (cp >> 18)).toByte
        out(o + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
        out(o + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
        out(o + 3) = (0x80 | (cp & 0x3f)).toByte
        o += 4
        i += 1 // consumed the pair
      } else {
        // unpaired surrogate → '?' (String.getBytes(UTF_8) behavior)
        if (Character.isSurrogate(c)) { out(o) = '?'.toByte; o += 1 }
        else {
          out(o) = (0xe0 | (c >> 12)).toByte
          out(o + 1) = (0x80 | ((c >> 6) & 0x3f)).toByte
          out(o + 2) = (0x80 | (c & 0x3f)).toByte
          o += 3
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, o, 42L)
  }

  private val emptyTextHash: Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      Array.emptyByteArray, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, 0, 42L)

  /** Round-6 crawl-hot-path scan: href list + text hash, NO anchor text.
    * The crawl/dataflow pipeline never reads anchors (fetch log keeps only
    * n_links + text_xxh64; candidate generation keys on href), yet the
    * anchor extraction inside [[extractLinksFromBytes]] pays a per-link
    * sub-scan + entity decode + collapse + String, ~30-40% of the scan
    * kernel (OPTIMIZATION_r06.md; perfbench's
    * `functions.Html.scan_ns_per_page` times this scan). Traversal, in-page
    * dedup (first raw href wins) and ordering are IDENTICAL to the Link
    * path — pinned by CanonExprSpec (hrefs ≡ links.map(_.href)); X1's
    * anchor-carrying extractors are untouched.
    */
  final case class PageScanHrefs(hrefs: Array[String], textXxh64: Long)

  def scanPageHrefs(html: Array[Byte]): PageScanHrefs =
    if (html == null) PageScanHrefs(Array.empty, emptyTextHash)
    else if (isValidUtf8(html) && !hasAsciiCaseFoldingChar(html))
      PageScanHrefs(extractHrefsFromBytes(html), textHashFromBytes(html))
    else {
      // invalid UTF-8 (replacement-char semantics) or a non-ASCII char whose
      // Character.toLowerCase lands in ASCII (U+0130 'İ'→'i', U+212A 'K'→'k' —
      // the ONLY two such code points, pinned exhaustively by a test): the
      // frozen X1/X2 char semantics treat e.g. <scrİpt> as a script tag, which
      // the ASCII-only byte fold cannot see — decode once and take the char
      // route. Both chars are vanishingly rare in real pages, so the fast
      // path keeps its coverage.
      val s = decodeUtf8(html)
      PageScanHrefs(extractHrefsFromString(s), textHashFromString(s))
    }

  /** X1 hrefs-only over raw valid-UTF-8 bytes — [[extractLinksFromBytes]]
    * minus the anchor-body text extraction (the `bodyEnd` walk is still
    * needed to find where the element ends).
    */
  private[graft] def extractHrefsFromBytes(b: Array[Byte]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    val n = b.length
    var i = 0
    while (i < n) {
      if (b(i) == '<') {
        if (tagAtB(b, i, "script")) i = skipBlockB(b, i, "script")
        else if (tagAtB(b, i, "style")) i = skipBlockB(b, i, "style")
        else if (tagAtB(b, i, "a")) {
          val (hrefRaw, past) = parseHrefB(b, i)
          var j = past
          var end = n
          var found = false
          while (j < n && !found) {
            if (b(j) == '<') {
              if (j + 1 < n && b(j + 1) == '/' && tagAtCloseB(b, j, "a")) {
                val gt = indexOfGt(b, j)
                end = if (gt < 0) n else gt + 1
                found = true
              } else if (tagAtB(b, j, "a")) { end = j; found = true }
            }
            if (!found) j += 1
          }
          if (!found) end = n
          if (hrefRaw != null && hrefRaw.nonEmpty) {
            val href = decodeEntities(hrefRaw).trim
            if (href.nonEmpty && !seen.contains(href)) {
              seen += href
              out += href
            }
          }
          i = end
        } else {
          val gt = indexOfGt(b, i)
          i = if (gt < 0) n else gt + 1
        }
      } else i += 1
    }
    out.toArray
  }

  /** Char-path twin of [[extractHrefsFromBytes]] (invalid-UTF-8 fallback). */
  private[graft] def extractHrefsFromString(html: String): Array[String] = {
    if (html == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i < html.length) {
      val c = html.charAt(i)
      if (c == '<') {
        if (tagAt(html, i, "script")) i = skipBlock(html, i, "script")
        else if (tagAt(html, i, "style")) i = skipBlock(html, i, "style")
        else if (tagAt(html, i, "a")) {
          val (hrefRaw, past) = parseHref(html, i)
          var j = past
          var end = html.length
          var found = false
          while (j < html.length && !found) {
            if (html.charAt(j) == '<') {
              if (j + 1 < html.length && html.charAt(j + 1) == '/' && tagAtClose(html, j, "a")) {
                val gt = html.indexOf('>', j)
                end = if (gt < 0) html.length else gt + 1
                found = true
              } else if (tagAt(html, j, "a")) { end = j; found = true }
            }
            if (!found) j += 1
          }
          if (!found) end = html.length
          if (hrefRaw != null && hrefRaw.nonEmpty) {
            val href = decodeEntities(hrefRaw).trim
            if (href.nonEmpty && !seen.contains(href)) {
              seen += href
              out += href
            }
          }
          i = end
        } else {
          val gt = html.indexOf('>', i)
          i = if (gt < 0) html.length else gt + 1
        }
      } else i += 1
    }
    out.toArray
  }

  // ---- byte-level scanning (valid UTF-8 only) ----
  //
  // Every delimiter the scanners look for ('<' '>' '/' '=' quotes, the
  // entity names, [ \t\r\n]) is ASCII, and UTF-8 guarantees no byte of a
  // multi-byte sequence is ever < 0x80 — so scanning raw bytes visits
  // exactly the positions the decoded-char scan would, and slicing at those
  // positions always lands on code-point boundaries. The page is therefore
  // never decoded at all on the hot path: only link hrefs/anchors (small)
  // become Strings, and the text hash runs over the stripped bytes directly
  // (identical to hashing the re-encoded decoded text, since decode∘encode
  // is the identity on valid UTF-8). Equality with the char path is pinned
  // by property tests; invalid UTF-8 (replacement-char semantics) falls
  // back to the char path above.

  /** Strict UTF-8 well-formedness check (RFC 3629: no overlongs, no
    * surrogates, ≤ U+10FFFF) — single pass, no allocation.
    */
  private[graft] def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xc2) return false // continuation or overlong lead
      else if (c < 0xe0) { // 2-byte
        if (i + 1 >= n || (b(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (c < 0xf0) { // 3-byte
        if (i + 2 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80) return false
        if (c == 0xe0 && c1 < 0xa0) return false // overlong
        if (c == 0xed && c1 >= 0xa0) return false // surrogate
        i += 3
      } else if (c < 0xf5) { // 4-byte
        if (i + 3 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80 || (b(i + 3) & 0xc0) != 0x80) return false
        if (c == 0xf0 && c1 < 0x90) return false // overlong
        if (c == 0xf4 && c1 >= 0x90) return false // > U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  /** True if the bytes contain U+0130 (UTF-8 C4 B0) or U+212A (E2 84 AA) —
    * the only code points above ASCII whose Character.toLowerCase is an ASCII
    * letter, i.e. the only inputs where the byte scanner's ASCII-only case
    * fold could diverge from the char path's tag-name matching. Single pass,
    * no allocation; the '&' of the check is that both lead bytes are rare.
    */
  private[graft] def hasAsciiCaseFoldingChar(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length - 1
    while (i < n) {
      val c = b(i) & 0xff
      if (c == 0xc4) {
        if ((b(i + 1) & 0xff) == 0xb0) return true
      } else if (c == 0xe2 && i + 2 < b.length) {
        if ((b(i + 1) & 0xff) == 0x84 && (b(i + 2) & 0xff) == 0xaa) return true
      }
      i += 1
    }
    false
  }

  private def isWsB(c: Int) = c == ' ' || c == '\t' || c == '\r' || c == '\n'

  private def indexOfGt(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length) { if (b(i) == '>') return i; i += 1 }
    -1
  }

  private def lowerB(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

  private def tagAtB(b: Array[Byte], i: Int, name: String): Boolean = {
    if (i + 1 + name.length > b.length) return false
    if (b(i) != '<') return false
    var j = 0
    while (j < name.length) {
      if (lowerB(b(i + 1 + j) & 0xff) != name.charAt(j)) return false
      j += 1
    }
    val after = i + 1 + name.length
    after >= b.length || isWsB(b(after) & 0xff) || b(after) == '>' || b(after) == '/'
  }

  private def tagAtCloseB(b: Array[Byte], i: Int, name: String): Boolean = {
    if (i + 2 + name.length > b.length) return false
    var j = 0
    while (j < name.length) {
      if (lowerB(b(i + 2 + j) & 0xff) != name.charAt(j)) return false
      j += 1
    }
    val after = i + 2 + name.length
    after >= b.length || isWsB(b(after) & 0xff) || b(after) == '>'
  }

  private def skipBlockB(b: Array[Byte], openIdx: Int, name: String): Int = {
    var i = indexOfGt(b, openIdx)
    if (i < 0) return b.length
    i += 1
    while (i < b.length) {
      if (b(i) == '<' && i + 1 < b.length && b(i + 1) == '/' && tagAtCloseB(b, i, name)) {
        val gt = indexOfGt(b, i)
        return if (gt < 0) b.length else gt + 1
      }
      i += 1
    }
    b.length
  }

  private def startsWithB(b: Array[Byte], n: Int, lit: String, at: Int): Boolean = {
    if (at + lit.length > n) return false
    var j = 0
    while (j < lit.length) {
      if (b(at + j) != lit.charAt(j)) return false
      j += 1
    }
    true
  }

  /** strip blocks/tags → entity decode → collapse → trim over the byte range
    * [from, until), emitted into (buf.bytes, returned length) — the X2
    * passes fused at byte level.
    */
  private def textBytes(b: Array[Byte], from: Int, until: Int, buf: ScanBuffers): Int = {
    buf.ensureBytes(until - from)
    val out = buf.bytes
    // pass 1: strip
    var n = 0
    var i = from
    while (i < until) {
      val c = b(i)
      if (c == '<') {
        // block skipping may legitimately run past `until` in the anchor
        // case only when the range IS the whole document; for anchor bodies
        // the char path sees the substring, so clamp exactly the same way
        if (tagAtBIn(b, i, until, "script")) i = skipBlockBIn(b, i, until, "script")
        else if (tagAtBIn(b, i, until, "style")) i = skipBlockBIn(b, i, until, "style")
        else {
          var gt = i
          while (gt < until && b(gt) != '>') gt += 1
          i = if (gt >= until) until else gt + 1
        }
      } else { out(n) = c; n += 1; i += 1 }
    }
    // pass 2: entities + collapse + trim, in place (write never overtakes read)
    var w = 0
    var pendingSpace = false
    i = 0
    while (i < n) {
      var c = out(i).toInt
      var step = 1
      if (c == '&') {
        if (startsWithB(out, n, "&amp;", i)) { c = '&'; step = 5 }
        else if (startsWithB(out, n, "&lt;", i)) { c = '<'; step = 4 }
        else if (startsWithB(out, n, "&gt;", i)) { c = '>'; step = 4 }
        else if (startsWithB(out, n, "&quot;", i)) { c = '"'; step = 6 }
        else if (startsWithB(out, n, "&apos;", i)) { c = '\''; step = 6 }
        else if (startsWithB(out, n, "&nbsp;", i)) { c = ' '; step = 6 }
      }
      if (c == ' ' || c == '\t' || c == '\r' || c == '\n') pendingSpace = true
      else {
        if (pendingSpace && w > 0) { out(w) = ' '; w += 1 }
        pendingSpace = false
        out(w) = c.toByte
        w += 1
      }
      i += step
    }
    w
  }

  // range-clamped variants (anchor bodies scan a sub-range, exactly like the
  // char path scanning a substring)
  private def tagAtBIn(b: Array[Byte], i: Int, until: Int, name: String): Boolean = {
    if (i + 1 + name.length > until) return false
    if (b(i) != '<') return false
    var j = 0
    while (j < name.length) {
      if (lowerB(b(i + 1 + j) & 0xff) != name.charAt(j)) return false
      j += 1
    }
    val after = i + 1 + name.length
    after >= until || isWsB(b(after) & 0xff) || b(after) == '>' || b(after) == '/'
  }

  private def tagAtCloseBIn(b: Array[Byte], i: Int, until: Int, name: String): Boolean = {
    if (i + 2 + name.length > until) return false
    var j = 0
    while (j < name.length) {
      if (lowerB(b(i + 2 + j) & 0xff) != name.charAt(j)) return false
      j += 1
    }
    val after = i + 2 + name.length
    after >= until || isWsB(b(after) & 0xff) || b(after) == '>'
  }

  private def skipBlockBIn(b: Array[Byte], openIdx: Int, until: Int, name: String): Int = {
    var i = openIdx
    while (i < until && b(i) != '>') i += 1
    if (i >= until) return until
    i += 1
    while (i < until) {
      if (b(i) == '<' && i + 1 < until && b(i + 1) == '/' && tagAtCloseBIn(b, i, until, name)) {
        var gt = i
        while (gt < until && b(gt) != '>') gt += 1
        return if (gt >= until) until else gt + 1
      }
      i += 1
    }
    until
  }

  /** X2-hash over the whole valid-UTF-8 document without decoding it. */
  def textHashFromBytes(b: Array[Byte]): Long = {
    val buf = buffers.get()
    val w = textBytes(b, 0, b.length, buf)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      buf.bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, w, 42L)
  }

  /** X2 text of a byte range as a String (anchor bodies — small). */
  private def textOfRange(b: Array[Byte], from: Int, until: Int, buf: ScanBuffers): String = {
    val w = textBytes(b, from, until, buf)
    new String(buf.bytes, 0, w, StandardCharsets.UTF_8)
  }

  /** parseHref over bytes; returns (href or null, indexPastGt). */
  private def parseHrefB(b: Array[Byte], lt: Int): (String, Int) = {
    val n = b.length
    var i = lt + 1
    while (i < n && b(i) != '>' && !isWsB(b(i) & 0xff) && b(i) != '/') i += 1
    var href: String = null
    while (i < n && b(i) != '>') {
      while (i < n && (isWsB(b(i) & 0xff) || b(i) == '/')) i += 1
      if (i >= n || b(i) == '>') return (href, if (i < n) i + 1 else n)
      val nameStart = i
      while (i < n && b(i) != '=' && b(i) != '>' && !isWsB(b(i) & 0xff)) i += 1
      val isHref = i - nameStart == 4 &&
        lowerB(b(nameStart) & 0xff) == 'h' && lowerB(b(nameStart + 1) & 0xff) == 'r' &&
        lowerB(b(nameStart + 2) & 0xff) == 'e' && lowerB(b(nameStart + 3) & 0xff) == 'f'
      var j = i
      while (j < n && isWsB(b(j) & 0xff)) j += 1
      if (j < n && b(j) == '=') {
        j += 1
        while (j < n && isWsB(b(j) & 0xff)) j += 1
        if (j < n && (b(j) == '"' || b(j) == '\'')) {
          val q = b(j)
          val vStart = j + 1
          var k = vStart
          while (k < n && b(k) != q) k += 1
          if (isHref && href == null) href = new String(b, vStart, k - vStart, StandardCharsets.UTF_8)
          i = if (k < n) k + 1 else k
        } else {
          val vStart = j
          var k = vStart
          while (k < n && !isWsB(b(k) & 0xff) && b(k) != '>') k += 1
          if (isHref && href == null) href = new String(b, vStart, k - vStart, StandardCharsets.UTF_8)
          i = k
        }
      } else {
        if (isHref && href == null) href = ""
        i = j
      }
    }
    (href, if (i < n) i + 1 else n)
  }

  /** X1 over raw valid-UTF-8 bytes — same traversal as the char path. */
  def extractLinksFromBytes(b: Array[Byte]): Array[Link] = {
    val buf = buffers.get()
    val out = scala.collection.mutable.ArrayBuffer.empty[Link]
    val seen = scala.collection.mutable.HashSet.empty[String]
    val n = b.length
    var i = 0
    while (i < n) {
      if (b(i) == '<') {
        if (tagAtB(b, i, "script")) i = skipBlockB(b, i, "script")
        else if (tagAtB(b, i, "style")) i = skipBlockB(b, i, "style")
        else if (tagAtB(b, i, "a")) {
          val (hrefRaw, past) = parseHrefB(b, i)
          var j = past
          var end = n
          var bodyEnd = n
          var found = false
          while (j < n && !found) {
            if (b(j) == '<') {
              if (j + 1 < n && b(j + 1) == '/' && tagAtCloseB(b, j, "a")) {
                bodyEnd = j
                val gt = indexOfGt(b, j)
                end = if (gt < 0) n else gt + 1
                found = true
              } else if (tagAtB(b, j, "a")) { bodyEnd = j; end = j; found = true }
            }
            if (!found) j += 1
          }
          if (!found) { bodyEnd = n; end = n }
          if (hrefRaw != null && hrefRaw.nonEmpty) {
            val href = decodeEntities(hrefRaw).trim
            if (href.nonEmpty && !seen.contains(href)) {
              seen += href
              out += Link(href, textOfRange(b, past, bodyEnd, buf))
            }
          }
          i = end
        } else {
          val gt = indexOfGt(b, i)
          i = if (gt < 0) n else gt + 1
        }
      } else i += 1
    }
    out.toArray
  }
}
