package graft.core

/** The pinned, deterministic HTML → text extractor (SURVEY.md §8.4).
  *
  * This is THE byte-identical artifact of the engine (BASELINE.json input_hint:
  * "per-row invariant vs the reference: byte-identical extracted text per url").
  * The reference repo is unrecoverable (SURVEY.md §0.1), so this implementation +
  * its golden vectors (`TextExtractSpec`, `text_sha256.csv`) define the spec.
  *
  * Pipeline (order is normative):
  *  1. tags, over the input:
  *     - `<!-- … -->` comments dropped (unterminated → drop to end);
  *     - `<script …>…</script>` and `<style …>…</style>` subtrees dropped
  *       (case-insensitive; self-closing `<script/>` drops nothing; unterminated
  *       → drop to end);
  *     - any other tag (open, close, or self-closing) whose name is in the block
  *       set {p, div, br, li, h1…h6, tr, title} emits '\n'; all other tags emit
  *       nothing; a '<' not starting a tag ('<' + non-letter, non-'/', non-'!')
  *       is literal text;
  *  2. entity decode, exactly these: &amp; &lt; &gt; &quot; &#39; and
  *     &nbsp; (→ regular space); one pass, no re-decoding;
  *  3. whitespace normalization: CRLF/CR → LF; runs of space/tab → one space;
  *     spaces adjacent to newlines removed; 3+ newlines → 2; trim (every char
  *     ≤ U+0020 at both ends, the `String.trim` rule).
  *
  * Two hand-written scans, no regex and no external parser (no jsoup on the
  * classpath — and a hand-rolled parser is what makes byte-identity pinnable).
  * Steps 2 and 3 run on the *stripped* text, so an entity or a CRLF split by a
  * tag still joins (`&am<b>p;` → `&`, `\r<p>` → one newline): the first scan
  * strips, the second decodes and normalizes in one pass. `ParseKernelPropSpec`
  * checks both scans against a regex test oracle (`TextExtractOracle`).
  */
object TextExtract {

  private val BlockTags = Array(
    "p", "div", "br", "li", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "title")

  def extract(html: String): String = {
    val stripped = new Array[Char](html.length) // stripping never grows the text
    decodeAndNormalize(stripped, stripTags(html, stripped))
  }

  // --- scan 1: tags -----------------------------------------------------------

  /** Writes the tag-stripped text of `s` into `out`; returns its length. */
  private def stripTags(s: String, out: Array[Char]): Int = {
    val n = s.length
    var w = 0
    var i = 0
    while (i < n) {
      val lt = s.indexOf('<', i)
      val textEnd = if (lt < 0) n else lt
      s.getChars(i, textEnd, out, w)
      w += textEnd - i
      i = textEnd
      if (i < n) {
        if (i + 3 < n && s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
          // doctype / processing instruction: skip to '>'
          val e = s.indexOf('>', i + 1)
          i = if (e < 0) n else e + 1
        } else {
          var j = i + 1
          val closing = j < n && s.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          if (j < n && s.charAt(j).isLetter) { // tag name must START with a letter
            j += 1
            while (j < n && (s.charAt(j).isLetter || s.charAt(j).isDigit)) j += 1
          }
          if (j == nameStart) { out(w) = '<'; w += 1; i += 1 } // '<' not a tag: literal
          else {
            val gt = s.indexOf('>', j)
            val tagEnd = if (gt < 0) n else gt + 1
            val selfClosing = gt > i && s.charAt(gt - 1) == '/'
            if (isBlock(s, nameStart, j)) { out(w) = '\n'; w += 1 }
            val script = nameIs(s, nameStart, j, "script")
            if (!closing && !selfClosing && (script || nameIs(s, nameStart, j, "style"))) {
              val close = indexOfIgnoreCase(s, if (script) "</script" else "</style", tagEnd)
              if (close < 0) i = n
              else {
                val gt2 = s.indexOf('>', close)
                i = if (gt2 < 0) n else gt2 + 1
              }
            } else i = tagEnd
          }
        }
      }
    }
    w
  }

  private def isBlock(s: String, from: Int, until: Int): Boolean = {
    var k = 0
    while (k < BlockTags.length && !nameIs(s, from, until, BlockTags(k))) k += 1
    k < BlockTags.length
  }

  /** `s[from, until)` equals lowercase `name`, ignoring ASCII case only: no
    * non-ASCII char lowercases to a lone letter of these names, so this is the
    * same test as `toLowerCase` + equality without the substring. */
  private def nameIs(s: String, from: Int, until: Int, name: String): Boolean = {
    if (until - from != name.length) return false
    var k = 0
    while (k < name.length) {
      val c = s.charAt(from + k)
      val lower = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lower != name.charAt(k)) return false
      k += 1
    }
    true
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = s.length; val m = needle.length
    var i = from
    while (i + m <= n) {
      var k = 0
      while (k < m && Character.toLowerCase(s.charAt(i + k)) == needle.charAt(k)) k += 1
      if (k == m) return i
      i += 1
    }
    -1
  }

  // --- scan 2: the six pinned entities + whitespace -----------------------------

  private val EntityNames = Array("amp;", "lt;", "gt;", "quot;", "#39;", "nbsp;")
  private val EntityChars = Array('&', '<', '>', '"', '\'', ' ')

  /** Decodes entities and normalizes whitespace over `a[0, n)` in one pass. A
    * decoded char is data, never re-decoded: `&nbsp;` joins a space run, the
    * `&` of `&amp;` starts no entity. */
  private def decodeAndNormalize(a: Array[Char], n: Int): String = {
    val out = new Array[Char](n)
    var w = 0
    var space = false // a space/tab run is pending (dropped if a newline follows)
    var newlines = 0  // newlines just written, none since the last other char
    var i = 0
    while (i < n) {
      var c = a(i)
      i += 1
      if (c == '&') {
        val e = entityAt(a, i, n)
        if (e >= 0) { c = EntityChars(e); i += EntityNames(e).length }
      } else if (c == '\r') {
        c = '\n'
        if (i < n && a(i) == '\n') i += 1
      }
      if (c == ' ' || c == '\t') {
        if (newlines == 0) space = true
      } else if (c == '\n') {
        space = false
        if (newlines < 2) { out(w) = '\n'; w += 1 }
        newlines += 1
      } else {
        if (space) { out(w) = ' '; w += 1; space = false }
        out(w) = c; w += 1
        newlines = 0
      }
    }
    var lo = 0
    while (lo < w && out(lo) <= ' ') lo += 1
    var hi = w
    while (hi > lo && out(hi - 1) <= ' ') hi -= 1
    new String(out, lo, hi - lo)
  }

  /** Index into `EntityNames` of the entity named at `a(i)` (just after an
    * `&`), or -1 if none of the six starts there. */
  private def entityAt(a: Array[Char], i: Int, n: Int): Int = {
    var e = 0
    while (e < EntityNames.length) {
      val name = EntityNames(e)
      var k = 0
      while (k < name.length && i + k < n && a(i + k) == name.charAt(k)) k += 1
      if (k == name.length) return e
      e += 1
    }
    -1
  }
}
