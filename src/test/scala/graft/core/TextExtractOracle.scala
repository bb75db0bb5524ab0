package graft.core

import java.util.regex.Pattern

/** Test oracle: the regex-based `TextExtract` that produced the frozen goldens
  * (strip tags, then decode entities, then four regex whitespace passes).
  * `ParseKernelPropSpec` checks the production scanner against it byte for byte. */
object TextExtractOracle {

  private val BlockTags = Set(
    "p", "div", "br", "li", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "title")

  def extract(html: String): String = normalizeWs(decodeEntities(stripTags(html)))

  // --- pass 1: tags ---------------------------------------------------------

  private def stripTags(s: String): String = {
    val n = s.length
    val out = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c != '<') { out.append(c); i += 1 }
      else if (i + 3 < n && s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
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
        if (j == nameStart) { out.append(c); i += 1 } // '<' not a tag: literal
        else {
          val name = s.substring(nameStart, j).toLowerCase
          val gt = s.indexOf('>', j)
          val tagEnd = if (gt < 0) n else gt + 1
          val selfClosing = gt > i && s.charAt(gt - 1) == '/'
          if (BlockTags.contains(name)) out.append('\n')
          if (!closing && !selfClosing && (name == "script" || name == "style")) {
            val close = indexOfIgnoreCase(s, "</" + name, tagEnd)
            if (close < 0) i = n
            else {
              val gt2 = s.indexOf('>', close)
              i = if (gt2 < 0) n else gt2 + 1
            }
          } else i = tagEnd
        }
      }
    }
    out.toString
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

  // --- pass 2: the six pinned entities ---------------------------------------

  private val Entities: Array[(String, Char)] = Array(
    ("&amp;", '&'), ("&lt;", '<'), ("&gt;", '>'),
    ("&quot;", '"'), ("&#39;", '\''), ("&nbsp;", ' '))

  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        var matched = false
        var e = 0
        while (!matched && e < Entities.length) {
          val (ent, ch) = Entities(e)
          if (s.startsWith(ent, i)) { out.append(ch); i += ent.length; matched = true }
          e += 1
        }
        if (!matched) { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  // --- pass 3: whitespace -----------------------------------------------------

  private val PCrLf = Pattern.compile("\r\n?")
  private val PSpaceRun = Pattern.compile("[ \t]+")
  private val PAroundNl = Pattern.compile(" ?\n ?")
  private val PManyNl = Pattern.compile("\n{3,}")

  private def normalizeWs(s: String): String = {
    var t = PCrLf.matcher(s).replaceAll("\n")
    t = PSpaceRun.matcher(t).replaceAll(" ")
    t = PAroundNl.matcher(t).replaceAll("\n")
    t = PManyNl.matcher(t).replaceAll("\n\n")
    t.trim
  }
}
