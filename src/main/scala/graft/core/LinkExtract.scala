package graft.core

import java.util.regex.Pattern
import scala.collection.mutable.LinkedHashSet

/** Outlink extraction (SURVEY.md §2.8 C5): find `href` attributes of `<a>` tags,
  * resolve + canonicalize each against the page URL, drop non-fetchable ones,
  * de-duplicate keeping first occurrence (pinned order: document order).
  *
  * An `<a>` tag is `<` + `a`/`A` + one of `[ \t\n\x0B\f\r/]`, up to the next
  * `>` (the regex `(?is)<a[\s/][^>]*>`, found by an `indexOf('<')` scan; the
  * regex form is the test oracle `LinkExtractOracle`). Like that regex, the
  * scan does not know about comments or scripts: an `<a` inside them counts.
  *
  * Used as the `flatMap` body of the typed parse stage — this IS the UDTF surface
  * (SURVEY.md §2.10): a Dataset `flatMap` beats a custom Catalyst `Generator` here
  * because the surrounding stage is already an opaque fetch/parse `mapPartitions`.
  */
object LinkExtract {

  private val Href = Pattern.compile(
    "(?is)\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>]+))")

  /** All canonical outlinks of `html` relative to absolute page URL `baseUrl`. */
  def extract(html: String, baseUrl: String): Vector[String] = {
    val seen = LinkedHashSet.empty[String]
    val n = html.length
    var i = html.indexOf('<')
    while (i >= 0 && i + 2 < n) {
      val a = html.charAt(i + 1)
      if ((a == 'a' || a == 'A') && isTagSpace(html.charAt(i + 2))) {
        val gt = html.indexOf('>', i + 3)
        if (gt < 0) i = -1 // no '>' left, so no later tag can end either
        else {
          val hm = Href.matcher(html.substring(i, gt + 1))
          if (hm.find()) {
            val raw =
              if (hm.group(1) != null) hm.group(1)
              else if (hm.group(2) != null) hm.group(2)
              else hm.group(3)
            UrlCanon.canonicalize(baseUrl, raw).foreach(seen.add)
          }
          i = html.indexOf('<', gt + 1)
        }
      } else i = html.indexOf('<', i + 1)
    }
    seen.toVector
  }

  /** `[\s/]` of a `java.util.regex` pattern without UNICODE_CHARACTER_CLASS. */
  private def isTagSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r' || c == '/'
}
