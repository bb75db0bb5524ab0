package graft.core

import java.util.regex.Pattern
import scala.collection.mutable.LinkedHashSet

/** Test oracle: the whole-page-regex `LinkExtract` (`<a` tags found by
  * `(?is)<a[\s/][^>]*>`). `ParseKernelPropSpec` checks the production scan
  * against it link for link. */
object LinkExtractOracle {

  private val ATag = Pattern.compile("(?is)<a[\\s/][^>]*>")
  private val Href = Pattern.compile(
    "(?is)\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>]+))")

  /** All canonical outlinks of `html` relative to absolute page URL `baseUrl`. */
  def extract(html: String, baseUrl: String): Vector[String] = {
    val seen = LinkedHashSet.empty[String]
    val m = ATag.matcher(html)
    while (m.find()) {
      val tag = m.group()
      val hm = Href.matcher(tag)
      if (hm.find()) {
        val raw =
          if (hm.group(1) != null) hm.group(1)
          else if (hm.group(2) != null) hm.group(2)
          else hm.group(3)
        UrlCanon.canonicalize(baseUrl, raw).foreach(seen.add)
      }
    }
    seen.toVector
  }
}
