package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Golden pairs for the pinned extractor (SURVEY.md §8.4). These vectors ARE the
  * byte-identity spec — change them only with a deliberate spec revision. */
class TextExtractSpec extends AnyFunSuite {

  private val goldens = Seq(
    ("basic blocks",
      "<html><body><p>Hello</p><p>World</p></body></html>",
      "Hello\n\nWorld"),
    ("script subtree dropped",
      "<p>a</p><script>var x = '<p>no</p>';</script><p>b</p>",
      "a\n\nb"),
    ("style subtree dropped, case-insensitive",
      "<STYLE>p { color: red }</STYLE>ok",
      "ok"),
    ("unterminated script drops to end",
      "<p>a</p><script>x = 1;",
      "a"),
    ("self-closing script drops nothing",
      "<script/>after",
      "after"),
    ("entities",
      "<p>a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39; f&nbsp;g &unknown;</p>",
      "a & b <c> \"d\" 'e' f g &unknown;"),
    ("whitespace collapse",
      "  <div> a \t b\r\n c </div>  ",
      "a b\nc"),
    ("block tag zoo",
      "<title>T</title><h1>H</h1>x<br>y<ul><li>i</li></ul><table><tr><td>c</td></tr></table>",
      "T\n\nH\nx\ny\ni\n\nc"),
    ("comments dropped",
      "a<!-- <p>hidden</p> -->b",
      "ab"),
    ("unterminated comment drops to end",
      "a<!-- nope",
      "a"),
    ("doctype and PI skipped",
      "<!DOCTYPE html><?xml version=\"1.0\"?><p>x</p>",
      "x"),
    ("literal < before non-letter kept",
      "5 < 6 and 7 <8> 9",
      "5 < 6 and 7 <8> 9"),
    ("inline tags stripped without newline",
      "<p>a <b>bold</b> and <em>em</em> text</p>",
      "a bold and em text"),
    ("3+ newlines collapse to 2",
      "<p>a</p><div></div><div></div><p>b</p>",
      "a\n\nb"),
    ("attributes ignored, self-closing block emits newline",
      "x<br/>y<div class=\"z\" data-a='b'>w</div>",
      "x\ny\nw"),
    ("empty input", "", ""),
    ("tag at EOF", "a<", "a<"),
    ("entity split by a tag decodes after stripping",
      "&am<b>p;x",
      "&x"),
    ("entity split by a comment and a tag decodes after stripping",
      "a<!-- c -->&l<i>t;b",
      "a<b"),
    ("CR before a block tag joins its newline",
      "a\r<p>b",
      "a\nb"))

  goldens.foreach { case (name, html, expected) =>
    test(s"golden: $name") {
      assert(TextExtract.extract(html) === expected)
    }
  }

  test("extraction of synthetic pages is deterministic and script-free") {
    val url = SyntheticWeb.seeds(1).head
    val html = SyntheticWeb.htmlFor(url)
    val t1 = TextExtract.extract(html)
    val t2 = TextExtract.extract(SyntheticWeb.htmlFor(url))
    assert(t1 === t2)
    assert(!t1.contains("var v="), "script content leaked")
    assert(!t1.contains("color:"), "style content leaked")
    assert(t1.startsWith("Page "), "title should lead the text")
  }
}
