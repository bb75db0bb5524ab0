package graft.core

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The regex-free parse kernel against its regex oracles, byte for byte, on
  * generated HTML over an adversarial alphabet (scalacheck Gens sampled with
  * fixed seeds, no shrinking — the TextAnalysisPropSpec pattern). */
class ParseKernelPropSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int, seed: Long = 11L): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val tagPieces = Seq(
    "<p>", "</p>", "<P class=x>", "<div>", "</DIV >", "<br>", "<br/>", "<BR />",
    "<li>", "<h1>", "</h6>", "<h7>", "<tr>", "<title>", "<TiTlE>", "<p1>",
    "<b>", "</b>", "<i>", "<span id='s'>", "<abbr>", "<d\u0130v>", "<t\u0130tle>",
    "<\u212Ai>", "<\u00E9t\u00E9>", "<script>", "</script>", "<SCRIPT type=x>",
    "</ScRiPt >", "<script/>", "<scr\u0130pt>", "</scr\u0130pt>", "<style>",
    "</style>", "<style/>", "<STYLE media='a'>", "<!--", "-->", "<!-- c -->",
    "<!-- <p>x</p> -->", "<!DOCTYPE html>", "<?xml v?>", "<!", "<?", "<", ">",
    "/", "</", "<8", "< ", "<-", "<p", "<div")
  private val anchors = Seq(
    "<a href=\"/x\">", "<A HREF='y'>", "<a\nhref=../z>", "<a/href=\"/q\">",
    "<a\u000Bhref=/v>", "<a\u00A0href=/u>", "<a\u2028href=/t>", "<a href=/w>",
    "<a>", "<a", "<a ", "</a>", "<ab href=/n>",
    "<area href=\"/ar\">", "<a href=\"mailto:m@x\">", "<a name=n>",
    "<!-- <a href=\"/c\"> -->", "<a href=\"http://o.example/p#f\">", "href=\"/h\"")
  private val entities = Seq(
    "&", "&amp;", "&am", "p;", "&lt;", "&l", "t;", "&gt;", "&quot;", "&#39;",
    "&#3", "9;", "&nbsp;", "&nbsp", "&unknown;", "&amp;lt;", "&&amp;")
  private val spaces = Seq(
    " ", "  ", "\t", " \t ", "\n", "\r", "\r\n", "\n\n\n", "\u000B", "\f",
    "\u0001", "\u001F", "\u00A0", "\u2028", " &nbsp;\n", "\n&nbsp; ")
  private val words = Seq(
    "a", "B", "xyz", "\u00E9", "\u4E2D", "5", "-", "\"", "'", "=", "k", "script")

  private val piece: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf(tagPieces), 2 -> Gen.oneOf(anchors), 3 -> Gen.oneOf(entities),
    4 -> Gen.oneOf(spaces), 4 -> Gen.oneOf(words))
  /** ≤ 2 KB documents; 300 of them run in well under a second. */
  private val doc: Gen[String] = Gen.choose(0, 200)
    .flatMap(n => Gen.listOfN(n, piece).map(_.mkString.take(2048)))

  private lazy val docs = samples(doc, 300)
  private val base = "http://h.example/a/b"

  test("TextExtract equals the regex oracle on adversarial HTML and synthetic pages") {
    val pages = SyntheticWeb.seeds(20).map(SyntheticWeb.htmlFor)
    (docs ++ pages).foreach { html =>
      assert(TextExtract.extract(html) === TextExtractOracle.extract(html), html)
    }
  }

  test("LinkExtract equals the regex oracle on adversarial HTML and synthetic pages") {
    val pages = SyntheticWeb.seeds(20).map(u => (SyntheticWeb.htmlFor(u), u))
    (docs.map((_, base)) ++ pages).foreach { case (html, url) =>
      assert(LinkExtract.extract(html, url) === LinkExtractOracle.extract(html, url), html)
    }
  }
}
