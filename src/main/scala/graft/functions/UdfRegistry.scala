package graft.functions

import org.apache.spark.sql.SparkSession

import graft.core.{Hashes, LinkExtract, Robots, SyntheticWeb, TextExtract, UrlCanon}

/** SQL-surface registration (SURVEY.md §2.8/§2.10): every scalar function of
  * the engine as a session UDF, so the whole library is reachable from
  * `spark.sql(...)` — a user of the reference can run their queries as SQL.
  *
  * Typed pipelines keep calling the Scala functions directly (no SerDe);
  * these registrations are the dynamic/SQL entry point.
  */
object UdfRegistry {

  /** Register all graft UDFs on the session. Returns the names. */
  def register(spark: SparkSession): Seq[String] = {
    val r = spark.udf
    r.register("canonicalize_url", (base: String, href: String) =>
      UrlCanon.canonicalize(base, href).orNull)
    r.register("canonical_url", (url: String) => UrlCanon.canonical(url).orNull)
    r.register("url_host", (url: String) => UrlCanon.hostOf(url))
    r.register("url_path", (url: String) => UrlCanon.pathOf(url))
    r.register("url_hash64", (url: String) => Hashes.xxh64(url))
    r.register("extract_text", (html: String) => TextExtract.extract(html))
    r.register("extract_links", (html: String, base: String) =>
      LinkExtract.extract(html, base))
    r.register("robots_allowed", (robotsBody: String, agent: String, path: String) =>
      Robots.parse(robotsBody, agent).allowed(path))
    r.register("lang_id", (text: String) => TextAnalysis.langId(text))
    r.register("quality_score", (text: String) => TextAnalysis.quality(text).score)
    r.register("token_count", (text: String) => TextAnalysis.tokens(text).length)
    r.register("bpe_token_count", (text: String) => TextAnalysis.bpeTokenCount(text))
    r.register("simhash64", (text: String) => TextAnalysis.simHash(text))
    r.register("doc_fingerprint", (text: String) => TextAnalysis.fingerprint(text))
    r.register("minhash_sig", (text: String) =>
      TextAnalysis.minHashSignature(TextAnalysis.shingles(text)))
    r.register("synthetic_html", (url: String) => SyntheticWeb.htmlFor(url))
    r.register("text_profile", (text: String) => TextAnalysis.profile(text))
    // codegen'd Catalyst expressions under their SQL names
    graft.GraftExtensions.functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    Seq("canonicalize_url", "canonical_url", "url_host", "url_path",
      "url_hash64", "extract_text", "extract_links", "robots_allowed",
      "lang_id", "quality_score", "token_count", "bpe_token_count",
      "simhash64", "doc_fingerprint", "minhash_sig", "synthetic_html",
      "text_profile") ++ graft.GraftExtensions.functions.map(_._1)
  }
}
