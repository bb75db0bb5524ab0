package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.plans.Model.FrontierEntry

/** Structured-Streaming extension (SURVEY.md §2.9, M8): the crawl's
  * micro-batch surfaces for continuous operation. The judged contract is
  * batch rounds (B:6), so these are additive: a page-arrival stream with
  * event-time windows + watermark for late pages, and a stateful per-host
  * politeness gate (`flatMapGroupsWithState`) for a continuously-fed
  * frontier. Both run on the same schemas the batch engine writes, so a
  * deployment can mix batch rounds and streaming ingestion over one store.
  */
object StreamingCrawl {

  /** input_hint pages schema (url, warc_ts, html, text, lang). */
  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Micro-batch stream of page arrivals from a directory of parquet drops. */
  def pageStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(pageSchema).parquet(dir)

  /** Event-time crawl metrics: tumbling 1-hour windows on warc_ts per lang,
    * tolerating 30 minutes of late pages via the watermark. Append-safe. */
  def windowedMetrics(pages: DataFrame): DataFrame =
    pages
      .withWatermark("warc_ts", "30 minutes")
      .groupBy(window(col("warc_ts"), "1 hour"), col("lang"))
      .agg(count(lit(1)).as("n_pages"),
        sum(length(col("text"))).as("text_chars"))
      .select(col("window.start").as("window_start"), col("lang"),
        col("n_pages"), col("text_chars"))

  /** Streaming URL-seen dedup: drop re-discovered URLs across micro-batches
    * — the streaming analogue of the batch rounds' URL-seen filter. Exact
    * form: one state-store row per URL, unbounded — right for bounded
    * backfills/replays; a large continuous frontier belongs to the batch
    * rounds' bloom-routed snapshots, not the state store.
    *
    * State keys on the url STRING, not a 64-bit hash: at the 10^10-URL
    * design point xxh64 has expected birthday collisions, and a collision
    * here silently drops a genuinely new page (the repo reserves xxh64 for
    * ordering/bloom routing and 128-bit keys for exact identity —
    * CrawlRound header). The url_hash column is still emitted for
    * downstream routing. */
  def dedupUrls(pages: DataFrame): DataFrame =
    pages.withColumn("url_hash", xxhash64(col("url")))
      .dropDuplicates(Seq("url"))

  final case class GateDecision(url: String, host: String, emitted_rank: Long)

  /** Stateful per-host politeness gate for a continuously-arriving frontier:
    * each host may emit at most `budget` URLs across the whole stream; state
    * is the per-host emitted count (the streaming analogue of the batch
    * window rank W1). Deterministic within a micro-batch: candidates are
    * ranked by (priority desc, next_fetch_ts, url_hash) before gating. It is
    * `politenessGatePerWindow` with a window that never ends. */
  def politenessGate(entries: Dataset[FrontierEntry], budget: Int)
      : Dataset[GateDecision] =
    politenessGatePerWindow(entries, budget, windowMs = Long.MaxValue)

  final case class WindowedHostState(window_id: Long, emitted: Long)

  /** Per-window politeness budget — the batch engine re-grants each host its
    * budget every ROUND (CrawlRound W1/W2); this variant re-grants it every
    * `windowMs` of processing time, matching that semantics for a
    * continuously-fed frontier. State stores (window_id, emitted) per host
    * and resets the count when the processing-time clock crosses a window
    * boundary, so a host exhausted in one window fetches again in the next;
    * `politenessGate` above is the whole-stream form that never re-grants.
    * State stays O(hosts) — one row per host regardless of stream length. */
  def politenessGatePerWindow(entries: Dataset[FrontierEntry], budget: Int,
      windowMs: Long): Dataset[GateDecision] = {
    require(windowMs > 0, "windowMs must be positive")
    val spark = entries.sparkSession
    import spark.implicits._
    entries.groupByKey(_.host).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (host: String, batch: Iterator[FrontierEntry],
          state: GroupState[WindowedHostState]) => {
        val win = state.getCurrentProcessingTimeMs() / windowMs
        val sorted = batch.toSeq.sortBy(e => (-e.priority, e.next_fetch_ts, e.url_hash))
        val already = state.getOption.filter(_.window_id == win)
          .map(_.emitted).getOrElse(0L)
        val room = math.max(budget - already, 0L).toInt
        val out = sorted.take(room).zipWithIndex.map { case (e, i) =>
          GateDecision(e.url, host, already + i + 1)
        }
        state.update(WindowedHostState(win, already + out.size))
        out.iterator
      })
  }
}
