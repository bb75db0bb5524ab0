package graft.plans

/** Typed row models for the crawl engine (SURVEY.md §1.1, FIXTURES.md §2).
  *
  * Field names are snake_case on purpose: the case-class `Encoder` field names
  * become the parquet column names, and snapshot/resume stability requires the
  * on-disk schema to be pinned (SURVEY.md §1.3). All timestamps are epoch millis
  * (UTC) carried as Long — plain integer arithmetic beats timestamp types in the
  * hot path and avoids timezone ambiguity across engines.
  */
object Model {

  /** Common-Crawl-style page row — the `input_hint` shape (BASELINE.json:15). */
  final case class PageRow(
      url: String,
      warc_ts: java.sql.Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)

  /** One frontier entry. `url_hash` = xxhash64(url, seed 42) — ordering + bloom
    * key; `(url_hash_hi, url_hash_lo)` = murmur3_128(url) — the exact dedup key
    * (64-bit would collide with certainty at 10^10 URLs; 128-bit p≈3e-19). */
  final case class FrontierEntry(
      url: String,
      url_hash: Long,
      url_hash_hi: Long,
      url_hash_lo: Long,
      host: String,
      priority: Int,
      next_fetch_ts: Long,
      discovered_round: Int,
      retries: Int)

  /** Exact URL-seen row. The url string is kept so the "final URL-seen set"
    * invariant (BASELINE.json north_rule) is checkable as a set of canonical
    * URLs, not just hashes. */
  final case class SeenUrl(
      url_hash_hi: Long,
      url_hash_lo: Long,
      url: String,
      first_seen_round: Int)

  /** A politeness-gated fetch scheduled for this round. `host_rank` is the
    * 1-based per-host rank; `fetch_ts = round_ts + (host_rank-1)*crawl_delay`
    * (SURVEY.md §8.5). `seq` is the 0-based global round sequence over the
    * gated rows ordered by (priority DESC, next_fetch_ts ASC, url_hash ASC)
    * (SURVEY.md §8.3). */
  final case class FetchTask(
      url: String,
      url_hash: Long,
      url_hash_hi: Long,
      url_hash_lo: Long,
      host: String,
      priority: Int,
      next_fetch_ts: Long,
      discovered_round: Int,
      retries: Int,
      host_rank: Int,
      seq: Long,
      fetch_ts: Long)

  /** Fetch + parse output. html is NOT carried past this stage — the text and
    * links are extracted executor-locally and the fat bytes never shuffle
    * (SURVEY.md §4.2 "never shuffle html"). */
  final case class FetchResult(
      url: String,
      url_hash: Long,
      url_hash_hi: Long,
      url_hash_lo: Long,
      host: String,
      priority: Int,
      next_fetch_ts: Long,
      seq: Long,
      fetch_ts: Long,
      status: Int,
      text: String,
      text_sha256: String,
      links: Seq[String],
      round: Int)

  /** Per-partition lineage counters written beside each snapshot (north_star:
    * "per-partition lineage rows and fetch/parse counters"). */
  final case class LineageRow(
      round: Int,
      stage: String,
      partition_id: Int,
      rows_in: Long,
      rows_out: Long,
      errors: Long,
      wall_ms: Long)

  /** Deterministic round metrics — persisted in the manifest; wall-clock-free
    * so manifests byte-compare across identical runs (SURVEY.md §5.4). */
  final case class RoundMetrics(
      round: Int,
      due: Long,
      robots_denied: Long,
      gated: Long,
      deferred: Long,
      fetched: Long,
      fetch_errors: Long,
      links_extracted: Long,
      links_deduped: Long,
      new_urls: Long,
      frontier_size: Long,
      seen_size: Long)

  /** Crawl configuration (FIXTURES.md §3 budget.json): the knobs a caller
    * sets. The goldens lock the defaults. */
  final case class CrawlConfig(
      hostBudget: Int = 4,
      roundCap: Int = 500,
      // every host's politeness top-k runs in two phases: a per-(host,
      // salt) top-budget with salt = pmod(url_hash, saltBuckets), then the
      // per-host top-budget over the survivors, so one hot host cannot skew
      // the window shuffle. Any row in a host's top-budget is in its salt
      // bucket's top-budget, so the value never changes the crawl; 1 is
      // the unsalted policy (equivalence-tested).
      saltBuckets: Int = 16,
      // every k-th snapshot also writes the full URL-seen set repartitioned
      // by hash (compaction) so reads stay O(1 base + few deltas)
      compactSeenEvery: Int = 8,
      // false: exact anti-join only — the oracle the bloom route (filter-
      // clear ⇒ definitely new) is tested against
      useBloom: Boolean = true,
      // sizing of the one broadcast URL-seen bloom filter; a resumed crawl
      // must keep it (mergeInPlace needs identical bit-array sizes)
      bloomExpectedItems: Long = 1L << 20)

  // Pinned spec values (FIXTURES.md §3 budget.json) that no caller varies.

  /** Priority of every seed entry in snapshot 0. */
  val SeedPriority: Int = 5
  /** Re-enqueue spacing unit: a deferred entry's next_fetch_ts is
    * round_ts + hostBudget * CrawlDelayDefaultMs. */
  val CrawlDelayDefaultMs: Long = 1000L
  val RoundIntervalMs: Long = 3600L * 1000
  val BaseTs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  /** Target false-positive rate of the URL-seen bloom filter. */
  val BloomFpp: Double = 0.01

  /** round_ts(k) — rounds tick on a fixed cadence so deferred entries
    * (next_fetch_ts = round_ts + budget*delay) come due by the next round. */
  def roundTs(round: Int): Long = BaseTs + round.toLong * RoundIntervalMs
}
