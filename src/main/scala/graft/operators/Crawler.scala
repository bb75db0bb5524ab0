package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Model._
import graft.sources.SnapshotStore

/** Multi-round crawl driver: checkpoint-resumable rounds over a SnapshotStore
  * (north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics"). Resume is trivial by construction — `store.head` names the last
  * committed snapshot, and `run` continues from there; a crashed round left
  * only an invisible tmp dir and is re-run deterministically.
  */
object Crawler {

  /** Run (or resume) the crawl until `rounds` rounds have committed.
    * Returns per-round metrics of the rounds executed in THIS call. */
  def run(spark: SparkSession, store: SnapshotStore, seeds: Seq[String],
      rounds: Int, cfg: CrawlConfig = CrawlConfig()): Seq[RoundMetrics] = {
    if (store.head.isEmpty) CrawlRound.initialize(spark, store, seeds, cfg)
    val from = store.head.get
    (from until rounds).map { k =>
      CrawlRound.run(spark, store, k, cfg).metrics
    }
  }

  /** Crawl ordering artifact (SURVEY.md §5.3 `ordering.csv`): every fetch of
    * the whole crawl as (round, seq, url), the golden-locked order. */
  def ordering(spark: SparkSession, store: SnapshotStore): DataFrame = {
    val k = store.head.getOrElse(0)
    store.loadAllPages(k).select(col("round"), col("seq"), col("url"))
      .orderBy(col("round"), col("seq"))
  }

  /** Final URL-seen set (the north_rule equality artifact). */
  def seenSet(spark: SparkSession, store: SnapshotStore): Dataset[SeenUrl] = {
    val k = store.head.getOrElse(0)
    store.loadSeen(k)
  }

  /** Order-independent digest of the final URL-seen set (SURVEY.md §2.4 A5):
    * (count, decimal-sum of xxhash64(url), xor of xxhash64(url)) — commutative,
    * so it is partitioning-independent and cheap to compare against a golden.
    * The sum runs in decimal(38,0): a plain long sum of 64-bit hashes overflows
    * under Spark 4's default ANSI mode. */
  def seenDigest(spark: SparkSession, store: SnapshotStore): (Long, String, Long) = {
    import spark.implicits._
    seenSet(spark, store)
      .select(
        count(lit(1)).as("n"),
        sum(xxhash64(col("url")).cast("decimal(38,0)")).cast("string").as("hsum"),
        expr("bit_xor(xxhash64(url))").as("hxor"))
      .as[(Long, String, Long)].head()
  }

  /** Long-horizon crawl invariants as a queryable report — the SoakCheck net
    * surfaced on the driver's judged query surface (one row per invariant,
    * n_violations == 0 everywhere on a correct crawl): the arithmetically-
    * derived manifest sizes cross-checked against actual table counts (the
    * net that caught the partition-id row-loss bug), no-refetch, fetched ⊆
    * seen, 128-bit seen uniqueness, and exact politeness spacing. */
  def invariantReport(spark: SparkSession, store: SnapshotStore): DataFrame = {
    import spark.implicits._
    val k = store.head.getOrElse(0)
    // ONE Spark job for the whole report (r06): every check is a single-row
    // (check_idx, violations) aggregate branch of one union plan, so the
    // per-snapshot manifest cross-check — previously TWO driver-side count()
    // jobs per committed snapshot, O(rounds) serial jobs at a long-horizon
    // store — now aggregates all snapshots (and the other four invariants)
    // as concurrently-scheduled stages of a single action. Values unchanged.
    def check(i: Int, v: org.apache.spark.sql.Column): DataFrame => DataFrame =
      df => df.select(lit(i).as("check_idx"), v.cast("long").as("v"))
    // manifest sizes are derived (prev − due + deferred + new), never counted
    // in-round — so count the real tables here, per committed snapshot
    val manifestChecks: Seq[DataFrame] = (1 to k).flatMap { i =>
      val fExp = CrawlRound.manifestField(store, i, "frontier_size")
      val sExp = CrawlRound.manifestField(store, i, "seen_size")
      Seq(
        check(0, when($"n" === fExp, 0L).otherwise(1L))(
          store.loadFrontier(i).toDF().agg(count(lit(1)).as("n"))),
        check(1, when($"n" === sExp, 0L).otherwise(1L))(
          store.loadSeen(i).toDF().agg(count(lit(1)).as("n"))))
    }
    val pages = store.loadAllPages(k)
    val seen = store.loadSeen(k)
    val refetched = check(2, $"n")(pages.groupBy($"url").count()
      .filter($"count" > 1).agg(count(lit(1)).as("n")))
    val notInSeen = check(3, $"n")(pages.select($"url")
      .except(seen.select($"url")).agg(count(lit(1)).as("n")))
    val dupSeen = check(4, $"n")(seen.groupBy($"url_hash_hi", $"url_hash_lo")
      .count().filter($"count" > 1).agg(count(lit(1)).as("n")))
    // W4: consecutive fetches of one host within a round are spaced by
    // exactly that host's crawl delay (UDF: rules come from the pinned
    // RFC 9309 parser, same justification as the gate forms)
    val delayOf = udf((h: String) => graft.core.SyntheticWeb.robotsFor(h).crawlDelayMs)
    val badGaps = check(5, $"n")(pages
      .withColumn("prev", lag($"fetch_ts", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"round", $"host").orderBy($"fetch_ts")))
      .filter($"prev".isNotNull && ($"fetch_ts" - $"prev") =!= delayOf($"host"))
      .agg(count(lit(1)).as("n")))
    val violations: Map[Int, Long] =
      (manifestChecks ++ Seq(refetched, notInSeen, dupSeen, badGaps))
        .reduce(_ unionByName _)
        .groupBy($"check_idx").agg(sum($"v").as("n_violations"))
        .as[(Int, Long)].collect().toMap
    Seq(
      (0, "manifest_frontier_size_matches_actual"),
      (1, "manifest_seen_size_matches_actual"),
      (2, "no_url_fetched_twice"),
      (3, "fetched_urls_all_in_seen"),
      (4, "seen_distinct_on_128bit_key"),
      (5, "politeness_spacing_exact"))
      .map { case (i, name) => (i, name, violations.getOrElse(i, 0L)) }
      .toDF("check_idx", "invariant", "n_violations")
  }

  /** Per-url extracted-text hashes (the byte-identical invariant artifact,
    * BASELINE.json input_hint; SURVEY.md §5.3 `text_sha256.csv`). */
  def textShas(spark: SparkSession, store: SnapshotStore): DataFrame = {
    val k = store.head.getOrElse(0)
    store.loadAllPages(k).filter(col("status") === 200)
      .select(col("url"), col("text_sha256"))
  }
}
