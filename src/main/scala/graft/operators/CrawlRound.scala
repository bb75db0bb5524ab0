package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.{Hashes, LinkExtract, Robots, SyntheticWeb, TextExtract, UrlCanon}
import graft.plans.Model._
import graft.sources.SnapshotStore

/** One crawl round as a typed Dataset pipeline (SURVEY.md §3.1; BASELINE.json
  * north_star: frontier dequeue → politeness gate → fetch/parse → text
  * extraction → link extraction/canonicalization → dedup → frontier re-enqueue),
  * run as five stages: `gate` → `sequence` → `fetch` → `dedup` → `commit`.
  *
  * Scale design (the 1000-executor / 10^10-URL view, exercised at local[N]):
  *  - the fat `html` bytes exist only inside the fetch/parse `mapPartitions` —
  *    text+links are extracted executor-locally and html never shuffles;
  *  - all wide operations key on hashes (xxh64 for ordering/bloom, murmur128
  *    for exact identity), never raw URL strings;
  *  - robots rules are memoized per executor inside the gate projection — no
  *    driver robots structure and no robots job;
  *  - the URL-seen probe routes on a broadcast bloom filter: bloom-clear links
  *    are *definitely* new (bloom has no false negatives) and skip the exact
  *    join entirely; only bloom-hits (≈ seen + fpp·new) reach it, and the
  *    default scan-form join (seenAntiJoinScan) broadcasts those suspect keys
  *    so the seen table itself is only SCANNED, never shuffled. The seen set
  *    stays exact — a false positive costs one wasted join probe, never a
  *    dropped URL (SURVEY.md §4.2 exactness backstop);
  *  - every host goes through a salted two-phase politeness top-k so a hot
  *    host (zipfian frontier) cannot skew the window shuffle (SURVEY.md §4.3);
  *  - the global round sequence is assigned with range-partition +
  *    `zipWithIndex` — a total order across files without a single-reducer sort.
  */
object CrawlRound {

  final case class RoundResult(round: Int, metrics: RoundMetrics)

  private def childPriority(parent: Int): Int = math.max(parent - 1, 0)

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Per-executor robots cache for the fused gate form: rules are "fetched"
    * (SyntheticWeb — the sandbox's only network) and parsed at most once per
    * (executor, host), then shared by every task on that executor — the
    * Mercator robots cache moved executor-side, which is what lets the gate
    * run with no driver robots structure and no dedicated robots job. Rules
    * are a pure function of host, so cross-executor duplication is only
    * memory, never divergence; the size cap bounds a long-lived executor
    * crawling an unbounded host set (segment eviction, not clear-all — see
    * BoundedMemoCache: a >2^20-host executor degrades smoothly instead of
    * re-parsing its whole working set after each overflow). */
  private val hostRulesCache =
    new graft.core.BoundedMemoCache[String, Robots.Rules](1 << 20)
  private def hostRules(h: String): Robots.Rules =
    hostRulesCache.getOrCompute(h)(host => SyntheticWeb.robotsFor(host))

  /** xxh64 of a url, computed executor-side — the URL-seen filter key. */
  private val xxh64OfUrl = udf((u: String) => Hashes.xxh64(u))

  /** Distributed URL-seen filter build over a one-column long DataFrame of
    * url hashes, with the persistent filter's (expectedItems, fpp) —
    * mergeInPlace requires identical bit-array sizes. Merging partials is a
    * bit OR, so the bytes do not depend on the fan-in. Fan-in: every scan
    * partition yields a FULL-size partial filter, so the coalesce caps the
    * serialized megabytes through the aggregate — but a fixed coalesce(4)
    * also capped the delta scan at 4 cores, a measured ~2–3 s CONSTANT
    * slice at high core counts (pure non-scaling F; at ≤4 cores the core
    * count is the cap anyway). 16 partials × ~10 MB (1% fpp, 2^23 items)
    * sit well inside driver headroom. */
  private def bloomOfHashes(hashes: DataFrame, cfg: CrawlConfig): BloomFilter = {
    val fanIn = math.max(1, math.min(shufflePartitions(hashes.sparkSession), 16))
    hashes.coalesce(fanIn).stat
      .bloomFilter(hashes.columns.head, cfg.bloomExpectedItems, BloomFpp)
  }

  private def bloomBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private def bloomOf(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** J1 exact URL-seen dedup, SHUFFLE form: plain left-anti join. Both sides
    * exchange on the 128-bit key — at 10^10 seen URLs that is a full seen-set
    * shuffle EVERY round, which is why filter-routed suspects never take it.
    * It is the form for the one probe side no filter routed, which is
    * O(candidates): useBloom=false, the exact-only oracle. */
  private[graft] def seenAntiJoinShuffle(seen: DataFrame,
      suspects: DataFrame): DataFrame =
    suspects.join(seen.select(col("url_hash_hi"), col("url_hash_lo")),
      Seq("url_hash_hi", "url_hash_lo"), "left_anti")

  /** J1 exact URL-seen dedup, SCAN form (every filter-routed probe): the
    * seen set is only ever SCANNED, never shuffled. The filter route already
    * shrank the probe side to suspects ≈ true-dups + fpp·new — a small set by
    * construction — so:
    *   (1) semi-join seen ⋉ broadcast(suspect keys): a narrow projection
    *       scan of the seen table emitting only the keys that ARE seen
    *       (≤ |suspects| rows);
    *   (2) suspects anti-join broadcast(those hits).
    * Both joins broadcast the small side; the per-round cost against the
    * unbounded table drops from O(seen) shuffle to O(seen) narrow scan —
    * the asymptote a 10^10-URL seen set demands (the compacted base is read
    * with its 2-column projection pushed down; nothing wide moves). Output
    * is identical to the shuffle form (set algebra; equivalence-tested). */
  private[graft] def seenAntiJoinScan(seen: DataFrame,
      suspects: DataFrame): DataFrame = {
    val keys = Seq("url_hash_hi", "url_hash_lo")
    val keyCols = keys.map(col)
    val hits = seen.select(keyCols: _*)
      .join(broadcast(suspects.select(keyCols: _*)), keys, "left_semi")
    suspects.join(broadcast(hits), keys, "left_anti")
  }

  /** Build a FrontierEntry from a canonical URL (seeds + new links). */
  def entryFor(url: String, priority: Int, nextFetchTs: Long, round: Int): FrontierEntry = {
    val (hi, lo) = Hashes.murmur128(url)
    FrontierEntry(url, Hashes.xxh64(url), hi, lo, UrlCanon.hostOf(url),
      priority, nextFetchTs, round, 0)
  }

  /** Initialize snapshot 0 from a seed list (SURVEY.md §2.1 S3). */
  def initialize(spark: SparkSession, store: SnapshotStore, seedUrls: Seq[String],
      cfg: CrawlConfig): Unit = {
    import spark.implicits._
    val t0 = roundTs(0)
    val seeds = seedUrls.flatMap(UrlCanon.canonical).distinct
      .map(u => entryFor(u, SeedPriority, t0, 0))
    writeSnapshotZero(spark, store, spark.createDataset(seeds), cfg)
  }

  /** Commit snapshot 0 from an already-deduplicated frontier: the frontier,
    * every entry as round-0 seen, empty pages and lineage, the URL-seen
    * filter (bits equal to driver-side `putLong` of every `url_hash`) and
    * the manifest. Returns the entry count. */
  private[operators] def writeSnapshotZero(spark: SparkSession, store: SnapshotStore,
      entries: Dataset[FrontierEntry], cfg: CrawlConfig): Long = {
    import spark.implicits._
    val pending = store.begin(0)
    orderedFrontierWrite(entries, pending.frontierPath)
    entries.map(e => SeenUrl(e.url_hash_hi, e.url_hash_lo, e.url, 0))
      .write.parquet(pending.seenDeltaPath)
    spark.emptyDataset[FetchResult].write.parquet(pending.pagesPath)
    spark.emptyDataset[LineageRow].write.parquet(pending.lineagePath)
    pending.writeBloom(bloomOfHashes(entries.select($"url_hash"), cfg))
    val n = entries.count()
    pending.commit(manifestJson(RoundMetrics(-1, 0, 0, 0, 0, 0, 0, 0, 0, n, n, n), cfg))
    n
  }

  /** `gate` output: snapshot k's not-due frontier rows, and the due rows
    * with their robots verdict and crawl delay (cached). */
  private final case class Gated(notDue: Dataset[FrontierEntry],
      withRobots: DataFrame) {
    def frontierCols: Seq[Column] = notDue.columns.map(col).toSeq
  }

  /** `sequence` output: this round's fetch tasks and the cached re-enqueues. */
  private final case class Sequenced(tasks: Dataset[FetchTask],
      deferred: Dataset[FrontierEntry])

  /** `fetch` output: the cached fetch results and the round totals. */
  private final case class Fetched(pages: Dataset[FetchResult], n: Long,
      errors: Long, links: Long)

  /** `dedup` output: the exact seen set, the cached in-batch link
    * candidates and truly-new links, and the previous snapshot's filter. */
  private final case class Deduped(seen: Dataset[SeenUrl], cand: DataFrame,
      trulyNew: DataFrame, prevBloomBytes: () => Array[Byte])

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private val JobDescription = "spark.job.description"

  /** The one owner of everything round k holds between `run`'s open and
    * close: the staged snapshot k+1, every job future launched into it,
    * every Dataset the round caches, and the stage name its Spark jobs
    * carry as their job description. `close` releases all of it on every
    * path. A round that did not commit first DRAINS its futures, then drops
    * the tmp dir: Scala Futures are not cancellable, and aborting while a
    * write still runs would race a retry's begin(k+1) deleting the dir
    * under it. Only then are the caches unpersisted, and the caller's job
    * description comes back. */
  private final class RoundScope(spark: SparkSession, val pending: SnapshotStore#Pending) {
    private val sc = spark.sparkContext
    private val callerDescription = sc.getLocalProperty(JobDescription)
    private val launched = ArrayBuffer.empty[Future[Any]]
    private val caches = ArrayBuffer.empty[Dataset[_]]
    private var committed = false

    /** Runs `body` on the calling thread; its jobs are labelled `name`. */
    def stage[T](name: String)(body: => T): T = {
      sc.setJobDescription(name)
      body
    }

    /** Starts `body` on a pool thread; its jobs are labelled `name`. Local
      * properties are per thread, so the body sets the label on its own
      * thread and clears it there when done. */
    def launch[T](name: String)(body: => T): Future[T] = {
      val f = Future(scala.concurrent.blocking {
        sc.setJobDescription(name)
        try body finally sc.setJobDescription(null)
      })
      launched.synchronized { launched += f }
      f
    }

    /** Persists `ds` for the rest of the round. */
    def cache[T](ds: Dataset[T]): Dataset[T] = {
      caches += ds
      ds.persist()
    }

    /** Waits for every launched body; the first failed one rethrows. */
    def awaitLaunched(): Unit =
      launched.synchronized(launched.toList).foreach(Await.result(_, Duration.Inf))

    def commit(manifestJson: String): Unit = {
      pending.commit(manifestJson)
      committed = true
    }

    def close(): Unit = {
      if (!committed) {
        launched.synchronized(launched.toList)
          .foreach(f => scala.util.Try(Await.ready(f, Duration.Inf)))
        scala.util.Try(pending.abort())
      }
      caches.foreach(_.unpersist(blocking = false))
      sc.setLocalProperty(JobDescription, callerDescription)
    }
  }

  /** Run round k: consume snapshot k, commit snapshot k+1. */
  def run(spark: SparkSession, store: SnapshotStore, k: Int, cfg: CrawlConfig): RoundResult = {
    val rts = roundTs(k)
    val scope = new RoundScope(spark, store.begin(k + 1))
    try {
      val g = scope.stage("gate")(gate(spark, store, k, rts, scope))
      val s = scope.stage("sequence")(sequence(spark, cfg, rts, g, scope))
      val f = scope.stage("fetch")(fetch(spark, k, s.tasks, scope))
      val d = scope.stage("dedup")(dedup(spark, store, k, cfg, f.pages, scope))
      RoundResult(k, scope.stage("commit")(commit(spark, store, k, cfg, rts, scope, g, s, f, d)))
    } finally scope.close()
  }

  /** F4 due filter + F2 robots gate. Robots rules come from the per-executor
    * memoized cache keyed by host — the robots "fetch" happens at most once
    * per (executor, host) inside the gate projection itself, so the gate has
    * no distinct-hosts job, no driver map and no broadcast. Rules MUST come
    * from the pinned RFC 9309 parser (over deterministic SyntheticWeb bodies,
    * which stand in for the network), which parse_url/regex cannot express,
    * hence the UDFs. Denied URLs are dropped for good: they stay in the seen
    * set, so they are never re-enqueued either. Pinned behavior. */
  private def gate(spark: SparkSession, store: SnapshotStore, k: Int,
      rts: Long, scope: RoundScope): Gated = {
    import spark.implicits._
    val frontier = store.loadFrontier(k)
    // plain column predicates, pushed into the parquet scan
    val due = frontier.filter($"next_fetch_ts" <= rts)
    val notDue = frontier.filter($"next_fetch_ts" > rts)
    val robotsOkU = udf { (host: String, url: String) =>
      hostRules(host).allowed(UrlCanon.pathOf(url))
    }
    val delayU = udf { (host: String) => hostRules(host).crawlDelayMs }
    val withRobots = scope.cache(due
      .withColumn("crawl_delay_ms", delayU($"host"))
      .withColumn("robots_ok", robotsOkU($"host", $"url")))
    Gated(notDue, withRobots)
  }

  /** Politeness and sequencing over the allowed rows: W1/W2 per-host
    * top-budget via the §4.3 two-phase salted top-k, the W2 fetch_ts
    * schedule, the §8.3 global round sequence and the O3 round cap.
    * Everything over budget or cap is re-enqueued (§8.5). */
  private def sequence(spark: SparkSession, cfg: CrawlConfig, rts: Long,
      g: Gated, scope: RoundScope): Sequenced = {
    import spark.implicits._
    val allowed = g.withRobots.filter($"robots_ok")
    val ord: Seq[Column] =
      Seq($"priority".desc, $"next_fetch_ts".asc, $"url_hash".asc)
    // phase 1: top-budget per (host, salt), the salt a codegen pmod column —
    // no UDF, no broadcast map. Any row in a host's true top-budget is in
    // its salt bucket's local top-budget, so phase 1 never drops a row phase
    // 2 would keep: salting is semantics-neutral for EVERY host, and cold
    // hosts simply never overflow a bucket (saltBuckets = 1 is unsalted).
    val salted = allowed.withColumn("salt",
      pmod($"url_hash", lit(cfg.saltBuckets.toLong)).cast("int"))
    val w1 = Window.partitionBy($"host", $"salt").orderBy(ord: _*)
    val ranked = scope.cache(salted.withColumn("srank", row_number().over(w1)))
    val phase1Kept = ranked.filter($"srank" <= cfg.hostBudget).drop("salt", "srank")
    val phase1Dropped = ranked.filter($"srank" > cfg.hostBudget).drop("salt", "srank")
    val w2 = Window.partitionBy($"host").orderBy(ord: _*)
    val hostRanked = scope.cache(phase1Kept.withColumn("host_rank", row_number().over(w2)))
    val budgetKept = hostRanked.filter($"host_rank" <= cfg.hostBudget)
    val budgetDropped = hostRanked.filter($"host_rank" > cfg.hostBudget)

    val preTasks = budgetKept
      .withColumn("fetch_ts", lit(rts) + ($"host_rank" - 1) * $"crawl_delay_ms")
      .withColumn("seq", lit(-1L))
      .select($"url", $"url_hash", $"url_hash_hi", $"url_hash_lo", $"host",
        $"priority", $"next_fetch_ts", $"discovered_round", $"retries",
        $"host_rank", $"seq", $"fetch_ts")
      .as[FetchTask]
    // `sequenced`'s range partitions become the fetch tasks: one per shuffle
    // partition (more tasks per core measured slower at local[16])
    val sequenced = assignGlobalSeq(spark, preTasks, shufflePartitions(spark), scope)
    val tasks = sequenced.filter($"seq" < cfg.roundCap)
    val capDropped = sequenced.filter($"seq" >= cfg.roundCap)

    // deferred = over-salt ∪ over-budget ∪ over-cap; bumped past this round's
    // schedule window, priority decayed by 1 (floor 0)
    val frontierCols = g.frontierCols
    val deferred = scope.cache(phase1Dropped.select(frontierCols: _*)
      .unionByName(budgetDropped.select(frontierCols: _*))
      .unionByName(capDropped.toDF().select(frontierCols: _*))
      .withColumn("next_fetch_ts", lit(rts + cfg.hostBudget * CrawlDelayDefaultMs))
      .withColumn("priority", greatest($"priority" - 1, lit(0)))
      .withColumn("retries", $"retries" + 1)
      .as[FrontierEntry])
    Sequenced(tasks, deferred)
  }

  /** Fetch/parse, executor-local: html never leaves this stage. Then the two
    * snapshot outputs that depend ONLY on the fetch results (pages, lineage)
    * start writing at once, overlapped with dedup. Motivation (round-3
    * job-timeline trace): the write phase measured as a ~6.4 s wall CONSTANT
    * at both local[4] and local[16] — per-task/per-file fixed costs, not data
    * volume — i.e. pure non-scaling serial fraction. Overlapping these writes
    * with real work removes that wall from both levels. Lineage coalesces to
    * one task: it is O(partitions) rows and was paying a 16-task write. */
  private def fetch(spark: SparkSession, k: Int, tasks: Dataset[FetchTask],
      scope: RoundScope): Fetched = {
    import spark.implicits._
    val round = k
    val fetched: Dataset[FetchResult] = scope.cache(tasks.mapPartitions { it =>
      it.map { t =>
        val f = SyntheticWeb.fetch(t.url)
        val (text, links) =
          if (f.status == 200) (TextExtract.extract(f.html), LinkExtract.extract(f.html, t.url))
          else ("", Vector.empty[String])
        FetchResult(t.url, t.url_hash, t.url_hash_hi, t.url_hash_lo, t.host,
          t.priority, t.next_fetch_ts, t.seq, t.fetch_ts, f.status, text,
          if (f.status == 200) Hashes.sha256Hex(text) else "", links, round)
      }
    })
    // ONE per-partition aggregation serves the round totals AND the S8
    // lineage rows: the dedicated lineage job used to re-scan the fat
    // fetched cache as a third concurrent reader beside the pages write and
    // the link shuffle — a measured 2.4 s (16c) / 4.0 s (4c) of pure cache-
    // bandwidth contention in the post-fetch phase. Partition ids are taken
    // from THIS synchronous scan (the cache's single materializer), never
    // from a downstream consumer (see assignGlobalSeq's warning).
    val partStats: Array[(Int, Long, Long, Long)] =
      fetched.groupBy(spark_partition_id().as("pid"))
        .agg(count(lit(1)).as("n"),
          sum(when($"status" =!= 200, 1L).otherwise(0L)).as("errors"),
          coalesce(sum(size($"links")), lit(0L)).as("links"))
        .as[(Int, Long, Long, Long)].collect()
    val lineageRows: Seq[LineageRow] = partStats.sortBy(_._1).toSeq
      .map { case (pid, nRows, errs, _) =>
        LineageRow(k, "fetch_parse", pid, nRows, nRows, errs, 0L) }
    scope.launch("write-pages")(fetched.write.parquet(scope.pending.pagesPath))
    scope.launch("write-lineage")(spark.createDataset(lineageRows)
      .coalesce(1).write.parquet(scope.pending.lineagePath))
    Fetched(fetched, partStats.map(_._2).sum, partStats.map(_._3).sum,
      partStats.map(_._4).sum)
  }

  /** Link dedup: canonical link candidates (LinkExtract) hashed and merged
    * in-batch, then the URL-seen filter route (A3) + exact anti-join (J1).
    * Filter-clear ⇒ definitely new (no false negatives) ⇒ skips the join;
    * filter-hit ⇒ maybe seen ⇒ exact anti-join. */
  private def dedup(spark: SparkSession, store: SnapshotStore, k: Int,
      cfg: CrawlConfig, pages: Dataset[FetchResult], scope: RoundScope): Deduped = {
    import spark.implicits._
    val cand = scope.cache(pages.filter($"status" === 200)
      .flatMap(r => r.links.map(l => (l, childPriority(r.priority))))
      .map { case (u, p) =>
        val (hi, lo) = Hashes.murmur128(u)
        (u, Hashes.xxh64(u), hi, lo, UrlCanon.hostOf(u), p)
      }
      .toDF("url", "url_hash", "url_hash_hi", "url_hash_lo", "host", "priority")
      // in-batch dedup on the exact 128-bit key; all non-key columns are
      // functions of the url so min() just picks the (single) value
      .groupBy($"url_hash_hi", $"url_hash_lo")
      .agg(min($"url").as("url"), min($"url_hash").as("url_hash"),
        min($"host").as("host"), max($"priority").as("priority")))
    // cand is counted at commit, AFTER the seen-dedup jobs: their first scan
    // of `cand` populates the cache (the flatMap + in-batch-merge shuffle
    // runs exactly once either way), so counting here first would add a
    // whole extra job barrier just to materialize — a measured slice of the
    // round's non-scaling serial fraction

    // Cumulative filter: loaded from snapshot k, or — cold path, filter file
    // lost — rebuilt DISTRIBUTED from the exact seen set (xxh64(url)
    // recomputed executor-side, aggregated via stat.bloomFilter). Never
    // streamed through the driver: at the 10^10-URL design point a
    // driver-side iteration of the seen set would bottleneck exactly the
    // recovery path that matters. Kept as BYTES so the probe broadcast and
    // the persist-path merge each deserialize a private instance (merge
    // mutates; the broadcast copy must stay immutable).
    val seen = store.loadSeen(k)
    lazy val prevBloomBytes: Array[Byte] =
      store.loadBloom(k).map(bloomBytes).getOrElse(bloomBytes(
        bloomOfHashes(seen.select(xxh64OfUrl($"url").as("h")), cfg)))
    // Filter hits are a SUSPECT set (a small fraction of candidates by
    // construction) and take the scan-form join; the unfiltered probe
    // (useBloom=false) is O(candidates) and takes the shuffle form.
    // n_new is counted at commit from the populated cache (like cand),
    // NOT via an Observation here: the first actions over trulyNew are
    // THREE concurrent write jobs racing to materialize the cache, and
    // Observation snapshots its metrics when the FIRST of them completes —
    // accumulator updates from another job's still-running tasks would be
    // missing, silently undercounting n_new (and with it the frontier/seen
    // manifest arithmetic every later round inherits).
    val trulyNew = scope.cache(
      if (cfg.useBloom) {
        val bfb = spark.sparkContext.broadcast(bloomOf(prevBloomBytes))
        val mightContain = udf((h: Long) => bfb.value.mightContainLong(h))
        val suspects = cand.filter(mightContain($"url_hash"))
        val definitelyNew = cand.filter(!mightContain($"url_hash"))
        seenAntiJoinScan(seen.toDF(), suspects).unionByName(definitelyNew)
      } else seenAntiJoinShuffle(seen.toDF(), cand))
    Deduped(seen, cand, trulyNew, () => prevBloomBytes)
  }

  /** A3 filter lifecycle: merge this round's new hashes into the running
    * filter (a fresh instance off prevBloomBytes — never the broadcast probe
    * copy, which merge would mutate) and stage it for snapshot k+1. */
  private def writeFilter(spark: SparkSession, cfg: CrawlConfig, d: Deduped,
      pending: SnapshotStore#Pending): Unit = {
    import spark.implicits._
    val deltaBloom = bloomOfHashes(d.trulyNew.select($"url_hash"), cfg)
    val prevBloom = bloomOf(d.prevBloomBytes())
    prevBloom.mergeInPlace(deltaBloom)
    pending.writeBloom(prevBloom)
  }

  /** Commit snapshot k+1. The remaining outputs (frontier, seen delta,
    * filter, periodic seen compaction) are INDEPENDENT targets over
    * already-cached inputs and run as CONCURRENT Spark jobs beside the
    * pages/lineage writes already in flight; the manifest is written last. */
  private def commit(spark: SparkSession, store: SnapshotStore, k: Int,
      cfg: CrawlConfig, rts: Long, scope: RoundScope, g: Gated, s: Sequenced,
      f: Fetched, d: Deduped): RoundMetrics = {
    import spark.implicits._
    val pending = scope.pending
    val newEntries = d.trulyNew.select(
        $"url", $"url_hash", $"url_hash_hi", $"url_hash_lo", $"host", $"priority",
        lit(rts).as("next_fetch_ts"), lit(k + 1).as("discovered_round"),
        lit(0).as("retries"))
      .as[FrontierEntry]

    // U1: the three parts are disjoint by construction (new ⟂ seen ⊇ frontier;
    // notDue ⟂ deferred by the due filter) — plain union, no merge shuffle.
    // Persisted because the range write needs two passes (boundary sampling +
    // the shuffle itself) and must not recompute the union branches.
    val nextFrontier =
      scope.cache(g.notDue.unionByName(s.deferred).unionByName(newEntries))
    val newSeen = d.trulyNew.select($"url_hash_hi", $"url_hash_lo", $"url",
      lit(k + 1).as("first_seen_round")).as[SeenUrl]

    scope.launch("write-frontier")(orderedFrontierWrite(nextFrontier, pending.frontierPath))
    scope.launch("write-seen")(newSeen.write.parquet(pending.seenDeltaPath))
    scope.launch("write-filter")(writeFilter(spark, cfg, d, pending))
    // periodic compaction: materialize the whole seen set hash-partitioned,
    // so loadSeen reads one clustered base + a few deltas (SURVEY.md §4.2)
    if (cfg.compactSeenEvery > 0 && (k + 1) % cfg.compactSeenEvery == 0)
      scope.launch("compact-seen")(d.seen.unionByName(newSeen)
        .repartition(math.max(shufflePartitions(spark), 1), $"url_hash_hi")
        .write.parquet(pending.seenFullPath))
    // The manifest counts launch WITH the write jobs instead of after them:
    // FIFO queues their single-stage cached scans behind the write tasks, so
    // they complete inside the write wall instead of adding a measured
    // ~0.7–1 s serial tail AFTER it — a constant slice at every core count.
    // Unlike an Observation (see n_new's note in dedup), a count is exact no
    // matter which concurrent job materializes the cache first: whichever
    // task computes a partition does so once under the block lock, and every
    // later reader sees the cached rows.
    val nNewF = scope.launch("n-new")(d.trulyNew.count())
    val nCandF = scope.launch("link-candidates")(d.cand.count())
    // The gate counts too: an Observation on withRobots is fulfilled by the
    // FIRST action whose plan contains it, whether or not that action ran
    // the plan. The politeness pass's `Dataset.rdd` is such an action, and
    // with one shuffle partition and AQE off no job has run by then (no
    // range sampling, no eager stage), so due and robots_denied read 0.
    val gateF = scope.launch("gate-counts")(g.withRobots
      .agg(count(lit(1)),
        // coalesce: sum over an empty gate is NULL, not 0
        coalesce(sum(when($"robots_ok", 1L).otherwise(0L)), lit(0L)))
      .as[(Long, Long)].head())
    scope.awaitLaunched()
    val (nDue, nAllowed) = Await.result(gateF, Duration.Inf)
    val nNew = Await.result(nNewF, Duration.Inf)
    val nCand = Await.result(nCandF, Duration.Inf)

    // deferred / frontier / seen sizes follow arithmetically — no extra jobs:
    // next_frontier = prev − due + deferred + new, deferred = allowed − gated
    val nDeferred = nAllowed - f.n
    val nFrontier = manifestField(store, k, "frontier_size") - nDue + nDeferred + nNew
    val nSeen = manifestField(store, k, "seen_size") + nNew
    val metrics = RoundMetrics(k, nDue, nDue - nAllowed, f.n,
      nDeferred, f.n, f.errors, f.links, f.links - nCand, nNew,
      nFrontier, nSeen)
    scope.commit(manifestJson(metrics, cfg))
    metrics
  }

  /** One numeric field of snapshot k's manifest. Every committed manifest
    * comes from `manifestJson`, which writes every field, so a missing
    * manifest or field is a corrupt store and fails here. */
  private[operators] def manifestField(store: SnapshotStore, k: Int, field: String): Long = {
    val m = store.manifest(k)
      .getOrElse(throw new IllegalStateException(s"snapshot $k has no manifest"))
    ("\"" + field + "\":(-?\\d+)").r.findFirstMatchIn(m).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"snapshot $k manifest has no $field: $m"))
  }

  /** O1: materialize the frontier range-partitioned + sorted by the dequeue
    * order — next round's scan reads it near-sorted with minimal shuffle. */
  private def orderedFrontierWrite(fr: Dataset[FrontierEntry], path: String): Unit = {
    val n = math.max(1, math.min(shufflePartitions(fr.sparkSession), 64))
    fr.repartitionByRange(n, col("priority").desc, col("next_fetch_ts"), col("url_hash"))
      .sortWithinPartitions(col("priority").desc, col("next_fetch_ts"), col("url_hash"))
      .write.parquet(path)
  }

  /** Global 0-based sequence in (priority DESC, next_fetch_ts, url_hash) order
    * without a single-reducer sort: range-repartition, sort within partitions,
    * then `zipWithIndex` (one count job over all but the last partition, none
    * at one partition). Sort keys are unique (url_hash distinct within a
    * frontier), so the order — and hence the sequence — is independent of
    * where the range boundaries fall.
    *
    * The range-sorted parent is cached in `scope`; the seq assignment is a
    * cheap narrow map over it, so downstream actions recompute it from cache
    * instead of paying a dedicated materialization pass.
    *
    * `zipWithIndex` offsets each partition by the RDD's OWN partition index,
    * never by `TaskContext.getPartitionId()`: the task partition id is the
    * CONSUMING stage's — inside a union (e.g. the deferred ∪ branches of the
    * frontier write) branch partitions are renumbered and the offsets would
    * be garbage. (Found as a real row-loss bug by SoakCheck's manifest
    * cross-check when the materialization pass was removed.) */
  private def assignGlobalSeq(spark: SparkSession, ds: Dataset[FetchTask],
      parts: Int, scope: RoundScope): Dataset[FetchTask] = {
    import spark.implicits._
    val sorted = scope.cache(ds
      .repartitionByRange(math.max(parts, 1), col("priority").desc,
        col("next_fetch_ts"), col("url_hash"))
      .sortWithinPartitions(col("priority").desc, col("next_fetch_ts"), col("url_hash")))
    // sorted.rdd reads the InMemoryRelation cache; its partition indices are
    // the range partitions, stable in any consuming plan
    val indexed = sorted.rdd.zipWithIndex()
    spark.createDataset(indexed.map { case (t, i) => t.copy(seq = i) })
  }

  /** Deterministic manifest: fixed key order, no wall-clock fields. */
  def manifestJson(m: RoundMetrics, cfg: CrawlConfig): String = {
    s"""{"round":${m.round},"due":${m.due},"robots_denied":${m.robots_denied},""" +
      s""""gated":${m.gated},"deferred":${m.deferred},"fetched":${m.fetched},""" +
      s""""fetch_errors":${m.fetch_errors},"links_extracted":${m.links_extracted},""" +
      s""""links_deduped":${m.links_deduped},"new_urls":${m.new_urls},""" +
      s""""frontier_size":${m.frontier_size},"seen_size":${m.seen_size},""" +
      s""""host_budget":${cfg.hostBudget},"round_cap":${cfg.roundCap},""" +
      s""""crawl_delay_default_ms":$CrawlDelayDefaultMs}"""
  }
}
