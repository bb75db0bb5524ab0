package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.plans.Model.{FetchResult, FrontierEntry}

/** Link-graph analytics over crawled pages: the graph exists implicitly as
  * (page → outlinks) rows (SURVEY.md §1.1); these operators materialize it
  * and run the standard frontier-prioritization signals: degrees and
  * PageRank (Brin & Page 1998, public) — pure DataFrame iteration, no graph
  * engine. Scale notes: edges are hash-shuffled by vertex; each PageRank
  * iteration is one join + one aggregation; intermediate ranks persist and
  * the previous iteration unpersists, so lineage stays O(1) per iteration.
  */
object LinkGraph {

  /** Edge list (src, dst) of the crawled web, canonical URLs both sides. */
  def edges(pages: Dataset[FetchResult]): DataFrame =
    pages.filter(col("status") === 200)
      .select(col("url").as("src"), explode(col("links")).as("dst"))
      .distinct()

  /** Per-URL degree table: url, out_degree, in_degree (0 when absent). */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("url"))
      .agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col("dst").as("url"))
      .agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("url"), "full_outer")
      .na.fill(0L, Seq("out_degree", "in_degree"))
  }

  /** Host-level graph: distinct (src_host, dst_host) edges with multiplicity
    * — the politeness/frontier-budget signal at host granularity. */
  def hostEdges(edges: DataFrame): DataFrame = {
    // UDF justified (same rule as the robots gate): hosts MUST come from the
    // pinned canonicalizer — built-in parse_url differs on the golden edge
    // cases (default-port/percent-case handling), which would split one
    // host's edges across two vertices
    val hostOf = udf((u: String) => graft.core.UrlCanon.hostOf(u))
    edges.select(hostOf(col("src")).as("src_host"), hostOf(col("dst")).as("dst_host"))
      .groupBy(col("src_host"), col("dst_host")).agg(count(lit(1)).as("n_links"))
  }

  /** PageRank with damping d: r = (1-d)/N + d·(Σ r_in/out_deg + dangling/N).
    * Dangling mass (vertices without outlinks) is redistributed uniformly so
    * ranks sum to 1 at every iteration. Returns (url, rank). */
  def pageRank(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val vertices = edges.select(col("src").as("url"))
      .unionByName(edges.select(col("dst").as("url"))).distinct().persist()
    val n = vertices.count().toDouble
    val outDeg = edges.groupBy(col("src").as("url"))
      .agg(count(lit(1)).as("out_degree")).persist()

    // localCheckpoint (not just persist): iterative self-joins nest the
    // logical plan once per iteration — analysis/planning cost explodes
    // exponentially without lineage truncation. On a cluster with executor
    // churn, use reliable checkpointing (sc.setCheckpointDir) instead.
    //
    // ranks carries out_degree through the iterations so the NEXT
    // iteration's dangling mass (Σ rank over outlink-less vertices) rides
    // the SAME job that materializes the ranks, as an observed metric — one
    // job per iteration instead of a dedicated driver `.head()` per
    // iteration (2× job count on deep runs). The observation cannot race:
    // exactly ONE action materializes each observed plan (the eager
    // localCheckpoint), and later consumers read the checkpointed RDD, not
    // the logical plan (contrast the n_new cache race in CrawlRound).
    def observed(df: DataFrame)
        : (DataFrame, org.apache.spark.sql.Observation) = {
      val obs = org.apache.spark.sql.Observation()
      (df.observe(obs,
          coalesce(sum(when(col("out_degree").isNull, col("rank"))), lit(0.0))
            .as("dangling"))
        .localCheckpoint(true), obs)
    }
    var (ranks, obs) = observed(vertices.join(outDeg, Seq("url"), "left")
      .withColumn("rank", lit(1.0 / n)))
    var i = 0
    while (i < iterations) {
      // mass of dangling vertices (no outlinks) spreads uniformly
      val dangling = obs.get("dangling").asInstanceOf[Double]
      val contribs = edges
        .join(ranks.filter(col("out_degree").isNotNull)
          .select(col("url").as("src"), (col("rank") / col("out_degree")).as("c")),
          Seq("src"))
        .groupBy(col("dst").as("url"))
        .agg(sum(col("c")).as("in_mass"))
      val (next, nextObs) = observed(
        vertices.join(outDeg, Seq("url"), "left")
          .join(contribs, Seq("url"), "left")
          .select(col("url"), col("out_degree"),
            (lit((1 - damping) / n) +
              lit(damping) * (coalesce(col("in_mass"), lit(0.0)) + lit(dangling / n)))
              .as("rank")))
      // free the superseded iteration's checkpointed blocks (same storage
      // hygiene as Dedup.nearDupGroups — one copy per iteration otherwise)
      org.apache.spark.sql.graftexpr.IterUtils.unpersistCheckpoint(ranks)
      ranks = next
      obs = nextObs
      i += 1
    }
    vertices.unpersist(blocking = false)
    outDeg.unpersist(blocking = false)
    ranks.select(col("url"), col("rank"))
  }

  /** Rank-driven frontier reprioritization: map each ranked frontier URL's
    * global rank percentile to a priority bucket (top percentile → priority
    * `buckets-1`, bottom → 0); URLs without a rank row keep their current
    * priority. `next_fetch_ts`, retries, etc. are untouched, so politeness
    * and the re-enqueue contract are unaffected — only the dequeue order
    * (priority DESC first key, §8.3) shifts toward high-rank pages.
    *
    * Scale shape: one hash join frontier⋈ranks on url, then the global
    * percentile is assigned via range-repartition + `zipWithIndex` — the
    * same no-single-reducer idiom as the crawler's global sequence
    * (CrawlRound.assignGlobalSeq).
    * Determinism: sort key (rank DESC, url_hash) is unique per frontier, so
    * bucket assignment is independent of partition boundaries.
    *
    * Returns (reprioritized, caches): the result is a cheap map over the
    * cached join/sort parents, so downstream actions recompute from cache —
    * same contract as CrawlRound.assignGlobalSeq's cachedParent. The CALLER
    * unpersists every Dataset in `caches` once the result is materialized
    * (or no longer needed); ignoring them leaks cached blocks for the
    * session's lifetime. */
  def reprioritize(frontier: Dataset[FrontierEntry], ranks: DataFrame,
      buckets: Int = 10): (Dataset[FrontierEntry], Seq[Dataset[_]]) = {
    require(buckets >= 1, "need at least one priority bucket")
    val spark = frontier.sparkSession
    import spark.implicits._
    val joined = frontier.join(
      ranks.select(col("url"), col("rank").cast("double").as("rank")),
      Seq("url"), "left").persist()
    val unranked = joined.filter(col("rank").isNull).drop("rank").as[FrontierEntry]
    val ranked = joined.filter(col("rank").isNotNull)
    val n = ranked.count()
    if (n == 0L) { joined.unpersist(blocking = false); (frontier, Nil) }
    else {
      val parts = math.max(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, 1)
      val sorted = ranked
        .repartitionByRange(parts, col("rank").desc, col("url_hash"))
        .sortWithinPartitions(col("rank").desc, col("url_hash"))
        .drop("rank").as[FrontierEntry]
        .persist()
      val nb = buckets.toLong
      val total = n
      // pos 0 (best rank) → priority buckets-1; last → 0
      val rebucketed = spark.createDataset(sorted.rdd.zipWithIndex().map {
        case (e, pos) => e.copy(priority = (nb - 1L - pos * nb / total).toInt)
      })
      (rebucketed.unionByName(unranked), Seq(joined, sorted))
    }
  }
}
