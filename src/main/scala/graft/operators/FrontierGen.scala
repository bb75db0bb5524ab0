package graft.operators

import org.apache.spark.sql.SparkSession

import graft.core.{Hashes, SyntheticWeb}
import graft.plans.Model._
import graft.sources.SnapshotStore

/** Distributed synthetic-frontier generator (SURVEY.md §7 M7: "frontier
  * generator at sf-bench"). Builds snapshot 0 with N deterministic URLs drawn
  * from the zipfian SyntheticWeb universe — entirely executor-side
  * (`spark.range` → typed map), no driver-side collection, so the same code
  * generates the 10^10-URL design-point frontier on a real cluster. */
object FrontierGen {

  /** `spreadRounds = 0` (default): every URL is due at round 0 — the growth
    * phase. `spreadRounds = R > 0`: next_fetch_ts is hash-spread uniformly
    * over rounds 0..R-1, so each round dequeues ~n/R URLs out of an n-row
    * frontier — the STEADY-STATE shape (churn ≪ frontier); perfbench's
    * `crawl_frontier` workload passes it. */
  def init(spark: SparkSession, store: SnapshotStore, n: Long,
      cfg: CrawlConfig, seed: Long = 777L, spreadRounds: Int = 0): Long = {
    import spark.implicits._
    val t0 = roundTs(0)
    val spread = spreadRounds
    val entries = spark.range(n).map { i =>
      val u = SyntheticWeb.urlFor(Hashes.mix(seed, i))
      val h = Hashes.xxh64(u)
      val prio = math.floorMod(Hashes.mix(h, 55), 10L).toInt
      val due =
        if (spread <= 0) t0
        else t0 + math.floorMod(Hashes.mix(h, 77), spread.toLong) * RoundIntervalMs
      CrawlRound.entryFor(u, prio, due, 0)
    }.dropDuplicates("url_hash_hi", "url_hash_lo").persist()

    val nRows = CrawlRound.writeSnapshotZero(spark, store, entries, cfg)
    entries.unpersist(blocking = false)
    nRows
  }
}
