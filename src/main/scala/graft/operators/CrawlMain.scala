package graft.operators

import org.apache.spark.sql.SparkSession

import graft.core.SyntheticWeb
import graft.plans.Model.CrawlConfig
import graft.sources.SnapshotStore

/** spark-submit entry point (SURVEY.md §3.1 / §7 M6):
  *
  *   spark-submit --class graft.operators.CrawlMain … \
  *     --base /path/to/store --rounds 5 [--seeds 20] [--host-budget 4]
  *     [--round-cap 500] [--cpus N]
  *
  * Runs (or resumes — the store's HEAD decides) the crawl until `rounds`
  * rounds are committed, printing one metrics line per round. On a real
  * cluster the same class runs unchanged: only `--master` and the store path
  * (HDFS/S3 + Iceberg commit, SURVEY.md §1.1) differ.
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    // Every option is a `--key value` pair. Anything unrecognized, a value
    // that looks like a key, or a dangling key fails LOUDLY — a typo'd
    // option must never silently fall back to a default.
    val known = Set("base", "rounds", "seeds", "host-budget", "round-cap", "cpus")
    def unknown(k: String): Nothing =
      sys.error(s"unknown option '$k' (known: ${known.toSeq.sorted.mkString(", ")})")
    // an unknown --option is named as such before any pairing, so a removed
    // option is never misreported as a dangling key
    args.find(a => a.startsWith("--") && !known.contains(a.drop(2))).foreach(unknown)
    if (args.length % 2 != 0)
      sys.error(s"dangling option at end of: ${args.mkString(" ")}")
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") =>
        if (v.startsWith("--"))
          sys.error(s"option $k is missing its value (got '$v')")
        k.drop(2) -> v
      case Array(k, _) => unknown(k)
    }.toMap

    val base = opts.getOrElse("base", sys.error("--base <dir> required"))
    val rounds = opts.getOrElse("rounds", "3").toInt
    val nSeeds = opts.getOrElse("seeds", "20").toInt
    val cfg = CrawlConfig(
      hostBudget = opts.getOrElse("host-budget", "4").toInt,
      roundCap = opts.getOrElse("round-cap", "500").toInt)
    val cpus = opts.getOrElse("cpus",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = new SnapshotStore(spark, base)
    val t0 = System.nanoTime()
    val metrics = Crawler.run(spark, store, SyntheticWeb.seeds(nSeeds), rounds, cfg)
    val secs = (System.nanoTime() - t0) / 1e9
    metrics.foreach(m => println(CrawlRound.manifestJson(m, cfg)))
    val fetchedDeduped = metrics.map(m => m.fetched + m.new_urls).sum
    println(f"""{"rounds_run":${metrics.size},"urls_fetched_plus_deduped":$fetchedDeduped,"wall_sec":$secs%.2f,"throughput_per_sec":${fetchedDeduped / math.max(secs, 1e-9)}%.1f}""")
    spark.stop()
  }
}
