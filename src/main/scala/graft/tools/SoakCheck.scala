package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.SyntheticWeb
import graft.operators.{Crawler, CrawlRound}
import graft.plans.Model.CrawlConfig
import graft.sources.SnapshotStore

/** Dev soak harness: a longer crawl (default 8 rounds, compaction every 3)
  * that cross-checks the arithmetically-derived manifest sizes against
  * actual table counts and re-asserts the global invariants at horizon.
  * `runMain graft.tools.SoakCheck [rounds]` — exits nonzero on violation. */
object SoakCheck {
  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.getOrElse("8").toInt
    val spark = SparkSession.builder().master("local[8]")
      .appName("soak").config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/graft-soak/spark-local")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = "/dev/shm/graft-soak/store"
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.forEach(rm) finally st.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(dir))
    val store = new SnapshotStore(spark, dir)
    val cfg = CrawlConfig(roundCap = 400, compactSeenEvery = 3)
    Crawler.run(spark, store, SyntheticWeb.seeds(20), rounds, cfg)

    var failures = 0
    def check(name: String, cond: Boolean, detail: => String = ""): Unit = {
      if (!cond) { failures += 1; println(s"SOAK FAIL: $name $detail") }
      else println(s"soak ok: $name")
    }

    val k = store.head.get
    check("ran all rounds", k == rounds)
    (1 to k).foreach { i =>
      val m = store.manifest(i).get
      def field(f: String): Long =
        ("\"" + f + "\":(-?\\d+)").r.findFirstMatchIn(m).get.group(1).toLong
      val fActual = store.loadFrontier(i).count()
      val sActual = store.loadSeen(i).count()
      check(s"manifest frontier_size round $i", field("frontier_size") == fActual,
        s"manifest=${field("frontier_size")} actual=$fActual")
      check(s"manifest seen_size round $i", field("seen_size") == sActual,
        s"manifest=${field("seen_size")} actual=$sActual")
    }
    val pages = store.loadAllPages(k).persist()
    check("no url fetched twice over the whole soak",
      pages.groupBy($"url").count().filter($"count" > 1).count() == 0)
    check("all fetched urls in seen",
      pages.select($"url").except(Crawler.seenSet(spark, store).select($"url")).count() == 0)
    check("seen distinct on 128-bit key",
      Crawler.seenSet(spark, store).groupBy($"url_hash_hi", $"url_hash_lo")
        .count().filter($"count" > 1).count() == 0)
    val badGap = pages
      .withColumn("prev", lag($"fetch_ts", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"round", $"host").orderBy($"fetch_ts")))
      .filter($"prev".isNotNull)
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("fetch_ts") - r.getAs[Long]("prev")))
      .collect().count { case (h, gap) =>
        gap != SyntheticWeb.robotsFor(h).crawlDelayMs }
    check("politeness spacing over the whole soak", badGap == 0, s"bad gaps: $badGap")
    println(if (failures == 0) s"SOAK PASSED: $rounds rounds, ${pages.count()} pages, " +
      s"${Crawler.seenSet(spark, store).count()} seen"
    else s"SOAK FAILED: $failures")
    spark.stop()
    rm(java.nio.file.Paths.get("/dev/shm/graft-soak"))
    if (failures > 0) sys.exit(1)
  }
}
