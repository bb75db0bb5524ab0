package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.SyntheticWeb
import graft.operators.Crawler
import graft.plans.Model.CrawlConfig
import graft.sources.SnapshotStore

/** Dev soak harness: a longer crawl (default 8 rounds, compaction every 3)
  * checked by `Crawler.invariantReport` at horizon — manifest sizes against
  * actual table counts for every round, no refetch, fetched ⊆ seen, 128-bit
  * seen uniqueness and exact politeness spacing.
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

    val dir = "/dev/shm/graft-soak/store"
    SnapshotStore.deleteRecursively(java.nio.file.Paths.get(dir))
    val store = new SnapshotStore(spark, dir)
    val cfg = CrawlConfig(roundCap = 400, compactSeenEvery = 3)
    Crawler.run(spark, store, SyntheticWeb.seeds(20), rounds, cfg)

    var failures = 0
    def check(name: String, cond: Boolean, detail: String = ""): Unit = {
      if (!cond) { failures += 1; println(s"SOAK FAIL: $name $detail") }
      else println(s"soak ok: $name")
    }

    val k = store.head.get
    check("ran all rounds", k == rounds)
    Crawler.invariantReport(spark, store).orderBy("check_idx").collect().foreach { r =>
      val n = r.getAs[Long]("n_violations")
      check(r.getAs[String]("invariant"), n == 0, s"violations: $n")
    }
    println(if (failures == 0) s"SOAK PASSED: $rounds rounds, " +
      s"${store.loadAllPages(k).count()} pages, ${Crawler.seenSet(spark, store).count()} seen"
    else s"SOAK FAILED: $failures")
    spark.stop()
    SnapshotStore.deleteRecursively(java.nio.file.Paths.get("/dev/shm/graft-soak"))
    if (failures > 0) sys.exit(1)
  }
}
