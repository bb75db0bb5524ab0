package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.SyntheticWeb
import graft.operators.Crawler
import graft.plans.Model.{CrawlConfig, CrawlDelayDefaultMs, SeedPriority}
import graft.sources.SnapshotStore

/** One-time golden generator (SURVEY.md §5.3): runs the pinned R=5 golden
  * crawl (20 seeds, host_budget=4, delay 1s, cap 500) and freezes
  * ordering.csv / seen_digest.txt / text_sha256.csv under
  * src/test/resources/golden/. Once committed, these files — not the code —
  * define the reference behavior; GoldenCrawlSpec replays against them. */
object GenGoldens {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("src/test/resources/golden")
    val spark = SparkSession.builder().master("local[4]")
      .appName("gen-goldens")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val cfg = CrawlConfig()
    val seeds = SyntheticWeb.seeds(20)
    val store = new SnapshotStore(spark,
      Files.createTempDirectory("golden-gen").toString)
    Crawler.run(spark, store, seeds, 5, cfg)

    Files.createDirectories(Paths.get(outDir))
    val ordering = Crawler.ordering(spark, store)
      .as[(Int, Long, String)].collect()
      .map { case (r, s, u) => s"$r,$s,$u" }
    Files.writeString(Paths.get(outDir, "ordering.csv"),
      "round,seq,url\n" + ordering.mkString("\n") + "\n")

    val (n, hsum, hxor) = Crawler.seenDigest(spark, store)
    Files.writeString(Paths.get(outDir, "seen_digest.txt"), s"$n,$hsum,$hxor\n")

    val shas = Crawler.textShas(spark, store)
      .as[(String, String)].collect().sortBy(_._1)
      .map { case (u, s) => s"$u,$s" }
    Files.writeString(Paths.get(outDir, "text_sha256.csv"),
      "url,sha256\n" + shas.mkString("\n") + "\n")

    Files.writeString(Paths.get(outDir, "seeds.txt"), seeds.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(outDir, "budget.json"),
      s"""{"host_budget":${cfg.hostBudget},"crawl_delay_default_ms":$CrawlDelayDefaultMs,"round_cap":${cfg.roundCap},"rounds":5,"seed_priority":$SeedPriority}""" + "\n")
    println(s"goldens written to $outDir: ${ordering.length} orderings, $n seen, ${shas.length} shas")
    spark.stop()
  }
}
