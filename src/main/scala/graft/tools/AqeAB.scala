package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.{CrawlRound, FrontierGen}
import graft.plans.Model.CrawlConfig
import graft.sources.SnapshotStore

/** Same-session A/B of adaptive query execution for the crawl round: AQE
  * materializes every shuffle stage as its own job boundary (re-planning
  * between stages), which is pure overhead at bench scale but pays off via
  * skew-join/coalesce at cluster scale — measure, don't guess, which side
  * this workload's round is on. Alternating reps on one prepared store
  * share host windows.
  *
  * Usage: runMain graft.tools.AqeAB [cpus] [nUrls] [reps]
  */
object AqeAB {
  private def rm(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val st = java.nio.file.Files.list(p)
      try st.forEach(rm) finally st.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("16").toInt
    val n = args.lift(1).getOrElse("60000").toLong
    val reps = args.lift(2).getOrElse("3").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("aqe-ab")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/graft-aqeab/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/dev/shm/graft-aqeab/store"
    rm(java.nio.file.Paths.get(dir))
    val store = new SnapshotStore(spark, dir)
    val cfg = CrawlConfig(hostBudget = 1000, roundCap = Int.MaxValue,
      bloomExpectedItems = 1L << 23)
    FrontierGen.init(spark, store, n, cfg)
    CrawlRound.run(spark, store, 0, cfg) // prep + warm-up
    val walls = for (r <- 1 to reps; aqe <- Seq(true, false)) yield {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val t0 = System.nanoTime()
      CrawlRound.run(spark, store, 1, cfg)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[aqeab] rep $r aqe=$aqe: $s%.2f s")
      (aqe, s)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val byA = walls.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def med(xs: Seq[Double]) = xs((xs.size - 1) / 2)
    println(f"""{"cpus":$cpus,"n":$n,"reps":$reps,""" +
      f""""aqe_on":${byA(true).map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
      f""""aqe_off":${byA(false).map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
      f""""median_on":${med(byA(true))}%.2f,"median_off":${med(byA(false))}%.2f}""")
    spark.stop()
    rm(java.nio.file.Paths.get("/dev/shm/graft-aqeab"))
  }
}
