package graft.tools

import org.apache.spark.sql.SparkSession

import graft.operators.{CrawlRound, FrontierGen}
import graft.plans.Model.CrawlConfig
import graft.sources.SnapshotStore

/** Dev harness: the job timeline of one bench-sized crawl round, each job
  * labelled by the round stage or write that launched it.
  * `runMain graft.tools.TraceRound <cpus> <nUrls>`. */
object TraceRound {
  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("32").toInt
    val n = args.lift(1).getOrElse("300000").toLong
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("trace").config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/graft-trace/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.adaptive.enabled", "false") // match Bench (see its AQE note)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"/dev/shm/graft-trace/store-$cpus-$n"
    SnapshotStore.deleteRecursively(java.nio.file.Paths.get(dir))
    // job-level timeline: per-job wall + the GAP since the previous job
    // ended. Gaps during the timed round are pure driver/serial time
    // (planning, collects, commit, scheduling) — the non-scaling slice the
    // efficiency metric pays at every core count. Gaps can be negative
    // while concurrent jobs overlap (the write phase).
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          // stage label: the job description CrawlRound sets for each of
          // its stages and launched writes; other jobs fall back to the
          // result stage's action callsite ("parquet at X.scala:N")
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(js.stageInfos.lastOption.map(_.name))
            .getOrElse("?")
          starts.put(js.jobId, (js.time, site))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (s, site) = starts.getOrDefault(je.jobId, (je.time, "?"))
          jobLog.add((je.jobId, s, je.time, site))
        }
      })
    val store = new SnapshotStore(spark, dir)
    val cfg = CrawlConfig(hostBudget = 1000, roundCap = Int.MaxValue,
      bloomExpectedItems = 1L << 22)
    val tg0 = System.nanoTime()
    FrontierGen.init(spark, store, n, cfg)
    System.err.println(f"[trace] frontier-gen: ${(System.nanoTime() - tg0) / 1e9}%.2fs")
    val tw = System.nanoTime()
    CrawlRound.run(spark, store, 0, cfg) // warm-up
    System.err.println(f"[trace] warmup-round0: ${(System.nanoTime() - tw) / 1e9}%.2fs")
    jobLog.clear()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val m = CrawlRound.run(spark, store, 1, cfg).metrics
    val secs = (System.nanoTime() - t0) / 1e9
    // drain the round's job timeline (listener events are async — settle)
    Thread.sleep(300)
    val jobs = {
      import scala.jdk.CollectionConverters._
      jobLog.asScala.toVector.sortBy(_._2)
    }
    var prevEnd = wall0
    var gapSum = 0L
    jobs.foreach { case (id, s, e, site) =>
      val gap = s - prevEnd
      if (gap > 0) gapSum += gap
      System.err.println(f"[jobs] job $id%3d start+${(s - wall0) / 1000.0}%6.2fs " +
        f"wall ${(e - s) / 1000.0}%6.2fs gap ${gap / 1000.0}%6.2fs  $site%s")
      prevEnd = math.max(prevEnd, e)
    }
    val tail = wall0 + (secs * 1000).toLong - prevEnd
    System.err.println(f"[jobs] n=${jobs.size} positive-gap total ${gapSum / 1000.0}%.2fs " +
      f"tail-after-last-job ${math.max(tail, 0) / 1000.0}%.2fs of $secs%.2fs round")
    println(f"cpus=$cpus n=$n fetched=${m.fetched} new=${m.new_urls} " +
      f"sec=$secs%.2f thpt=${(m.fetched + m.new_urls) / secs}%.1f")
    spark.stop()
  }
}
