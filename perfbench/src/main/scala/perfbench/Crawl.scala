package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.operators.{CrawlRound, Crawler, FrontierGen}
import graft.plans.Model.{CrawlConfig, RoundMetrics}
import graft.sources.SnapshotStore

/** The two crawl workloads, each a closed loop of `CrawlRound.run` calls
  * from one client at `local[threads]`.
  *
  * crawl_growth: every generated URL is due and the host budget and round
  * cap do not bind, so round 1 fetches everything round 0 discovered. The
  * timed loop re-runs round 1 on that same grown snapshot; fetch+parse in
  * `graft.core` carries most of the round. The seen set stays inside the
  * bloom's sized capacity.
  *
  * crawl_frontier: a large frontier hash-spread over many rounds and a
  * small round cap, so each round fetches little and rewrites a lot
  * (frontier, seen delta, bloom). The timed loop runs consecutive rounds.
  * The bloom is sized below the seen set, as the default 2^20 sizing is at a
  * million seen URLs, so its false-positive rate exceeds the configured one.
  */
object Crawl {
  private final case class Shape(urls: Long, spread: Int, cfg: CrawlConfig)

  private def shape(growth: Boolean, tiny: Boolean): Shape =
    if (growth)
      Shape(if (tiny) 60L else 1500L, 0,
        CrawlConfig(hostBudget = 1000, roundCap = Int.MaxValue,
          bloomExpectedItems = 1L << 20))
    else if (tiny)
      Shape(4000L, 8, CrawlConfig(roundCap = 200, bloomExpectedItems = 1L << 12))
    else
      Shape(40000L, 20, CrawlConfig(roundCap = 1000, bloomExpectedItems = 1L << 15))

  /** Set-up runs this often in one process; its median is `setup_s`. */
  private val SetupReps = 3
  /** Timed rounds at least, however long they take. */
  private val MinOps = 2

  def run(run: Run, growth: Boolean): Unit = {
    val sh = shape(growth, run.tiny)
    val cfg = sh.cfg
    var spark: SparkSession = null
    var store: SnapshotStore = null
    var storeDir: Path = null

    // set-up: session, FrontierGen.init and the untimed round 0
    def setUp(i: Int): Double = {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = run.session(run.threads)
      if (storeDir != null) Main.rmTree(storeDir)
      storeDir = run.scratch.resolve(s"store-$i")
      store = new SnapshotStore(spark, storeDir.toString)
      val rows = run.spans.span("frontiergen.init")(
        FrontierGen.init(spark, store, sh.urls, cfg, seed = run.seed,
          spreadRounds = sh.spread))
      run.layer("frontiergen.rows", rows.toDouble)
      run.spans.span("setup.round0")(CrawlRound.run(spark, store, 0, cfg))
      val secs = run.since(t0)
      run.log(f"set-up $i: $secs%.3f s ($rows frontier rows)")
      secs
    }
    val setups = (0 until SetupReps).map(setUp)
    run.e2e("setup_s") = Metrics.median(setups)
    run.layer("frontiergen.init_s",
      Metrics.median(run.spans.seconds("frontiergen.init")))

    // timed loop; a traced run attaches the listener to every second round
    // only, to measure what the listener costs
    val counts = if (run.traced) Some(new CallCounts(spark.sparkContext)) else None
    val walls, urlRates, plainWalls = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[Window]
    val rounds = ArrayBuffer.empty[RoundMetrics]
    val stores = ArrayBuffer.empty[Map[String, Double]]
    var first: Option[String] = None
    var k = 1
    var stop = false
    val t0 = System.nanoTime()
    def more = walls.size < MinOps || run.since(t0) < run.seconds ||
      (counts.isDefined && windows.isEmpty)
    while (!stop && more && (growth || k < sh.spread)) {
      val listen = counts.isDefined && walls.size % 2 == 1
      if (listen) counts.get.begin()
      run.attempted += 1
      val start = System.nanoTime()
      val res = Try(run.spans.span("round.run")(CrawlRound.run(spark, store, k, cfg)))
      val wall = run.since(start)
      res match {
        case Failure(e) =>
          run.fail(s"round $k", e.toString)
          stop = true
        case Success(r) =>
          if (listen) windows += counts.get.end() else if (run.traced) plainWalls += wall
          val m = r.metrics
          run.log(f"round $k: $wall%.3f s, fetched ${m.fetched}, new ${m.new_urls}")
          walls += wall
          urlRates += (m.fetched + m.new_urls) / wall
          rounds += m
          val (frontierRows, loadFrontierS) = timedCount(run, "store.loadFrontier")(
            store.loadFrontier(k + 1).count())
          val loadSeenS = if (run.traced)
            timedCount(run, "store.loadSeen")(store.loadSeen(k + 1).count())._2 else 0.0
          val digest = run.spans.span("crawler.seenDigest")(Crawler.seenDigest(spark, store))
          val observed = CrawlRound.manifestJson(m, cfg) + s" seen=$digest"
          // gate: pinned values, table sizes against the manifest, and for
          // the growth loop, every re-run of round 1 against the first
          val ok = run.gate(s"round$k", observed) &&
            check(run, s"round $k frontier rows", frontierRows, m.frontier_size) &&
            check(run, s"round $k seen digest count", digest._1, m.seen_size) &&
            (!growth || first.forall(f => f == observed ||
              { run.fail(s"round $k repeat", s"$observed differs from $f"); false }))
          if (ok && first.isEmpty) first = Some(observed)
          if (run.traced) {
            val (bytes, files) = treeSize(storeDir.resolve(s"snapshot-${k + 1}"))
            stores += Map(
              "store.bytes_written" -> bytes.toDouble,
              "store.files_written" -> files.toDouble,
              "store.load_frontier_s" -> loadFrontierS,
              "store.load_seen_s" -> loadSeenS,
              "store.bloom_fpp" -> store.loadBloom(k + 1).map(_.expectedFpp()).getOrElse(0.0),
              "store.bytes_per_url" -> bytes.toDouble / math.max(m.fetched + m.new_urls, 1L))
          }
          run.probeHeap()
      }
      if (!growth) k += 1
    }
    run.e2e("throughput") = Metrics.median(urlRates.toSeq)

    if (run.traced) {
      run.layer("round.calls", walls.size.toDouble)
      run.layer("round.first_wall_s", walls.headOption.getOrElse(0.0))
      run.layer("trace.overhead_ratio",
        Metrics.median(windows.map(_.wallS).toSeq) / Metrics.median(plainWalls.toSeq) - 1)
      layerRounds(run, windows.toSeq, rounds.toSeq)
      stores.headOption.foreach(_.keys.foreach(name =>
        run.layer(name, Metrics.median(stores.map(_(name)).toSeq))))
      if (growth && first.isDefined) {
        // the same round at local[1] on the same snapshot, with the same
        // shuffle partitions: scaling efficiency
        spark.stop()
        spark = run.session(1)
        store = new SnapshotStore(spark, storeDir.toString)
        run.attempted += 1
        val start = System.nanoTime()
        Try(run.spans.span("round.run.local1")(CrawlRound.run(spark, store, 1, cfg))) match {
          case Failure(e) => run.fail("round 1 at local[1]", e.toString)
          case Success(r) =>
            val wall1 = run.since(start)
            run.layer("round.local1_wall_s", wall1)
            run.layer("round.scaling_efficiency",
              wall1 / (Metrics.median(walls.toSeq) * run.threads))
            val observed = CrawlRound.manifestJson(r.metrics, cfg) +
              s" seen=${Crawler.seenDigest(spark, store)}"
            if (!first.contains(observed))
              run.fail("round 1 at local[1]", s"$observed differs from ${first.get}")
        }
      }
      Core.sample(run, sh.urls)
    }
    spark.stop()
  }

  private def timedCount(run: Run, name: String)(body: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = run.spans.span(name)(body)
    (n, run.since(t0))
  }

  private def check(run: Run, what: String, got: Long, want: Long): Boolean =
    got == want || { run.fail(what, s"expected $want got $got"); false }

  private def treeSize(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
      (files.map(f => Files.size(f)).sum, files.length.toLong)
    } finally s.close()
  }

  private def layerRounds(run: Run, ws: Seq[Window], ms: Seq[RoundMetrics]): Unit = {
    def med(f: Window => Double) = Metrics.median(ws.map(f))
    def medM(f: RoundMetrics => Double) = Metrics.median(ms.map(f))
    run.layer("round.wall_s", med(_.wallS))
    run.layer("round.jobs", med(_.jobs))
    run.layer("round.tasks", med(_.tasks))
    run.layer("round.task_busy_s", med(_.taskBusyS))
    run.layer("round.task_gc_s", med(_.taskGcS))
    run.layer("round.serial_s", med(_.serialS))
    run.layer("round.longest_job_s", med(_.longestJobS))
    run.layer("round.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble))
    run.layer("round.shuffle_read_bytes", med(_.shuffleReadBytes.toDouble))
    run.layer("round.spill_bytes", med(_.spillBytes.toDouble))
    run.layer("round.task_skew", med(_.taskSkew))
    run.layer("round.task_failures", ws.map(_.taskFailures).sum.toDouble)
    run.layer("round.due", medM(_.due.toDouble))
    run.layer("round.fetched", medM(_.fetched.toDouble))
    run.layer("round.new_urls", medM(_.new_urls.toDouble))
    run.layer("round.links_extracted", medM(_.links_extracted.toDouble))
    run.layer("round.new_ratio",
      medM(m => m.new_urls.toDouble / math.max(m.links_extracted, 1L)))
  }
}
