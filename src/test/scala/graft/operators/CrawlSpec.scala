package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.{Hashes, SyntheticWeb, UrlCanon}
import graft.plans.Model._
import graft.sources.SnapshotStore

/** End-to-end crawl invariants (SURVEY.md §5.2–§5.5): politeness, robots,
  * dedup-exactness, determinism, resume, bloom-vs-exact equivalence, salting. */
class CrawlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg = CrawlConfig(hostBudget = 4, roundCap = 500)
  val seeds = SyntheticWeb.seeds(20)
  val Rounds = 5

  /** The shared golden crawl — run once, inspected by several tests. */
  lazy val store: SnapshotStore = {
    val s = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-golden"))
    Crawler.run(spark, s, seeds, Rounds, cfg)
    s
  }

  test("crawl progresses: fetches pages, grows seen + frontier") {
    val k = store.head.get
    assert(k === Rounds)
    val pages = store.loadAllPages(k)
    assert(pages.count() > 100)
    val m = store.manifest(k).get
    assert(m.contains("\"seen_size\""))
    assert(Crawler.seenSet(spark, store).count() > pages.count())
  }

  test("politeness: per-host per-round fetches ≤ budget, spaced by crawl-delay (W4)") {
    val k = store.head.get
    val pages = store.loadAllPages(k).persist()
    val perHost = pages.groupBy($"round", $"host").count()
    assert(perHost.filter($"count" > cfg.hostBudget).count() === 0)
    // adjacent same-host fetch_ts gaps within a round == the host's crawl delay
    val gaps = pages
      .withColumn("prev", lag($"fetch_ts", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"round", $"host").orderBy($"fetch_ts")))
      .filter($"prev".isNotNull)
      .select($"host", ($"fetch_ts" - $"prev").as("gap")).as[(String, Long)]
      .collect()
    gaps.foreach { case (host, gap) =>
      val delay = SyntheticWeb.robotsFor(host).crawlDelayMs
      assert(gap === delay, s"host $host gap $gap != delay $delay")
    }
    pages.unpersist()
  }

  test("robots: no fetched url is disallowed for its host") {
    val k = store.head.get
    val urls = store.loadAllPages(k).select($"url").as[String].collect()
    urls.foreach { u =>
      val rules = SyntheticWeb.robotsFor(UrlCanon.hostOf(u))
      assert(rules.allowed(UrlCanon.pathOf(u)), s"disallowed url fetched: $u")
    }
    assert(urls.nonEmpty)
  }

  test("dedup exactness: no url fetched twice; fetched ⊆ seen; seen is distinct") {
    val k = store.head.get
    val pages = store.loadAllPages(k)
    assert(pages.groupBy($"url").count().filter($"count" > 1).count() === 0)
    val seen = Crawler.seenSet(spark, store)
    assert(seen.groupBy($"url_hash_hi", $"url_hash_lo").count()
      .filter($"count" > 1).count() === 0)
    assert(pages.select($"url").except(seen.select($"url")).count() === 0)
  }

  test("frontier never contains a url twice and all entries are canonical") {
    val k = store.head.get
    val fr = store.loadFrontier(k).persist()
    assert(fr.groupBy($"url_hash_hi", $"url_hash_lo").count()
      .filter($"count" > 1).count() === 0)
    val urls = fr.select($"url").as[String].take(200)
    urls.foreach(u => assert(UrlCanon.canonical(u).contains(u), s"non-canonical: $u"))
    fr.unpersist()
  }

  test("global round sequence is dense, 0-based, ordered by (priority desc, ts, hash)") {
    val k = store.head.get
    (0 until Rounds).foreach { r =>
      val rows = store.loadPages(r + 1)
        .select($"seq", $"priority", $"next_fetch_ts", $"url_hash")
        .as[(Long, Int, Long, Long)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq === rows.indices.map(_.toLong))
      rows.sliding(2).foreach {
        case Array((_, p1, t1, h1), (_, p2, t2, h2)) =>
          assert(p1 > p2 || (p1 == p2 && (t1 < t2 || (t1 == t2 && h1 < h2))),
            s"order violated in round $r")
        case _ =>
      }
    }
  }

  test("determinism: a second identical crawl reproduces ordering, digest, manifests") {
    val store2 = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-det"))
    Crawler.run(spark, store2, seeds, Rounds, cfg)
    assert(Crawler.seenDigest(spark, store2) === Crawler.seenDigest(spark, store))
    val o1 = Crawler.ordering(spark, store).as[(Int, Long, String)].collect().toSeq
    val o2 = Crawler.ordering(spark, store2).as[(Int, Long, String)].collect().toSeq
    assert(o1 === o2)
    (0 to Rounds).foreach(k => assert(store.manifest(k) === store2.manifest(k)))
  }

  test("resume: interrupt after round 2, resume in a fresh store handle → identical") {
    val dir = SparkTestSession.tempDir("crawl-resume")
    val s1 = new SnapshotStore(spark, dir)
    Crawler.run(spark, s1, seeds, 2, cfg) // rounds 0,1 committed
    assert(s1.head.get === 2)
    val s2 = new SnapshotStore(spark, dir) // "new session"
    Crawler.run(spark, s2, seeds, Rounds, cfg) // resume 2..4
    assert(Crawler.seenDigest(spark, s2) === Crawler.seenDigest(spark, store))
    val o1 = Crawler.ordering(spark, store).as[(Int, Long, String)].collect().toSeq
    val o2 = Crawler.ordering(spark, s2).as[(Int, Long, String)].collect().toSeq
    assert(o1 === o2)
  }

  /** The exact-only crawl (useBloom=false): every link probe takes the
    * shuffle-form anti-join, while the golden `store` routes bloom hits
    * through the scan form. Shared by the two tests below. */
  lazy val exactStore: SnapshotStore = {
    val s = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-nobloom"))
    Crawler.run(spark, s, seeds, Rounds, cfg.copy(useBloom = false))
    s
  }

  test("bloom routing is exact: useBloom=false produces the identical crawl") {
    assert(Crawler.seenDigest(spark, exactStore) === Crawler.seenDigest(spark, store))
    val o1 = Crawler.ordering(spark, exactStore).as[(Int, Long, String)].collect().toSeq
    val o2 = Crawler.ordering(spark, store).as[(Int, Long, String)].collect().toSeq
    assert(o1 === o2)
  }

  test("seen-join forms: scan (default) and shuffle produce the identical crawl") {
    // the join form is a physical choice, never a semantic one: the scan
    // form (golden `store`) and the shuffle form (exact-only crawl) yield
    // the same crawl bit-for-bit, every round's manifest included
    assert(Crawler.seenDigest(spark, exactStore) === Crawler.seenDigest(spark, store))
    (0 to Rounds).foreach(k => assert(exactStore.manifest(k) === store.manifest(k)))
    // and on the golden crawl's own seen set the two forms agree row for row
    // over a probe of seen and unseen keys
    val seen = Crawler.seenSet(spark, store).toDF()
    val probe = seen.select($"url_hash_hi", $"url_hash_lo").limit(50)
      .unionByName(Seq((1L, 2L), (3L, 4L)).toDF("url_hash_hi", "url_hash_lo"))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sorted.toSeq
    val scan = keys(CrawlRound.seenAntiJoinScan(seen, probe))
    assert(scan === keys(CrawlRound.seenAntiJoinShuffle(seen, probe)))
    assert(scan === Seq((1L, 2L), (3L, 4L)))
  }

  test("cold path: lost filter file is rebuilt distributed, crawl stays identical") {
    // crawl 2 rounds, delete the filter file from the head snapshot
    // (simulates a lost/corrupt sidecar), resume to the end. The rebuild
    // must come from the exact seen set — digests and ordering match the
    // uninterrupted crawl bit-for-bit.
    val dir = SparkTestSession.tempDir("crawl-coldpath")
    val s1 = new SnapshotStore(spark, dir)
    Crawler.run(spark, s1, seeds, 2, cfg)
    val lost = java.nio.file.Paths.get(dir, s"snapshot-${s1.head.get}", "bloom.bin")
    assert(java.nio.file.Files.deleteIfExists(lost), "no bloom.bin to delete")
    Crawler.run(spark, s1, seeds, Rounds, cfg) // resumes through the cold path
    assert(Crawler.seenDigest(spark, s1) === Crawler.seenDigest(spark, store))
    val o1 = Crawler.ordering(spark, s1).as[(Int, Long, String)].collect().toSeq
    val o2 = Crawler.ordering(spark, store).as[(Int, Long, String)].collect().toSeq
    assert(o1 === o2)
  }

  test("snapshot layout: every committed snapshot holds exactly the documented entries") {
    // the SnapshotStore scaladoc layout, locked on the golden crawl:
    // seen_full/ appears exactly on the compactSeenEvery rounds
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    (0 to store.head.get).foreach { k =>
      val ls = Files.list(Paths.get(store.root, s"snapshot-$k"))
      val got = try ls.iterator().asScala.map(p =>
          p.getFileName.toString + (if (Files.isDirectory(p)) "/" else "")).toSet
        finally ls.close()
      val compacted = k > 0 && k % cfg.compactSeenEvery == 0
      val want = Set("frontier/", "seen_delta/", "pages/", "lineage/", "bloom.bin",
        "manifest.json") ++ (if (compacted) Set("seen_full/") else Set.empty[String])
      assert(got === want, s"snapshot-$k")
    }
  }

  test("invariant report: six checks, zero violations on the golden crawl") {
    val rep = Crawler.invariantReport(spark, store).orderBy($"check_idx").collect()
    assert(rep.length === 6)
    assert(rep.forall(_.getAs[Long]("n_violations") === 0L),
      rep.map(r => s"${r.get(1)}=${r.get(2)}").mkString(", "))
  }

  test("invariant report runs as ONE action at any snapshot count") {
    // r06: the per-snapshot manifest cross-check used to run 2 driver-side
    // count() actions per committed snapshot (O(rounds) serial actions at a
    // long-horizon store); all six checks now aggregate as branches of one
    // union plan behind a single collect. Lock the SQL-execution count so
    // the O(rounds) loop cannot silently return. (Job count is not the lock:
    // with AQE on, one action legitimately materializes one job per shuffle
    // stage — those schedule concurrently inside the one execution.)
    val st = store // force the lazy golden-crawl fixture BEFORE counting
    st.head
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Crawler.invariantReport(spark, st)
      // the listener bus is async: wait for the first event, then a settle
      // window to catch any unexpected extra executions
      val deadline = System.nanoTime() + 5000000000L
      while (execs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(execs.get() === 1, s"expected 1 SQL execution, saw ${execs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("invariant report flags a manifest frontier_size that is off by one") {
    // mutate a copy: the golden store is shared by the other tests
    import java.nio.file.{Files, Paths}
    val src = Paths.get(store.root)
    val dst = Paths.get(SparkTestSession.tempDir("crawl-corrupt"))
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
    val m = dst.resolve("snapshot-3").resolve("manifest.json")
    val n = CrawlRound.manifestField(store, 3, "frontier_size")
    Files.writeString(m, Files.readString(m)
      .replace(s""""frontier_size":$n,""", s""""frontier_size":${n + 1},"""))
    val rep = Crawler.invariantReport(spark, new SnapshotStore(spark, dst.toString))
      .as[(Int, String, Long)].collect().map { case (_, name, v) => name -> v }.toMap
    assert(rep === Map(
      "manifest_frontier_size_matches_actual" -> 1L,
      "manifest_seen_size_matches_actual" -> 0L,
      "no_url_fetched_twice" -> 0L,
      "fetched_urls_all_in_seen" -> 0L,
      "seen_distinct_on_128bit_key" -> 0L,
      "politeness_spacing_exact" -> 0L))
  }

  test("snapshot 0 URL-seen filter is exactly the canonical seeds' xxh64") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(cfg.bloomExpectedItems, BloomFpp)
    seeds.flatMap(UrlCanon.canonical).distinct.foreach(u => bf.putLong(Hashes.xxh64(u)))
    val want = new java.io.ByteArrayOutputStream()
    bf.writeTo(want)
    val got = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store.root, "snapshot-0", "bloom.bin"))
    assert(java.util.Arrays.equals(got, want.toByteArray))
  }

  test("salting: saltBuckets 4 and 1 (unsalted) gates are identical") {
    // keep-proof in practice: one bucket per host is exactly the unsalted
    // politeness top-k, and four buckets must not change a single fetch
    val salted = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-salt4"))
    Crawler.run(spark, salted, seeds, 3, cfg.copy(saltBuckets = 4))
    val plain = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-salt1"))
    Crawler.run(spark, plain, seeds, 3, cfg.copy(saltBuckets = 1))
    val o1 = Crawler.ordering(spark, salted).as[(Int, Long, String)].collect().toSeq
    val o2 = Crawler.ordering(spark, plain).as[(Int, Long, String)].collect().toSeq
    assert(o1 === o2)
    assert(Crawler.seenDigest(spark, salted) === Crawler.seenDigest(spark, plain))
    (0 to 3).foreach(k => assert(salted.manifest(k) === plain.manifest(k)))
  }

  test("one shuffle partition reproduces the golden crawl, manifests included") {
    // with one shuffle partition and AQE off, planning the politeness pass
    // runs no job (no range sampling, no eager stage), so a gate count taken
    // from whichever action first reports the gate plan reads 0 there. The
    // manifests must not depend on the partition count.
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(key => key -> conf.getOption(key))
    val s = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-onepart"))
    try {
      conf.set("spark.sql.shuffle.partitions", "1")
      conf.set("spark.sql.adaptive.enabled", "false")
      Crawler.run(spark, s, seeds, Rounds, cfg)
    } finally saved.foreach {
      case (key, Some(v)) => conf.set(key, v)
      case (key, None) => conf.unset(key)
    }
    (0 to Rounds).foreach(k => assert(s.manifest(k) === store.manifest(k), s"manifest $k"))
    assert(Crawler.seenDigest(spark, s) === Crawler.seenDigest(spark, store))
    val o1 = Crawler.ordering(spark, s).as[(Int, Long, String)].collect().toSeq
    val o2 = Crawler.ordering(spark, store).as[(Int, Long, String)].collect().toSeq
    assert(o1 === o2)
  }

  test("text extraction is byte-stable: sha256 recomputes identically") {
    val k = store.head.get
    val rows = store.loadAllPages(k).filter($"status" === 200)
      .select($"url", $"text", $"text_sha256")
      .as[(String, String, String)].take(50)
    assert(rows.nonEmpty)
    rows.foreach { case (url, text, sha) =>
      assert(graft.core.Hashes.sha256Hex(text) === sha)
      assert(graft.core.TextExtract.extract(SyntheticWeb.htmlFor(url)) === text)
    }
  }

  // --- golden replay (SURVEY.md §5.3): the committed files define the
  // reference; the crawl must reproduce them byte-for-byte -----------------
  private def golden(name: String): String =
    new String(getClass.getResourceAsStream(s"/golden/$name").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)

  test("golden: crawl ordering matches the frozen ordering.csv") {
    val got = Crawler.ordering(spark, store).as[(Int, Long, String)].collect()
      .map { case (r, s, u) => s"$r,$s,$u" }
    assert("round,seq,url\n" + got.mkString("\n") + "\n" === golden("ordering.csv"))
  }

  test("golden: final URL-seen digest matches seen_digest.txt") {
    val (n, hsum, hxor) = Crawler.seenDigest(spark, store)
    assert(s"$n,$hsum,$hxor\n" === golden("seen_digest.txt"))
  }

  test("golden: per-url text sha256 matches text_sha256.csv (byte-identical invariant)") {
    val got = Crawler.textShas(spark, store).as[(String, String)].collect()
      .sortBy(_._1).map { case (u, s) => s"$u,$s" }
    assert("url,sha256\n" + got.mkString("\n") + "\n" === golden("text_sha256.csv"))
  }

  test("seen compaction: compacted layout reproduces the identical crawl and seen set") {
    val cA = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-compact"))
    Crawler.run(spark, cA, seeds, 4, cfg.copy(compactSeenEvery = 2))
    // a seen_full base exists and is read instead of all deltas
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(cA.seenFullPath(4))))
    val cB = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-nocompact"))
    Crawler.run(spark, cB, seeds, 4, cfg.copy(compactSeenEvery = 0))
    assert(Crawler.seenDigest(spark, cA) === Crawler.seenDigest(spark, cB))
    val o1 = Crawler.ordering(spark, cA).as[(Int, Long, String)].collect().toSeq
    val o2 = Crawler.ordering(spark, cB).as[(Int, Long, String)].collect().toSeq
    assert(o1 === o2)
    // resume on top of a compacted store stays consistent
    Crawler.run(spark, new SnapshotStore(spark, cA.root), seeds, 5,
      cfg.copy(compactSeenEvery = 2))
    Crawler.run(spark, new SnapshotStore(spark, cB.root), seeds, 5,
      cfg.copy(compactSeenEvery = 0))
    assert(Crawler.seenDigest(spark, new SnapshotStore(spark, cA.root))
      === Crawler.seenDigest(spark, new SnapshotStore(spark, cB.root)))
  }

  test("404 pages carry no text and no links but are marked seen") {
    val k = store.head.get
    val errs = store.loadAllPages(k).filter($"status" =!= 200)
    assert(errs.filter(length($"text") > 0 || size($"links") > 0).count() === 0)
  }

  test("stage labels: every job of a round carries its stage or write name") {
    val labels = Set("gate", "sequence", "fetch", "dedup", "commit",
      "write-pages", "write-lineage", "write-frontier", "write-seen",
      "write-filter", "compact-seen", "n-new", "link-candidates", "gate-counts")
    val s = new SnapshotStore(spark, SparkTestSession.tempDir("crawl-labels"))
    CrawlRound.initialize(spark, s, seeds, cfg)
    val sc = spark.sparkContext
    // job id -> description; the bus delivers events in order but
    // asynchronously, so one-task marker jobs bracket the round and the
    // test waits for the closing marker's start event
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = String.valueOf(js.properties.getProperty("spark.job.description"))
        jobs.put(js.jobId, desc)
        if (desc == "after-round") closed.countDown()
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("before-round")
      CrawlRound.run(spark, s, 0, cfg)
      marker("after-round")
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val byId = jobs.asScala.toSeq.sortBy(_._1)
    val from = byId.find(_._2 == "before-round").get._1
    val to = byId.find(_._2 == "after-round").get._1
    val round = byId.collect { case (id, d) if id > from && id < to => d }
    assert(round.contains("fetch") && round.contains("write-pages"), round)
    assert(round.filterNot(labels).isEmpty, round)
  }
}
