package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.SyntheticWeb
import graft.operators.Crawler
import graft.plans.Model.CrawlConfig

/** The snapshot-visibility seam: SnapshotStore must route ALL publication
  * through its CommitProtocol (swapping the backend = swapping the trait,
  * no crawl code changes), and the posix implementation must uphold the
  * invariants the object-store variant is specified against. */
class CommitProtocolSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(): Path = Files.createTempDirectory("graft-protocol")

  test("every snapshot publication goes through the injected protocol") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val recording = new CommitProtocol {
      override def publish(root: Path, staged: Path, k: Int): Unit = {
        seen += k
        PosixRenameCommit.publish(root, staged, k)
      }
    }
    val root = tmp()
    val store = new SnapshotStore(spark, root.toString, recording)
    Crawler.run(spark, store, SyntheticWeb.seeds(5), rounds = 2,
      CrawlConfig(roundCap = 50))
    // init (snapshot 0) + two rounds (snapshots 1, 2), in order
    assert(seen.toList == List(0, 1, 2))
    assert(store.head.contains(2))
  }

  test("a failed publish aborts its round; a resume matches an uninterrupted crawl") {
    val cfg = CrawlConfig(roundCap = 50)
    val seeds = SyntheticWeb.seeds(5)
    val failing = new CommitProtocol {
      override def publish(root: Path, staged: Path, k: Int): Unit = {
        if (k == 2) throw new java.io.IOException("injected publish failure")
        PosixRenameCommit.publish(root, staged, k)
      }
    }
    val root = tmp()
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.size
    sc.setJobDescription("caller's own description")
    try {
      val e = intercept[java.io.IOException] {
        Crawler.run(spark, new SnapshotStore(spark, root.toString, failing), seeds,
          rounds = 3, cfg)
      }
      assert(e.getMessage == "injected publish failure")
      // the round drained its writes, dropped its staging dir, released its
      // caches and gave the caller back its job description
      assert(sc.getPersistentRDDs.size === cachedBefore)
      assert(sc.getLocalProperty("spark.job.description") === "caller's own description")
    } finally sc.setJobDescription(null)
    val resumed = new SnapshotStore(spark, root.toString)
    assert(resumed.head.contains(1))
    assert(!Files.exists(root.resolve(".tmp-2")))
    Crawler.run(spark, resumed, seeds, rounds = 3, cfg)
    assert(resumed.head.contains(3))
    assert(sc.getPersistentRDDs.size === cachedBefore)

    val clean = new SnapshotStore(spark, tmp().toString)
    Crawler.run(spark, clean, seeds, rounds = 3, cfg)
    assert(sc.getPersistentRDDs.size === cachedBefore)
    assert(Crawler.ordering(spark, resumed).collect().toSeq ===
      Crawler.ordering(spark, clean).collect().toSeq)
    assert(Crawler.seenDigest(spark, resumed) === Crawler.seenDigest(spark, clean))
    (1 to 3).foreach(k => assert(resumed.manifest(k) === clean.manifest(k), s"manifest $k"))
  }

  test("posix publish is all-or-nothing: a staged dir is invisible until publish") {
    val root = tmp()
    val store = new SnapshotStore(spark, root.toString)
    val pending = store.begin(0)
    Files.writeString(java.nio.file.Paths.get(pending.pagesPath), "x")
    // nothing published yet: no HEAD, no snapshot dir
    assert(store.head.isEmpty)
    assert(!store.exists(0))
    pending.commit("""{"round":-1}""")
    assert(store.head.contains(0))
    assert(store.manifest(0).contains("""{"round":-1}"""))
    // staging dir is gone (renamed, not copied)
    assert(!Files.exists(root.resolve(".tmp-0")))
  }

  test("abort leaves no trace and a re-begin reclaims a stale staging dir") {
    val root = tmp()
    val store = new SnapshotStore(spark, root.toString)
    val p1 = store.begin(3)
    Files.writeString(java.nio.file.Paths.get(p1.pagesPath), "stale")
    p1.abort()
    assert(!Files.exists(root.resolve(".tmp-3")))
    // simulate a crash: stage again, "die", then a retry's begin reclaims
    val p2 = store.begin(3)
    Files.writeString(java.nio.file.Paths.get(p2.pagesPath), "crashed")
    val p3 = store.begin(3)
    assert(!Files.exists(java.nio.file.Paths.get(p3.pagesPath)))
    p3.abort()
  }
}
