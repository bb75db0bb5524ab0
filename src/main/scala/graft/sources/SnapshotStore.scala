package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.Model._

/** Iceberg-style snapshot store on parquet + an atomic HEAD pointer
  * (SURVEY.md §1.1 "Snapshots / rounds", §4.2 "Checkpoint commit protocol").
  *
  * No Iceberg runtime jar exists in this sandbox (SURVEY.md §7 [ENV]), so this
  * class implements the equivalent commit protocol by hand:
  *
  *   1. all tables of snapshot k are written under `<root>/.tmp-k/`;
  *   2. a `manifest.json` (row counts, metrics, pinned config) is written last
  *      inside the tmp dir;
  *   3. the tmp dir is renamed to `<root>/snapshot-k` (atomic on a local/posix
  *      fs; on an object store this step would be an Iceberg/metastore commit);
  *   4. `HEAD` is replaced via write-tmp + ATOMIC_MOVE.
  *
  * Steps 3–4 are the visibility seam, named as [[CommitProtocol]]: this class
  * delegates them to `protocol` (default [[PosixRenameCommit]]). The
  * object-store variant — immutable data prefix + PUT-if-absent manifest
  * pointer + HEAD CAS — is specified in the CommitProtocol scaladoc; swapping
  * it in changes no crawl code.
  *
  * A crash between any two steps leaves either the old HEAD (tmp dir invisible
  * to readers — resume re-runs the round deterministically) or the new HEAD
  * (round fully committed). Readers only ever follow HEAD.
  *
  * Layout of snapshot k (the state a round k consumes):
  *   frontier/    — Dataset[FrontierEntry], range-ordered by (priority desc,
  *                  next_fetch_ts, url_hash) at write time (SURVEY.md §2.6 O1)
  *   seen_delta/  — Dataset[SeenUrl] newly discovered by round k-1 (cumulative
  *                  seen set = union of deltas 0..k — append-only, compactable)
  *   pages/       — Dataset[FetchResult] fetched by round k-1 (S9 text sink)
  *   lineage/     — Dataset[LineageRow] per-partition counters (S8)
  *   bloom.bin    — cumulative URL-seen BloomFilter over url_hash (A3)
  *   manifest.json
  */
final class SnapshotStore(spark: SparkSession, val root: String,
    protocol: CommitProtocol = PosixRenameCommit) {
  import spark.implicits._

  private def snapDir(k: Int): Path = Paths.get(root, s"snapshot-$k")
  private def tmpDir(k: Int): Path = Paths.get(root, s".tmp-$k")
  private val headPath: Path = Paths.get(root, "HEAD")

  Files.createDirectories(Paths.get(root))

  /** Latest committed snapshot id, if any. */
  def head: Option[Int] =
    if (Files.exists(headPath)) Some(Files.readString(headPath).trim.toInt) else None

  def frontierPath(k: Int): String = snapDir(k).resolve("frontier").toString
  def frontierDeltaPath(k: Int): String = snapDir(k).resolve("frontier_delta").toString
  def seenDeltaPath(k: Int): String = snapDir(k).resolve("seen_delta").toString
  def seenFullPath(k: Int): String = snapDir(k).resolve("seen_full").toString
  def pagesPath(k: Int): String = snapDir(k).resolve("pages").toString
  def lineagePath(k: Int): String = snapDir(k).resolve("lineage").toString

  /** Frontier at snapshot k. Two layouts:
    *
    *  - FULL (default): `frontier/` holds the whole table, range-ordered.
    *  - LOG-STRUCTURED (CrawlConfig.frontierDeltas): only every
    *    `compactFrontierEvery`-th snapshot carries a full `frontier/`
    *    (the base); the others carry `frontier_delta/` = this round's CHURN
    *    (op "u" = upserted row — deferred or newly discovered; op "r" =
    *    removed row — fetched or robots-denied). The current frontier is
    *    base minus touched urls plus the latest upserts — each url is
    *    touched at most once per round, so "latest delta wins".
    *
    * Reconstruction cost is O(base scan) + O(churn): the base never
    * shuffles — a bloom over the delta keys routes only suspect base rows
    * into the exact 128-bit anti-join (same pattern as the URL-seen probe).
    * At the 10^10-row design point this replaces the full-frontier range
    * shuffle+rewrite per round with a churn-sized write (the shuffle returns
    * only on compaction rounds) at the price of this merge-on-read. */
  /** True iff snapshot k carries a full `frontier/` table — i.e. loadFrontier
    * is a plain parquet scan, not a merge-on-read reconstruction. Callers
    * that consume the frontier more than once should persist the loaded
    * Dataset when this is false (CrawlRound.run does). */
  def hasFullFrontier(k: Int): Boolean = Files.exists(Paths.get(frontierPath(k)))

  def loadFrontier(k: Int): Dataset[FrontierEntry] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    if (Files.exists(Paths.get(frontierPath(k))))
      spark.read.parquet(frontierPath(k)).as[FrontierEntry]
    else {
      val b = (k to 0 by -1).find(i => Files.exists(Paths.get(frontierPath(i))))
        .getOrElse(throw new IllegalStateException(
          s"no full frontier base at or before snapshot $k"))
      // every snapshot after the base MUST carry a delta (the writer emits
      // exactly one of frontier/ or frontier_delta/ per snapshot) — a hole
      // in the chain means lost removals/upserts, so fail loudly rather
      // than reconstruct a silently wrong frontier
      val deltas = ((b + 1) to k).map { i =>
        val p = frontierDeltaPath(i)
        if (!Files.exists(Paths.get(p)))
          throw new IllegalStateException(
            s"frontier delta chain broken: snapshot $i has neither " +
              "frontier/ nor frontier_delta/ " + s"(base at $b, target $k)")
        spark.read.parquet(p).withColumn("delta_seq", lit(i))
      }
      val base = spark.read.parquet(frontierPath(b))
      if (deltas.isEmpty) base.as[FrontierEntry]
      else {
        val all = deltas.reduce(_ unionByName _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"url_hash_hi", $"url_hash_lo").orderBy($"delta_seq".desc)
        val latest = all.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        val upserts = latest.filter($"op" === "u").drop("op", "delta_seq", "rn")
        val touched = latest.select($"url_hash_hi", $"url_hash_lo")
        // bloom-route: only base rows that might be touched pay the exact
        // anti-join; clean rows (the overwhelming majority) stream through
        val bf = all.select($"url_hash")
          .stat.bloomFilter("url_hash", math.max(all.count(), 64L), 0.01)
        val bc = spark.sparkContext.broadcast(bf)
        val might = org.apache.spark.sql.functions
          .udf((h: Long) => bc.value.mightContainLong(h))
        val clean = base.filter(!might($"url_hash"))
        val survivors = base.filter(might($"url_hash"))
          .join(touched, Seq("url_hash_hi", "url_hash_lo"), "left_anti")
        clean.unionByName(survivors).unionByName(upserts).as[FrontierEntry]
      }
    }
  }

  /** Exact cumulative URL-seen set at snapshot k.
    *
    * Layout: every snapshot appends a `seen_delta`; every `compactEvery`-th
    * round ALSO writes `seen_full` — the whole set re-partitioned by
    * `url_hash_hi` (SURVEY.md §4.2 bucketed layout). The read is therefore
    * the latest full base ≤ k plus the few deltas after it, not k small
    * delta dirs — at 10^10 URLs / hundreds of rounds the delta-only layout
    * would degenerate into a many-small-files scan and an unclustered
    * anti-join probe side. */
  def loadSeen(k: Int): Dataset[SeenUrl] = {
    val base = (k to 0 by -1).find(i => Files.exists(Paths.get(seenFullPath(i))))
    val paths = base.map(b => seenFullPath(b) +:
        (b + 1 to k).map(seenDeltaPath).filter(p => Files.exists(Paths.get(p))))
      .getOrElse((0 to k).map(seenDeltaPath).filter(p => Files.exists(Paths.get(p))))
    spark.read.parquet(paths: _*).as[SeenUrl]
  }

  def loadPages(k: Int): Dataset[FetchResult] =
    spark.read.parquet(pagesPath(k)).as[FetchResult]

  def loadAllPages(k: Int): Dataset[FetchResult] = {
    val paths = (0 to k).map(pagesPath).filter(p => Files.exists(Paths.get(p)))
    spark.read.parquet(paths: _*).as[FetchResult]
  }

  def loadLineage(k: Int): Dataset[LineageRow] = {
    val paths = (0 to k).map(lineagePath).filter(p => Files.exists(Paths.get(p)))
    spark.read.parquet(paths: _*).as[LineageRow]
  }

  /** Cumulative URL-seen bloom persisted with snapshot k (SURVEY.md §2.4 A3). */
  def loadBloom(k: Int): Option[BloomFilter] = {
    val p = snapDir(k).resolve("bloom.bin")
    if (!Files.exists(p)) None
    else {
      val in = Files.newInputStream(p)
      try Some(BloomFilter.readFrom(in)) finally in.close()
    }
  }

  /** Sharded URL-seen filter files (CrawlConfig.filterShards > 0): shard i
    * of snapshot k. Executors read these directly during the shard-local
    * probe — on a cluster this path is the shared store, same assumption as
    * every other snapshot table. */
  def filterShardPath(k: Int, i: Int): String =
    snapDir(k).resolve("filter_shards").resolve(s"shard-$i.bin").toString

  /** True iff snapshot k carries EXACTLY n shard files. The exact-count
    * check (no shard-n) guards resume with a changed `filterShards`: probing
    * n' != n shards with pmod(h, n) routing silently yields false negatives
    * ("definitely new" for seen URLs). A mismatch routes the round to the
    * exact anti-join cold path, which then rewrites the full shard set at
    * the new n. */
  def filterShardsExist(k: Int, n: Int): Boolean =
    (0 until n).forall(i => Files.exists(Paths.get(filterShardPath(k, i)))) &&
      !Files.exists(Paths.get(filterShardPath(k, n)))

  def loadFilterShard(k: Int, i: Int): Option[Array[Byte]] = {
    val p = Paths.get(filterShardPath(k, i))
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  def manifest(k: Int): Option[String] = {
    val p = snapDir(k).resolve("manifest.json")
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  def exists(k: Int): Boolean = Files.exists(snapDir(k).resolve("manifest.json"))

  /** Staging handle for snapshot k: write all tables under the invisible tmp
    * dir, then `commit()` makes the snapshot visible atomically. */
  final class Pending private[SnapshotStore] (k: Int) {
    private val dir = tmpDir(k)
    // a stale tmp dir from a crashed run is invisible garbage — reclaim it
    if (Files.exists(dir)) deleteRecursively(dir)
    Files.createDirectories(dir)

    def frontierPath: String = dir.resolve("frontier").toString
    def frontierDeltaPath: String = dir.resolve("frontier_delta").toString
    def seenDeltaPath: String = dir.resolve("seen_delta").toString
    def seenFullPath: String = dir.resolve("seen_full").toString
    def pagesPath: String = dir.resolve("pages").toString
    def lineagePath: String = dir.resolve("lineage").toString

    def writeBloom(bf: BloomFilter): Unit = {
      val out = Files.newOutputStream(dir.resolve("bloom.bin"))
      try bf.writeTo(out) finally out.close()
    }

    def writeFilterShard(i: Int, bytes: Array[Byte]): Unit =
      SnapshotStore.writeShardFile(filterShardsDir, i, bytes)

    /** Executor-visible staging dir for per-shard filter files: the sharded
      * filter lifecycle writes each shard's merged bytes from the TASK that
      * built it (`SnapshotStore.writeShardFile`), so shard bytes never pass
      * through the driver. On a cluster this is the shared store — the same
      * reachability assumption as every parquet table in the snapshot. */
    def filterShardsDir: String = dir.resolve("filter_shards").toString

    /** Step 2–4 of the protocol. `manifestJson` must already be deterministic
      * (no wall-clock fields) so identical runs byte-compare (SURVEY.md §5.4). */
    def commit(manifestJson: String): Unit = {
      Files.writeString(dir.resolve("manifest.json"), manifestJson)
      protocol.publish(Paths.get(root), dir, k)
    }

    def abort(): Unit = if (Files.exists(dir)) deleteRecursively(dir)
  }

  def begin(k: Int): Pending = new Pending(k)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRecursively(c))
      finally s.close() // directory streams hold an fd until closed
    }
    Files.deleteIfExists(p)
  }
}

object SnapshotStore {
  /** Atomic shard-file write (unique tmp + ATOMIC_MOVE), callable from
    * executor tasks: a retried/speculated task overwrites idempotently (the
    * bytes are deterministic per shard), and a crash mid-write leaves only
    * an invisible tmp file inside the staging dir. */
  def writeShardFile(dirPath: String, i: Int, bytes: Array[Byte]): Unit = {
    val d = Paths.get(dirPath)
    Files.createDirectories(d)
    val tmp = d.resolve(s".shard-$i.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, d.resolve(s"shard-$i.bin"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
