package graft.sources

import java.nio.file.{Files, Path, Paths}

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
  *   seen_full/   — only when k is a positive multiple of compactSeenEvery:
  *                  the whole seen set, hash-partitioned (see loadSeen)
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
  def seenDeltaPath(k: Int): String = snapDir(k).resolve("seen_delta").toString
  def seenFullPath(k: Int): String = snapDir(k).resolve("seen_full").toString
  def pagesPath(k: Int): String = snapDir(k).resolve("pages").toString
  def lineagePath(k: Int): String = snapDir(k).resolve("lineage").toString

  /** Frontier at snapshot k: the whole table, range-ordered at write time. */
  def loadFrontier(k: Int): Dataset[FrontierEntry] =
    spark.read.parquet(frontierPath(k)).as[FrontierEntry]

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
    SnapshotStore.deleteRecursively(dir)
    Files.createDirectories(dir)

    def frontierPath: String = dir.resolve("frontier").toString
    def seenDeltaPath: String = dir.resolve("seen_delta").toString
    def seenFullPath: String = dir.resolve("seen_full").toString
    def pagesPath: String = dir.resolve("pages").toString
    def lineagePath: String = dir.resolve("lineage").toString

    def writeBloom(bf: BloomFilter): Unit = {
      val out = Files.newOutputStream(dir.resolve("bloom.bin"))
      try bf.writeTo(out) finally out.close()
    }

    /** Step 2–4 of the protocol. `manifestJson` must already be deterministic
      * (no wall-clock fields) so identical runs byte-compare (SURVEY.md §5.4). */
    def commit(manifestJson: String): Unit = {
      Files.writeString(dir.resolve("manifest.json"), manifestJson)
      protocol.publish(Paths.get(root), dir, k)
    }

    def abort(): Unit = SnapshotStore.deleteRecursively(dir)
  }

  def begin(k: Int): Pending = new Pending(k)
}

object SnapshotStore {

  /** Delete a file or a whole directory tree; a missing path is a no-op. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRecursively(c))
      finally s.close() // directory streams hold an fd until closed
    }
    Files.deleteIfExists(p)
  }
}
