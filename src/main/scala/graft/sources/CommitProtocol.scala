package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}

/** The snapshot-visibility seam of [[SnapshotStore]]: everything before
  * `publish` writes to an invisible staging location; `publish` is the ONLY
  * step that makes snapshot k reachable and advances HEAD. Swapping the
  * store backend (posix dir, HDFS, S3/GCS, an Iceberg catalog) means
  * swapping exactly this trait — no crawl code changes.
  *
  * == Posix / HDFS (implemented: [[PosixRenameCommit]]) ==
  * `.tmp-k` → `snapshot-k` via ATOMIC_MOVE, then HEAD via write-tmp +
  * ATOMIC_MOVE. Both renames are atomic metadata ops on a posix fs and on
  * HDFS; a crash between any two steps leaves either the old HEAD (staged
  * dir invisible — resume re-runs the round deterministically) or the new
  * HEAD (round fully committed).
  *
  * == Object store (design; no S3/GCS endpoint exists in this sandbox) ==
  * On S3/GCS a directory "rename" is an O(files) copy+delete — neither
  * atomic nor cheap — so the rename protocol does not transfer. The
  * object-store variant keeps the same two invariants (readers follow HEAD
  * only; at most one writer wins a snapshot id) using only PUT-if-absent
  * and compare-and-swap, both of which S3 (If-None-Match: "*",
  * 2024 conditional writes) and GCS (x-goog-if-generation-match: 0) provide:
  *
  *   1. tables are written under an IMMUTABLE unique prefix
  *      `data/<uuid>/{frontier,seen_delta,pages,lineage}/…` —
  *      task outputs land there directly (no rename: object writes are
  *      already atomic per object, and the prefix is invisible because
  *      nothing references it yet);
  *   2. commit = one conditional PUT of a MANIFEST-POINTER object
  *      `meta/snapshot-k.json` (body: the data prefix, per-table relative
  *      paths, the deterministic metrics manifest). PUT-if-absent makes
  *      concurrent committers of the same k lose loudly — exactly the
  *      ATOMIC_MOVE uniqueness guarantee;
  *   3. HEAD = `meta/HEAD` advanced by generation-CAS (PUT expecting the
  *      generation the committer read), or equivalently an Iceberg/metastore
  *      catalog swap — the pointer file IS a one-table Iceberg catalog;
  *   4. a crash before step 2 leaves an unreachable `data/<uuid>` prefix:
  *      garbage, never corruption — GC'd by listing prefixes unreferenced
  *      by any `meta/snapshot-*.json` older than a retention window.
  *
  * Readers resolve HEAD → pointer → prefix; they never list `data/`, so
  * eventual-consistency on listings (legacy S3) is irrelevant.
  */
trait CommitProtocol {
  /** Atomically make `staged` visible as `snapshot-k` under `root` and
    * advance HEAD to k. Must be all-or-nothing w.r.t. crashes. */
  def publish(root: Path, staged: Path, k: Int): Unit
}

/** Steps 3–4 of the hand-built protocol (SnapshotStore scaladoc): atomic
  * dir rename + atomic HEAD swap. Correct on posix and HDFS. */
object PosixRenameCommit extends CommitProtocol {
  override def publish(root: Path, staged: Path, k: Int): Unit = {
    val target = root.resolve(s"snapshot-$k")
    SnapshotStore.deleteRecursively(target) // re-run of uncommitted round
    Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
    val headTmp = root.resolve(".HEAD.tmp")
    Files.writeString(headTmp, k.toString)
    Files.move(headTmp, root.resolve("HEAD"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
