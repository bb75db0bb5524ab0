package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Corpus deduplication operators for training-data pipelines (builder prompt:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard). All operate on a DataFrame
  * with (doc_id: long, text: string) columns — e.g. the driver `documents`
  * table or this engine's crawled pages.
  *
  * Scale design: every stage is a hash-keyed shuffle — no cross joins, no
  * driver-side state. MinHash signatures/band keys are computed in one
  * executor-local pass per doc; candidate pairs come from a groupBy on
  * (band, band_key) buckets whose size is capped (hot buckets are SILENTLY
  * truncated — the standard LSH skew guard; `bucketTruncationStats` audits
  * what the cap drops) so one degenerate bucket cannot produce O(n²) pairs.
  */
object Dedup {

  /** Exact dedup via content-hash groupBy: one row per distinct text with the
    * surviving (minimum) doc_id and the duplicate count. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Distinct-keeper: the deduplicated corpus (keep the min doc_id per text). */
  def exactKeep(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  private val sigUdf = udf((text: String) =>
    TextAnalysis.minHashSignature(TextAnalysis.shingles(text)))
  private val bandUdf = udf((sig: Seq[Long]) =>
    TextAnalysis.bandKeys(sig.toArray))
  private val shinglesUdf = udf((text: String) => TextAnalysis.shingles(text))
  private val jaccardUdf = udf((a: Seq[Long], b: Seq[Long]) =>
    TextAnalysis.jaccard(a.toArray, b.toArray))

  /** Per-doc MinHash signature + LSH band keys (the reusable index). */
  def minHashIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sigUdf(col("text")).as("sig"))
      .withColumn("bands", bandUdf(col("sig")))

  /** MinHash+LSH candidate pairs with signature-estimated Jaccard ≥ threshold.
    * Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b, distinct. */
  def minHashPairs(docs: DataFrame, threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame =
    bandPairs(minHashIndex(docs), col("doc_a") < col("doc_b"), threshold, maxBucket)

  /** Incremental near-dup: candidate pairs that TOUCH a new batch, against a
    * persisted `minHashIndex` of the existing corpus — the form a 100 TB
    * pipeline actually runs (signatures of the old corpus are computed once
    * and stored; each ingest batch only pays for its own signatures plus the
    * bucket join). Semantics: exactly
    * `minHashPairs(existing ∪ new)` restricted to pairs with ≥1 new doc —
    * the bucket cap is computed over the union, so results are identical to
    * a from-scratch run (equivalence-tested in DedupSpec).
    * Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b, distinct. */
  def minHashPairsIncremental(existingIndex: DataFrame, newDocs: DataFrame,
      threshold: Double = 0.7, maxBucket: Int = 64): DataFrame = {
    val all = existingIndex.select(col("doc_id"), col("sig"), col("bands"))
      .withColumn("is_new", lit(false))
      .unionByName(minHashIndex(newDocs).withColumn("is_new", lit(true)))
    bandPairs(all, col("doc_a") < col("doc_b") && (col("is_new_a") || col("is_new_b")),
      threshold, maxBucket)
  }

  /** The band-pair pipeline over a MinHash index (doc_id, sig, bands, plus
    * any carried columns): docs sharing a (band, band_key) bucket, bucket
    * capped at `maxBucket` for skew safety, joined pairwise — each side's
    * `doc_id` as doc_a/doc_b and every other column `c` as c_a/c_b — then
    * filtered by `pair`, scored and thresholded.
    *
    * Score in the bucket-join projection, then dedup NARROW rows (r06):
    * est_jaccard is a pure function of the pair (the sig columns are pure
    * functions of the doc ids), so each shared-band occurrence scores
    * identically and first() is deterministic. The pair dedup then groups
    * 24-byte (doc_a, doc_b, est_jaccard) rows in a codegen HashAggregate —
    * dropDuplicates("doc_a","doc_b") used to carry BOTH 64-long signature
    * arrays through its exchange into a SortAggregate (~40× the shuffle
    * bytes, sorts on both sides). The re-added per-shared-band SigAgree
    * evaluations are map-side, parallel, and bounded by the band count;
    * the threshold filter runs pre-dedup (duplicates all pass or all
    * fail), shrinking the aggregate input too. Output identical. */
  private def bandPairs(index: DataFrame, pair: Column, threshold: Double,
      maxBucket: Int): DataFrame = {
    val carried = index.columns.filterNot(_ == "bands").toSeq
    val exploded = index.select(carried.map(col) :+
      posexplode(col("bands")).as(Seq("band", "band_key")): _*)
    val buckets = exploded
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("band_key")).orderBy(col("doc_id"))))
      .filter(col("rn") <= maxBucket)
    def side(s: String): DataFrame = buckets.select(col("band") +: col("band_key") +:
      carried.map(c => col(c).as(if (c == "doc_id") s"doc_$s" else s"${c}_$s")): _*)
    side("a").join(side("b"), Seq("band", "band_key"))
      .filter(pair)
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.graftexpr.SigAgree(col("sig_a"), col("sig_b"))
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("est_jaccard")).as("est_jaccard"))
  }

  /** Connected components over a near-dup pair graph → dedup groups:
    * (doc_id, group_id) with group_id = the smallest doc_id in the
    * component (the canonical keeper). Min-label propagation with path
    * shortcutting (label := label of one's label) — each iteration is two
    * joins + one aggregation, lineage truncated via localCheckpoint (the
    * PageRank idiom); the shortcut halves remaining path lengths, so
    * convergence is O(log diameter): 20 iterations cover components of
    * depth ~2^20. Throws rather than returning silently-unconverged labels
    * if the cap is ever hit. Only docs that appear in a pair are emitted —
    * unpaired docs are their own keeper by definition (see `nearDupKeep`). */
  def nearDupGroups(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().persist()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("group_id", col("doc_id")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("group_id").as("g")), "dst")
        .groupBy(col("src")).agg(min(col("g")).as("nbr_min"))
      val stepped = labels
        .join(nbrMin.select(col("src").as("doc_id"), col("nbr_min")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("nbr_min"), col("group_id"))).as("group_id"))
      // path shortcutting: adopt the label of one's current label (every
      // group_id is itself a doc_id in the vertex set, so the join hits)
      val next = stepped.as("x")
        .join(stepped.as("y").select(col("doc_id").as("gid"), col("group_id").as("g2")),
          col("x.group_id") === col("gid"), "left")
        .select(col("x.doc_id").as("doc_id"),
          least(col("x.group_id"), coalesce(col("g2"), col("x.group_id"))).as("group_id"))
        .localCheckpoint(true)
      changed = next
        .join(labels.select(col("doc_id"), col("group_id").as("old")), Seq("doc_id"))
        .filter(col("group_id") =!= col("old")).count()
      // free the superseded iteration's checkpointed blocks — otherwise the
      // loop pins one full label-table copy per iteration
      org.apache.spark.sql.graftexpr.IterUtils.unpersistCheckpoint(labels)
      labels = next
      i += 1
    }
    edges.unpersist(blocking = false)
    if (changed > 0) throw new IllegalStateException(
      s"nearDupGroups did not converge within $maxIter iterations")
    labels
  }

  /** Near-dup keeper selection: the deduplicated corpus — every unpaired doc
    * plus, per near-dup component, only its smallest doc_id. */
  def nearDupKeep(docs: DataFrame, pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val losers = nearDupGroups(pairs, maxIter)
      .filter(col("group_id") =!= col("doc_id")).select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Audit of the LSH skew guard: buckets over `maxBucket` and the candidate
    * rows the cap silently drops in `minHashPairs` (one summary row). Run on
    * demand — the pair query itself stays a single pass with no side job. */
  def bucketTruncationStats(docs: DataFrame, maxBucket: Int = 64): DataFrame =
    minHashIndex(docs)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_key")))
      .groupBy(col("band"), col("band_key")).count()
      .filter(col("count") > maxBucket)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_hot_buckets"),
        coalesce(sum(col("count") - maxBucket), lit(0L)).as("n_rows_truncated"))

  /** Per-doc near-dup summary (total-row-stable: emits one row per doc even
    * with zero candidates — LEFT join of docs onto their best pair). */
  def minHashReport(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = minHashPairs(docs, threshold)
    val sym = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("other"),
        col("est_jaccard"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"),
        col("doc_a").as("other"), col("est_jaccard")))
    val best = sym.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_candidates"),
      max(struct(col("est_jaccard"), col("other"))).as("best"))
      .select(col("doc_id"), col("n_candidates"),
        col("best.other").as("best_match"),
        col("best.est_jaccard").as("best_est_jaccard"))
    docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .na.fill(Map("n_candidates" -> 0L, "best_match" -> -1L,
        "best_est_jaccard" -> 0.0))
  }

  /** Exact n-gram Jaccard verification of MinHash candidates: re-joins the
    * candidate pairs to the raw texts and computes true shingle-set Jaccard
    * (the verify step of the standard dedup pipeline). */
  def jaccardVerify(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    val sh = docs.select(col("doc_id"), shinglesUdf(col("text")).as("sh"))
    minHashPairs(docs, threshold * 0.8)
      .join(sh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        jaccardUdf(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private val simHashUdf = udf((text: String) => TextAnalysis.simHash(text))

  /** Per-doc 64-bit SimHash plus its 4 16-bit Hamming-LSH block keys —
    * near-dups within Hamming distance 3 share at least one block
    * (pigeonhole; Manku et al., WWW 2007, public). */
  def simHashIndex(docs: DataFrame): DataFrame = {
    val withSim = docs.select(col("doc_id"), simHashUdf(col("text")).as("simhash"))
    (0 until 4).foldLeft(withSim) { (df, b) =>
      df.withColumn(s"block$b",
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)))
    }
  }

  /** SimHash near-dup pairs: bucket by each 16-bit block, verify Hamming ≤ k. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simHashPairsFromIndex(simHashIndex(docs), maxHamming)

  /** Pair generation from a precomputed `simHashIndex` table. UDF-free by
    * design (the only UDF in the simhash pipeline is the per-doc signature,
    * which is pinned xxh64 arithmetic and inexpressible in built-ins) —
    * the bucket join and the Hamming verify stay in whole-stage codegen,
    * locked by PlanShapeSpec. */
  def simHashPairsFromIndex(idx: DataFrame, maxHamming: Int = 3): DataFrame = {
    val blocks = (0 until 4).map { b =>
      idx.select(lit(b).as("block_id"), col(s"block$b").as("block_key"),
        col("doc_id"), col("simhash"))
    }.reduce(_ unionByName _)
    val a = blocks.toDF("block_id", "block_key", "doc_a", "sim_a")
    val b = blocks.toDF("block_id", "block_key", "doc_b", "sim_b")
    // Hamming = popcount(xor): built-in bit_count stays inside whole-stage
    // codegen — no ScalaUDF boundary on the pair-verification hot path
    // (TextAnalysis.hamming remains the scalar-side reference, property-
    // tested equal in DedupSpec)
    a.join(b, Seq("block_id", "block_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
