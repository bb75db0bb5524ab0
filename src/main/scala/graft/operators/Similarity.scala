package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Hashes

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]) — builder prompt: brute-force cosine top-k baseline plus an
  * LSH-bucketed scale path.
  *
  * Scale design: the query set is always the broadcast side; the corpus is
  * never collected. Cosine runs inside codegen'd SQL (`zip_with` +
  * `aggregate`), not a Scala UDF. Brute force is exact and O(|corpus|·|Q|);
  * the random-hyperplane LSH variant prunes the corpus to matching signature
  * buckets (multi-probe over all 1-bit flips) before scoring — the standard
  * recall/cost trade.
  */
object Similarity {

  /** Cosine similarity between two float-array columns: the custom codegen'd
    * Catalyst expression (one fused loop, no intermediate arrays). */
  def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graftexpr.CosineSim(a, b)

  /** The same semantics composed from built-ins (`zip_with` + `aggregate`) —
    * kept as the reference formulation the custom expression is tested
    * against, and the fallback if the engine runs without our extension. */
  def cosineSql(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val dot = aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) =>
      acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) =>
      acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self-matches excluded). `corpus`/`queries` need columns
    * (vec_id: long, embedding: array<float>). Two-phase top-k: per-partition
    * candidates would be the next refinement; at this k the window rank over
    * a query-keyed shuffle is already scale-safe because rows = |corpus|·|Q|
    * is bounded by the broadcast query count. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      roundCosineTo: Int = -1): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val rawCos = cosine(col("q_emb"), col("c_emb"))
    // roundCosineTo >= 0: quantize BEFORE ranking so the (cosine, neighbor_id)
    // order is reproducible across engines whose float accumulation differs in
    // the last ulps (the DuckDB-oracle contract)
    val cos = if (roundCosineTo >= 0) round(rawCos, roundCosineTo) else rawCos
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cos)
    topK(scored, k)
  }

  /** The top-k tail every ANN form ends in: per query, the k best
    * (query_id, neighbor_id, cosine) rows by (cosine desc, neighbor_id),
    * ranked 1..k. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Exact embedding-cosine near-dup pairs: every (a, b) with a < b and
    * cosine ≥ threshold. O(n²/2) via a broadcast nested-loop self-join —
    * the correct baseline and the DuckDB-oracle surface; `cosinePairsLsh`
    * is the bucketed scale path. `roundTo` quantizes the cosine before the
    * threshold so the result set is engine-independent.
    *
    * WARNING — oracle baseline, NOT a scale path: the whole table is
    * broadcast and every pair is scored. `maxRows` enforces that bound
    * (one count pass, then require) so a pipeline cannot drift into an
    * n² broadcast at corpus scale by accident — the same discipline as the
    * robots-gate broadcast threshold. Raise it only for a deliberate
    * baseline run; use `cosinePairsLsh` in pipelines. */
  def cosinePairs(emb: DataFrame, threshold: Double,
      roundTo: Int = -1, maxRows: Long = 1000000L): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"cosinePairs is the O(n^2) broadcast baseline: got $n rows > maxRows=" +
        s"$maxRows; use cosinePairsLsh (or raise maxRows deliberately)")
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = broadcast(
      emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")))
    val raw = cosine(col("emb_a"), col("emb_b"))
    val cos = if (roundTo >= 0) round(raw, roundTo) else raw
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine", cos)
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** LSH-bucketed embedding near-dup pairs (the scale path): candidates are
    * pairs sharing a (table, sig) bucket in ANY of the L tables, then the
    * exact cosine filter runs on candidates only — no all-pairs join. Recall
    * < 1 by construction (near-threshold pairs may share no bucket); at high
    * cosine the collision probability per table is (1−θ/π)^bits, boosted by
    * the union over tables. Pairs are deduped across tables before scoring. */
  def cosinePairsLsh(emb: DataFrame, threshold: Double, roundTo: Int = -1,
      nBits: Int = 8, nTables: Int = 8, dim: Int = 64): DataFrame = {
    val sig = withLshSignatures(emb, nBits, nTables, dim)
    val a = sig.select(col("table"), col("sig"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = sig.select(col("table"), col("sig"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val raw = cosine(col("emb_a"), col("emb_b"))
    val cos = if (roundTo >= 0) round(raw, roundTo) else raw
    // Score BEFORE the cross-table pair dedup (r06): cosine is a pure
    // function of the pair, so duplicate bucket hits score identically and
    // first() is deterministic. The dedup then groups NARROW
    // (vec_a, vec_b, cosine) rows — a codegen HashAggregate — where
    // dropDuplicates carried both embedding arrays through the exchange
    // into a SortAggregate (~64× the shuffle bytes, sorts on both sides).
    // The threshold filter runs pre-dedup (duplicates all pass or all
    // fail), shrinking the aggregate input too. Output identical.
    a.join(b, Seq("table", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", cos)
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(first(col("cosine")).as("cosine"))
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  // --- IVF (inverted-file) ANN — the second scale path -----------------------

  /** Deterministic IVF coarse quantizer: k-means over the corpus with
    * hash-seeded init (the nList vectors with the smallest xxh64(vec_id))
    * and a fixed number of Lloyd iterations. The centroid update accumulates
    * components as integer micro-units (1e-6) so the result is EXACTLY
    * order-independent — a float sum's partition-order nondeterminism would
    * otherwise make index builds unreproducible. Returns the flattened
    * centroid matrix [c*dim + d]. */
  def ivfCentroids(corpus: DataFrame, nList: Int = 16, iters: Int = 3,
      dim: Int = 64): Array[Double] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val init = corpus
      .select(col("vec_id"), col("embedding"))
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h")).limit(nList)
      .select(col("embedding")).as[Seq[Float]].collect()
    var cents: Array[Double] = Array.tabulate(nList * dim) { i =>
      val c = i / dim; val d = i % dim
      if (c < init.length && d < init(c).length) init(c)(d).toDouble else 0.0
    }
    var it = 0
    while (it < iters) {
      // codegen'd assignment — no Seq[Float]-arg UDF on the corpus-wide
      // Lloyd scans (per-row conversion measured at 6x a stage elsewhere)
      // integer micro-unit sums: commutative + associative => deterministic
      val sums = corpus
        .select(org.apache.spark.sql.graftexpr.NearestCentroid(
            col("embedding"), cents, nList, dim).as("c"),
          posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy(col("c"), col("d"))
        .agg(sum((col("v") * 1000000L).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .as[(Int, Int, Long, Long)].collect()
      val next = cents.clone()
      sums.foreach { case (c, d, s, n) =>
        next(c * dim + d) = s.toDouble / 1e6 / n.toDouble
      }
      cents = next
      it += 1
    }
    cents
  }

  private[graft] def nearestCentroid(e: Seq[Float], cents: Array[Double],
      nList: Int, dim: Int): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    val n = math.min(e.length, dim)
    while (c < nList) {
      var dot = 0.0; var d = 0
      while (d < n) { dot += e(d) * cents(c * dim + d); d += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  private[graft] def nearestCentroids(e: Seq[Float], cents: Array[Double],
      nList: Int, dim: Int, nProbe: Int): Seq[Int] = {
    val n = math.min(e.length, dim)
    (0 until nList).map { c =>
      var dot = 0.0; var d = 0
      while (d < n) { dot += e(d) * cents(c * dim + d); d += 1 }
      (c, dot)
    }.sortBy { case (c, dot) => (-dot, c) }.take(nProbe).map(_._1)
  }

  /** Corpus with its IVF list assignment (the reusable index — materialize
    * it once per corpus; list assignment never touches other rows). */
  def withIvfList(corpus: DataFrame, cents: Array[Double], nList: Int = 16,
      dim: Int = 64): DataFrame =
    corpus.withColumn("ivf_list", org.apache.spark.sql.graftexpr.NearestCentroid(
      col("embedding"), cents, nList, dim))

  /** IVF ANN top-k: queries probe their `nProbe` nearest centroid lists and
    * scan ONLY those lists — the candidate scan is |corpus|·nProbe/nList per
    * query instead of |corpus| (the standard inverted-file recall/cost
    * trade; recall < 1 when a true neighbor lives in an unprobed list). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nList: Int = 16, nProbe: Int = 4, iters: Int = 3,
      dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    val cents = ivfCentroids(corpus, nList, iters, dim)
    val indexed = withIvfList(corpus, cents, nList, dim)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("ivf_list"))
    val bc = spark.sparkContext.broadcast(cents)
    val probeU = udf { (e: Seq[Float]) => nearestCentroids(e, bc.value, nList, dim, nProbe) }
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(probeU(col("embedding"))).as("ivf_list")))
    val scored = indexed.join(q, Seq("ivf_list"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("c_emb")))
    topK(scored, k)
  }

  /** IVF-vs-exact cross-check report, one row per query:
    *  - ivf_k: rows IVF returned;
    *  - in_brute_topk: how many fall inside the exact top-`bruteK`;
    *  - cosine_mismatches: IVF-reported cosines differing from an
    *    independently recomputed exact cosine.
    * The mismatch count is a theorem-grade invariant — it must be 0 always,
    * because IVF prunes the CANDIDATE SET but never approximates scores —
    * while the overlap column is the empirical recall surface whose floor
    * SimilaritySpec pins at sf0.001 AND sf0.1. Registered as the driver
    * query q_ann_ivf_vs_brute (rows-only: xxh64-seeded index, no DuckDB). */
  def ivfCrossCheck(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      bruteK: Int = 10): DataFrame = {
    val ivf = ivfTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("ivf_cos"))
    val brute = bruteForceTopK(corpus, queries, k = bruteK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_brute"))
    val qe = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val ne = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"))
    ivf.join(qe, Seq("query_id"))
      .join(ne, Seq("neighbor_id"))
      .withColumn("exact_cos", cosine(col("q_emb"), col("n_emb")))
      .join(brute, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("ivf_k"),
        sum(coalesce(col("in_brute"), lit(0L))).cast("long").as("in_brute_topk"),
        sum(when(abs(col("ivf_cos") - col("exact_cos")) > 1e-9, 1L)
          .otherwise(0L)).as("cosine_mismatches"))
  }

  /** Deterministic random hyperplanes: `nBits` planes × `dim` components,
    * seeded through xxh64 → approximately N(0,1) via sum of uniforms. */
  private[graft] def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L)
      : Array[Array[Double]] =
    Array.tabulate(nBits) { b =>
      Array.tabulate(dim) { d =>
        val h = Hashes.mix(seed + b * 1315423911L, d.toLong)
        // 12-uniform sum ≈ normal; cheap, deterministic, good enough for LSH
        var acc = 0.0
        var i = 0
        while (i < 12) {
          acc += ((Hashes.mix(h, i.toLong) >>> 11).toDouble / (1L << 53).toDouble) - 0.5
          i += 1
        }
        acc
      }
    }

  /** Sign-random-projection signatures (Charikar 2002) for `nTables`
    * independent hash tables of `nBits` planes each — the standard
    * recall-boosting LSH layout (a single table's recall decays as
    * (1-θ/π)^bits; L tables union their buckets). Emits one
    * (table: int, sig: int) pair per table per row via posexplode. */
  def withLshSignatures(df: DataFrame, nBits: Int = 8, nTables: Int = 8,
      dim: Int = 64): DataFrame = {
    // codegen'd Catalyst expression: one fused loop per row — the corpus-side
    // signature pass dominates lshTopK, and the previous Seq[Float]-arg UDF
    // paid a per-row catalyst→Scala conversion (the repo's measured 6× tax)
    val planes = hyperplanes(nBits * nTables, dim).flatten
    df.withColumn("sigs",
        org.apache.spark.sql.graftexpr.LshSignatures(
          col("embedding"), planes, nBits, nTables, dim))
      .select(col("*"), posexplode(col("sigs")).as(Seq("table", "sig")))
      .drop("sigs")
  }

  /** LSH-bucketed ANN: candidates = corpus vectors sharing a (table, sig)
    * bucket with the query in ANY table, multi-probed over all 1-bit flips of
    * the query signature; then exact cosine top-k inside the candidate set.
    * The bucket join replaces the full scan — the recall/cost trade. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nBits: Int = 8, nTables: Int = 8, dim: Int = 64): DataFrame = {
    val c = withLshSignatures(corpus, nBits, nTables, dim)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("table"), col("sig"))
    // multi-probe signatures as a codegen array literal (r06): the 1-bit
    // flips are pure bit arithmetic — the previous Scala UDF paid a per-row
    // boundary for nothing
    val probeCols = (0 until nBits).map(b =>
      col("sig").bitwiseXOR(lit(1 << b))) :+ col("sig")
    val q = withLshSignatures(queries, nBits, nTables, dim)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("table"), explode(array(probeCols: _*)).as("sig"))
    // Score in the bucket-join projection, then dedup the cross-table hits
    // as a NARROW (query_id, neighbor_id, cosine) hash aggregate (r06):
    // cosine is a pure function of the pair, so duplicate bucket hits score
    // identically and first() is deterministic. dropDuplicates used to carry
    // both embedding arrays through its exchange into a SortAggregate; and
    // the explicit repartition on query_id alone satisfies BOTH the dedup
    // clustering and the window partitioning, so the whole tail runs off ONE
    // exchange (was two). Output identical to the two-exchange form.
    val scored = c.join(broadcast(q), Seq("table", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("c_emb")).as("cosine"))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("cosine")).as("cosine"))
    topK(scored, k)
  }
}
