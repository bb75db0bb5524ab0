package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Same-session A/B of alternative query formulations (optimization round
  * scratch tool — not part of the judged surface). Each variant is timed
  * with count() for `reps` alternating reps; rows + a content hash are
  * printed so variants can be checked identical before any promotion into
  * SparkEntry. Variants are interleaved (v0 rep, v1 rep, v0 rep, ...) so a
  * host swing hits all variants equally (the house A/B discipline).
  */
object QExp {

  private def contentHash(df: DataFrame): Long = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val h = df.select(xxhash64(cols: _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
    if (h.isNullAt(0)) 0L else h.getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.flatMap(a => scala.util.Try(a.toInt).toOption)
      .getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-qexp")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/graft-bench/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(n: String) = spark.read.parquet(s"$sfDir/$n.parquet")
    try t("lineitem").filter(col("l_quantity") >= 0).count()
    catch { case _: Throwable => () }

    // ---- variants -----------------------------------------------------------
    def wr_v0(): DataFrame = {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      t("lineitem").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("rn"))
    }
    def wr_v1(): DataFrame = {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      t("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .repartition(cpus, col("l_orderkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("rn"))
    }
    def lsh_v0(): DataFrame = {
      val emb = t("embeddings")
      graft.operators.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }
    // score-first + single exchange (repartition on query_id satisfies both
    // the pair-dedup clustering and the window partitioning)
    def lsh_v1(): DataFrame = {
      val emb = t("embeddings")
      val corpus = emb; val queries = emb.filter(col("vec_id") < 10)
      val nBits = 8; val nTables = 8; val dim = 64; val k = 5
      val c = graft.operators.Similarity.withLshSignatures(corpus, nBits, nTables, dim)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
          col("table"), col("sig"))
      val probeCols = ((0 until nBits).map(b =>
        col("sig").bitwiseXOR(lit(1 << b))) :+ col("sig"))
      val q = graft.operators.Similarity.withLshSignatures(queries, nBits, nTables, dim)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("table"), explode(array(probeCols: _*)).as("sig"))
      val scored = c.join(broadcast(q), Seq("table", "sig"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          graft.operators.Similarity.cosine(col("q_emb"), col("c_emb")).as("cosine"))
        .repartition(cpus, col("query_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(first(col("cosine")).as("cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    }
    def mh_v0(): DataFrame =
      graft.operators.Dedup.minHashReport(t("documents"))
    // score-first pair dedup: SigAgree in the join projection (pure function
    // of the pair → duplicates identical), then a NARROW groupBy(doc_a,doc_b)
    // hash aggregate instead of a SortAggregate carrying the sig arrays
    def mh_v1(): DataFrame = {
      val docs = t("documents"); val threshold = 0.5; val maxBucket = 64
      val idx = graft.operators.Dedup.minHashIndex(docs)
      val exploded = idx.select(col("doc_id"), col("sig"),
        posexplode(col("bands")).as(Seq("band", "band_key")))
      val buckets = exploded
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("band"), col("band_key")).orderBy(col("doc_id"))))
        .filter(col("rn") <= maxBucket)
      val a = buckets.select(col("band"), col("band_key"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = buckets.select(col("band"), col("band_key"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      val pairs = a.join(b, Seq("band", "band_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          org.apache.spark.sql.graftexpr.SigAgree(col("sig_a"), col("sig_b"))
            .as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(first(col("est_jaccard")).as("est_jaccard"))
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
    val variants: Seq[(String, () => DataFrame)] = {
      val all = Map[String, Seq[(String, () => DataFrame)]](
        "wr" -> Seq("wr_v0" -> (() => wr_v0()), "wr_v1" -> (() => wr_v1())),
        "lsh" -> Seq("lsh_v0" -> (() => lsh_v0()), "lsh_v1" -> (() => lsh_v1())),
        "mh" -> Seq("mh_v0" -> (() => mh_v0()), "mh_v1" -> (() => mh_v1())))
      val which = if (args.length > 1) args.drop(1).toSeq else all.keys.toSeq
      which.flatMap(all)
    }

    if (sys.env.contains("SPARK_GRAFT_QEXP_PLANS")) {
      variants.foreach { case (n, f) =>
        println(s"===== [qexp] plan $n =====")
        println(f().queryExecution.executedPlan.toString)
      }
    }
    // COLD mode: time exactly ONE named variant ONCE in this fresh JVM
    // (first-run/JIT cost included — the judged bench's per-query shape) and
    // stop. The equality check below would warm every variant, so it is
    // skipped; run the normal mode once beforehand to establish equality.
    sys.env.get("SPARK_GRAFT_QEXP_COLD") match {
      case Some(want) =>
        val (n, f) = variants.find(_._1 == want)
          .getOrElse(sys.error(s"unknown cold variant: $want"))
        val t0 = System.nanoTime()
        f().count()
        println(f"[qexp] COLD $n wall=${(System.nanoTime() - t0) / 1e9}%.3f")
      case None =>
        // equality check first (rows + content hash), then interleaved timing
        variants.groupBy(_._1.takeWhile(_ != '_')).foreach { case (g, vs) =>
          val sigs = vs.map { case (n, f) =>
            val df = f(); (n, df.count(), contentHash(df))
          }
          println(s"[qexp] group $g signatures: " + sigs.mkString(" "))
        }
        val walls = scala.collection.mutable.Map.empty[String, Vector[Double]]
          .withDefaultValue(Vector.empty)
        (0 until reps).foreach { _ =>
          variants.foreach { case (n, f) =>
            val t0 = System.nanoTime()
            f().count()
            walls(n) = walls(n) :+ (System.nanoTime() - t0) / 1e9
          }
        }
        walls.toSeq.sortBy(_._1).foreach { case (n, ws) =>
          val med = ws.sorted.apply((ws.size - 1) / 2)
          println(f"[qexp] $n median=$med%.3f walls=" +
            ws.map(w => f"$w%.3f").mkString("[", ",", "]"))
        }
    }
    spark.stop()
  }
}
