package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, sum, xxhash64}

import graft.SparkEntry

/** query_suite: the fifteen headline queries of `graft.Bench` over tables
  * generated from the seed, one client, one query at a time. The first pass
  * in the fresh process is the cold pass; warm passes follow until the run's
  * time is up, each in its own seeded order. Each execution computes the
  * query's row count and an order-insensitive hash over every output
  * column, so every column is computed, only one row reaches the driver,
  * and every execution is checked. No crawl layer runs here.
  */
object Queries {
  private val SetupReps = 5
  /** Warm passes at least, however long they take. */
  private val MinPasses = 3

  def run(run: Run): Unit = {
    val sf = if (run.tiny) 0.002 else 0.1
    var spark = run.session(run.threads)
    val dir = run.scratch.resolve("tables").toString
    val t = System.nanoTime()
    val tables = run.spans.span("tables")(QueryData.write(spark, dir, run.seed, sf))
    run.log(f"tables: ${run.since(t)}%.3f s")

    // set-up, on the tables made above: a new session and a first read of
    // every table
    val setups = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      spark.stop()
      spark = run.session(run.threads)
      tables.foreach { name =>
        spark.read.parquet(s"$dir/$name.parquet").select(xxhash64(col("*")).as("h"))
          .agg(expr("bit_xor(h)")).head()
      }
      val secs = run.since(t0)
      run.log(f"set-up $i: $secs%.3f s")
      secs
    }
    run.e2e("setup_s") = Metrics.median(setups)

    // a traced run attaches the listener to every second warm pass only,
    // to measure what the listener costs
    val counts = if (run.traced) Some(new CallCounts(spark.sparkContext)) else None
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val warm = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val windows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Window]]
    val passWalls = Seq(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    val broken = mutable.Set.empty[String]
    val rng = new SplittableRandom(run.seed)

    // gate: every execution's rows and hash against the pinned value and
    // against the query's first execution in this run
    val outputs = mutable.Map.empty[String, String]
    def pass(listen: Boolean)(record: (String, Double, Option[Window]) => Unit): Double =
      shuffled(Metrics.Queries, rng).filterNot(broken).map { q =>
        run.attempted += 1
        if (listen) counts.get.begin()
        val t0 = System.nanoTime()
        Try(run.spans.span(s"query.$q")(digest(SparkEntry.queries(q)(spark, dir)))) match {
          case Success(out) =>
            val s = run.since(t0)
            record(q, s, if (listen) Some(counts.get.end()) else None)
            val first = outputs.getOrElseUpdate(q, out)
            if (run.gate(q, out) && first != out)
              run.fail(q, s"output changed between executions: $first then $out")
            s
          case Failure(e) =>
            if (listen) counts.get.end()
            broken += q
            run.fail(q, e.toString)
            0.0
        }
      }.sum

    val coldPass = pass(listen = false)((q, s, _) => cold(q) = s)
    run.log(f"cold pass: $coldPass%.3f s")
    val t0 = System.nanoTime()
    while (passWalls.map(_.size).sum < MinPasses || run.since(t0) < run.seconds ||
        (counts.isDefined && windows.isEmpty)) {
      val listen = counts.isDefined && passWalls.map(_.size).sum % 2 == 1
      val secs = pass(listen) { (q, s, w) =>
        warm.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        w.foreach(windows.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += _)
      }
      run.log(f"warm pass: $secs%.3f s")
      passWalls(if (listen) 1 else 0) += secs
      run.probeHeap()
    }
    val warmMedians = warm.map { case (q, xs) => q -> Metrics.median(xs.toSeq) }
    run.e2e("throughput") = warmMedians.size / warmMedians.values.sum
    if (run.traced) {
      Metrics.Queries.foreach { q =>
        val ws = windows.getOrElse(q, mutable.ArrayBuffer.empty[Window]).toSeq
        run.layer(s"q.$q.cold_s", cold.getOrElse(q, 0.0))
        run.layer(s"q.$q.warm_s", warmMedians.getOrElse(q, 0.0))
        run.layer(s"q.$q.shuffle_bytes",
          Metrics.median(ws.map(w => (w.shuffleWriteBytes + w.shuffleReadBytes).toDouble)))
        run.layer(s"q.$q.task_busy_s", Metrics.median(ws.map(_.taskBusyS)))
      }
      run.layer("round.calls", 0.0)
      run.layer("q.cold_pass_s", coldPass)
      if (passWalls(0).nonEmpty) run.layer("trace.overhead_ratio",
        Metrics.median(passWalls(1).toSeq) / Metrics.median(passWalls(0).toSeq) - 1)
      Core.sample(run, 1L << 20)
    }
    spark.stop()
  }

  private def shuffled(xs: Seq[String], rng: SplittableRandom): Seq[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** "rows,sum,xor" of xxhash64 over each output row. */
  private def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), expr("bit_xor(h)"))
      .head()
    s"${r.get(0)},${r.get(1)},${r.get(2)}"
  }
}
