package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Every metric the benchmark prints, with its unit. BENCHMARK.json lists
  * the same names; the self-check compares the two. */
object Metrics {
  val Queries = Seq(
    "q_scan_filter", "q_agg_user", "q_window_rank", "q_join_agg",
    "q_anti_join", "q_rollup", "q_topk", "q_tokens",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_ann_brute", "q_ann_lsh", "q_lang_quality", "q_fingerprint")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput" -> "items/s", "heap_after_gc_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.fetch_us_per_page" -> "us", "core.text_extract_us_per_page" -> "us",
    "core.link_extract_us_per_page" -> "us", "core.url_canon_us_per_link" -> "us",
    "core.robots_us_per_host" -> "us", "core.pages" -> "count",
    "core.html_bytes" -> "B", "core.links" -> "count",
    "core.kernel_pages_per_s" -> "pages/s",
    "frontiergen.init_s" -> "s", "frontiergen.rows" -> "count",
    "round.calls" -> "count", "round.first_wall_s" -> "s", "round.wall_s" -> "s",
    "round.jobs" -> "count",
    "round.tasks" -> "count", "round.task_busy_s" -> "s", "round.task_gc_s" -> "s",
    "round.serial_s" -> "s", "round.longest_job_s" -> "s",
    "round.shuffle_write_bytes" -> "B", "round.shuffle_read_bytes" -> "B",
    "round.spill_bytes" -> "B", "round.task_skew" -> "ratio",
    "round.task_failures" -> "count", "round.due" -> "count",
    "round.fetched" -> "count", "round.new_urls" -> "count",
    "round.links_extracted" -> "count", "round.new_ratio" -> "ratio",
    "round.local1_wall_s" -> "s", "round.scaling_efficiency" -> "ratio",
    "store.bytes_written" -> "B", "store.files_written" -> "count",
    "store.load_frontier_s" -> "s", "store.load_seen_s" -> "s",
    "store.bloom_fpp" -> "ratio", "store.bytes_per_url" -> "B/URL") ++
    Seq("q.cold_pass_s" -> "s") ++
    Queries.flatMap(q => Seq(s"q.$q.cold_s" -> "s", s"q.$q.warm_s" -> "s",
      s"q.$q.shuffle_bytes" -> "B", s"q.$q.task_busy_s" -> "s")) ++ Seq(
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.heap_used_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Expected gate values, one `key=value` line each, for one workload, seed
  * and size. A run checks every key it produces against the file; keys the
  * file lacks are only recorded (`--write-pins` writes them all out). */
final class Pins(file: Path, write: Boolean) {
  private val pinned: Map[String, String] =
    if (!write && Files.exists(file))
      Files.readAllLines(file).asScala.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    else Map.empty
  private val seen = mutable.LinkedHashMap.empty[String, String]

  /** Records `value` under `key`; false if a pinned value differs. */
  def check(key: String, value: String): Boolean = {
    seen(key) = value
    pinned.get(key).forall(_ == value)
  }

  def expected(key: String): String = pinned.getOrElse(key, "")
  def checked: Int = seen.keys.count(pinned.contains)

  def save(): Unit = if (write) {
    Files.createDirectories(file.getParent)
    Files.writeString(file, seen.map { case (k, v) => s"$k=$v\n" }.mkString)
  }
}

/** One benchmark run: its settings, spans, metrics and failure count. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val threads: Int, val partitions: Int, val traced: Boolean, val tiny: Boolean,
    val scratch: Path, val pins: Pins) {
  val spans = new Spans(traced)
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  private val heapProbes = mutable.ArrayBuffer.empty[Double]
  /** GC time spent in the full collections of the heap probes. */
  var probeGcS = 0.0

  def layer(name: String, v: Double): Unit = layers(name) = v

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Counts a failed operation and names it on stderr. */
  def fail(what: String, detail: String): Unit = {
    failed += 1
    log(s"FAILED $what: $detail")
  }

  /** Checks a gate value; a mismatch counts as a failed operation. */
  def gate(key: String, value: String): Boolean = {
    val ok = pins.check(key, value)
    if (!ok) fail(key, s"expected ${pins.expected(key)} got $value")
    ok
  }

  /** Records the used heap after a full GC; call after each timed operation.
    * The GC time of the probe itself is kept apart from `jvm.gc_s`. */
  def probeHeap(): Unit = {
    val gc0 = Jvm.gcS
    heapProbes += Jvm.postGcHeapMb()
    probeGcS += Jvm.gcS - gc0
  }
  def heapAfterGcMb: Double = Metrics.median(heapProbes.toSeq)

  /** A session at `local[threads]`. Shuffles always have `partitions`
    * partitions, so a session with fewer threads runs the same plan and the
    * same tasks, only with fewer of them at once. */
  def session(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      // the settings graft.Bench measured with: task-side output commit and
      // no adaptive execution (BENCH.md, tools.AqeAB)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    System.err.println("usage: perfbench.Main --workload crawl_growth|crawl_frontier|" +
      "query_suite --seed N --seconds S --trace 0|1 --threads N [--partitions N] " +
      "--scratch DIR --pins DIR [--size bench|tiny] [--write-pins] [--trace-out FILE] [--stamp JSON]")
    sys.exit(2)
  }

  def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => rmTree(c)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  def main(args: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      if (!k.startsWith("--")) usage(s"unexpected argument $k")
      if (k == "--write-pins") { opts(k) = "1"; i += 1 }
      else if (i + 1 < args.length) { opts(k) = args(i + 1); i += 2 }
      else usage(s"$k needs a value")
    }
    def need(k: String) = opts.getOrElse(k, usage(s"missing $k"))
    val workload = need("--workload")
    if (!Set("crawl_growth", "crawl_frontier", "query_suite").contains(workload))
      usage(s"unknown workload $workload")
    val threads = need("--threads").toInt
    val cores = Runtime.getRuntime.availableProcessors
    if (threads < 1 || threads > cores)
      usage(s"--threads $threads: must be between 1 and the $cores processors available")
    val partitions = opts.getOrElse("--partitions", threads.toString).toInt
    if (partitions < 1) usage(s"--partitions $partitions: must be at least 1")
    val size = opts.getOrElse("--size", "bench")
    if (!Set("bench", "tiny").contains(size)) usage(s"unknown size $size")
    val seed = need("--seed").toLong
    val traced = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val scratch = Paths.get(need("--scratch")).toAbsolutePath
    val pinFile = Paths.get(need("--pins"), s"$workload-$size-seed$seed.txt")
    val run = new Run(workload, seed, need("--seconds").toDouble, threads, partitions,
      traced, size == "tiny", scratch, new Pins(pinFile, opts.contains("--write-pins")))

    Files.createDirectories(scratch)
    val gc0 = Jvm.gcS
    try workload match {
      case "crawl_growth" => Crawl.run(run, growth = true)
      case "crawl_frontier" => Crawl.run(run, growth = false)
      case "query_suite" => Queries.run(run)
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.getDefaultSession.foreach(_.stop())
      rmTree(scratch)
    }
    run.pins.save()
    run.e2e("heap_after_gc_mb") = run.heapAfterGcMb
    run.layer("jvm.gc_s", Jvm.gcS - gc0 - run.probeGcS)
    run.layer("jvm.jit_s", Jvm.jitS)
    run.layer("jvm.heap_used_peak_mb", Jvm.peakHeapMb)

    opts.get("--trace-out").filter(_ => traced).foreach { f =>
      val p = Paths.get(f)
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.writeString(p, s"""{"stamp":${opts.getOrElse("--stamp", "{}")},""" +
        s""""spans":${run.spans.toJson}}""" + "\n")
    }
    val specs = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (traced) run.layers else run.e2e
    val missing = specs.map(_._1).filterNot(values.contains)
    if (!traced && missing.nonEmpty) {
      System.err.println(s"[perfbench] no value for ${missing.mkString(", ")}")
      sys.exit(1)
    }
    System.err.println(s"[perfbench] pinned gate values checked: ${run.pins.checked}")
    val metrics = specs.map { case (name, unit) =>
      s""""$name":{"value":${Json.num(values.getOrElse(name, 0.0))},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    val correct = run.failed == 0 && run.attempted > 0
    println(s"""{"correct":$correct,"attempted":${math.max(run.attempted, 1)},""" +
      s""""failed":${run.failed},"metrics":$metrics}""")
    System.out.flush()
    sys.exit(0)
  }
}
