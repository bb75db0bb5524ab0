package graft.tools

import org.apache.spark.sql.SparkSession

/** Same-session A/B for the q_ann_lsh headline query: round 3's judged bench
  * moved it 1.43 → 2.06 s with an UNCHANGED, plan-locked physical plan
  * (broadcast bucket join over codegen signatures) — this harness settles
  * host-noise vs code cause with alternating reps in one session, the only
  * discipline that resolves <2× effects on a host with bursty CPU steal.
  * Alternates AQE on/off too: the bench session runs AQE-off, and
  * the one plausible code-side suspect is AQE interacting with the bucket
  * join's post-shuffle partition count. q_ann_brute rides along as a control
  * (same table, no LSH path).
  *
  * Usage: runMain graft.tools.LshAB [cpus] [reps]
  */
object LshAB {
  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("32").toInt
    val reps = args.lift(1).getOrElse("5").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("lsh-ab")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/graft-lshab/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // untimed warm-up (codegen, parquet footers) — same as Bench
    time("q_ann_lsh"); time("q_ann_brute")
    val walls = for (r <- 1 to reps; aqe <- Seq(true, false)) yield {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val lsh = time("q_ann_lsh")
      val brute = time("q_ann_brute")
      System.err.println(f"[lshab] rep $r aqe=$aqe: lsh $lsh%.2f s, brute $brute%.2f s")
      (aqe, lsh, brute)
    }
    def med(xs: Seq[Double]) = { val s = xs.sorted; s((s.size - 1) / 2) }
    val on = walls.filter(_._1).map(_._2)
    val off = walls.filterNot(_._1).map(_._2)
    val ctrl = walls.map(_._3)
    println(f"""{"cpus":$cpus,"reps":$reps,""" +
      f""""lsh_aqe_on":${on.map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
      f""""lsh_aqe_off":${off.map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
      f""""median_on":${med(on)}%.2f,"median_off":${med(off)}%.2f,""" +
      f""""brute_control":${ctrl.map(x => f"$x%.2f").mkString("[", ",", "]")},""" +
      f""""median_brute":${med(ctrl)}%.2f}""")
    spark.stop()
    val root = java.nio.file.Paths.get("/dev/shm/graft-lshab")
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.forEach(rm) finally st.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(root)
  }
}
