package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans around the engine's public calls, kept in memory and written once
  * at exit. With tracing off, `span` only runs its body. The driver thread
  * makes every call, so a plain stack gives each span its parent. */
final class Spans(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Seconds of every finished span with this name, in call order. */
  def seconds(name: String): Seq[Double] =
    done.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def toJson: String = done.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Spark-side counts of one measured call, from [[CallCounts]]. */
final case class Window(
    wallS: Double, jobs: Int, tasks: Int, taskBusyS: Double, taskGcS: Double,
    serialS: Double, longestJobS: Double, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, taskSkew: Double, taskFailures: Int)

/** The benchmark's own listener. `begin` clears and registers it before a
  * call; `end` drains the bus, unregisters it and folds everything the call
  * launched into a [[Window]]. Calls are serial, so every event between the
  * two belongs to the call, and calls outside `begin`/`end` carry no
  * listener at all. */
final class CallCounts(sc: SparkContext) extends SparkListener {
  private final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, gcMs: Long, shW: Long, shR: Long, spill: Long, failed: Boolean)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private var t0 = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add((Option(jobStarts.remove(e.jobId)).getOrElse(e.time), e.time))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead)
        .getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      e.reason != Success))
  }

  def begin(): Unit = {
    PerfbenchBus.drain(sc)
    jobStarts.clear(); jobs.clear(); tasks.clear()
    sc.addSparkListener(this)
    t0 = System.currentTimeMillis()
  }

  def end(): Window = {
    val t1 = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    val js = jobs.asScala.toVector.sortBy(_._1)
    val ts = tasks.asScala.toVector
    // union of job intervals inside the call; the rest is driver-only time
    var covered = 0L
    var reach = t0
    js.foreach { case (s, e) =>
      val a = math.max(s, reach)
      if (e > a) { covered += e - a; reach = e }
    }
    val longestStage = ts.groupBy(_.stage).values
      .maxByOption(g => g.map(_.finish).max - g.map(_.launch).min)
    val skew = longestStage.map { g =>
      val d = g.map(t => t.finish - t.launch).sorted
      d.last.toDouble / math.max(d(d.size / 2), 1L)
    }.getOrElse(0.0)
    Window((t1 - t0) / 1e3, js.size, ts.size, ts.map(_.runMs).sum / 1e3,
      ts.map(_.gcMs).sum / 1e3, math.max(t1 - t0 - covered, 0L) / 1e3,
      js.map { case (s, e) => e - s }.maxOption.getOrElse(0L) / 1e3,
      ts.map(_.shW).sum, ts.map(_.shR).sum, ts.map(_.spill).sum, skew,
      ts.count(_.failed))
  }
}

/** JVM-wide counters read before and after a run. */
object Jvm {
  private val mb = 1024.0 * 1024.0

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Used heap right after a full collection: what the run still holds.
    * Collected twice: Spark's context cleaner frees broadcast and shuffle
    * blocks only after the first collection finds their handles dead. */
  def postGcHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
  }

  /** Peak used heap since JVM start, garbage included. */
  def peakHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / mb
}
