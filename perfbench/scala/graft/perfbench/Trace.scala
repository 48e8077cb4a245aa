package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Cumulative Spark counters at one instant; `-` gives the counters of an
  * interval.
  */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, shuffleWriteBytes: Long, shuffleReadRecords: Long, spillBytes: Long
) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, cpuNs - o.cpuNs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadRecords - o.shuffleReadRecords, spillBytes - o.spillBytes)
}

/** The benchmark's own SparkListener: application-wide counters plus the
  * wall-clock interval of every job, from which an interval's driver-only
  * time (wall time not covered by any running job) is computed.
  */
final class Ledger extends SparkListener {
  private val c = Array.fill(9)(new AtomicLong)
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(0).incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach(s => intervals.synchronized(intervals += ((s, e.time))))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorCpuTime)
      c(4).addAndGet(m.jvmGCTime)
      c(5).addAndGet(m.inputMetrics.bytesRead)
      c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(7).addAndGet(m.shuffleReadMetrics.recordsRead)
      c(8).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(sc: SparkContext): Counters = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    Counters(c(0).get, c(1).get, c(2).get, c(3).get, c(4).get, c(5).get, c(6).get, c(7).get, c(8).get)
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoverMs(from: Long, to: Long): Long = {
    val clipped = intervals.synchronized(intervals.toSeq)
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** One recorded span: a call into one layer, timed from the benchmark's side. */
final case class Span(id: Int, name: String, layer: String, op: Long, parent: Int,
    startNs: Long, endNs: Long, counters: Counters)

/** Spans kept in memory and written out once at the end. When tracing is off
  * `apply` only runs the body.
  */
final class Trace(val on: Boolean, sc: SparkContext, val ledger: Ledger) {
  val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val nextId = new AtomicLong
  @volatile var op: Long = -1L

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet().toInt
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val c0 = ledger.snapshot(sc)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val d = ledger.snapshot(sc) - c0
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, name, name.takeWhile(_ != '.'), op, parent, t0, t1, d))
      }
    }

  /** Spans named `name` recorded inside timed operations (op >= 0). */
  def named(name: String): Seq[Span] =
    spans.synchronized(spans.filter(s => s.name == name && s.op >= 0).toSeq)

  /** Per layer: the median over measured operations (op >= 0) of the
    * seconds its spans spent outside their child spans.
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans.synchronized(spans.toSeq)
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    all.filter(_.op >= 0).groupBy(_.layer).map { case (layer, ss) =>
      val perOp = ss.groupBy(_.op).values.map(_.map(s =>
        math.max(0L, s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))).sum / 1e9)
      layer -> PerfBench.median(perOp.toSeq)
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      val all = spans.synchronized(spans.toSeq)
      all.zipWithIndex.foreach { case (s, i) =>
        w.print(f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
          f""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.counters.jobs},""" +
          f""""tasks":${s.counters.tasks},"cpu_ns":${s.counters.cpuNs}}""")
        w.println(if (i + 1 < all.size) "," else "")
      }
      w.println("]")
    } finally w.close()
  }
}
