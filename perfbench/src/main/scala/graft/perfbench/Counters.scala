package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Cumulative listener totals at one instant; subtract two for a window. */
final case class CounterSnapshot(jobs: Long, taskCpuNs: Long, gcMs: Long,
                                 shuffleBytes: Long, spillBytes: Long,
                                 bytesWritten: Long, recordsWritten: Long, catalystMs: Long) {
  def minus(o: CounterSnapshot): CounterSnapshot = CounterSnapshot(
    jobs - o.jobs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    bytesWritten - o.bytesWritten, recordsWritten - o.recordsWritten,
    catalystMs - o.catalystMs)
  def plus(o: CounterSnapshot): CounterSnapshot = CounterSnapshot(
    jobs + o.jobs, taskCpuNs + o.taskCpuNs, gcMs + o.gcMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    bytesWritten + o.bytesWritten, recordsWritten + o.recordsWritten,
    catalystMs + o.catalystMs)
  def taskCpuS: Double = taskCpuNs / 1e9
  def asMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "task_cpu_s" -> taskCpuS, "gc_s" -> gcMs / 1e3,
    "shuffle_bytes" -> shuffleBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "bytes_written" -> bytesWritten.toDouble, "records_written" -> recordsWritten.toDouble,
    "catalyst_ms" -> catalystMs.toDouble)
}

object CounterSnapshot {
  val zero: CounterSnapshot = CounterSnapshot(0, 0, 0, 0, 0, 0, 0, 0)
}

/** One SparkContext-level listener for every per-layer counter. Being
  * registered on the context, not on a session, it also counts work run
  * on child sessions (the no-AQE sessions of `GraftSession.noAqe`).
  * Snapshots drain the listener bus first, so a late event cannot leak
  * into the next window (the `TaskCpuMeter` protocol). */
final class Counters(sc: SparkContext) {
  private val jobs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong
  private val written = new AtomicLong
  private val records = new AtomicLong
  private val catalyst = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != 0L) jobIntervals.add((s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        written.addAndGet(m.outputMetrics.bytesWritten)
        records.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        catalyst.addAndGet(PerfbenchBridge.catalystMs(end))
      case _ => ()
    }
  })

  def snapshot(): CounterSnapshot = {
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc)
    CounterSnapshot(jobs.get, cpuNs.get, gcMs.get, shuffle.get, spill.get,
      written.get, records.get, catalyst.get)
  }

  /** Wall ms inside [fromMs, toMs) during which no Spark job ran. Drains
    * the recorded job intervals; call once per window, after a snapshot. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var iv = jobIntervals.poll()
    while (iv != null) { buf += iv; iv = jobIntervals.poll() }
    val clipped = buf.toSeq.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
    math.max(0L, (toMs - fromMs) - Stats.unionLength(clipped))
  }
}
