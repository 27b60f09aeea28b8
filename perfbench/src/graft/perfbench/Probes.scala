package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import graft.lineage.{LineageRecord, LineageSink}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals from Spark's own task-end events. */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks = new AtomicLong()
  val cpuNs, runMs, gcMs = new AtomicLong()
  val scanBytes, shuffleWrite, shuffleRead, spill = new AtomicLong()
  val peakExecMem = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      val peak = math.max(m.peakExecutionMemory, m.peakOnHeapExecutionMemory + m.peakOffHeapExecutionMemory)
      peakExecMem.accumulateAndGet(peak, math.max)
    }
  }

  /** Current totals, for deltas around a timed region. */
  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get, "gc_ms" -> gcMs.get,
    "scan_bytes" -> scanBytes.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
    "peak_exec_mem_bytes" -> peakExecMem.get)
}

/** Keeps every successful action's QueryExecution for the traced replay. */
final class QeCapture extends QueryExecutionListener {
  final case class Captured(funcName: String, qe: QueryExecution, durationNs: Long)
  val captured = new ConcurrentLinkedQueue[Captured]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    captured.add(Captured(funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drainAll(): Seq[Captured] = {
    val out = Seq.newBuilder[Captured]
    var c = captured.poll()
    while (c != null) { out += c; c = captured.poll() }
    out.result()
  }
}

/** Tails the lineage JSONL file and stamps the arrival time of each
  * complete line; lines are parsed only after the timed region. */
final class JsonlWatcher(path: java.nio.file.Path) {
  private val arrivals = new ConcurrentLinkedQueue[java.lang.Long]()
  private val lines = new AtomicLong()
  @volatile private var running = true
  private val failure = new AtomicReference[Throwable]()
  private val thread = new Thread(() => {
    val buf = new Array[Byte](1 << 16)
    var offset = 0L
    try {
      while (running) {
        val len = if (java.nio.file.Files.exists(path)) java.nio.file.Files.size(path) else 0L
        if (len > offset) {
          val now = System.nanoTime()
          val in = new java.io.RandomAccessFile(path.toFile, "r")
          try {
            in.seek(offset)
            var left = len - offset
            while (left > 0) {
              val n = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
              var i = 0
              while (i < n) {
                if (buf(i) == '\n') { arrivals.add(now); lines.incrementAndGet() }
                i += 1
              }
              left -= n
            }
          } finally in.close()
          offset = len
        } else Thread.sleep(1)
      }
    } catch { case t: Throwable => failure.set(t) }
  }, "perfbench-jsonl-watcher")
  thread.setDaemon(true)
  thread.start()

  def lineCount: Long = lines.get

  /** Stop tailing; the arrival time of every line seen, in file order. */
  def stop(): IndexedSeq[Long] = {
    running = false
    thread.join()
    Option(failure.get).foreach(t => throw t)
    arrivals.toArray.map(_.asInstanceOf[java.lang.Long].longValue).toIndexedSeq
  }
}

/** Sink wrappers for the traced run. The listener is composed as
  * `Lineage.install` composes it (listener -> async queue -> file sink),
  * with a clock on each side of the queue. */
final class EnqueueClock(delegate: LineageSink) extends LineageSink {
  val enqueued = new ConcurrentLinkedQueue[(LineageRecord, Long)]()
  override def emit(r: LineageRecord): Unit = {
    enqueued.add((r, System.nanoTime()))
    delegate.emit(r)
  }
  override def close(): Unit = delegate.close()
}

final class DeliverClock(delegate: LineageSink) extends LineageSink {
  /** (record, dequeued at, delivered at) */
  val delivered = new ConcurrentLinkedQueue[(LineageRecord, Long, Long)]()
  override def emit(r: LineageRecord): Unit = {
    val t0 = System.nanoTime()
    delegate.emit(r)
    delivered.add((r, t0, System.nanoTime()))
  }
  override def close(): Unit = delegate.close()
}
