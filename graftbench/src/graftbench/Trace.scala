package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-layer attribution for the traced run.
  *
  * A span is one call into a graft layer's public API. While a traced
  * pass runs, every span sets a Spark job group named after itself, so
  * the [[Listener]] can charge jobs, stages, shuffle and spill to the
  * span that launched them. Spans are flat (their parent is the pass),
  * so a span's wall time is its self time. Untraced passes pay nothing:
  * `span` is a plain call and `force` is the identity.
  */
object Trace {
  final class Span {
    var s = 0.0
    var jobs = 0L
    var stages = 0L
    var shuffleBytes = 0L
    var shuffleRecsWritten = 0L
    var spillBytes = 0L
    val extra = mutable.Map.empty[String, Double]
  }

  /** One recorded span instance: (name, start, end, parent, pass). */
  final case class Record(name: String, startNs: Long, endNs: Long,
                          parent: String, pass: Int)

  @volatile var enabled = false
  @volatile private var passNo = 0
  // the span open on the driver, which is charged with jobs that other
  // threads start under their own job group (a streaming query's runId)
  @volatile private var open: String = null
  private val names = mutable.Set.empty[String]
  private val spans = mutable.LinkedHashMap.empty[String, Span]
  private val stageSpan = mutable.Map.empty[Int, String]
  val records = mutable.ArrayBuffer.empty[Record]
  var unattributedJobs = 0L
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong

  def stat(name: String): Span = synchronized(spans.getOrElseUpdate(name, new Span))

  /** Starts a traced pass: clears the per-pass counters. */
  def begin(pass: Int): Unit = synchronized {
    spans.clear(); stageSpan.clear(); unattributedJobs = 0L
    passNo = pass
    enabled = true
  }

  /** Ends a traced pass and returns its spans once Spark's listener
    * bus has delivered every job that started.
    */
  def end(): (Map[String, Span], Long) = {
    val deadline = System.nanoTime() + 5000000000L
    while (jobsEnded.get < jobsStarted.get && System.nanoTime() < deadline)
      Thread.sleep(5)
    synchronized {
      enabled = false
      (spans.toMap, unattributedJobs)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = SparkSession.active.sparkContext
      synchronized { names += name }
      sc.setJobGroup(name, name, interruptOnCancel = false)
      open = name
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = null
        sc.clearJobGroup()
        synchronized {
          stat(name).s += (t1 - t0) / 1e9
          records += Record(name, t0, t1, "pass", passNo)
        }
      }
    }

  /** Adds `v` to a span's extra measure (rows_out, written_mb, ...);
    * `v` is only evaluated in a traced pass.
    */
  def put(name: String, key: String, v: => Double): Unit =
    if (enabled) synchronized {
      val m = stat(name).extra
      m(key) = m.getOrElse(key, 0.0) + v
    }

  /** Materializes `df` inside the current span, so the span covers the
    * work that produces it rather than leaving it to a later action.
    */
  def force(df: DataFrame): DataFrame =
    if (!enabled) df
    else { graft.CacheScope.persist(df).count(); df }

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      Trace.synchronized {
        if (enabled) group.filter(names).orElse(Option(open)) match {
          case Some(g) =>
            stat(g).jobs += 1
            e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, g))
          case None => unattributedJobs += 1
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.synchronized {
      val info = e.stageInfo
      stageSpan.get(info.stageId).foreach { g =>
        val s = stat(g)
        s.stages += 1
        val m = info.taskMetrics
        if (m != null) {
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          s.shuffleRecsWritten += m.shuffleWriteMetrics.recordsWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Spans as JSON lines, written when the run ends. */
  def dump(f: java.io.File): Unit = synchronized {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try records.foreach { r =>
      w.println(s"""{"name":"${r.name}","start_ns":${r.startNs},"end_ns":${r.endNs},""" +
        s""""parent":"${r.parent}","pass":${r.pass}}""")
    } finally w.close()
  }
}

/** Process-level probes: heap after GC, GC time, external CPU. */
object Probe {
  import java.lang.management.ManagementFactory

  /** Heap in use after two full collections 300 ms apart, in MB. Spark
    * frees ~125 MB of a `dq_table` pass's state only after the first
    * collection has run its reference cleaners, so a single collection
    * read either 214 or 90 MB depending on timing.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1000.0
  }

  /** Busy ticks of the whole box from /proc/stat (user+nice+system+irq+
    * softirq+steal; idle and iowait excluded), or -1 when unreadable.
    */
  def busyTicks(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
    }.getOrElse(-1L)
    finally src.close()
  } catch { case _: Exception => -1L }

  def selfCpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cores that OTHER processes kept busy between two samples: box busy
    * ticks (USER_HZ = 100) minus this JVM's own CPU, over wall time.
    */
  final case class CpuMark(busy: Long, self: Long, wallNs: Long)
  def mark(): CpuMark = CpuMark(busyTicks(), selfCpuNanos(), System.nanoTime())
  def extCpu(a: CpuMark, b: CpuMark): Double =
    if (a.busy < 0 || b.busy < 0 || a.self < 0 || b.self < 0) -1.0
    else {
      val wall = (b.wallNs - a.wallNs) / 1e9
      math.max(0.0, ((b.busy - a.busy) / 100.0 - (b.self - a.self) / 1e9) / wall)
    }
}
