package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

object Stats {
  /** Linear-interpolated percentile (numpy's default) of `xs`. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, secs(t0))
  }

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Used heap after an explicit collection. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Cached and checkpointed block bytes (memory + disk). */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum / 1048576.0

  def dirMb(path: String): Double = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path)) / 1048576.0
  }
}

/** Spans around the benchmark's own calls into each layer, kept in
  * memory and written out when the run ends. Off in untraced runs:
  * `span` then only runs its body. */
object Tracer {
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  /** Local property carrying the span label to Spark's listener events. */
  val LabelKey = "perfbench.span"

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Run `f` with its Spark jobs labelled `label` (see [[TaskCounters]]). */
  def labelled[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LabelKey)
    sc.setLocalProperty(LabelKey, label)
    try span(label)(f) finally sc.setLocalProperty(LabelKey, prev)
  }

  def write(path: String): Unit = if (enabled) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.synchronized {
      spans.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},""" +
          s""""name":${Main.jstr(s.name)},"start_ns":${s.startNs},""" +
          s""""end_ns":${s.endNs}}""")
      }
    } finally w.close()
  }
}

/** Task, stage and job counters from Spark's public listener events,
  * attributed to the span label of the thread that submitted the job. */
final class TaskCounters extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val byLabel = mutable.Map[String, Acc]()
  private val stageLabel = mutable.Map[Int, String]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
  private var jobs = 0L
  private var stages = 0L
  private val skews = mutable.ArrayBuffer[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val l = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.LabelKey)))
        .getOrElse("other")
      stageLabel(e.stageInfo.stageId) = l
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = byLabel.getOrElseUpdate(
        stageLabel.getOrElse(e.stageId, "other"), new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        m.executorRunTime.toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      stageTaskMs.remove(e.stageInfo.stageId).foreach { ts =>
        val med = Stats.median(ts)
        if (ts.length >= 2 && med > 0) skews += ts.max / med
      }
    }

  def reset(): Unit = synchronized {
    byLabel.clear(); stageTaskMs.clear(); skews.clear(); jobs = 0; stages = 0
  }

  /** Totals over the labels accepted by `keep`. */
  def total(keep: String => Boolean = _ => true): Acc = synchronized {
    val t = new Acc
    byLabel.filter { case (l, _) => keep(l) }.values.foreach { a =>
      t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs
      t.gcMs += a.gcMs; t.shuffleRead += a.shuffleRead
      t.shuffleWrite += a.shuffleWrite; t.spill += a.spill
    }
    t
  }

  /** The `spark.*` per-layer metrics over everything counted so far. */
  def report(spark: SparkSession, m: Main.Metrics): Unit = {
    BusDrain.drain(spark.sparkContext)
    synchronized {
      val t = total()
      m("spark.jobs", "count") = jobs.toDouble
      m("spark.stages", "count") = stages.toDouble
      m("spark.tasks", "count") = t.tasks.toDouble
      m("spark.task_run_s", "s") = t.runMs / 1e3
      m("spark.task_cpu_s", "s") = t.cpuNs / 1e9
      m("spark.gc_s", "s") = t.gcMs / 1e3
      m("spark.shuffle_read_mb", "MB") = t.shuffleRead / 1048576.0
      m("spark.shuffle_write_mb", "MB") = t.shuffleWrite / 1048576.0
      m("spark.spill_mb", "MB") = t.spill / 1048576.0
      m("spark.task_skew", "ratio") =
        if (skews.isEmpty) 1.0 else skews.sum / skews.length
    }
  }
}

/** Micro-batch completions from the public StreamingQueryListener:
  * for each query, (end offset, completion wall-clock ms, phase
  * durations). Input counts come from the generator's offset ledger,
  * never from `numInputRows` (a foreachBatch sink that reads its batch
  * twice counts it twice) or `recentProgress` (last 100 batches only). */
final class ProgressLog extends StreamingQueryListener {
  final case class Batch(query: String, startOffset: Long, endOffset: Long,
      startMs: Long, doneMs: Double, durations: Map[String, Long])

  private val batches = mutable.ArrayBuffer[Batch]()

  private def offset(s: String): Long =
    if (s == null || s.isEmpty || s == "null") -1L
    else scala.util.Try(s.trim.toLong).getOrElse(-1L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.nonEmpty) {
      val src = p.sources.head
      val end = offset(src.endOffset)
      val start = offset(src.startOffset)
      if (end > start) {
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        val done = startMs + d.getOrElse("triggerExecution", 0L).toDouble
        synchronized {
          batches += Batch(p.id.toString, start, end, startMs, done, d)
        }
      }
    }
  }

  def snapshot(): Seq[Batch] = synchronized(batches.toList)

  /** Completion ms of the first batch of `query` whose range covers
    * `offset`, if it completed. */
  def doneAt(query: String, offsetIdx: Long): Option[Double] =
    synchronized {
      batches.iterator.filter(b => b.query == query &&
        b.endOffset >= offsetIdx && b.startOffset < offsetIdx)
        .map(_.doneMs).toSeq.sorted.headOption
    }
}

/** The streaming.* per-layer metrics from a set of completed batches. */
object StreamingPhases {
  val Phases = Seq("triggerExecution" -> "trigger", "addBatch" -> "addBatch",
    "queryPlanning" -> "queryPlanning", "latestOffset" -> "latestOffset",
    "walCommit" -> "walCommit", "commitOffsets" -> "commitOffsets")

  def report(bs: Seq[ProgressLog#Batch], rowsPerBatch: collection.Seq[Double],
      m: Main.Metrics): Unit = {
    Phases.foreach { case (k, n) =>
      m(s"streaming.${n}_ms_p50", "ms") =
        Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    }
    m("streaming.batches", "count") = bs.length.toDouble
    m("streaming.rows_per_batch_p50", "rows") = Stats.median(rowsPerBatch)
  }
}
