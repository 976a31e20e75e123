package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call, recorded by the harness around a call into a layer.
  * Times are `System.nanoTime`; `parent` 0 marks a root (one op). */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    layer: String, start: Long, end: Long)

/** In-memory span recorder. Off in untraced runs, where [[span]] is a
  * plain call. While a span is open its thread's Spark job group names
  * it, so [[Jobs]] can attribute every job to the span that caused it. */
object Trace {
  @volatile var on = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  // (open span id, request id) of the calling thread
  private val ctx = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array(0L, 0L)
  }
  val GroupKey = "spark.jobGroup.id"

  def span[T](name: String, layer: String, req: Long = -1L)(body: => T): T = {
    if (!on) return body
    val c = ctx.get
    val parent = c(0)
    val prevReq = c(1)
    val r = if (req >= 0) req else prevReq
    val id = ids.incrementAndGet()
    c(0) = id; c(1) = r
    val context = sc
    val prevGroup = if (context != null) context.getLocalProperty(GroupKey) else null
    if (context != null) context.setLocalProperty(GroupKey, s"span-$id")
    val t0 = System.nanoTime()
    try body
    finally {
      recorded.add(Span(id, parent, r, name, layer, t0, System.nanoTime()))
      c(0) = parent; c(1) = prevReq
      if (context != null) context.setLocalProperty(GroupKey, prevGroup)
    }
  }

  def spans: Seq[Span] = recorded.asScala.toSeq
}

/** Per-job scheduler record. Listener times are epoch milliseconds. */
final class JobRecord(val id: Int, val group: String, val submitMs: Long) {
  @volatile var firstTaskMs: Long = -1L
  @volatile var endMs: Long = -1L
  val tasks = new AtomicLong(0)
  val runMs = new AtomicLong(0)
  val cpuNs = new AtomicLong(0)
  val inputBytes = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
  val spillBytes = new AtomicLong(0)
}

/** Spark scheduler layer: jobs, tasks, dispatch wait, I/O, spills and
  * evicted blocks, recorded for every job of the session. */
object Jobs extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRecord]()
  val blocksDropped = new AtomicLong(0)
  /** Block evictions are counted only while set: the harness's own
    * unpersist calls also take blocks out of memory. */
  val countDrops = new AtomicBoolean(true)

  def register(sc: SparkContext): Unit = sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty(Trace.GroupKey)).orNull
    val rec = new JobRecord(e.jobId, group, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageToJob.put(s, rec))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val rec = stageToJob.get(e.stageId)
    if (rec != null && rec.firstTaskMs < 0) rec.firstTaskMs = e.taskInfo.launchTime
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageToJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) {
      rec.tasks.incrementAndGet()
      rec.runMs.addAndGet(m.executorRunTime)
      rec.cpuNs.addAndGet(m.executorCpuTime)
      rec.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      rec.shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      rec.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val rec = jobs.get(e.jobId)
    if (rec != null) rec.endMs = e.time
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (countDrops.get && info.blockId.isRDD && !info.storageLevel.useMemory)
      blocksDropped.incrementAndGet()
  }

  /** Jobs submitted in [fromMs, toMs], after waiting (bounded) for the
    * asynchronous listener bus to deliver their end events. */
  def between(fromMs: Long, toMs: Long): Seq[JobRecord] = {
    def sel = jobs.values.asScala.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).toSeq
    val deadline = System.currentTimeMillis() + 3000
    while (sel.exists(_.endMs < 0) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sel.sortBy(_.id)
  }
}

/** JVM counters, read at window boundaries. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def cpuNs: Long = os.getProcessCpuTime

  /** A fixed single-thread arithmetic loop, timed: the same work on an
    * idle machine, so a slow reading marks a contended run. */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1.0
    var i = 0
    while (i < 20000000) { x = x * 1.0000001 + 1e-9; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 0.0) println(x) // keeps the loop live
    ms
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * broadcasts and shuffles only after a collection finds them
    * unreachable, so collect until the reading settles (within 2 MB). */
  def retainedHeapMb(): Double = {
    def collect(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (math.abs(cur - prev) > 2.0 && rounds < 8) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }
}

/** A measured window: wall bounds plus JVM and scheduler counters. */
final class Window {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  private val gc0 = Jvm.gcMs
  private val jit0 = Jvm.jitMs
  private val cpu0 = Jvm.cpuNs
  private val dropped0 = Jobs.blocksDropped.get
  private val resident0 = graft.util.DriverMeter.nanos
  private val store0 = graft.util.StoreMeter.nanos
  val buildsAtStart: Long = graft.util.IndexCache.misses
  val buildNsAtStart: Long = graft.util.IndexCache.buildNanos
  var endNs: Long = -1L
  var endMs: Long = -1L
  private var gc1, jit1, cpu1, dropped1, resident1, store1, builds1, buildNs1 = 0L

  def close(): Unit = {
    endNs = System.nanoTime(); endMs = System.currentTimeMillis()
    gc1 = Jvm.gcMs; jit1 = Jvm.jitMs; cpu1 = Jvm.cpuNs
    dropped1 = Jobs.blocksDropped.get
    resident1 = graft.util.DriverMeter.nanos; store1 = graft.util.StoreMeter.nanos
    builds1 = graft.util.IndexCache.misses; buildNs1 = graft.util.IndexCache.buildNanos
  }

  /** Layer counters over the window (Spark, IndexCache, stores, JVM). */
  def layerMetrics(m: Metrics, sc: SparkContext): Unit = {
    val js = Jobs.between(startMs, endMs)
    m.put("spark.jobs", js.size, "count")
    m.put("spark.tasks", js.map(_.tasks.get).sum, "count")
    m.put("spark.job_wait_s",
      js.filter(_.firstTaskMs >= 0).map(j => j.firstTaskMs - j.submitMs).sum / 1e3, "s")
    m.put("spark.task_run_s", js.map(_.runMs.get).sum / 1e3, "s")
    m.put("spark.task_cpu_s", js.map(_.cpuNs.get).sum / 1e9, "s")
    m.put("spark.input_mb", js.map(_.inputBytes.get).sum / 1048576.0, "MB")
    m.put("spark.shuffle_mb", js.map(_.shuffleBytes.get).sum / 1048576.0, "MB")
    m.put("spark.spill_mb", js.map(_.spillBytes.get).sum / 1048576.0, "MB")
    m.put("spark.blocks_dropped", dropped1 - dropped0, "count")
    val storage = sc.getRDDStorageInfo
    m.put("spark.storage_mb", storage.map(_.memSize).sum / 1048576.0, "MB")
    val pinned = graft.util.IndexCache.pinnedRddIds
    m.put("indexcache.pinned_mb",
      storage.filter(r => pinned.contains(r.id)).map(_.memSize).sum / 1048576.0, "MB")
    m.put("indexcache.builds", builds1 - buildsAtStart, "count")
    m.put("indexcache.build_s", (buildNs1 - buildNsAtStart) / 1e9, "s")
    m.put("store.write_s", (store1 - store0) / 1e9, "s")
    m.put("driver.resident_s", (resident1 - resident0) / 1e9, "s")
    m.put("jvm.gc_s", (gc1 - gc0) / 1e3, "s")
    m.put("jvm.jit_s", (jit1 - jit0) / 1e3, "s")
    m.put("jvm.cpu_s", (cpu1 - cpu0) / 1e9, "s")
  }
}

/** Layer self time from the recorded spans: a span's duration minus the
  * part of it covered by its children. The Spark jobs a span's group
  * submitted count as its children, in layer `spark`. */
object SelfTime {
  val Layers = Seq("harness", "serveloop", "searchservice", "queries", "spark")

  def byLayer(spans: Seq[Span], jobs: Seq[JobRecord], baseNs: Long, baseMs: Long)
      : Map[String, Double] = {
    def msToNs(ms: Long) = baseNs + (ms - baseMs) * 1000000L
    val jobSpans = jobs.filter(j => j.group != null && j.endMs >= 0).map { j =>
      val owner = j.group.stripPrefix("span-").toLong
      Span(-j.id - 1L, owner, -1L, "job", "spark", msToNs(j.submitMs), msToNs(j.endMs))
    }
    val all = spans ++ jobSpans
    val children = all.groupBy(_.parent)
    val self = all.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.layer, math.max(0L, (s.end - s.start) - covered))
    }
    val sums = self.groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2).sum / 1e9) }
    Layers.map(l => l -> sums.getOrElse(l, 0.0)).toMap
  }

  /** Spans and job spans as JSON lines, written when the run ends. */
  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
