package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.types._
import graft.TypedApi.ScoredPoint
import graft.operators.{MutationLog, ResidentServing, SearchService}

/** The online read path (`serve`) and reads beside writes
  * (`serve_mutate`), driven through SearchService and its resident
  * handle from up to `clients` client threads.
  *
  * serve:        (a) closed loop of `clients` on ResidentServing.search,
  *               (b) open loop of the same search at `read_rate`/s,
  *               (c) one client looping SearchService.batchSearch,
  *               after `warmup_batches` untimed batches.
  *               Queries are Zipf(`zipf`) draws from a pool of `pool`.
  *               Primary op and capacity: (a); secondary: (c)'s batch.
  *               (b)'s latency from due time is a per-layer figure: on a
  *               shared 4-core host its median moved 0.4 of itself
  *               between runs, while (a)'s throughput moved 0.04.
  * serve_mutate: one writer alternates an upsert and a delete every
  *               `write_interval_ms`, each followed by warm() and STRONG
  *               reads until it is visible, beside a closed loop of
  *               `clients` on distinct queries. Primary op: the write,
  *               to visible; secondary: the reads; capacity: reads/s. */
final class ServeWorkload(ctx: Run, mutate: Boolean) {
  private val p = ctx.params
  private val m = ctx.m
  private val rows = p.int("rows")
  private val dim = p.int("dim")
  private val k = p.int("k")
  private val clients = p.int("clients")
  private lazy val rate = p.dbl("read_rate")
  private val readDeadlineNs = p.long("read_deadline_ms") * 1000000L
  private val checkEvery = p.int("check_every")
  private val seed = ctx.seed
  // the corpus is fixed across seeds (generated once per checkout); the
  // run's seed drives the query pool, the request streams and the writes
  private val corpusSeed = p.long("corpus_seed")

  private var svc: SearchService = _
  private var rs: ResidentServing = _
  private val corpus = new Corpus(corpusSeed, rows, dim)
  private val reqIds = new AtomicLong(0)

  // per-call timings of the layers the harness calls, nanoseconds
  private val searchCallNs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val reopenCallNs = new ConcurrentLinkedQueue[java.lang.Long]()
  // sampled answers: (query, hits, version served), checked after the window
  private val samples = new ConcurrentLinkedQueue[(Array[Float], Seq[ScoredPoint], Long)]()

  private def schema = StructType(Seq(
    StructField("shard_id", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Writes the seeded corpus as parquet once per (rows, dim, seed);
    * not part of set-up. */
  private def corpusPath(): String = {
    val dir = ctx.work.resolve("data").resolve(s"corpus-n$rows-d$dim-seed$corpusSeed")
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
      val spark = ctx.newSession()
      val (s, d) = (corpusSeed, dim)
      val rdd = spark.sparkContext.range(0L, rows.toLong, 1, Main.cpus)
        .map(id => ServeWorkload.corpusRow(s, d, id))
      spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(dir.toString)
    }
    dir.toString
  }

  /** Set-up, repeated `setups` times: session start, corpus read,
    * SearchService, warm(), resident open. The last one is served. */
  private def setUp(path: String): Seq[Double] =
    (1 to p.int("setups")).map { _ =>
      svc = null; rs = null
      val t0 = System.nanoTime()
      val spark = ctx.newSession()
      svc = new SearchService(spark.read.parquet(path),
        cacheMaxEntries = p.int("cache_entries"), idCol = "id", embCol = "embedding")
      svc.warm()
      rs = svc.residentServing(MutationLog.Strong)
      (System.nanoTime() - t0) / 1e9
    }

  private def sameAnswer(hits: Seq[ScoredPoint], exact: Seq[(Long, Double)]): Boolean =
    hits.map(h => (h.id, h.distance)) == exact

  /** One STRONG resident read, timed from `fromNs` (its due time in the
    * open loop, its start in the closed loop). Returns latency in ns. */
  private def read(q: Array[Float], fromNs: Long, check: Boolean): Long = {
    Ops.attempted.incrementAndGet()
    val req = reqIds.incrementAndGet()
    Trace.span("op.search", "harness", req) {
      try {
        // the handle's loaded snapshot, read without taking the service's
        // lock: unchanged across the call means the call served it
        val s0 = rs.snapshot
        val t0 = System.nanoTime()
        val res = Trace.span("ResidentServing.search", "serveloop")(rs.search(q.toSeq, k))
        val t1 = System.nanoTime()
        val s1 = rs.snapshot
        (if (s0 == s1) searchCallNs else reopenCallNs).add(t1 - t0)
        val latency = t1 - fromNs
        res match {
          case None =>
            Ops.failed.incrementAndGet()
            System.err.println("[perfbench] resident handle refused the corpus")
          case Some(_) if latency > readDeadlineNs => Ops.failed.incrementAndGet()
          case Some(hits) => if (check && s0 == s1) samples.add((q, hits, s0))
        }
        latency
      } catch { case e: Throwable =>
        Ops.failed.incrementAndGet()
        System.err.println(s"[perfbench] search failed: $e")
        readDeadlineNs
      }
    }
  }

  /** Closed loop: `clients` threads, each issuing its next read when the
    * previous one returns. Returns (latencies ms, completed per second). */
  private def closedLoop(seconds: Double, query: (Int, Long) => Array[Float],
      onOff: Option[ConcurrentLinkedQueue[(Boolean, Double)]]): (Seq[Double], Double) = {
    val lat = new ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = 0L
        while (System.nanoTime() < end) {
          val tracing = Trace.on
          val s = System.nanoTime()
          val l = read(query(c, i), s, i % checkEvery == 0) / 1e6
          lat.add(l)
          onOff.foreach(_.add((tracing, l)))
          i += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    (lat.asScala.toSeq, lat.size / secs)
  }

  /** Open loop at `rate`/s for `seconds`: request i is due at
    * start + i/rate, served by `clients` worker threads; latency counts
    * from the due time. Requests not started within the read deadline
    * after the window are never issued and count as failed. Returns
    * (latencies ms, lateness ms). */
  private def openLoop(seconds: Double, query: Long => Array[Float])
      : (Seq[Double], Seq[Double]) = {
    val total = (rate * seconds).toInt
    val start = System.nanoTime() + 2000000L
    val stopIssuing = start + (seconds * 1e9).toLong + readDeadlineNs
    val next = new AtomicInteger(0)
    val lat = new ConcurrentLinkedQueue[Double]()
    val lag = new ConcurrentLinkedQueue[Double]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < total) {
          val due = start + (i * 1e9 / rate).toLong
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          if (now > stopIssuing) {
            Ops.attempted.incrementAndGet(); Ops.failed.incrementAndGet()
          } else {
            lag.add((now - due) / 1e6)
            lat.add(read(query(i.toLong), due, i % checkEvery == 0) / 1e6)
          }
          i = next.getAndIncrement()
        }
      }, s"open-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (lat.asScala.toSeq, lag.asScala.toSeq)
  }

  /** One client looping batchSearch over Zipf draws from the pool, one
    * member per slice of the Zipf CDF (Zipf.stratified): the number of
    * cache misses in a batch sets its cost, and stratified draws halve
    * how much a run's misses per batch vary between seeds.
    * Returns (latencies ms, members served from cache, members). */
  private def batchLoop(seconds: Double, pool: IndexedSeq[Seq[Float]], zipf: Zipf)
      : (Seq[Double], Long, Long) = {
    val size = p.int("batch")
    val deadlineNs = p.long("batch_deadline_ms") * 1000000L
    val r = new SplittableRandom(seed ^ 0x5EEDL)
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    var hits = 0L
    var requested = 0L
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      val members = zipf.stratified(size, r).toIndexedSeq
      Ops.attempted.incrementAndGet()
      val t0 = System.nanoTime()
      try {
        val res = Trace.span("op.batch", "harness", reqIds.incrementAndGet()) {
          Trace.span("SearchService.batchSearch", "searchservice") {
            svc.batchSearch(members.map(i => SearchService.BatchQuery(pool(i), k)))
          }
        }
        val ns = System.nanoTime() - t0
        lat += ns / 1e6
        res match {
          case Left(err) =>
            Ops.failed.incrementAndGet()
            System.err.println(s"[perfbench] batch refused: $err")
          case Right(out) =>
            if (ns > deadlineNs) Ops.failed.incrementAndGet()
            hits += out.count(_._2); requested += out.size
            Log(f"batch ${lat.size}%3d ${ns / 1e6}%8.1f ms, ${out.count(!_._2)}%2d misses")
            members.indices.filter(_ % 8 == 0).foreach { j =>
              samples.add((pool(members(j)).toArray, out(j)._1, 0L))
            }
        }
      } catch { case e: Throwable =>
        Ops.failed.incrementAndGet()
        System.err.println(s"[perfbench] batch failed: $e")
      }
    }
    (lat.toSeq, hits, requested)
  }

  /** The writer of serve_mutate: window write n is due at
    * start + (n + ½)·interval; writes alternate an upsert of `upsert_rows`
    * new rows with a delete of `delete_rows` base rows, each followed by
    * warm() and STRONG probes until it is visible. Records per-write
    * visible, apply and warm milliseconds. */
  private final class Writer extends Thread("writer") {
    val visibleMs = new ConcurrentLinkedQueue[Double]()
    val applyMs = new ConcurrentLinkedQueue[Double]()
    val warmMs = new ConcurrentLinkedQueue[Double]()
    private val interval = p.long("write_interval_ms") * 1000000L
    private val deadline = p.long("write_deadline_ms") * 1000000L
    private val upRows = p.int("upsert_rows")
    private val delRows = p.int("delete_rows")
    @volatile private var stopAt = Long.MaxValue
    private val order: Array[Long] =
      Vectors.shuffle(Array.tabulate(rows)(_.toLong), new SplittableRandom(seed ^ 0xDE1E7EL))

    def finish(): Unit = { stopAt = System.nanoTime(); join() }

    /** Write `j`: upserts at even j, deletes at odd j, then warm() and
      * STRONG probes until it is visible. Only a counted write is an op. */
    def write(j: Int, counted: Boolean): Unit = {
      if (counted) Ops.attempted.incrementAndGet()
      val upsert = j % 2 == 0
      val ids: Seq[Long] =
        if (upsert) (0 until upRows).map(r => rows.toLong + j.toLong * upRows + r)
        else order.slice((j / 2) * delRows, (j / 2 + 1) * delRows).toSeq
      Trace.span(if (upsert) "op.upsert" else "op.delete", "harness", reqIds.incrementAndGet()) {
        val t0 = System.nanoTime()
        val df = ctx.spark.createDataFrame(
          ids.map(ServeWorkload.corpusRow(corpusSeed, dim, _)).asJava, schema)
        Trace.span(if (upsert) "SearchService.upsert" else "SearchService.delete", "searchservice") {
          if (upsert) svc.upsert(df) else svc.delete(df)
        }
        val version = svc.currentCommitIndex
        if (upsert) corpus.recordUpsert(version, ids) else corpus.recordDelete(version, ids)
        val t1 = System.nanoTime()
        Trace.span("SearchService.warm", "searchservice")(svc.warm())
        val t2 = System.nanoTime()
        // read-your-write: a k=1 STRONG read of the written row's own
        // vector returns its id after an upsert, and not after a delete
        val probe = corpus.row(ids.head)
        var visible = false
        while (!visible && System.nanoTime() - t0 <= deadline) {
          val hit = Trace.span("ResidentServing.search", "serveloop")(rs.search(probe.toSeq, 1))
            .flatMap(_.headOption).map(_.id)
          visible = if (upsert) hit.contains(ids.head) else !hit.contains(ids.head)
          if (!visible) Ops.mismatch(s"write $j not visible to a STRONG read after warm()")
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val rt = Runtime.getRuntime
        Log(f"write $j%3d ${if (upsert) "upsert" else "delete"} visible $ms%8.1f ms " +
          f"(apply ${(t1 - t0) / 1e6}%6.1f, warm ${(t2 - t1) / 1e6}%7.1f) version $version " +
          f"heap ${(rt.totalMemory - rt.freeMemory) / 1048576}%5d MB")
        if (counted) {
          visibleMs.add(ms); applyMs.add((t1 - t0) / 1e6); warmMs.add((t2 - t1) / 1e6)
          if (!visible || ms * 1e6 > deadline) Ops.failed.incrementAndGet()
        }
      }
    }

    override def run(): Unit = {
      val start = System.nanoTime()
      var n = 0 // writes started in the window; write 0 was the warm-up
      while (true) {
        // mid-slot due times keep the count of writes in a window fixed
        val due = start + n * interval + interval / 2
        var now = System.nanoTime()
        while (now < due && now < stopAt) { LockSupport.parkNanos(math.min(due, stopAt) - now); now = System.nanoTime() }
        if (now >= stopAt) {
          // writes that fell due in the window but never started
          val missed = (stopAt - start - interval / 2 - 1) / interval + 1 - n
          if (missed > 0) { Ops.attempted.addAndGet(missed); Ops.failed.addAndGet(missed) }
          return
        }
        try write(n + 1, counted = true)
        catch { case e: Throwable =>
          Ops.failed.incrementAndGet()
          System.err.println(s"[perfbench] write ${n + 1} failed: $e")
          if (e.isInstanceOf[VirtualMachineError]) return
        }
        n += 1
      }
    }
  }

  /** Node count of a plan tree, including nested plans (cached-relation
    * plans, subqueries), capped so a runaway lineage stays countable. */
  private def planNodes(plan: TreeNode[_]): Long = {
    val cap = 10000000L
    var n = 0L
    val stack = new java.util.ArrayDeque[TreeNode[_]]()
    stack.push(plan)
    while (!stack.isEmpty && n < cap) {
      val t = stack.pop()
      n += 1
      t.children.foreach(c => stack.push(c.asInstanceOf[TreeNode[_]]))
      t.innerChildren.foreach(c => stack.push(c))
    }
    n
  }

  def run(): Unit = {
    val path = corpusPath()
    Log("corpus ready")
    val setups = setUp(path)
    Log(s"set-ups: ${setups.mkString(", ")}")
    ctx.recordValidity(clients)
    val pool = IndexedSeq.tabulate(p.int("pool"))(i =>
      Vectors.vector(seed, Vectors.PoolStream, i, dim).toSeq)
    val zipf = new Zipf(pool.size, p.dbl("zipf"))
    val secs = ctx.seconds
    Trace.on = ctx.traced

    // the traced run alternates tracing on and off during the closed
    // loop, every 250 ms, to measure what the spans cost
    val onOff = if (ctx.traced) Some(new ConcurrentLinkedQueue[(Boolean, Double)]()) else None
    val toggler = onOff.map { _ =>
      val t = new Thread(() => {
        try while (true) { Thread.sleep(250); Trace.on = !Trace.on }
        catch { case _: InterruptedException => () }
      }, "trace-toggle")
      t.setDaemon(true); t
    }

    // warm-up, untimed and uncounted: JIT for the resident scan and the
    // batch path, so the window measures steady serving
    val warmEnd = System.nanoTime() + p.long("warmup_ms") * 1000000L
    val warmers = (0 until clients).map { c =>
      val wr = new SplittableRandom(seed ^ (0x3A3AL + c))
      new Thread(() => while (System.nanoTime() < warmEnd) rs.search(pool(zipf.sample(wr)), k))
    }
    warmers.foreach(_.start()); warmers.foreach(_.join())
    val batchRng = new SplittableRandom(seed ^ 0x3A3AL)
    // serve_mutate: one uncounted write, so the window's writes run a
    // compiled write path (the first write measured 2.5 s, later ones ~1.4)
    val writer = if (mutate) { val wr = new Writer; wr.write(0, counted = false); wr } else null
    if (!mutate) (0 until p.int("warmup_batches")).foreach(_ =>
      svc.batchSearch(zipf.stratified(p.int("batch"), batchRng).toIndexedSeq
        .map(i => SearchService.BatchQuery(pool(i), k))))
    Log("warm-up done")

    val w = new Window
    toggler.foreach(_.start())
    Log("window starts")
    // serve: (a) closed loop, (b) open loop, (c) batch client.
    // serve_mutate: the writer beside a closed loop of distinct reads for
    // the whole window. Its reads are a closed loop because each write
    // stalls every STRONG reader for its warm() and the resident reopen
    // (about 2 s at this corpus size): an open loop at serve's rate spent 35-70% of its
    // requests in that stall or its backlog, so its median swung between
    // the fast and the stalled mode from seed to seed.
    val (primary, secondary, capacity, open, lag, hits, requested) =
      if (mutate) {
        val wr = writer
        wr.start()
        val (reads, qps) = closedLoop(secs, (c, i) =>
          Vectors.vector(seed, Vectors.DistinctStream, (c.toLong << 40) | i, dim), onOff)
        wr.finish()
        toggler.foreach { t => t.interrupt(); t.join() }
        (wr.visibleMs.asScala.toSeq, reads, qps, Nil, Nil, 0L, 0L)
      } else {
        val closedShare = p.dbl("closed_share")
        val openShare = p.dbl("open_share")
        val rq = new SplittableRandom(seed ^ 0xC11E47L)
        val rngs = (0 until clients).map(_ => rq.split())
        val (reads, qps) = closedLoop(secs * closedShare,
          (c, _) => pool(zipf.sample(rngs(c))).toArray, onOff)
        toggler.foreach { t => t.interrupt(); t.join() }
        Trace.on = ctx.traced
        Log("closed loop done")
        val openRng = new SplittableRandom(seed ^ 0x0BE17L)
        val picks = Array.fill((rate * secs * openShare).toInt + 1)(zipf.sample(openRng))
        val (open, lag) = openLoop(secs * openShare, i => pool(picks(i.toInt)).toArray)
        Log("open loop done")
        val (batches, h, r) = batchLoop(secs * (1.0 - closedShare - openShare), pool, zipf)
        (reads, batches, qps, open, lag, h, r)
      }
    Trace.on = false
    w.close()
    Log("window ends")
    val heapMb = Jvm.retainedHeapMb()
    val planNodeCount = planNodes(svc.current.queryExecution.logical)

    // correctness, off the clock: every sampled answer against the
    // harness's exact scan of the version it was served from
    val todo = samples.asScala.toIndexedSeq
    val checkers = (0 until Main.cpus).map { t =>
      new Thread(() => todo.indices.filter(_ % Main.cpus == t).foreach { i =>
        val (q, hits, version) = todo(i)
        Ops.checked.incrementAndGet()
        if (!sameAnswer(hits, corpus.topK(q, k, version)))
          Ops.mismatch(s"query at version $version: got ${hits.take(3)}, expected ${corpus.topK(q, k, version).take(3)}")
      })
    }
    checkers.foreach(_.start()); checkers.foreach(_.join())
    Log(s"checked ${todo.size} answers")

    m.put("setup_s", Stats.median(setups), "s")
    m.put("heap_retained_mb", heapMb, "MB")
    m.put("primary_p50_ms", Stats.median(primary), "ms")
    m.put("client.primary_p99_ms", Stats.pct(primary, 0.99), "ms")
    m.put("secondary_p50_ms", Stats.median(secondary), "ms")
    m.put("client.secondary_p90_ms", Stats.pct(secondary, 0.9), "ms")
    m.put("capacity_ops_per_s", capacity, "1/s")
    m.put("client.primary_ops", primary.size, "count")
    m.put("client.secondary_ops", secondary.size, "count")
    if (open.nonEmpty) {
      m.put("client.open_p50_ms", Stats.median(open), "ms")
      m.put("client.open_p99_ms", Stats.pct(open, 0.99), "ms")
      m.put("client.lag_p99_ms", Stats.pct(lag, 0.99), "ms")
    }
    m.put("serveloop.search_ms_p50", Stats.median(searchCallNs.asScala.map(_ / 1e6)), "ms")
    m.put("serveloop.reopen_n", reopenCallNs.size, "count")
    m.put("serveloop.reopen_ms_p50",
      if (reopenCallNs.isEmpty) 0.0 else Stats.median(reopenCallNs.asScala.map(_ / 1e6)), "ms")
    if (!mutate) m.put("searchservice.batch_ms_p50", Stats.median(secondary), "ms")
    m.put("querymemo.hits", hits, "count")
    m.put("querymemo.requests", requested, "count")
    m.put("querymemo.hit_ratio", if (requested == 0) 0.0 else hits.toDouble / requested, "ratio")
    if (mutate) {
      val wr = writer
      m.put("searchservice.writes", primary.size, "count")
      m.put("searchservice.apply_ms_p50", Stats.median(wr.applyMs.asScala), "ms")
      m.put("searchservice.warm_ms_p50", Stats.median(wr.warmMs.asScala), "ms")
      m.put("searchservice.write_visible_first_ms", primary.headOption.getOrElse(0.0), "ms")
      m.put("searchservice.write_visible_last_ms", primary.lastOption.getOrElse(0.0), "ms")
    }
    m.put("searchservice.plan_nodes", planNodeCount, "count")
    m.put("searchservice.commit_index", svc.currentCommitIndex, "count")
    w.layerMetrics(m, ctx.spark.sparkContext)
    onOff.foreach { q =>
      val (on, off) = q.asScala.toSeq.partition(_._1)
      m.put("trace.overhead_pct",
        (Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1.0) * 100.0, "%")
    }
    if (ctx.traced) ctx.traceMetrics(w)
  }
}

object ServeWorkload {
  /** Row `id` of the corpus, as stored: (shard_id, id, embedding). */
  def corpusRow(seed: Long, dim: Int, id: Long): Row =
    Row(s"shard-${id % 4}", id, Vectors.vector(seed, Vectors.CorpusStream, id, dim).toSeq)
}
