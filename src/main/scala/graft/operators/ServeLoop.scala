package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, FloatType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.TypedApi.ScoredPoint

/** Driver-RESIDENT exact k-NN serving over a loaded snapshot — the
  * engine-side analog of the reference's in-process serving path, and
  * the artifact behind the sustained-throughput rows in BASELINE.md
  * (VERDICT r16 next #2).
  *
  * The reference answers every query from index structures loaded once
  * at startup (`src/index/vector_shard.cc:34-43`): a query is a flat
  * scan over each shard (`vector_shard.cc:72-94`), shards fan out on
  * OpenMP threads (`src/index/shard_manager.cc:46-51`) and the
  * per-shard top-k lists merge by distance (`shard_manager.cc:129-145`)
  * — no scheduler, no RPC to storage, microsecond-to-millisecond
  * latencies. The engine's [[SearchService.search]] keeps the same
  * SEMANTICS but dispatches one Spark job per query, so its latency
  * floor is the per-job dispatch cost the bench records as
  * `hop_dispatch_s`. This class closes the gap for the serving-shaped
  * workload: [[ServeLoop.open]] collects one resolved snapshot into
  * flat driver arrays (the "loaded shard"), and [[search]] answers
  * queries entirely in-process — slice-parallel scan (the OpenMP
  * analog), per-slice bounded heaps, (distance, id) merge — returning
  * values BIT-IDENTICAL to `SearchService.search` / [[Knn.topK]]
  * (ServeLoopSpec pins this, including tie-breaks): the inner loop
  * accumulates `(double)xᵢ − (double)qᵢ` squares in document order,
  * the exact fold of [[graft.expressions.L2SquaredDistance]].
  *
  * SCALE CONTRACT (the driver-walk convention, GraphStore scaladoc):
  * residency is driver-memory-bounded — `open` refuses corpora above
  * `graft.serveLoopMaxRows` (default 4 M rows; at d=768 that is ~12 GB,
  * sized to a serving driver) and callers fall back to the distributed
  * [[SearchService.search]] path, which handles any corpus size. A
  * 100 TB deployment serves from sharded replicas of exactly this loop
  * (the reference's own model: N nodes × S shards, each resident);
  * the Spark engine is the thing that BUILDS those shards.
  *
  * Duplicate ids are preserved (the reference's duplicate-id quirk,
  * SURVEY §2); rows whose embedding is null or off-dimension make
  * `open` return None — the distributed path defines their semantics
  * (null distance), and a resident loop must not silently diverge.
  *
  * Each row also keeps its `shard_id` as an int code (`shards`, -1 for
  * null; `shardCodes` maps the key to its code) when the state has a
  * string `shard_id` column, so [[ServeLoop.applyWrites]] can apply a
  * write's `(shard_id, id)` delta to the loaded copy the way the
  * reference applies it to its loaded shard (`vector_shard.cc:46-57`)
  * instead of reloading the snapshot. `shards` is null otherwise. */
final class ServeLoop private[operators] (
    ids: Array[Long], flat: Array[Float], val dim: Int,
    shards: Array[Int], shardCodes: Map[UTF8String, Int]) {
  import ServeLoop.BoundedTopK

  /** Loaded corpus size in rows. */
  val size: Int = ids.length

  // slice bounds for the scan fan-out: one contiguous range per slice
  // (the shard analog); sliced by available cores, floor one slice
  private val slices: Int =
    math.max(1, math.min(Runtime.getRuntime.availableProcessors(),
      math.max(1, size / 1024)))
  private val bounds: Array[Int] =
    Array.tabulate(slices + 1)(i => (size.toLong * i / slices).toInt)

  // concurrent-call depth drives the scan mode, measured on the
  // 1 M × 64 / 100 k × 64 synthetic corpora (ProfileServe):
  //  - depth < slices: PARALLEL — idle cores exist, the
  //    reference-style OpenMP-shaped fan-out uses them (c=1 at 100 k:
  //    p50 ~1-2 ms parallel vs 7.3 ms single-thread; c=8 at 1 M:
  //    297 vs 92 qps);
  //  - depth ≥ slices: SEQUENTIAL per query — every core already has
  //    a query; nested parallelism only adds churn (c=64 at 100 k:
  //    3717 vs 2517 qps; at 1 M: p99 0.45 vs 1.7 s).
  private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Exact top-k, (distance, id) ascending — value-identical to
    * `Knn.topK(state, query, k)` on the same snapshot. k ≤ 0 returns
    * Nil (the reference's k=0 short-circuit). Thread-safe: state is
    * immutable, every call allocates its own heaps — concurrent
    * callers are the serving model, not a special case. */
  def search(query: Seq[Float], k: Int): Seq[ScoredPoint] =
    search(query, k, null)

  /** [[search]] with an id predicate — the resident analog of
    * filtered/tenant-isolated serving (`knn_filtered` /
    * `Knn.groupedTopK`'s per-tenant restriction): rows whose id fails
    * `filter` never enter a heap, so the result is value-identical to
    * running the unfiltered loop over the pre-filtered snapshot
    * (ServeLoopSpec pins both parities). `filter` must be pure and
    * thread-safe; null means no filter. */
  def search(query: Seq[Float], k: Int,
      filter: Long => Boolean): Seq[ScoredPoint] = {
    if (k <= 0) return Nil
    require(query.length == dim,
      s"query dimension ${query.length} != corpus dimension $dim")
    // driver-resident compute — report through DriverMeter (`driver_s`)
    graft.util.DriverMeter.time {
    val q = query.toArray
    val kk = math.min(k, size)
    if (kk == 0) return Nil
    val depth = inFlight.incrementAndGet()
    try {
      val sliceTops = new Array[BoundedTopK](slices)
      def scanSlice(s: Int): Unit = {
        val top = new BoundedTopK(kk)
        var r = bounds(s)
        val end = bounds(s + 1)
        while (r < end) {
          if (filter == null || filter(ids(r))) {
            var acc = 0.0
            var j = 0
            var base = r * dim
            while (j < dim) {
              val d = flat(base).toDouble - q(j).toDouble
              acc += d * d
              j += 1; base += 1
            }
            top.offer(acc, ids(r))
          }
          r += 1
        }
        sliceTops(s) = top
      }
      if (depth < slices)
        java.util.stream.IntStream.range(0, slices).parallel()
          .forEach(s => scanSlice(s))
      else {
        var s = 0
        while (s < slices) { scanSlice(s); s += 1 }
      }
      ServeLoop.merge(sliceTops.iterator, kk)
    } finally inFlight.decrementAndGet()
    } // DriverMeter.time
  }

  /** Batch serve — the resident analog of the reference's BatchSearch
    * (`src/rpc/search_service_impl.cc:53-62`, minus the consistency
    * routing, which lives in [[SearchService]]): answers every member
    * against THIS loop's snapshot in ONE pass over the corpus. Each
    * slice reads each of its rows once and folds every member's
    * distance from it — the same `(double)xᵢ − (double)qᵢ` square sum
    * in document order as [[search]] — into a bounded heap per
    * (slice, member); each member's slice heaps then merge by
    * (distance, id). Results per member are value-identical to
    * [[search]] (and so to `SearchService.batchSearch` at the same
    * snapshot — ServeLoopSpec pins both, ties included). Members are
    * folded four at a time: four independent accumulator chains per
    * row, each still summed in its own member's document order. Slices
    * fan out on the common pool while cores are idle and run
    * sequentially past saturation ([[inFlight]], as in [[search]]).
    * [[SearchService.batchSearch]] routes a group of cache misses here
    * when its resident slot holds the group's snapshot. */
  def searchBatch(queries: Seq[Seq[Float]], k: Int,
      filter: Long => Boolean = null): Seq[Seq[ScoredPoint]] = {
    if (queries.isEmpty) return Nil
    val m = queries.length
    if (k <= 0) return Seq.fill(m)(Nil)
    val qs: Array[Array[Double]] = queries.iterator.map { q =>
      require(q.length == dim,
        s"query dimension ${q.length} != corpus dimension $dim")
      q.iterator.map(_.toDouble).toArray
    }.toArray
    val kk = math.min(k, size)
    graft.util.DriverMeter.time {
    val depth = inFlight.incrementAndGet()
    try {
      // sliceTops(s)(i): member i's top-k over slice s
      val sliceTops = new Array[Array[BoundedTopK]](slices)
      def scanSlice(s: Int): Unit = {
        val tops = Array.fill(m)(new BoundedTopK(kk))
        var r = bounds(s)
        val end = bounds(s + 1)
        while (r < end) {
          val id = ids(r)
          if (filter == null || filter(id)) {
            val base = r * dim
            var i = 0
            while (i + 4 <= m) {
              val q0 = qs(i); val q1 = qs(i + 1); val q2 = qs(i + 2); val q3 = qs(i + 3)
              var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
              var j = 0
              while (j < dim) {
                val x = flat(base + j).toDouble
                val d0 = x - q0(j); a0 += d0 * d0
                val d1 = x - q1(j); a1 += d1 * d1
                val d2 = x - q2(j); a2 += d2 * d2
                val d3 = x - q3(j); a3 += d3 * d3
                j += 1
              }
              tops(i).offer(a0, id); tops(i + 1).offer(a1, id)
              tops(i + 2).offer(a2, id); tops(i + 3).offer(a3, id)
              i += 4
            }
            while (i < m) {
              val q = qs(i)
              var acc = 0.0
              var j = 0
              while (j < dim) {
                val d = flat(base + j).toDouble - q(j)
                acc += d * d
                j += 1
              }
              tops(i).offer(acc, id)
              i += 1
            }
          }
          r += 1
        }
        sliceTops(s) = tops
      }
      if (depth < slices)
        java.util.stream.IntStream.range(0, slices).parallel()
          .forEach(s => scanSlice(s))
      else {
        var s = 0
        while (s < slices) { scanSlice(s); s += 1 }
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Array.tabulate(m)(i => ServeLoop.merge(sliceTops.iterator.map(_(i)), kk)))
    } finally inFlight.decrementAndGet()
    } // DriverMeter.time
  }

  /** Whether rows carry shard codes, so writes can apply to this copy. */
  private[operators] def keyed: Boolean = shards != null

  /** This copy with one write applied (see [[ServeLoop.applyWrites]],
    * which checks the write's plan and column types first); None when the write cannot
    * be applied to a loaded copy. */
  private[operators] def applyWrite(w: ServeLoop.Write, embCol: String): Option[ServeLoop] = {
    val cols = Seq(col(ServeLoop.ShardCol), col("id").cast("long")) ++
      (if (w.upsert) Seq(col(embCol)) else Nil)
    val rows = ServeLoop.collectInternal(w.rows.select(cols: _*).limit(size + 1))
    if (rows.length > size) return None
    // the write's keys that can match a row of this copy: id → shard codes
    val codes = new ServeLoop.ShardCodes(shardCodes)
    val keys = new scala.collection.mutable.LongMap[List[Int]]()
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      val c = codes.known(row, 0)
      if (!row.isNullAt(1) && c >= 0) keys(row.getLong(1)) = c :: keys.getOrElse(row.getLong(1), Nil)
      if (w.upsert && (row.isNullAt(1) || row.isNullAt(2))) return None
      i += 1
    }
    val dropped = new scala.collection.mutable.ArrayBuilder.ofInt
    if (keys.nonEmpty) {
      var r = 0
      while (r < size) {
        val s = shards(r)
        if (s >= 0) {
          val c = keys.getOrNull(ids(r))
          if (c != null && c.contains(s)) dropped += r
        }
        r += 1
      }
    }
    val drops = dropped.result()
    val appended = if (w.upsert) rows.length else 0
    if (drops.isEmpty && appended == 0) return Some(this)
    val n = size - drops.length + appended
    if (n.toLong * dim > Int.MaxValue - 8) return None
    val nIds = new Array[Long](n)
    val nFlat = new Array[Float](n * dim)
    val nShards = new Array[Int](n)
    // kept rows: one run per gap between dropped rows
    var src = 0
    var dst = 0
    var d = 0
    while (src < size) {
      val end = if (d < drops.length) drops(d) else size
      val len = end - src
      System.arraycopy(ids, src, nIds, dst, len)
      System.arraycopy(shards, src, nShards, dst, len)
      System.arraycopy(flat, src * dim, nFlat, dst * dim, len * dim)
      dst += len; src = end + 1; d += 1
    }
    i = 0
    while (i < appended) {
      val row = rows(i)
      if (!ServeLoop.copyEmbedding(row.getArray(2), nFlat, dst * dim, dim)) return None
      nIds(dst) = row.getLong(1)
      nShards(dst) = codes.codeOf(row, 0)
      dst += 1; i += 1
    }
    Some(new ServeLoop(nIds, nFlat, dim, nShards, codes.result))
  }
}

object ServeLoop {

  /** One bounded worst-first heap: keeps the k smallest (dist, id)
    * pairs seen. Plain binary heap on arrays — no boxing in offer's
    * hot path beyond the final keep. */
  private final class BoundedTopK(k: Int) {
    private val ds = new Array[Double](k)
    private val is = new Array[Long](k)
    private var n = 0
    private def worseThanRoot(d: Double, id: Long): Boolean =
      d > ds(0) || (d == ds(0) && id > is(0))
    def offer(d: Double, id: Long): Unit = {
      if (n < k) {
        var i = n; ds(i) = d; is(i) = id; n += 1
        while (i > 0) { // sift up (max-heap on (d, id): parent ≥ child)
          val p = (i - 1) >> 1
          if (ds(p) > ds(i) || (ds(p) == ds(i) && is(p) >= is(i))) return
          val td = ds(p); ds(p) = ds(i); ds(i) = td
          val ti = is(p); is(p) = is(i); is(i) = ti
          i = p
        }
      } else if (!worseThanRoot(d, id)) {
        ds(0) = d; is(0) = id
        var i = 0
        while (true) { // sift down
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < n && (ds(l) > ds(m) || (ds(l) == ds(m) && is(l) > is(m)))) m = l
          if (r < n && (ds(r) > ds(m) || (ds(r) == ds(m) && is(r) > is(m)))) m = r
          if (m == i) return
          val td = ds(m); ds(m) = ds(i); ds(i) = td
          val ti = is(m); is(m) = is(i); is(i) = ti
          i = m
        }
      }
    }
    def rows: Iterator[(Double, Long)] =
      (0 until n).iterator.map(i => (ds(i), is(i)))
  }

  private val byDistThenId = new java.util.Comparator[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Merge per-slice tops: concatenate (≤ slices·k rows), total-order
    * sort by (distance, id), keep the first k. */
  private def merge(sliceTops: Iterator[BoundedTopK], k: Int): Seq[ScoredPoint] = {
    val merged = sliceTops.flatMap(_.rows).toArray
    java.util.Arrays.sort(merged, byDistThenId)
    merged.iterator.take(k).map(e => ScoredPoint(e._2, e._1, "")).toSeq
  }

  /** Residency cap in rows — above it `open` returns None and callers
    * serve distributed. Overridable via `-Dgraft.serveLoopMaxRows=`. */
  private[graft] def maxRows: Int =
    sys.props.get("graft.serveLoopMaxRows").map(_.toInt).getOrElse(4 << 20)

  /** Load one snapshot into a resident loop. ONE bounded collect
    * (`limit(cap+1)` keeps the job and the driver allocation capped
    * even against an over-cap corpus; the cap itself is clamped so the
    * probe limit can never overflow Int for a caller configuring
    * Int.MaxValue); None above the cap, for an embedding column that
    * is not array<float>, or when any row — or any ELEMENT inside an
    * embedding array — is null or off-dimension: the distributed path
    * defines null-element distance as null
    * ([[graft.expressions.L2SquaredDistance]]), so degenerate rows
    * must fall back to distributed semantics, not throw.
    *
    * The collect keeps Spark's internal rows: floats copy straight out
    * of each row's bytes into the flat array. Converting to external
    * Rows first boxes every element, which at 200 k × 64 costs as much
    * as the collect itself. A string `shard_id` column, when the state
    * has one, is read too and kept as per-row codes (class scaladoc). */
  def open(state: DataFrame, idCol: String = "id",
      embCol: String = "embedding",
      cap: Int = maxRows): Option[ServeLoop] = {
    val capc = clampCap(cap)
    val withShard = state.schema.exists(f => f.name == ShardCol && f.dataType == StringType)
    val cols = Seq(col(idCol).cast("long"), col(embCol)) ++
      (if (withShard) Seq(col(ShardCol)) else Nil)
    val q = state.select(cols: _*).limit(capc + 1)
    if (!isFloatArray(q.schema(1).dataType)) return None
    val rows = collectInternal(q)
    if (rows.length > capc || rows.isEmpty) return None
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val dim = rows(0).getArray(1).numElements()
    val n = rows.length
    // flat-array addressability: n·dim must fit one JVM array (a 4 M ×
    // 768 corpus does not — the row cap alone is not the whole bound)
    if (dim <= 0 || n.toLong * dim > Int.MaxValue - 8) return None
    val ids = new Array[Long](n)
    val flat = new Array[Float](n * dim)
    val shards = if (withShard) new Array[Int](n) else null
    val codes = new ShardCodes(Map.empty)
    var r = 0
    while (r < n) {
      val row = rows(r)
      if (!copyEmbedding(row.getArray(1), flat, r * dim, dim)) return None
      ids(r) = row.getLong(0)
      if (withShard) shards(r) = codes.codeOf(row, 2)
      r += 1
    }
    Some(new ServeLoop(ids, flat, dim, shards, codes.result))
  }

  /** One recorded write: an upsert's rows or a delete's keys
    * ([[MutationLog.applyUpserts]] / [[MutationLog.applyDeletes]]). */
  private[operators] final case class Write(upsert: Boolean, rows: DataFrame)

  /** What [[open]] returns on `target`, built from `base` plus the
    * `writes` that lead from base's snapshot to `target`, in commit
    * order — no pass over the target plan. Each write replays
    * [[MutationLog]]'s anti-join + union on the loaded copy: every row
    * whose `(shard_id, id)` is a key of the write is dropped (duplicate
    * rows included; null keys never match), then an upsert's rows are
    * appended (keys repeated inside one upsert all append). Kept rows
    * copy in runs. Each write collects with `limit(size + 1)`, a delete
    * only its keys.
    *
    * Only writes built from a local collection apply: their rows come
    * from the driver without a Spark job and are the rows the target
    * plan holds. Any other write would run its lineage again, which
    * costs a job and can give rows other than the ones the target plan
    * holds (a source rewritten since the write, a nondeterministic
    * expression), while `open` reads the target plan [[SearchService.warm]]
    * persisted.
    *
    * Returns Some(result), where result is None exactly when `open`
    * would give None for an empty or over-cap copy; None when the
    * delta cannot decide and the caller must run `open(target)`:
    * `base` has no shard codes, `idCol` is not `id`, the target's
    * embedding is not array<float>, a write is not a local collection,
    * a `shard_id` is not a string or an `id` not an integer type, a
    * write has more rows than the copy, or an upserted row has a null
    * id, a null embedding, a null element or the wrong dimension. Row
    * order differs from `open`'s, which no result sees: every ranking
    * is by (distance, id). */
  private[operators] def applyWrites(base: ServeLoop, writes: Seq[Write],
      target: DataFrame, idCol: String, embCol: String): Option[Option[ServeLoop]] = {
    def typeOf(df: DataFrame, name: String): Option[DataType] =
      df.schema.find(_.name == name).map(_.dataType)
    // the key types whose equality is the anti-join's
    def keyTypes(df: DataFrame): Boolean =
      typeOf(df, ShardCol).contains(StringType) &&
        typeOf(df, "id").exists(Seq(ByteType, ShortType, IntegerType, LongType).contains)
    def applicable(w: Write): Boolean =
      w.rows.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] && keyTypes(w.rows) &&
        (!w.upsert || typeOf(w.rows, embCol).exists(isFloatArray))
    if (!base.keyed || idCol != "id" || !keyTypes(target) ||
        !typeOf(target, embCol).exists(isFloatArray) || !writes.forall(applicable)) return None
    writes.foldLeft(Option(base))((cur, w) => cur.flatMap(_.applyWrite(w, embCol)))
      .map(cur => if (cur.size == 0 || cur.size > clampCap(maxRows)) None else Some(cur))
  }

  private val ShardCol = "shard_id"

  private def clampCap(cap: Int): Int = math.min(math.max(cap, 0), Int.MaxValue - 8)

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Collect a query's internal rows (see [[open]]); a plan over a local
    * collection answers from the driver without a job. */
  private def collectInternal(q: DataFrame): Array[InternalRow] = {
    val qe = q.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Copy one embedding into `flat` at `base`; false for a wrong
    * dimension or a null element (getFloat would read a null as 0). */
  private def copyEmbedding(emb: ArrayData, flat: Array[Float], base: Int, dim: Int): Boolean = {
    if (emb.numElements() != dim) return false
    var j = 0
    while (j < dim) {
      if (emb.isNullAt(j)) return false
      flat(base + j) = emb.getFloat(j)
      j += 1
    }
    true
  }

  /** Shard key → code, grown while a loop is built; -1 is null. */
  private final class ShardCodes(start: Map[UTF8String, Int]) {
    private val m = scala.collection.mutable.HashMap.from(start)
    def codeOf(row: InternalRow, i: Int): Int =
      if (row.isNullAt(i)) -1
      else {
        val key = row.getUTF8String(i)
        m.getOrElse(key, {
          val c = m.size
          m(key.clone()) = c // the key points into the row's bytes
          c
        })
      }
    /** The code of a key already known, -1 when unknown or null. */
    def known(row: InternalRow, i: Int): Int =
      if (row.isNullAt(i)) -1 else m.getOrElse(row.getUTF8String(i), -1)
    def result: Map[UTF8String, Int] = m.toMap
  }
}
