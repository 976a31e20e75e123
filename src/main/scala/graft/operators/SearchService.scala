package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.TypedApi.ScoredPoint

/** The reference's read/write lifecycle as one object — the batch-engine
  * form of `ShardManager` + `SearchServiceImpl` (SURVEY.md §3):
  *
  *   search:  k=0 gate → consistency gate (snapshot selection) → cache
  *            lookup → exact scan + top-k merge → cache insert
  *            (`src/index/shard_manager.cc:30-55`; consistency gate
  *            `src/rpc/search_service_impl.cc:26-31`)
  *   mutate:  apply upserts/deletes → advance the commit index, retain
  *            the previous version for stale reads
  *            (`src/index/shard_manager.cc:80-103`)
  *   warm:    materialize the current version (`:105-119`)
  *
  * CONSISTENCY (O-12): every read takes a [[MutationLog.Consistency]]
  * level. STRONG resolves to the current commit index; BOUNDED/EVENTUAL
  * may resolve to an older RETAINED version that has already been
  * materialized by a previous read — the serving-system reality the
  * levels model: after an apply, warm replicas still hold the previous
  * version, and relaxed reads keep being served from it until the new
  * version is loaded. Up to `maxSnapshots` versions are retained.
  *
  * CACHE: entries are keyed on the actual (query, k, resolved snapshot)
  * — no digest collisions (the reference bug,
  * `src/cache/query_cache.cc:76-87`, is fixed, not ported), and no
  * cross-version staleness: a STRONG read after apply resolves to the
  * new commit index and cannot match any entry computed from an older
  * version (key separation — strictly stronger than the reference's
  * blunt flush-on-apply, whose cache is version-oblivious and has no
  * other way to stay correct). An EVENTUAL read that legitimately
  * serves an older version hits that version's own entries. Entries of
  * a version that leaves retention are flushed (scoped O-7), and its
  * warmed copy, if [[warm]] made one, is unpersisted.
  *
  * RESIDENT SLOT: the service owns one driver-resident copy, the
  * (snapshot, [[ServeLoop]]) most recently opened for it. Every
  * [[ResidentServing]] handle takes its loop from the slot, so a handle
  * and the service share one copy, and [[batchSearch]] answers the
  * cache misses of a snapshot the slot holds in-process. Next to each
  * retained version the service records the write that produced it,
  * so a copy advances by applying the writes since its snapshot to the
  * loaded rows — the reference's in-place shard update
  * (`src/index/shard_manager.cc:80-103`) — instead of collecting the
  * new version again ([[residentFor]]).
  */
final class SearchService(
    initial: DataFrame,
    cacheMaxEntries: Int = 1024,
    cacheTtlMillis: Long = 60000L,
    idCol: String = "id",
    embCol: String = "embedding",
    maxSnapshots: Int = 4) {

  import MutationLog.{Consistency, Strong}
  import SearchService.BatchQuery

  // the current version must stay retained: 0 would evict it on the first write
  require(maxSnapshots >= 1, s"maxSnapshots must be >= 1, got $maxSnapshots")

  private val memo = new QueryMemo[Seq[ScoredPoint]](cacheMaxEntries, cacheTtlMillis)
  // Raft-role flag: the reference gates STRONG reads on leadership
  // (`src/rpc/search_service_impl.cc:10-12,28-31`); the batch engine has
  // no control plane (O-10/O-11 out of scope), so the ROLE is a flag and
  // the ROUTING semantics are what's preserved (and tested).
  @volatile private var leader: Boolean = true
  // retained versions: commit index → state plan (current always present)
  private val snapshots = scala.collection.mutable.TreeMap[Long, DataFrame](0L -> initial)
  // the write that produced each retained version after the first,
  // pruned with its version: what residentFor applies to a loaded copy
  private val writes = scala.collection.mutable.TreeMap[Long, ServeLoop.Write]()
  // versions a read has materialized (what relaxed reads may serve);
  // the initial load counts — it IS the warm copy at startup
  private val materialized = scala.collection.mutable.TreeSet[Long](0L)
  private var commitIndex: Long = 0L
  // versions whose retained plan is the copy warm() persisted
  private val warmed = scala.collection.mutable.Set[Long]()
  // the resident slot (class scaladoc); read without a lock by
  // batchSearch, replaced under slotLock so concurrent opens fold
  @volatile private var slot: SearchService.Resident = _
  private val slotLock = new Object

  /** Exact top-k with memoization under a consistency level.
    * Returns (hits, servedFromCache). */
  def search(query: Seq[Float], k: Int,
      level: Consistency = Strong): (Seq[ScoredPoint], Boolean) = {
    if (k <= 0) return (Nil, false) // k=0 short-circuit, reference parity
    val (snap, state) = synchronized {
      val s = MutationLog.snapshotIndex(commitIndex,
        materialized.toSeq.filter(snapshots.contains), level)
      (s, snapshots(s))
    }
    memo.lookup(query, k, snap) match {
      case Some(hits) => (hits, true)
      case None =>
        val hits = Knn.topK(state, query, k, idCol, embCol)
          .collect()
          .map(r => ScoredPoint(r.getLong(0), r.getDouble(1), ""))
          .toSeq
        // guard: snap may have left retention while the scan ran, and a
        // re-added evicted index is a dead entry advance() never prunes
        synchronized { if (snapshots.contains(snap)) materialized += snap }
        memo.insert(query, k, hits, snap)
        (hits, false)
    }
  }

  /** Role transitions (no control plane here — tests/operators drive
    * them; the reference's Raft does, `src/raft/raft_state.cc`). */
  def setLeader(isLeader: Boolean): Unit = { leader = isLeader }
  def isLeader: Boolean = leader

  /** Single-read routing parity: a STRONG read on a follower is
    * rejected (`Search`, `src/rpc/search_service_impl.cc:28-31` —
    * FAILED_PRECONDITION + leader hint; the hint is the message here).
    * Relaxed reads serve locally. [[search]] stays the leader-local
    * form. */
  def searchRouted(query: Seq[Float], k: Int,
      level: Consistency = Strong): Either[String, (Seq[ScoredPoint], Boolean)] =
    if (!leader && level == Strong) Left(SearchService.NotLeader)
    else Right(search(query, k, level))

  /** Batch read with the reference's ALL-OR-NOTHING consistency gate
    * (`BatchSearch`, `src/rpc/search_service_impl.cc:53-62`): on a
    * follower, if ANY member demands STRONG the ENTIRE batch is
    * rejected — members that would individually be serveable get
    * nothing (the reference clears the response list). On the leader
    * every level serves.
    *
    * Execution: after per-member cache lookups, the misses are grouped
    * by (resolved snapshot, k), and each group runs as ONE pass over
    * that snapshot:
    *  - RESIDENT when the service's resident slot holds the group's
    *    snapshot (a [[ResidentServing]] handle opened it) and the copy
    *    is within `graft.serveLoopMaxRows`: one [[ServeLoop.searchBatch]]
    *    call, in-process like the reference's loaded-shard loop
    *    (`src/index/shard_manager.cc:61-78`) — no Spark job;
    *  - SPARK otherwise — nothing is loaded for that snapshot (e.g. a
    *    relaxed read resolving to an older version than the slot's), or
    *    the snapshot is above the residency cap: one
    *    [[Knn.batchTopKChunked]] pass, where the batch is data and
    *    arbitrary widths stay broadcast-sized.
    * Both give the same values. batchSearch never opens a resident copy
    * itself. Returns per-member (hits, servedFromCache) in request
    * order. */
  def batchSearch(requests: Seq[BatchQuery])
      : Either[String, Seq[(Seq[ScoredPoint], Boolean)]] = {
    if (!leader && requests.exists(_.level == Strong))
      return Left(SearchService.NotLeader)
    // one lock: the whole batch resolves against a consistent view of
    // the retention/materialization state — INCLUDING the state plans
    // (re-reading snapshots(s) later would race a concurrent apply that
    // evicts s from retention mid-batch)
    val resolved = synchronized {
      val avail = materialized.toSeq.filter(snapshots.contains)
      requests.map { r =>
        val s = MutationLog.snapshotIndex(commitIndex, avail, r.level)
        (r, s, snapshots.get(s))
      }
    }
    val cached: Seq[Option[Seq[ScoredPoint]]] = resolved.map { case (r, s, _) =>
      if (r.k <= 0) Some(Nil) else memo.lookup(r.query, r.k, s)
    }
    val missIdx = resolved.indices.filter(i =>
      cached(i).isEmpty && resolved(i)._1.k > 0)
    val computed = scala.collection.mutable.Map[Int, Seq[ScoredPoint]]()
    missIdx.groupBy(i => (resolved(i)._2, resolved(i)._1.k)).foreach {
      case ((snap, k), idxs) =>
        val queries = idxs.map(i => resolved(i)._1.query)
        val res = slot
        // an off-dimension query keeps the distributed semantics
        val resident = if (res == null || res.snap != snap) None
          else res.loop.filter(l => l.size <= ServeLoop.maxRows &&
            queries.forall(_.length == l.dim))
        val hitsPerMember: Seq[Seq[ScoredPoint]] = resident match {
          case Some(loop) => loop.searchBatch(queries, k)
          case None =>
            // STRONG resolves to the commit index, which is always
            // retained at resolution time, so the plan was captured above
            val state = resolved(idxs.head)._3.getOrElse(
              sys.error(s"snapshot $snap not retained"))
            val sp = state.sparkSession
            import sp.implicits._
            val qdf = queries.zipWithIndex.map { case (q, j) => (j.toLong, q) }
              .toDF("query_id", "qvec")
            // the batch came from a local collection — its width is known,
            // so batchTopKChunked skips the count job AND the localCheckpoint
            val byQuery = Knn.batchTopKChunked(state, qdf, k, idCol = idCol,
              embCol = embCol, knownWidth = Some(idxs.size.toLong))
              .orderBy("query_id", "rank").collect()
              .map(r => (r.getLong(0).toInt, ScoredPoint(r.getLong(1), r.getDouble(2), "")))
              .groupBy(_._1).map { case (j, rows) => (j, rows.map(_._2).toSeq) }
            queries.indices.map(j => byQuery.getOrElse(j, Nil))
        }
        idxs.zip(hitsPerMember).foreach { case (i, hits) =>
          computed(i) = hits
          memo.insert(resolved(i)._1.query, k, hits, snap)
        }
        // only mark still-retained versions: re-adding an evicted index
        // would leave a dead entry advance() never prunes again
        synchronized { if (snapshots.contains(snap)) materialized += snap }
    }
    Right(resolved.indices.map { i =>
      cached(i) match {
        case Some(hits) => (hits, resolved(i)._1.k > 0)
        case None => (computed(i), false)
      }
    })
  }

  /** Upsert batch (delete-then-insert per key); advances the commit
    * index and retains the previous version for relaxed reads. */
  def upsert(updates: DataFrame): Unit = synchronized {
    advance(MutationLog.applyUpserts(snapshots(commitIndex), updates),
      ServeLoop.Write(upsert = true, updates))
  }

  /** Delete batch; same version bookkeeping as [[upsert]]. */
  def delete(deletes: DataFrame): Unit = synchronized {
    advance(MutationLog.applyDeletes(snapshots(commitIndex), deletes),
      ServeLoop.Write(upsert = false, deletes))
  }

  private def advance(next: DataFrame, write: ServeLoop.Write): Unit = {
    commitIndex += 1
    snapshots(commitIndex) = next
    writes(commitIndex) = write
    while (snapshots.size > maxSnapshots) {
      val oldest = snapshots.firstKey
      val plan = snapshots.remove(oldest).get
      writes -= oldest
      materialized -= oldest
      memo.invalidateSnapshot(oldest) // entries are unreachable now
      // free the copy warm() persisted; later versions' own warmed copies
      // are already loaded and stay cached
      if (warmed.remove(oldest)) graft.sources.VectorStore.invalidate(plan)
    }
  }

  /** O-8 warm: pin the current version in executor memory. */
  def warm(): Unit = synchronized {
    val plan = snapshots(commitIndex)
    // a plan cached before warm() saw it is its owner's to unpersist
    if (plan.storageLevel == StorageLevel.NONE) warmed += commitIndex
    snapshots(commitIndex) = graft.sources.VectorStore.warm(plan)
    materialized += commitIndex
  }

  /** O-7 operational flush of the whole cache (reference's
    * invalidate-on-apply surface; correctness never depends on it —
    * see the class scaladoc). */
  def invalidateCache(): Unit = memo.invalidate()

  def cacheSize: Int = memo.size
  def current: DataFrame = synchronized { snapshots(commitIndex) }
  def currentCommitIndex: Long = synchronized { commitIndex }

  /** The snapshot index a read at `level` resolves to RIGHT NOW — a
    * driver-side metadata read (one lock, no job). [[ResidentServing]]
    * polls this per lookup to decide whether its loaded loop is the
    * version the level demands. */
  private[graft] def resolvedSnapshot(level: Consistency): Long =
    synchronized {
      MutationLog.snapshotIndex(commitIndex,
        materialized.toSeq.filter(snapshots.contains), level)
    }

  /** [[resolvedSnapshot]] plus the resolved state plan, one lock. */
  private[graft] def resolvedState(level: Consistency): (Long, DataFrame) =
    synchronized {
      val s = MutationLog.snapshotIndex(commitIndex,
        materialized.toSeq.filter(snapshots.contains), level)
      (s, snapshots(s))
    }

  /** The resident copy of the snapshot a read at `level` resolves to:
    * `held` (the caller's current copy) when it is that snapshot, else
    * the slot's, else a new copy that replaces the slot. The new copy
    * is built from the newer of `held` and the slot when its snapshot
    * is older than the target and every write in between is still
    * recorded: [[ServeLoop.applyWrites]] applies them in order to the
    * loaded rows without a Spark job. Only writes built from a local
    * collection apply this way; running the lineage of any other write
    * again could give rows other than the warmed snapshot's. It falls
    * back to a full [[ServeLoop.open]] of the target plan when no such
    * copy exists (a write was pruned, the target is older than the
    * copies) or the delta cannot decide (a write that is not a local
    * collection, and the other cases applyWrites lists); both give the
    * same copy up to row order. Resolves under ONE
    * service lock: a second resolution lets a concurrent [[warm]] take
    * the lock in between, which moves the reopen behind the warm from
    * one write to the next. Serialized: concurrent handles wanting the
    * same snapshot share one reopen and one copy. Lookups never wait on
    * it; [[batchSearch]] reads the slot without the lock. */
  private[operators] def residentFor(level: Consistency,
      held: SearchService.Resident): SearchService.Resident =
    slotLock.synchronized {
      val cur = slot
      val (snap, state, from) = synchronized {
        val s = MutationLog.snapshotIndex(commitIndex,
          materialized.toSeq.filter(snapshots.contains), level)
        val base = Seq(held, cur)
          .filter(r => r != null && r.snap < s && r.loop.exists(_.keyed))
          .maxByOption(_.snap)
          .filter(r => (r.snap + 1 to s).forall(writes.contains))
        (s, snapshots(s), base.map(b => (b.loop.get, (b.snap + 1 to s).map(writes))))
      }
      if (held != null && held.snap == snap) held
      else if (cur != null && cur.snap == snap) cur
      else {
        val loop = from
          .flatMap { case (b, ws) => ServeLoop.applyWrites(b, ws, state, idCol, embCol) }
          .getOrElse(ServeLoop.open(state, idCol, embCol))
        val next = new SearchService.Resident(snap, loop)
        slot = next
        next
      }
    }

  /** Open a driver-RESIDENT serve loop over the snapshot a read at
    * `level` would serve (the reference's loaded-shard model —
    * [[ServeLoop]] scaladoc): results are value-identical to [[search]]
    * against the same snapshot, latency is in-process instead of
    * one-Spark-job-per-query. None above the residency cap — callers
    * keep serving through [[search]], which handles any corpus size.
    * The loop is a point-in-time resident copy: mutations applied
    * after `residentLoop` returns are served by a REOPENED loop (the
    * reference reloads shards the same way — or use [[residentServing]]
    * for the self-reopening handle). The loop is its own copy, not the
    * resident slot the handles share, so [[batchSearch]] does not use it. */
  def residentLoop(level: Consistency = Strong): Option[ServeLoop] =
    ServeLoop.open(resolvedState(level)._2, idCol, embCol)

  /** The O-7 analog for the resident tier (VERDICT r17 next #2): a
    * long-lived serving handle that tracks the commit watermark the
    * way the reference invalidates its loaded state on every applied
    * mutation (`src/index/shard_manager.cc:90,99-101`) — a bare
    * [[residentLoop]] serves its open-time snapshot forever; this
    * handle checks the resolved snapshot index per lookup (a
    * driver-side metadata read, not a job) and REOPENS when it
    * advances — by applying the writes since its snapshot to the copy
    * it holds, as the reference updates its loaded shards, with a full
    * open as the fallback ([[residentFor]]). STRONG tracks the
    * watermark on every lookup; EVENTUAL /
    * BOUNDED may keep serving the loaded version for up to
    * `stalenessMillis` between checks (the warm-replica lag the levels
    * model). The handle's loop is the service's resident slot, so
    * [[batchSearch]] serves that snapshot's misses from the same copy. */
  def residentServing(level: Consistency = Strong,
      stalenessMillis: Long = 0L): ResidentServing =
    new ResidentServing(this, level, stalenessMillis)
}

/** Self-reopening resident serve handle — see
  * [[SearchService.residentServing]]. Values are ≡
  * [[SearchService.search]] at the same snapshot throughout
  * (SearchServiceSpec pins mutate → STRONG resident read serves
  * post-mutation state with no caller-side reopen; EVENTUAL may serve
  * the old snapshot until its staleness window lapses or [[refresh]]).
  * A reopen builds the new copy from the held one plus the recorded
  * writes in between, so a write from a local collection becomes
  * visible without a Spark job; a write built from a Spark query takes
  * a full reopen, which reads the warmed snapshot rather than running
  * the write's lineage again. SearchServiceSpec pins both ≡ a fresh
  * [[SearchService.residentLoop]] and ≡ [[SearchService.search]].
  * Thread-safe: reopen is serialized, lookups race it benignly (they
  * serve either the old or the new loop — both are valid serves of
  * their own snapshot; STRONG lookups re-check before every scan). */
final class ResidentServing private[operators] (
    svc: SearchService,
    level: MutationLog.Consistency,
    stalenessMillis: Long) {

  @volatile private var cur: SearchService.Resident = _
  @volatile private var lastCheckNanos: Long = _
  refresh()

  /** Force re-resolution and (if the resolved snapshot advanced)
    * reopen now, through the service's resident slot. Synchronized:
    * concurrent stale lookups fold into ONE reopen — the second caller
    * re-reads the already-updated state. */
  def refresh(): Unit = synchronized {
    cur = svc.residentFor(level, cur)
    lastCheckNanos = System.nanoTime()
  }

  /** The snapshot index currently loaded (spec observability). */
  def snapshot: Long = cur.snap

  /** Resident exact top-k at this handle's consistency level; None
    * when the resolved snapshot exceeds the residency cap — the caller
    * serves that query through [[SearchService.search]], which answers
    * any corpus size at the same level. */
  def search(query: Seq[Float], k: Int): Option[Seq[graft.TypedApi.ScoredPoint]] = {
    val mustCheck = level == MutationLog.Strong ||
      (System.nanoTime() - lastCheckNanos) / 1000000L >= stalenessMillis
    if (mustCheck) {
      if (svc.resolvedSnapshot(level) != cur.snap) refresh()
      else lastCheckNanos = System.nanoTime()
    }
    cur.loop.map(_.search(query, k))
  }
}

object SearchService {
  /** One resident copy: the snapshot index and its loop (None above the
    * residency cap or for a degenerate snapshot — see [[ServeLoop.open]]). */
  private[operators] final class Resident(val snap: Long, val loop: Option[ServeLoop])

  /** One member of a [[SearchService.batchSearch]] batch; STRONG default
    * mirrors the proto's zero value (`proto/search.proto:8-12`). */
  final case class BatchQuery(query: Seq[Float], k: Int,
      level: MutationLog.Consistency = MutationLog.Strong)

  /** The reference's rejection message, `src/rpc/search_service_impl.cc:59`. */
  val NotLeader = "Leader routing required for strong consistency"

  /** O-13: build from a typed node config (file-based, default-on-absent
    * — see [[graft.util.ConfigLoader]]). The reference wires
    * `NodeRuntimeConfig.cache` into its query cache the same way
    * (`src/server/main.cc` → `ShardManager`). */
  def fromConfig(initial: DataFrame, cfg: graft.util.NodeRuntimeConfig,
      idCol: String = "id", embCol: String = "embedding"): SearchService =
    new SearchService(initial, cfg.cache.maxEntries,
      cfg.cache.ttlSeconds * 1000L, idCol, embCol)
}
