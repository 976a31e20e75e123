package graft

import graft.operators.{MutationLog, SearchService}

/** The reference's Search/Upsert/Delete lifecycle semantics end-to-end
  * (SURVEY.md §3.1/§3.2): cache hit flags, invalidate-on-mutation, k=0
  * gate, and read-your-writes after apply. */
class SearchServiceSpec extends SparkSpec {
  import spark.implicits._

  private def freshService = new SearchService(
    Seq((1L, "s0", Seq(0f, 0f)), (2L, "s0", Seq(1f, 0f)), (3L, "s1", Seq(2f, 2f)))
      .toDF("id", "shard_id", "embedding"))

  test("fromConfig wires cache settings from a node config (O-13)") {
    val cfg = graft.util.ConfigLoader.fromString(
      """cache {
        |  max_entries: 2
        |  default_ttl_seconds: 60
        |}""".stripMargin)
    val svc = SearchService.fromConfig(
      Seq((1L, "s0", Seq(0f, 0f)), (2L, "s0", Seq(1f, 0f)))
        .toDF("id", "shard_id", "embedding"), cfg)
    // LRU capacity 2: three distinct queries evict the oldest
    svc.search(Seq(0f, 0f), 1); svc.search(Seq(1f, 0f), 1); svc.search(Seq(2f, 0f), 1)
    assert(svc.cacheSize === 2)
    // default-on-absent parity: absent block → 1024 entries
    val dflt = graft.util.ConfigLoader.fromString("")
    assert(dflt.cache.maxEntries === 1024 && dflt.cache.ttlSeconds === 60)
  }

  test("second identical search is served from cache") {
    val svc = freshService
    val (h1, c1) = svc.search(Seq(0f, 0f), 2)
    val (h2, c2) = svc.search(Seq(0f, 0f), 2)
    assert(!c1 && c2)
    assert(h1 === h2)
    assert(h1.map(_.id) === Seq(1L, 2L))
  }

  test("k=0 returns empty and never caches") {
    val svc = freshService
    assert(svc.search(Seq(0f, 0f), 0)._1.isEmpty)
    assert(svc.cacheSize === 0)
  }

  test("different k is a different cache entry") {
    val svc = freshService
    svc.search(Seq(0f, 0f), 1)
    svc.search(Seq(0f, 0f), 2)
    assert(svc.cacheSize === 2)
  }

  test("STRONG read after mutation never sees a stale cache entry") {
    val svc = freshService
    svc.search(Seq(0f, 0f), 3)
    assert(svc.cacheSize === 1)
    // upsert a new nearest neighbor at the origin
    svc.upsert(Seq((9L, "s0", Seq(0f, 0.1f))).toDF("id", "shard_id", "embedding"))
    // snapshot-keyed cache: the old entry remains but is keyed to the
    // pre-mutation version — the STRONG read resolves to the new commit
    // index, misses, and recomputes (read-your-writes)
    val (hits, cached) = svc.search(Seq(0f, 0f), 2)
    assert(!cached)
    assert(hits.map(_.id) === Seq(1L, 9L))
  }

  test("EVENTUAL read after mutation may serve the warm previous version") {
    import graft.operators.MutationLog.{Eventual, Strong}
    val svc = freshService
    val (before, _) = svc.search(Seq(0f, 0f), 2) // materializes version 0
    assert(before.map(_.id) === Seq(1L, 2L))
    svc.upsert(Seq((9L, "s0", Seq(0f, 0.1f))).toDF("id", "shard_id", "embedding"))
    // version 1 exists but is not yet materialized by any read: an
    // EVENTUAL read resolves to the warm version 0 — and hits version
    // 0's own cache entry (stale by design, the level's contract)
    val (stale, fromCache) = svc.search(Seq(0f, 0f), 2, Eventual)
    assert(fromCache)
    assert(stale.map(_.id) === Seq(1L, 2L))
    // a STRONG read materializes version 1...
    val (fresh, _) = svc.search(Seq(0f, 0f), 2, Strong)
    assert(fresh.map(_.id) === Seq(1L, 9L))
    // ...after which EVENTUAL serves the freshest materialized version
    val (now, nowCached) = svc.search(Seq(0f, 0f), 2, Eventual)
    assert(nowCached)
    assert(now.map(_.id) === Seq(1L, 9L))
  }

  test("BOUNDED_STALENESS caps the lag; versions leaving retention flush their entries") {
    import graft.operators.MutationLog.BoundedStaleness
    val svc = freshService
    svc.search(Seq(0f, 0f), 2) // materialize version 0
    assert(svc.cacheSize === 1)
    // four mutations push commitIndex to 4; retention (maxSnapshots=4)
    // drops version 0 → its cache entries are flushed as unreachable
    (1 to 4).foreach { i =>
      svc.upsert(Seq((100L + i, "s0", Seq(5f + i, 5f))).toDF("id", "shard_id", "embedding"))
    }
    assert(svc.cacheSize === 0)
    // nothing recent is materialized: bounded read falls back to the
    // commit index (maxLag 1 admits only versions 3..4)
    val (hits, cached) = svc.search(Seq(0f, 0f), 2, BoundedStaleness(1))
    assert(!cached)
    assert(hits.map(_.id) === Seq(1L, 2L)) // 1,2 still nearest the origin
    assert(svc.currentCommitIndex === 4L)
  }

  test("batchSearch serves mixed-level batches on the leader, one scan per (snapshot, k)") {
    import graft.operators.MutationLog.{Eventual, Strong}
    import SearchService.BatchQuery
    val svc = freshService
    val got = svc.batchSearch(Seq(
      BatchQuery(Seq(0f, 0f), 2, Strong),
      BatchQuery(Seq(2f, 2f), 1, Eventual),
      BatchQuery(Seq(0f, 0f), 0, Strong))) // k=0 gate inside a batch
    val results = got.toOption.get
    assert(results.length === 3)
    assert(results(0)._1.map(_.id) === Seq(1L, 2L) && !results(0)._2)
    assert(results(1)._1.map(_.id) === Seq(3L) && !results(1)._2)
    assert(results(2)._1.isEmpty && !results(2)._2) // k=0: empty, uncached
    // batch members landed in the cache: re-batch is all cache hits
    val again = svc.batchSearch(Seq(
      BatchQuery(Seq(0f, 0f), 2, Strong),
      BatchQuery(Seq(2f, 2f), 1, Eventual))).toOption.get
    assert(again.forall(_._2))
    assert(again.map(_._1) === results.take(2).map(_._1))
    // and single-search sees the same entries (shared memo, same keying)
    val (single, fromCache) = svc.search(Seq(0f, 0f), 2)
    assert(fromCache && single.map(_.id) === Seq(1L, 2L))
  }

  test("follower rejects the WHOLE batch if any member demands STRONG (all-or-nothing)") {
    import graft.operators.MutationLog.{Eventual, Strong}
    import SearchService.BatchQuery
    val svc = freshService
    svc.search(Seq(0f, 0f), 2) // materialize v0 so relaxed reads could serve
    svc.setLeader(false)
    // one STRONG member poisons the batch — the EVENTUAL member that
    // would individually serve gets nothing (reference clears responses,
    // src/rpc/search_service_impl.cc:53-62)
    val rejected = svc.batchSearch(Seq(
      BatchQuery(Seq(2f, 2f), 1, Eventual),
      BatchQuery(Seq(0f, 0f), 2, Strong)))
    assert(rejected === Left(SearchService.NotLeader))
    // no partial service: the rejected batch cached nothing new
    assert(svc.cacheSize === 1)
    // an all-relaxed batch on the same follower serves fine
    val served = svc.batchSearch(Seq(
      BatchQuery(Seq(2f, 2f), 1, Eventual))).toOption.get
    assert(served.head._1.map(_.id) === Seq(3L))
    // single-read routing parity: STRONG rejected, relaxed served
    assert(svc.searchRouted(Seq(0f, 0f), 2, Strong) === Left(SearchService.NotLeader))
    assert(svc.searchRouted(Seq(0f, 0f), 2, Eventual).isRight)
    // back on the leader the same batch serves
    svc.setLeader(true)
    assert(svc.batchSearch(Seq(
      BatchQuery(Seq(0f, 0f), 2, Strong))).isRight)
  }

  test("a version leaving retention unpersists its warmed copy; reads keep their values") {
    import graft.operators.MutationLog.{BoundedStaleness, Eventual, Strong}
    val sc = spark.sparkContext
    val maxSnapshots = 4
    val rounds = maxSnapshots + 3
    def row(i: Int) = Seq((100L + i, "s0", Seq(0f, 1f / (i + 1))))
      .toDF("id", "shard_id", "embedding")
    def service = new SearchService(
      Seq((1L, "s0", Seq(0f, 2f)), (2L, "s0", Seq(1f, 0f)), (3L, "s1", Seq(2f, 2f)))
        .toDF("id", "shard_id", "embedding"), maxSnapshots = maxSnapshots)
    val warmedSvc = service
    // twin: same versions, materialized by reads instead of warm(), so
    // it persists nothing and every level resolves to the same version
    val twin = service
    val before = sc.getPersistentRDDs.size
    (1 to rounds).foreach { i =>
      warmedSvc.upsert(row(i)); warmedSvc.warm()
      twin.upsert(row(i)); twin.search(Seq(9f, 9f), 1)
    }
    assert(sc.getPersistentRDDs.size - before <= maxSnapshots)
    // one more version, neither warmed nor read: relaxed reads resolve
    // to the last warmed version, whose ancestors were unpersisted
    warmedSvc.upsert(row(rounds + 1)); twin.upsert(row(rounds + 1))
    val q = Seq(0f, 0f)
    // relaxed levels first: the STRONG read materializes the newest version
    for ((level, newest) <- Seq(Eventual -> rounds, BoundedStaleness(1) -> rounds,
        Strong -> (rounds + 1))) {
      val hits = warmedSvc.search(q, 3, level)._1
      assert(hits === twin.search(q, 3, level)._1, s"level=$level")
      assert(hits.map(_.id) === Seq(100L + newest, 100L + newest - 1, 100L + newest - 2),
        s"level=$level")
    }
    // a frame the caller cached before warm() stays cached when its
    // version leaves retention: only the service's own copies are freed
    val own = Seq((1L, "s0", Seq(0f, 2f))).toDF("id", "shard_id", "embedding").cache()
    own.count()
    val keeper = new SearchService(own, maxSnapshots = 2)
    keeper.warm()
    (1 to 3).foreach { i => keeper.upsert(row(i)); keeper.warm() }
    assert(own.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    own.unpersist()
  }

  test("batchSearch from the resident slot ≡ a service with no resident handle") {
    import graft.operators.MutationLog.{Eventual, Strong}
    import SearchService.BatchQuery
    val sc = spark.sparkContext
    // equidistant pairs (ids 2/4, 5/6) keep the tie-break load-bearing
    val rows = Seq((1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (4L, Seq(-1f, 0f)),
      (3L, Seq(2f, 2f)), (5L, Seq(0f, 3f)), (6L, Seq(0f, -3f)))
    def service = new SearchService(
      rows.map { case (id, e) => (id, "s0", e) }.toDF("id", "shard_id", "embedding"))
    def up(id: Long, e: Seq[Float]) = Seq((id, "s0", e)).toDF("id", "shard_id", "embedding")
    val queries = Seq(Seq(0f, 0f), Seq(0.5f, 0.5f), Seq(2f, 2f), Seq(0f, 1f), Seq(-3f, 0f))
    def batch(level: MutationLog.Consistency, k: Int) = queries.map(BatchQuery(_, k, level))
    /** Jobs batchSearch submitted for `reqs`, and its answers. */
    def run(svc: SearchService, reqs: Seq[BatchQuery]) = {
      val group = s"resident-spec-${System.nanoTime()}"
      sc.setJobGroup(group, group)
      try {
        val out = svc.batchSearch(reqs).toOption.get
        (sc.statusTracker.getJobIdsForGroup(group).length, out)
      } finally sc.clearJobGroup()
    }
    val plain = service
    val withSlot = service
    val handle = withSlot.residentServing()
    plain.upsert(up(7L, Seq(0.25f, 0f))); withSlot.upsert(up(7L, Seq(0.25f, 0f)))
    assert(handle.search(Seq(0.25f, 0f), 1).get.map(_.id) === Seq(7L)) // slot holds v1

    // all-STRONG misses at the slot's snapshot: served resident, no job
    val (jobs, strong) = run(withSlot, batch(Strong, 3))
    assert(jobs === 0)
    assert(strong === run(plain, batch(Strong, 3))._2)
    // mixed batch: STRONG resolves to the slot's v2; EVENTUAL to v1, the
    // newest version a read materialized, which has no resident copy
    plain.upsert(up(8L, Seq(5f, 5f))); withSlot.upsert(up(8L, Seq(5f, 5f)))
    handle.refresh() // slot holds v2, which no read has materialized
    val mixed = batch(Strong, 2) ++ batch(Eventual, 4)
    val (mixedJobs, got) = run(withSlot, mixed)
    assert(mixedJobs > 0) // the EVENTUAL group went to Spark
    assert(got === run(plain, mixed)._2)
    assert(got.drop(queries.size).head._1.map(_.id) === Seq(1L, 7L, 2L, 4L)) // v1

    // right after an upsert, before the handle reopens: STRONG resolves
    // to v3 and must not be served from the v2 slot
    plain.upsert(up(9L, Seq(0f, 0.1f))); withSlot.upsert(up(9L, Seq(0f, 0.1f)))
    assert(handle.snapshot === 2L)
    val (_, fresh) = run(withSlot, batch(Strong, 5))
    assert(fresh === run(plain, batch(Strong, 5))._2)
    assert(fresh.head._1.map(_.id).take(2) === Seq(1L, 9L))

    // above a lowered residency cap: the Spark path serves
    handle.refresh() // slot holds v3, loaded under the default cap
    sys.props("graft.serveLoopMaxRows") = "4"
    try {
      val (capJobs, capped) = run(withSlot, batch(Strong, 6))
      assert(capJobs > 0)
      assert(capped === run(plain, batch(Strong, 6))._2)
      // a handle opened under the lowered cap holds no loop at all
      val over = service
      val overHandle = over.residentServing()
      assert(overHandle.search(Seq(0f, 0f), 1).isEmpty)
      val (overJobs, overGot) = run(over, batch(Strong, 6))
      assert(overJobs > 0)
      assert(overGot === run(service, batch(Strong, 6))._2)
    } finally sys.props -= "graft.serveLoopMaxRows"
  }

  test("delete removes from results after invalidation") {
    val svc = freshService
    svc.delete(Seq((1L, "s0")).toDF("id", "shard_id"))
    val (hits, _) = svc.search(Seq(0f, 0f), 3)
    assert(!hits.map(_.id).contains(1L))
  }

  test("upsert replaces the existing vector for the same (shard, id)") {
    val svc = freshService
    svc.upsert(Seq((2L, "s0", Seq(9f, 9f))).toDF("id", "shard_id", "embedding"))
    val (hits, _) = svc.search(Seq(9f, 9f), 1)
    assert(hits.head.id === 2L)
    assert(svc.current.count() === 3) // replaced, not duplicated
  }
}
