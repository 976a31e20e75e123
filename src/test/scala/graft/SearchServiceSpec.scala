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

  /** Spark jobs `body` submitted on this thread, and its value. */
  private def jobsOf[A](body: => A): (Int, A) = {
    val sc = spark.sparkContext
    val group = s"search-spec-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try {
      val out = body
      (sc.statusTracker.getJobIdsForGroup(group).length, out)
    } finally sc.clearJobGroup()
  }

  test("batchSearch from the resident slot ≡ a service with no resident handle") {
    import graft.operators.MutationLog.{Eventual, Strong}
    import SearchService.BatchQuery
    // equidistant pairs (ids 2/4, 5/6) keep the tie-break load-bearing
    val rows = Seq((1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (4L, Seq(-1f, 0f)),
      (3L, Seq(2f, 2f)), (5L, Seq(0f, 3f)), (6L, Seq(0f, -3f)))
    def service = new SearchService(
      rows.map { case (id, e) => (id, "s0", e) }.toDF("id", "shard_id", "embedding"))
    def up(id: Long, e: Seq[Float]) = Seq((id, "s0", e)).toDF("id", "shard_id", "embedding")
    val queries = Seq(Seq(0f, 0f), Seq(0.5f, 0.5f), Seq(2f, 2f), Seq(0f, 1f), Seq(-3f, 0f))
    def batch(level: MutationLog.Consistency, k: Int) = queries.map(BatchQuery(_, k, level))
    /** Jobs batchSearch submitted for `reqs`, and its answers. */
    def run(svc: SearchService, reqs: Seq[BatchQuery]) = jobsOf(svc.batchSearch(reqs).toOption.get)
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

  private def rowsDF(rows: (Long, String, Seq[Float])*) = rows.toDF("id", "shard_id", "embedding")
  private def keysDF(keys: (Long, String)*) = keys.toDF("id", "shard_id")

  test("a resident copy advanced by write deltas ≡ a fresh open ≡ the Spark path at every version") {
    import graft.operators.MutationLog.{Eventual, Strong}
    import SearchService.BatchQuery
    val base = rowsDF((1L, "s0", Seq(0f, 0f)), (2L, "s0", Seq(1f, 0f)), (3L, "s1", Seq(2f, 2f)),
      (4L, "s1", Seq(-1f, 0f)), (5L, "s0", Seq(0f, 3f)), (6L, null, Seq(0f, -3f)))
    val svc = new SearchService(base)
    val handle = svc.residentServing(Strong)
    // twin with the same writes, materialized only by warm(): its
    // EVENTUAL handle lags, then catches up over several writes at once
    val twin = new SearchService(base)
    val eventual = twin.residentServing(Eventual)
    val queries = Seq(Seq(0f, 0f), Seq(1f, 1f), Seq(2f, 2f), Seq(-1f, 0.5f))
    val k = 20 // above the corpus size: whole rankings are compared
    def upsert(rows: (Long, String, Seq[Float])*): Unit = {
      svc.upsert(rowsDF(rows: _*)); twin.upsert(rowsDF(rows: _*))
    }
    def delete(keys: (Long, String)*): Unit = {
      svc.delete(keysDF(keys: _*)); twin.delete(keysDF(keys: _*))
    }
    /** The STRONG handle's answers at the current version. */
    def check(label: String): Seq[graft.TypedApi.ScoredPoint] = {
      val (jobs, got) = jobsOf(queries.map(q => handle.search(q, k).get))
      assert(jobs === 0, s"$label: the reopen ran a Spark job")
      assert(handle.snapshot === svc.currentCommitIndex, label)
      // a full open of a written version needs a job (v0 is a local
      // collection and opens without one)
      val (openJobs, fresh) = jobsOf(svc.residentLoop().get)
      assert(openJobs > 0 || svc.currentCommitIndex == 0, label)
      queries.zip(got).foreach { case (q, hits) =>
        assert(hits === fresh.search(q, k), s"$label q=$q")
        assert(hits === svc.search(q, k)._1, s"$label q=$q (Spark path)")
      }
      got.head
    }
    def checkEventual(label: String): Unit = {
      twin.warm()
      val (jobs, got) = jobsOf(queries.map(q => eventual.search(q, k).get))
      assert(jobs === 0, s"$label: the reopen ran a Spark job")
      assert(eventual.snapshot === twin.currentCommitIndex, label)
      val fresh = twin.residentLoop(Eventual).get
      queries.zip(got).foreach { case (q, hits) => assert(hits === fresh.search(q, k), s"$label q=$q") }
    }
    check("v0")
    upsert((2L, "s0", Seq(0.5f, 0f))) // re-upsert an existing key
    assert(check("re-upsert").count(_.id == 2L) === 1)
    upsert((3L, "s0", Seq(0f, 1f))) // same id, other shard: both survive
    assert(check("other shard").count(_.id == 3L) === 2)
    checkEventual("eventual v0 → v2")
    delete((99L, "s1"), (2L, "s1")) // keys that match no row
    assert(check("missing keys").size === 7)
    // a key repeated inside one upsert appends every row; a null shard
    // key is appended but never matches
    upsert((10L, "s1", Seq(1f, 1f)), (10L, "s1", Seq(1f, 2f)), (11L, null, Seq(3f, 3f)))
    assert(check("repeated key").count(_.id == 10L) === 2)
    // two writes between lookups: the handle applies a chain of deltas
    delete((10L, "s1"), (6L, null), (11L, null))
    upsert((1L, "s0", Seq(4f, 4f)), (12L, "s1", Seq(0.1f, 0.1f)))
    val last = check("chain")
    assert(last.count(_.id == 10L) === 0) // both duplicates removed
    assert(last.count(_.id == 6L) === 1 && last.count(_.id == 11L) === 1) // null keys kept
    checkEventual("eventual v2 → v6")
    // batchSearch misses served from the delta-built slot, no job
    val batchK = 4 // not cached by check()
    val (jobs, batch) = jobsOf(svc.batchSearch(queries.map(BatchQuery(_, batchK, Strong))).toOption.get)
    assert(jobs === 0)
    val fresh = svc.residentLoop().get
    assert(batch.map(_._1) === queries.map(fresh.search(_, batchK)))
  }

  test("seeded random writes: the delta-built copy ≡ a fresh open after each write") {
    val rnd = new scala.util.Random(17)
    def vec() = Seq(rnd.nextInt(5).toFloat, rnd.nextInt(5).toFloat)
    def key() = (rnd.nextInt(6).toLong, Seq("s0", "s1", null)(rnd.nextInt(3)))
    val svc = new SearchService(rowsDF((0 until 8).map(i => (i.toLong, s"s${i % 2}", vec())): _*))
    val handle = svc.residentServing()
    for (step <- 1 to 12) {
      if (rnd.nextBoolean()) svc.upsert(rowsDF(Seq.fill(1 + rnd.nextInt(3)) {
        val (id, shard) = key(); (id, shard, vec())
      }: _*))
      else svc.delete(keysDF(Seq.fill(1 + rnd.nextInt(3))(key()): _*))
      if (step % 4 == 0) svc.warm() // keeps the plan chain short
      val q = vec()
      assert(handle.search(q, 50) === svc.residentLoop().map(_.search(q, 50)), s"step $step")
    }
  }

  test("writes a loaded copy cannot take fall back to a full open with the same result") {
    val base = rowsDF((1L, "s0", Seq(0f, 0f)), (2L, "s0", Seq(1f, 0f)), (3L, "s1", Seq(2f, 2f)))
    val q = Seq(0f, 0f)
    /** The handle's answer after `write`, next to a full open's. */
    def after(write: SearchService => Unit, svc: SearchService = new SearchService(base)) = {
      val handle = svc.residentServing()
      write(svc)
      (handle.search(q, 10), svc.residentLoop().map(_.search(q, 10)))
    }
    // updates the resident path cannot load: None, as open gives
    val nullElement = spark.sql("SELECT CAST(7 AS BIGINT) AS id, 's0' AS shard_id, " +
      "array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS embedding")
    for ((label, up) <- Seq(
        "null embedding" -> rowsDF((7L, "s0", null)),
        "null element" -> nullElement,
        "wrong dimension" -> rowsDF((7L, "s0", Seq(1f, 2f, 3f))),
        "array<double>" -> Seq((7L, "s0", Seq(1.0, 2.0))).toDF("id", "shard_id", "embedding"))) {
      assert(after(_.upsert(up)) === (None, None), label)
    }
    // a delete that empties the corpus; a later upsert loads again
    val emptied = new SearchService(base)
    assert(after(_.delete(keysDF((1L, "s0"), (2L, "s0"), (3L, "s1"))), emptied) === (None, None))
    val refilled = after(_.upsert(rowsDF((9L, "s1", Seq(1f, 1f)))), emptied)
    assert(refilled._1.get.map(_.id) === Seq(9L) && refilled._1 === refilled._2)
    // an upsert that pushes the copy past the residency cap
    sys.props("graft.serveLoopMaxRows") = "3"
    try assert(after(_.upsert(rowsDF((8L, "s0", Seq(5f, 5f))))) === (None, None))
    finally sys.props -= "graft.serveLoopMaxRows"
    // more writes than maxSnapshots: the first delta was pruned, so the
    // handle reopens with a full open of the target plan (a Spark job)
    val pruned = new SearchService(base, maxSnapshots = 2)
    val handle = pruned.residentServing()
    (1 to 3).foreach(i => pruned.upsert(rowsDF((20L + i, "s0", Seq(0f, 0.1f * i)))))
    val (jobs, hits) = jobsOf(handle.search(q, 10))
    assert(jobs > 0)
    assert(hits === pruned.residentLoop().map(_.search(q, 10)))
    assert(hits.get.map(_.id).take(4) === Seq(1L, 21L, 22L, 23L))
    // a write built from a Spark query: the reopen reads the snapshot
    // warm() persisted and does not run the write's lineage again, whose
    // embedding here changes on every run
    val queried = new SearchService(base)
    val queriedHandle = queried.residentServing()
    queried.upsert(spark.range(1).select(org.apache.spark.sql.functions.lit(7L).as("id"),
      org.apache.spark.sql.functions.lit("s0").as("shard_id"), LineageRuns.embedding().as("embedding")))
    queried.warm()
    val runs = LineageRuns.n.get
    val served = queriedHandle.search(q, 10)
    assert(LineageRuns.n.get === runs)
    assert(served.get === queried.search(q, 10)._1)
    assert(served === queried.residentLoop().map(_.search(q, 10)))
    assert(served.get.count(_.id == 7L) === 1)
  }

  test("maxSnapshots must keep the current version") {
    val e = intercept[IllegalArgumentException](new SearchService(
      rowsDF((1L, "s0", Seq(0f, 0f))), maxSnapshots = 0))
    assert(e.getMessage.contains("maxSnapshots"))
    // 1 retains only the current version: reads after writes still serve
    val one = new SearchService(rowsDF((1L, "s0", Seq(0f, 0f))), maxSnapshots = 1)
    one.upsert(rowsDF((2L, "s0", Seq(0f, 0.5f))))
    one.delete(keysDF((1L, "s0")))
    assert(one.search(Seq(0f, 0f), 2)._1.map(_.id) === Seq(2L))
    assert(one.residentServing().search(Seq(0f, 0f), 2).get.map(_.id) === Seq(2L))
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

/** Counts the runs of a write's lineage: `embedding` is a different
  * vector on every evaluation. */
private object LineageRuns {
  val n = new java.util.concurrent.atomic.AtomicInteger
  val embedding = org.apache.spark.sql.functions.udf { () =>
    Seq(n.incrementAndGet().toFloat, 0f)
  }.asNondeterministic()
}
