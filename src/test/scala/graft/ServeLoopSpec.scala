package graft

import graft.operators.{SearchService, ServeLoop}

/** The resident serve loop ≡ the job-dispatch serving path
  * (VERDICT r16 next #2's "done" condition): same snapshot, same
  * values, same tie order, under every edge the distributed path
  * defines — plus the residency-cap fallback and concurrent-caller
  * identity. */
class ServeLoopSpec extends SparkSpec {
  import spark.implicits._

  // deliberate tie structure: ids 11/12 are EQUIDISTANT from the probe
  // queries below (mirror points), so (distance, id) ordering is load-
  // bearing, not incidental; id 40 duplicates id 30's vector exactly.
  private def corpus = Seq(
    (10L, Seq(0f, 0f)), (11L, Seq(1f, 0f)), (12L, Seq(-1f, 0f)),
    (20L, Seq(3f, 4f)), (30L, Seq(2f, 2f)), (40L, Seq(2f, 2f)),
    (50L, Seq(-5f, 1f)), (60L, Seq(0.5f, -0.5f))
  ).toDF("id", "embedding")

  private val queries = Seq(
    Seq(0f, 0f), Seq(2f, 2f), Seq(-1f, 1f), Seq(0.25f, -0.25f))

  test("loop results are value-identical to SearchService.search (ties included)") {
    val svc = new SearchService(corpus)
    val loop = svc.residentLoop().get
    for (q <- queries; k <- Seq(1, 3, 8, 100)) {
      val viaJobs = svc.search(q, k)._1
      val viaLoop = loop.search(q, k)
      assert(viaLoop === viaJobs, s"q=$q k=$k")
    }
  }

  test("k=0 short-circuits like the service; k > N returns all rows ordered") {
    val loop = ServeLoop.open(corpus).get
    assert(loop.search(Seq(0f, 0f), 0) === Nil)
    val all = loop.search(Seq(0f, 0f), 999)
    assert(all.size === 8)
    assert(all.map(h => (h.distance, h.id)) === all.map(h => (h.distance, h.id)).sorted)
  }

  test("duplicate-vector rows both surface (reference duplicate-id quirk)") {
    val loop = ServeLoop.open(corpus).get
    val hits = loop.search(Seq(2f, 2f), 2)
    assert(hits.map(_.id) === Seq(30L, 40L) && hits.forall(_.distance === 0.0))
  }

  test("over-cap and degenerate corpora fall back to None") {
    assert(ServeLoop.open(corpus, cap = 7).isEmpty) // 8 rows > cap
    val withNull = corpus.unionByName(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("id", "embedding"))
    assert(ServeLoop.open(withNull).isEmpty) // null embedding: distributed semantics
    val ragged = corpus.unionByName(Seq((99L, Seq(1f))).toDF("id", "embedding"))
    assert(ServeLoop.open(ragged).isEmpty) // off-dimension row
    assert(ServeLoop.open(corpus.limit(0)).isEmpty) // empty snapshot
    // null ELEMENT inside an otherwise well-formed embedding array:
    // L2SquaredDistance defines its distance as null, so the loop must
    // decline residency (None), not throw on unboxing (ADVICE r17 #1)
    val nullElem = corpus.unionByName(
      spark.sql("SELECT CAST(99 AS BIGINT) AS id, " +
        "array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS embedding"))
    assert(ServeLoop.open(nullElem).isEmpty)
    // only array<float> loads: a double-typed embedding declines too
    assert(ServeLoop.open(corpus.withColumn("embedding",
      $"embedding".cast("array<double>"))).isEmpty)
    // an Int.MaxValue cap must not overflow the probe limit (ADVICE
    // r17 #3): the open succeeds (corpus is tiny), never throws
    assert(ServeLoop.open(corpus, cap = Int.MaxValue).isDefined)
  }

  test("loop is a point-in-time copy; reopening after apply serves the new version") {
    val svc = new SearchService(
      corpus.withColumn("shard_id", org.apache.spark.sql.functions.lit("s0")))
    val before = svc.residentLoop().get
    svc.upsert(Seq((10L, "s0", Seq(100f, 100f))).toDF("id", "shard_id", "embedding"))
    // stale loop still serves the old version (reference: loaded shard
    // until reload); a fresh loop matches the post-apply service
    assert(before.search(Seq(0f, 0f), 1).head.id === 10L)
    val after = svc.residentLoop().get
    assert(after.search(Seq(0f, 0f), 1).head.id !== 10L)
    assert(after.search(Seq(0f, 0f), 8) === svc.search(Seq(0f, 0f), 8)._1)
  }

  test("searchBatch ≡ per-member search ≡ SearchService.batchSearch (same snapshot)") {
    import graft.operators.SearchService.BatchQuery
    val svc = new SearchService(corpus)
    val loop = svc.residentLoop().get
    val batch = loop.searchBatch(queries, 3)
    assert(batch === queries.map(q => loop.search(q, 3)))
    val viaSvc = svc.batchSearch(queries.map(q => BatchQuery(q, 3))).toOption.get
    assert(batch === viaSvc.map(_._1))
    // past-saturation shape: a batch far wider than the core count
    // still answers every member identically (the c=64 regime)
    val wide = Seq.fill(16)(queries).flatten
    val expect = queries.map(q => loop.search(q, 5))
    loop.searchBatch(wide, 5).zipWithIndex.foreach { case (hits, i) =>
      assert(hits === expect(i % queries.size))
    }
    assert(loop.searchBatch(Nil, 3) === Nil)
  }

  test("one-pass searchBatch ≡ per-member search: ties, k > N, wide batch, filter") {
    // several slices (≥ 1,024 rows each), every vector drawn from a
    // 3^3 grid so equal distances are everywhere and the (distance, id)
    // tie-break decides most ranks
    val rnd = new scala.util.Random(20261017L)
    val n = 6000
    val vecs = (0 until n).map(i =>
      (i * 3L + 1, Seq.fill(3)((rnd.nextInt(3) - 1).toFloat)))
    val loop = ServeLoop.open(vecs.toDF("id", "embedding")).get
    // wider than the core count and not a multiple of the four-member
    // fold, so both the blocked and the remainder path run
    val width = 4 * Runtime.getRuntime.availableProcessors() + 3
    val batch = Seq.tabulate(width)(i =>
      if (i % 5 == 0) vecs(i)._2 // a corpus vector: distance-0 ties
      else Seq.fill(3)((rnd.nextInt(5) - 2) * 0.5f))
    val oddIds: Long => Boolean = _ % 2 == 1
    for (k <- Seq(1, 7, n + 10); filter <- Seq(null, oddIds)) {
      val got = loop.searchBatch(batch, k, filter)
      assert(got.size === width)
      got.zip(batch).foreach { case (hits, q) =>
        assert(hits === loop.search(q, k, filter), s"q=$q k=$k filter=${filter != null}")
      }
    }
    assert(loop.searchBatch(batch, n + 10).forall(_.size === n))
    assert(loop.searchBatch(batch, 0).forall(_.isEmpty))
  }

  test("id-predicate filter ≡ unfiltered loop over the pre-filtered snapshot") {
    val allowed: Set[Long] = Set(11L, 12L, 30L, 50L)
    val full = ServeLoop.open(corpus).get
    val pre = ServeLoop.open(corpus.filter($"id".isin(allowed.toSeq: _*))).get
    for (q <- queries; k <- Seq(1, 3, 10))
      assert(full.search(q, k, allowed.contains) === pre.search(q, k), s"q=$q k=$k")
    // and against the distributed path over the filtered state (the
    // tenant-isolation shape knn_filtered serves)
    val svcPre = new SearchService(corpus.filter($"id".isin(allowed.toSeq: _*)))
    assert(full.search(queries.head, 3, allowed.contains) ===
      svcPre.search(queries.head, 3)._1)
    // reject-all predicate → empty, never an error
    assert(full.search(queries.head, 3, _ => false) === Nil)
    // batch and filter compose
    assert(full.searchBatch(queries, 3, allowed.contains) ===
      queries.map(q => pre.search(q, 3)))
  }

  test("residentServing: STRONG tracks the watermark; EVENTUAL lags its staleness") {
    import graft.operators.MutationLog.Eventual
    val svc = new SearchService(
      corpus.withColumn("shard_id", org.apache.spark.sql.functions.lit("s0")))
    val strong = svc.residentServing() // STRONG: re-checks every lookup
    val lagging = svc.residentServing(Eventual, stalenessMillis = 3600000L)
    assert(strong.search(Seq(0f, 0f), 2).get === svc.search(Seq(0f, 0f), 2)._1)
    val snap0 = strong.snapshot
    svc.upsert(Seq((10L, "s0", Seq(100f, 100f))).toDF("id", "shard_id", "embedding"))
    // STRONG resident read reopens BY ITSELF and serves post-mutation
    // state — no caller-side reopen (the O-7 analog, VERDICT r17 #2)
    val post = strong.search(Seq(0f, 0f), 1).get
    assert(strong.snapshot === snap0 + 1)
    assert(post.head.id !== 10L)
    assert(post === svc.search(Seq(0f, 0f), 1)._1)
    // EVENTUAL inside its staleness window keeps serving the loaded
    // (pre-mutation) snapshot: id 10 is still at the origin there
    assert(lagging.snapshot === snap0)
    assert(lagging.search(Seq(0f, 0f), 1).get.head.id === 10L)
    // refresh re-resolves; the STRONG read above materialized the new
    // version, so EVENTUAL now advances — and values stay ≡ the
    // service at the handle's own level
    lagging.refresh()
    assert(lagging.snapshot === snap0 + 1)
    assert(lagging.search(Seq(0f, 0f), 8).get ===
      svc.search(Seq(0f, 0f), 8, Eventual)._1)
  }

  test("concurrent callers get identical results (the serving model)") {
    val loop = ServeLoop.open(corpus).get
    val expected = loop.search(Seq(0f, 0f), 5)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futs = (1 to 64).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[graft.TypedApi.ScoredPoint]] {
          override def call() = loop.search(Seq(0f, 0f), 5)
        }))
      futs.foreach(f => assert(f.get() === expected))
    } finally pool.shutdown()
  }

  test("randomized brute-force oracle: 300 vectors, duplicate-heavy, 20 queries × 4 ks") {
    // independent in-test oracle (NOT SearchService): same double-fold
    // distance, full sort by (distance, id) — exercises the bounded
    // heap across fill/evict/tie paths at sizes the fixtures don't hit
    val rnd = new scala.util.Random(20260816L)
    val dim = 5
    val vecs: Seq[(Long, Seq[Float])] = (0 until 300).map { i =>
      // 25% duplicates of an earlier vector (distinct ids) → tie storms
      val v = if (i > 0 && rnd.nextInt(4) == 0)
        (i * 7L, null: Seq[Float])
      else (i * 7L, Seq.fill(dim)((rnd.nextInt(9) - 4).toFloat))
      v
    }.foldLeft(Vector.empty[(Long, Seq[Float])]) { (acc, x) =>
      acc :+ (if (x._2 == null) (x._1, acc(rnd.nextInt(acc.size))._2) else x)
    }
    val loop = ServeLoop.open(vecs.toDF("id", "embedding")).get
    def brute(q: Seq[Float], k: Int) = vecs.map { case (id, e) =>
      var acc = 0.0
      var j = 0
      while (j < dim) { val d = e(j).toDouble - q(j).toDouble; acc += d * d; j += 1 }
      (acc, id)
    }.sorted.take(k).map { case (d, id) => graft.TypedApi.ScoredPoint(id, d, "") }
    for (_ <- 1 to 20; k <- Seq(1, 7, 64, 300)) {
      val q = Seq.fill(dim)((rnd.nextInt(9) - 4).toFloat)
      assert(loop.search(q, k) === brute(q, k), s"q=$q k=$k")
    }
  }

  test("loop ≡ service on the sf0.001 embeddings table (real data, real dims)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val svc = new SearchService(emb, idCol = "vec_id")
    val loop = svc.residentLoop().get
    val q = emb.orderBy($"vec_id").limit(1)
      .select($"embedding").head.getSeq[Float](0)
    for (k <- Seq(1, 10, 50))
      assert(loop.search(q, k) === svc.search(q, k)._1)
  }
}
