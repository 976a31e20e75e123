package graftbench

import java.util.SplittableRandom

/** Seeded vectors. Row `id` of a corpus, query `i` of a pool and every
  * upserted row are pure functions of (seed, stream, index), so Spark
  * tasks and the harness's own exact scan generate the same values. */
object Vectors {
  val CorpusStream = 0L
  val PoolStream = 1L
  val DistinctStream = 2L

  /** Fisher-Yates shuffle of `a` in place; returns it. */
  def shuffle[T](a: Array[T], r: SplittableRandom): Array[T] = {
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  def vector(seed: Long, stream: Long, index: Long, dim: Int): Array[Float] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 48) ^ index)
    Array.fill(dim)((r.nextDouble() * 2.0 - 1.0).toFloat)
  }
}

/** Zipf(s) ranks over 0 until n: inverse CDF by binary search. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: SplittableRandom): Int = rank(r.nextDouble())

  /** `size` draws, one from each of `size` equal slices of the CDF, in
    * shuffled order: a draw picked at random is still Zipf(s), but how
    * many land in the head and how many in the tail varies far less
    * between seeds than with independent draws. */
  def stratified(size: Int, r: SplittableRandom): Array[Int] =
    Vectors.shuffle(Array.tabulate(size)(j => rank((j + r.nextDouble()) / size)), r)

  private def rank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** The harness's copy of the corpus and its versions, and the exact
  * top-k the answers are checked against. Version v is the base corpus
  * with the first v writes applied (SearchService's commit index v). */
final class Corpus(seed: Long, val rows: Int, val dim: Int) {
  private val flat: Array[Float] = {
    val a = new Array[Float](rows * dim)
    var i = 0
    while (i < rows) {
      System.arraycopy(Vectors.vector(seed, Vectors.CorpusStream, i, dim), 0, a, i * dim, dim)
      i += 1
    }
    a
  }
  // base id -> commit index of the delete that removed it
  private val deletedAt =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  // upserted rows in commit order: (commit index, id, vector)
  private val added = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long, Array[Float])]()

  def row(id: Long): Array[Float] = Vectors.vector(seed, Vectors.CorpusStream, id, dim)
  def recordUpsert(version: Long, ids: Seq[Long]): Unit =
    ids.foreach(id => added.add((version, id, row(id))))
  def recordDelete(version: Long, ids: Seq[Long]): Unit =
    ids.foreach(id => deletedAt.put(id, version))

  /** Exact top-k of `q` at `version`, (distance, id) ascending, with the
    * distance folded in ServeLoop's and L2SquaredDistance's order. */
  def topK(q: Array[Float], k: Int, version: Long): Seq[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) => {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      })
    def offer(d: Double, id: Long): Unit = {
      heap.add((d, id))
      if (heap.size > k) heap.poll()
    }
    def dist(v: Array[Float], off: Int): Double = {
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val d = v(off + j).toDouble - q(j).toDouble
        acc += d * d
        j += 1
      }
      acc
    }
    var i = 0
    while (i < rows) {
      val gone = deletedAt.get(i.toLong)
      if (gone == null || gone.longValue > version) offer(dist(flat, i * dim), i.toLong)
      i += 1
    }
    added.forEach { case (v, id, vec) => if (v <= version) offer(dist(vec, 0), id) }
    val out = new Array[(Double, Long)](heap.size)
    var j = out.length - 1
    while (j >= 0) { out(j) = heap.poll(); j -= 1 }
    out.toSeq.map { case (d, id) => (id, d) }
  }
}
