package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.util.IndexCache

/** The batch LLM-data and analytics user: passes over a fixed list of
  * `SparkEntry.queries` on generated tables. Set-up is session start plus
  * one warm-up pass (which performs the index builds); each measured pass
  * runs the list in a seed-permuted order and ends with clearCache plus
  * an unpersist of the pass's own frames that keeps IndexCache pins. Every
  * query's rows are collected and their digest compared with the one
  * recorded in perfbench/digests.txt. */
final class PipelineWorkload(ctx: Run) {
  private val p = ctx.params
  private val m = ctx.m
  private val names = p.list("queries")
  private val tables = Seq("customer", "supplier", "part", "orders", "documents",
    "embeddings", "events")
  private val rows = tables.map(t => t -> p.int(s"rows.$t")).toMap
  private val recordDir = p.get("record_dir")

  private def dataDir(): String = {
    val tag = (p.long("data_seed") +: tables.map(rows)).mkString("-")
    val dir = ctx.work.resolve("data").resolve(s"pipeline-$tag")
    if (!Files.exists(dir.resolve("_DONE"))) {
      new PipelineData(ctx.newSession(), p.long("data_seed"), rows).writeAll(dir.toString)
      Files.writeString(dir.resolve("_DONE"), "")
    }
    dir.toString
  }

  /** Expected digests: `name <TAB> rows <TAB> md5` per line. */
  private def expected(): Map[String, (Long, String)] = {
    val f = Paths.get(p.str("digests"))
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).toArray(Array.empty[String]).toSeq
      .map(_.split("\t")).collect { case Array(n, r, d) => n -> (r.toLong, d) }.toMap
  }

  /** Order-sensitive digest of a result: schema, then every row in order. */
  private def digest(df: DataFrame, got: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(df.schema.catalogString.getBytes("UTF-8"))
    got.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def permutation(pass: Int): Seq[String] =
    Vectors.shuffle(names.toArray, new java.util.SplittableRandom(ctx.seed * 1000003L + pass)).toSeq

  /** One query: build its DataFrame, collect it, check its digest.
    * Returns (wall ms, jobs). */
  private def runQuery(spark: SparkSession, dir: String, name: String,
      want: Map[String, (Long, String)], req: Long): (Double, Int) = {
    Ops.attempted.incrementAndGet()
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    try {
      Trace.span("op.query", "harness", req) {
        val df = Trace.span(s"query.$name.build", "queries")(fn(spark, dir))
        val got = Trace.span(s"query.$name.action", "queries")(df.collect())
        val d = digest(df, got)
        recordDir.foreach { out =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
          Files.writeString(Paths.get(out, s"$name.digest"), s"$name\t${got.length}\t$d\n")
        }
        if (recordDir.isEmpty) {
          Ops.checked.incrementAndGet()
          want.get(name) match {
            case Some((n, dd)) if n == got.length && dd == d => ()
            case Some((n, dd)) => Ops.mismatch(s"$name: ${got.length} rows digest $d, recorded $n rows $dd")
            case None => Ops.mismatch(s"$name: no recorded digest")
          }
        }
      }
    } catch { case e: Throwable =>
      Ops.failed.incrementAndGet()
      System.err.println(s"[perfbench] $name failed: $e")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val jobs = Jobs.between(ms0, System.currentTimeMillis()).size
    Log(f"$name%-22s $ms%9.1f ms $jobs%4d jobs")
    (ms, jobs)
  }

  /** A pass, then the cleanup Bench does after each pass. */
  private def pass(spark: SparkSession, dir: String, order: Seq[String],
      want: Map[String, (Long, String)], index: Int): Seq[(String, Double, Boolean, Int)] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = order.zipWithIndex.map { case (n, i) =>
      // the traced run traces every other query of a pass, alternating
      // between passes, to measure what the spans cost
      val traced = ctx.traced && (i + index) % 2 == 0
      Trace.on = traced
      val (ms, jobs) = runQuery(spark, dir, n, want, index * 1000L + i)
      (n, ms, traced, jobs)
    }
    Trace.on = false
    Jobs.countDrops.set(false)
    spark.catalog.clearCache()
    val keep = IndexCache.pinnedRddIds
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before.contains(id) && !keep.contains(id) }
      .values.foreach(_.unpersist(true))
    Jobs.countDrops.set(true)
    out
  }

  def run(): Unit = {
    val dir = dataDir()
    val want = expected()
    Log("tables ready")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val t0 = System.nanoTime()
    val builds0 = IndexCache.misses
    val buildNs0 = IndexCache.buildNanos
    val spark = ctx.newSession()
    val warm = pass(spark, dir, permutation(0), want, 0)
    val setup = (System.nanoTime() - t0) / 1e9
    ctx.recordValidity(1, s""", "tables": "${tables.map(t => s"$t=${rows(t)}").mkString(" ")}"""")
    Log(f"set-up (session + warm-up pass) $setup%.2f s")
    recordDir.foreach { out =>
      def q(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      Files.writeString(Paths.get(out, "oracle_sql.json"), SparkEntry.oracleSql
        .filter { case (n, _) => names.contains(n) }
        .map { case (n, sql) => s"${q(n)}: ${q(sql)}" }.mkString("{", ",\n", "}"))
      m.put("setup_s", setup, "s")
      return
    }

    val w = new Window
    val passes = scala.collection.mutable.ArrayBuffer[(Double, Seq[(String, Double, Boolean, Int)])]()
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var i = 1
    while (System.nanoTime() < end) {
      val ps = System.nanoTime()
      val r = pass(spark, dir, permutation(i), want, i)
      passes += (((System.nanoTime() - ps) / 1e9, r))
      Log(f"pass $i: ${passes.last._1}%.2f s")
      i += 1
    }
    w.close()
    val heapMb = Jvm.retainedHeapMb()

    val perQuery = passes.flatMap(_._2).toSeq
    val passSecs = passes.map(_._1)
    m.put("setup_s", setup, "s")
    m.put("heap_retained_mb", heapMb, "MB")
    m.put("primary_p50_ms", Stats.median(perQuery.map(_._2)), "ms")
    m.put("client.primary_p99_ms", Stats.pct(perQuery.map(_._2), 0.99), "ms")
    m.put("secondary_p50_ms", Stats.median(passSecs) * 1e3, "ms")
    m.put("client.secondary_p90_ms", Stats.pct(passSecs, 0.9) * 1e3, "ms")
    m.put("capacity_ops_per_s", perQuery.size / passSecs.sum, "1/s")
    m.put("client.passes", passes.size, "count")
    names.foreach { n =>
      val mine = perQuery.filter(_._1 == n)
      m.put(s"query.$n.s", Stats.median(mine.map(_._2)) / 1e3, "s")
      m.put(s"query.$n.jobs", Stats.median(mine.map(_._4.toDouble)), "count")
    }
    m.put("indexcache.setup_builds", w.buildsAtStart - builds0, "count")
    m.put("indexcache.setup_build_s", (w.buildNsAtStart - buildNs0) / 1e9, "s")
    m.put("querymemo.requests", 0, "count")
    w.layerMetrics(m, spark.sparkContext)
    if (ctx.traced) {
      // per query: median traced over median untraced time; the median
      // of those ratios
      val ratios = names.flatMap { n =>
        val (on, off) = perQuery.filter(_._1 == n).partition(_._3)
        if (on.isEmpty || off.isEmpty) None
        else Some(Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)))
      }
      if (ratios.nonEmpty) m.put("trace.overhead_pct", (Stats.median(ratios) - 1.0) * 100.0, "%")
      ctx.traceMetrics(w)
    }
    Log(s"warm-up pass ${warm.map(_._2).sum / 1e3} s; passes ${passSecs.mkString(", ")}")
  }
}
