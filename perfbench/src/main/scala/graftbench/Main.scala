package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** Metric values by name, with units, in insertion order. */
final class Metrics {
  private val values = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = synchronized {
    values(name) = (value, unit)
  }
  def toJson: String = synchronized {
    values.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
  }
}

/** Op accounting. An op fails if it throws, misses its deadline, returns
  * a wrong answer, or is scheduled in the window but never completed. */
object Ops {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val wrong = new AtomicLong(0)
  val checked = new AtomicLong(0)

  def mismatch(what: String): Unit = {
    wrong.incrementAndGet(); failed.incrementAndGet()
    System.err.println(s"[perfbench] wrong answer: $what")
  }
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
}

object Stats {
  /** Nearest-rank percentile, p in (0, 1]; NaN on no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val a = xs.toArray
    if (a.isEmpty) return Double.NaN
    java.util.Arrays.sort(a)
    a(math.max(0, math.ceil(p * a.length).toInt - 1))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
}

/** Workload parameters: `key=value` pairs from perfbench/workloads.json,
  * passed by run.py. */
final class Params(kv: Map[String, String]) {
  def get(k: String): Option[String] = kv.get(k)
  def str(k: String): String = kv.getOrElse(k, sys.error(s"missing parameter $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def dbl(k: String): Double = str(k).toDouble
  def list(k: String): Seq[String] = str(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
}

/** Harness entry point. One JVM runs one workload once:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --out FILE [--param k=v]...` and writes its result as
  * one JSON object to `--out`. */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Session conf: the library's Verify conf at `local[nproc]`, with
    * every scratch directory inside the benchmark's work directory. */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Jobs.register(spark.sparkContext)
    Trace.sc = spark.sparkContext
    spark
  }

  def confRecord(spark: SparkSession): String =
    spark.sparkContext.getConf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    }.sortBy(_._1).map { case (k, v) => s""""$k": "${v.replace("\\", "/")}"""" }
      .mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    Log("harness JVM started")
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
    val opts = args.grouped(2).collect { case Array(k, v) => (k, v) }.toSeq
    def opt(k: String) = opts.find(_._1 == k).map(_._2)
      .getOrElse(sys.error(s"missing option $k"))
    val params = new Params(opts.filter(_._1 == "--param")
      .map(_._2.split("=", 2)).map(a => a(0) -> a(1)).toMap)
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val work = Paths.get(opt("--work")).toAbsolutePath
    val out = Paths.get(opt("--out")).toAbsolutePath
    Files.createDirectories(work)
    val m = new Metrics
    val run = new Run(workload, seed, seconds, traced, work, params, m)
    m.put("env.cpu_probe_first_ms", Jvm.cpuProbeMs(), "ms")
    // a crash or OOM inside the workload still leaves a result: its
    // unfinished ops are already counted as attempted and failed
    val error = try { run.execute(); None }
      catch { case t: Throwable =>
        t.printStackTrace()
        Some(s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}")
      }
    m.put("env.cpu_probe_last_ms", Jvm.cpuProbeMs(), "ms")
    val json =
      s"""{"attempted": ${Ops.attempted.get}, "failed": ${Ops.failed.get}, """ +
      s""""wrong": ${Ops.wrong.get}, "checked": ${Ops.checked.get}, """ +
      s""""error": ${error.map(e => "\"" + e.replace("\"", "'").replace("\n", " ") + "\"").getOrElse("null")}, """ +
      s""""validity": ${run.validity}, "metrics": ${m.toJson}}"""
    Files.writeString(out, json)
    try run.stop() catch { case _: Throwable => () }
    System.exit(0)
  }
}

/** State shared by the workloads of one run. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path, val params: Params, val m: Metrics) {
  var spark: SparkSession = _
  @volatile var validity: String = "{}"

  def newSession(): SparkSession = {
    stop()
    spark = Main.session(work)
    spark
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def execute(): Unit = {
    workload match {
      case "serve" => new ServeWorkload(this, mutate = false).run()
      case "serve_mutate" => new ServeWorkload(this, mutate = true).run()
      case "pipeline" => new PipelineWorkload(this).run()
      case other => sys.error(s"unknown workload $other")
    }
  }

  def recordValidity(clients: Int, extra: String = ""): Unit = {
    val rt = Runtime.getRuntime
    validity =
      s"""{"nproc": ${Main.cpus}, "master": "local[${Main.cpus}]", "client_threads": $clients, """ +
      s""""max_heap_mb": ${rt.maxMemory / 1048576}, "java": "${System.getProperty("java.version")}", """ +
      s""""spark_conf": ${Main.confRecord(spark)}$extra}"""
  }

  /** Traced runs: every span to a JSON-lines file; self time per layer
    * of the spans that started in the window. */
  def traceMetrics(w: Window): Unit = {
    val spans = Trace.spans
    val jobs = Jobs.between(w.startMs, w.endMs)
    val self = SelfTime.byLayer(spans.filter(s => s.start >= w.startNs && s.start <= w.endNs),
      jobs, w.startNs, w.startMs)
    SelfTime.Layers.foreach(l => m.put(s"self_s.$l", self(l), "s"))
    SelfTime.write(work.resolve("traces").resolve(s"$workload-seed$seed.jsonl"), spans)
    m.put("trace.spans", spans.size, "count")
  }
}
