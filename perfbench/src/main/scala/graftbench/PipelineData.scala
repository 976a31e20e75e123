package graftbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Generates the pipeline's input tables: the TPC-H-shaped star schema,
  * `documents`, `embeddings` and `events`, with the schemas and value
  * domains the query packs read (graft.sources.Tables). The tables are a
  * function of `dataSeed` and the row counts only, so the digests of the
  * query results can be recorded once. */
final class PipelineData(spark: SparkSession, dataSeed: Long, rows: Map[String, Int]) {
  private val words = Seq("a", "the", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val adjectives = Seq("blue", "cold", "hot", "new", "old", "red", "small", "large")
  private val nouns = Seq("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def rng(table: String): SplittableRandom =
    new SplittableRandom(dataSeed * 31 + table.hashCode)
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def cents(x: Double): Double = math.round(x * 100.0) / 100.0
  private def day(d: Int): Timestamp = Timestamp.from(
    LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(d).toInstant(ZoneOffset.UTC))

  private def write(dir: String, name: String, schema: StructType, data: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def writeAll(dir: String): Unit = {
    val n = rows
    write(dir, "region", Tables.regionSchema, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST").zipWithIndex.map { case (nm, i) => Row(i, nm) })
    write(dir, "nation", Tables.nationSchema, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng("customer")
    write(dir, "customer", Tables.customerSchema, (0 until n("customer")).map { i =>
      Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(-999.99 + rc.nextDouble() * 10999.98), pick(rc, segments))
    })
    val rs = rng("supplier")
    write(dir, "supplier", Tables.supplierSchema, (0 until n("supplier")).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25), cents(-999.99 + rs.nextDouble() * 10999.98))
    })
    val rp = rng("part")
    write(dir, "part", Tables.partSchema, (0 until n("part")).map { i =>
      Row(i.toLong, s"${pick(rp, adjectives)} ${pick(rp, nouns)}", s"Brand#${1 + rp.nextInt(25)}",
        pick(rp, types), 1 + rp.nextInt(50), cents(900.0 + (i % 1000) * 0.1))
    })

    val ro = rng("orders")
    val orderDays = Array.fill(n("orders"))(ro.nextInt(2404))
    write(dir, "orders", Tables.ordersSchema, orderDays.indices.map { i =>
      Row(i.toLong, ro.nextInt(n("customer")).toLong, pick(ro, Seq("F", "O", "P")),
        cents(1000.0 + ro.nextDouble() * 499000.0), day(orderDays(i)), pick(ro, priorities))
    })
    val rl = rng("lineitem")
    val lines = orderDays.indices.flatMap { o =>
      (1 to 1 + rl.nextInt(7)).map { ln =>
        val qty = (1 + rl.nextInt(50)).toDouble
        Row(o.toLong, rl.nextInt(n("part")).toLong, rl.nextInt(n("supplier")).toLong, ln, qty,
          cents(qty * (900.0 + rl.nextDouble() * 1200.0)), rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, pick(rl, Seq("A", "N", "R")), pick(rl, Seq("F", "O")),
          day(orderDays(o) + 1 + rl.nextInt(95)))
      }
    }
    write(dir, "lineitem", Tables.lineitemSchema, lines)

    // documents: random sentences over a small vocabulary; one in twenty
    // is a near-duplicate of an earlier document, marked with "dup"
    val rd = rng("documents")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until n("documents")).foreach { i =>
      texts += (if (i > 10 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
        else Seq.fill(8 + rd.nextInt(80))(pick(rd, words)).mkString(" "))
    }
    write(dir, "documents", Tables.documentsSchema, texts.indices.map { i =>
      Row(i.toLong, texts(i), pick(rd, langs), s"src${i % 20}", texts(i).length.toLong)
    })

    // embeddings: unit vectors around ten label centres
    val re = rng("embeddings")
    val dim = 64
    val centres = Array.fill(10, dim)(re.nextGaussian())
    write(dir, "embeddings", Tables.embeddingsSchema, (0 until n("embeddings")).map { i =>
      val label = re.nextInt(10)
      val v = Array.tabulate(dim)(j => centres(label)(j) + 1.5 * re.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    })

    val rv = rng("events")
    val ntzSchema = StructType(Tables.eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f))
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val span = 30L * 86400L * 1000000L
    val users = math.max(10, n("events") / 66)
    val stamps = Array.fill(n("events"))((rv.nextDouble() * span).toLong).sorted
    write(dir, "events", ntzSchema, stamps.indices.map { i =>
      Row(i.toLong, start.plusNanos(stamps(i) * 1000L), rv.nextInt(users).toLong,
        pick(rv, eventTypes), cents(0.01 + rv.nextDouble() * 490.0), s"""{"k": ${rv.nextInt(100)}}""")
    })
  }
}
