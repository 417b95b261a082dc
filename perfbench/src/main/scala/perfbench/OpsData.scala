package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Seeded stand-in for the analyzer's fixture table set (`Tables.names`):
  * the same table names and Parquet column types, and value distributions
  * shaped like the fixture's, so the declared queries in
  * `SparkEntry.benchQueries` run on it unchanged.
  *
  * `scale` multiplies the row counts of the fixture's 0.1 scale factor
  * (orders 150 000, lineitem ≈ 600 000, events 100 000, documents 5 000,
  * embeddings 2 000). The same `(scale, seed)` always yields the same bytes.
  * Files are written with the Parquet library directly, without Spark, so
  * that generation can overlap the session's start.
  */
object OpsData {

  private val Vocab = Array("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
    "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")
  private val Segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Array("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
  private val PartWords = Array("large", "hot", "cold", "small", "red", "blue", "green", "dark")
  private val PartNouns = Array("ring", "bolt", "nut", "screw", "gear", "pipe", "wheel", "valve")
  private val DayUs = 86400L * 1000000L
  private val Us1995 = 788918400L * 1000000L // 1995-01-01T00:00:00
  private val Us2024 = 1704067200L * 1000000L // 2024-01-01T00:00:00

  /** Row counts at `scale`. */
  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
                         events: Int, users: Int, documents: Int, embeddings: Int)

  def sizes(scale: Double): Sizes = {
    def n(base: Int) = math.max(10, math.round(base * scale).toInt)
    Sizes(n(15000), n(1000), n(20000), n(150000), n(100000), n(1500), n(5000), n(2000))
  }

  /** Column types, as the fixture's Parquet files declare them. */
  private sealed abstract class Col(val decl: String)
  private case object I32 extends Col("int32")
  private case object I64 extends Col("int64")
  private case object F64 extends Col("double")
  private case object Str extends Col("binary")
  private case object Ts extends Col("int64")    // TIMESTAMP(MICROS, false): µs since the epoch
  private case object Floats extends Col("list") // list<float>

  private final case class Table(name: String, cols: Seq[(String, Col)], rows: () => Iterator[Seq[Any]])

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[A](r: SplittableRandom, xs: Array[A]): A = xs(r.nextInt(xs.length))

  private def day(from: Long, r: SplittableRandom, days: Int): Long = from + r.nextInt(days) * DayUs

  /** Each table's columns and rows. The rows come from one random stream per
    * table, so a table does not change when another's size does. */
  private def tables(z: Sizes, seed: Long): Seq[Table] = {
    def rng(table: Int) = new SplittableRandom(seed * 1000003L + table)
    Seq(
      Table("region", Seq("r_regionkey" -> I32, "r_name" -> Str), () =>
        Iterator("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Seq(i, n) }),
      Table("nation", Seq("n_nationkey" -> I32, "n_name" -> Str, "n_regionkey" -> I32), () =>
        Iterator.range(0, 25).map(i => Seq(i, s"NATION_$i", i % 5))),
      Table("customer", Seq("c_custkey" -> I64, "c_name" -> Str, "c_nationkey" -> I32, "c_acctbal" -> F64,
        "c_mktsegment" -> Str), () => {
        val r = rng(1)
        Iterator.range(0, z.customers).map(i => Seq(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99), pick(r, Segments)))
      }),
      Table("supplier", Seq("s_suppkey" -> I64, "s_name" -> Str, "s_nationkey" -> I32, "s_acctbal" -> F64), () => {
        val r = rng(2)
        Iterator.range(0, z.suppliers).map(i =>
          Seq(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99)))
      }),
      Table("part", Seq("p_partkey" -> I64, "p_name" -> Str, "p_brand" -> Str, "p_type" -> Str,
        "p_size" -> I32, "p_retailprice" -> F64), () => {
        val r = rng(3)
        Iterator.range(0, z.parts).map(i => Seq(i.toLong, s"${pick(r, PartWords)} ${pick(r, PartNouns)}",
          s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
      }),
      Table("orders", Seq("o_orderkey" -> I64, "o_custkey" -> I64, "o_orderstatus" -> Str,
        "o_totalprice" -> F64, "o_orderdate" -> Ts, "o_orderpriority" -> Str), () => {
        val r = rng(4)
        Iterator.range(0, z.orders).map(i => Seq(i.toLong, r.nextInt(z.customers).toLong,
          pick(r, Array("P", "O", "F")), money(r, 1000, 500000), day(Us1995, r, 2404), pick(r, Priorities)))
      }),
      Table("lineitem", Seq("l_orderkey" -> I64, "l_partkey" -> I64, "l_suppkey" -> I64,
        "l_linenumber" -> I32, "l_quantity" -> F64, "l_extendedprice" -> F64, "l_discount" -> F64,
        "l_tax" -> F64, "l_returnflag" -> Str, "l_linestatus" -> Str, "l_shipdate" -> Ts), () => {
        val r = rng(5)
        Iterator.range(0, z.orders).flatMap { o =>
          Iterator.range(1, 2 + r.nextInt(7)).map { ln =>
            val qty = (1 + r.nextInt(50)).toDouble
            Seq(o.toLong, r.nextInt(z.parts).toLong, r.nextInt(z.suppliers).toLong, ln, qty,
              math.round(qty * money(r, 900, 2100) * 100) / 100.0, r.nextInt(11) / 100.0,
              r.nextInt(9) / 100.0, pick(r, Array("N", "R", "A")), pick(r, Array("F", "O")),
              day(Us1995, r, 2500))
          }
        }
      }),
      Table("events", Seq("event_id" -> I64, "ts" -> Ts, "user_id" -> I64, "event_type" -> Str,
        "value" -> F64, "props" -> Str), () => {
        val r = rng(6)
        val offsets = Array.fill(z.events)(r.nextLong(30 * DayUs)).sorted
        offsets.iterator.zipWithIndex.map { case (us, i) =>
          Seq(i.toLong, Us2024 + us, r.nextInt(z.users).toLong, pick(r, EventTypes),
            math.round(-50.0 * math.log(1 - r.nextDouble()) * 100) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
        }
      }),
      Table("documents", Seq("doc_id" -> I64, "text" -> Str, "lang" -> Str, "source" -> Str,
        "n_chars" -> I64), () => {
        val r = rng(7)
        val text = Array.fill(z.documents)(Array.fill(10 + r.nextInt(91))(pick(r, Vocab)).mkString(" "))
        val lang = Array.fill(z.documents)(pick(r, Langs))
        // one document in twenty is a near-duplicate: an earlier one plus " dup"
        for (i <- 1 until z.documents if r.nextInt(20) == 0) {
          val j = r.nextInt(i); text(i) = text(j) + " dup"; lang(i) = lang(j)
        }
        Iterator.range(0, z.documents).map(i =>
          Seq(i.toLong, text(i), lang(i), s"src${i % 20}", text(i).length.toLong))
      }),
      Table("embeddings", Seq("vec_id" -> I64, "embedding" -> Floats, "label" -> I32), () => {
        val r = rng(8)
        val centroids = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
        Iterator.range(0, z.embeddings).map { i =>
          val label = r.nextInt(10)
          val v = centroids(label).map(_ + (r.nextDouble() * 2 - 1))
          val norm = math.sqrt(v.map(x => x * x).sum)
          Seq(i.toLong, v.map(x => (x / norm).toFloat), label)
        }
      }))
  }

  private def writeTable(t: Table, file: Path): Long = {
    val fields = t.cols.map {
      case (n, Str) => s"optional binary $n (STRING);"
      case (n, Ts) => s"optional int64 $n (TIMESTAMP(MICROS,false));"
      case (n, Floats) => s"optional group $n (LIST) { repeated group list { optional float element; } }"
      case (n, c) => s"optional ${c.decl} $n;"
    }
    val schema = MessageTypeParser.parseMessageType(fields.mkString("message schema {\n", "\n", "\n}"))
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(schema).build()
    var n = 0L
    try t.rows().foreach { row =>
      val g = groups.newGroup()
      t.cols.zip(row).foreach {
        case ((c, I32), v: Int) => g.add(c, v)
        case ((c, I64 | Ts), v: Long) => g.add(c, v)
        case ((c, F64), v: Double) => g.add(c, v)
        case ((c, Str), v: String) => g.add(c, v)
        case ((c, Floats), v: Array[Float]) =>
          val list = g.addGroup(c)
          v.foreach(x => list.addGroup("list").add("element", x))
        case (col, v) => sys.error(s"${t.name}: no writer for $col = $v")
      }
      w.write(g); n += 1
    } finally w.close()
    n
  }

  /** Writes every table as one file, `<dir>/<name>.parquet`, as the fixture
    * lays them out; returns rows per table. */
  def write(dir: Path, scale: Double, seed: Long): Map[String, Long] = {
    Files.createDirectories(dir)
    tables(sizes(scale), seed).map(t => t.name -> writeTable(t, dir.resolve(s"${t.name}.parquet"))).toMap
  }
}
