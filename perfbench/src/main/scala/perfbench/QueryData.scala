package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

final case class RegionRow(r_regionkey: Int, r_name: String)
final case class NationRow(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double,
    c_mktsegment: String)
final case class SupplierRow(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
final case class PartRow(p_partkey: Long, p_name: String, p_brand: String, p_type: String, p_size: Int,
    p_retailprice: Double)
final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double,
    o_orderdate: Timestamp, o_orderpriority: String)
final case class LineitemRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double,
    props: String)
final case class DocumentRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class EmbeddingRow(vec_id: Long, embedding: Array[Float], label: Int)

/** The query suite's input tables, generated from a seed: the star schema
  * plus the `events`, `documents` and `embeddings` tables that
  * `SparkEntry.queries` read, with the column names, types, value domains
  * and row-count ratios of the repository's synthetic test data (TESTDATA.md)
  * at scale factor `sf`. Every value is a pure function of (seed, table,
  * row id), so any parallelism writes the same rows.
  *
  * `documents` holds ~5% near-duplicates (a copy of an earlier document with
  * one word appended or dropped), so the dedup, match and clustering queries
  * find pairs and connected components to work on. A fifth of `lineitem`
  * rows go to the first tenth of suppliers, so the skew detector and the
  * salted join meet hot keys.
  */
object QueryData {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic stream per (seed, table, row): draw `i` is a pure function. */
  final class Rng(seed: Long, table: Long, row: Long) extends Serializable {
    private val base = mix(mix(seed ^ (table * 0x632be59bd9b4e019L)) ^ row)
    def long(i: Int): Long = mix(base + i * 0x9e3779b97f4a7c15L)
    def unit(i: Int): Double = (long(i) >>> 11).toDouble / (1L << 53).toDouble
    def int(i: Int, n: Int): Int = ((long(i) >>> 1) % n).toInt
    def gauss(i: Int): Double =
      math.sqrt(-2 * math.log(1 - unit(i))) * math.cos(2 * math.Pi * unit(i + 1000))
  }

  private def cents(x: Double): Double = math.rint(x * 100) / 100
  private val Day = 86400000L
  private def date(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * Day

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("small", "large", "red", "blue", "hot", "old", "green", "shiny")
  private val Nouns = Array("widget", "plate", "ring", "rod", "bolt", "gizmo")
  private val Types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Statuses = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("F", "O")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Vocab = ("the a key agg row scan slow fast table value part hash merge batch spark " +
    "line sort window order data column join small customer query big stream group filter vector")
    .split(" ")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** Row counts at scale factor `sf` (documents and embeddings keep a floor
    * of 500 rows, as in the test data). */
  final case class Sizes(sf: Double) {
    private def n(perSf: Double): Long = math.max(1L, math.round(perSf * sf))
    val customers: Long = n(150000)
    val suppliers: Long = n(10000)
    val parts: Long = n(200000)
    val orders: Long = n(1500000)
    val lineitems: Long = n(6000000)
    val events: Long = n(1000000)
    val users: Long = n(15000)
    val documents: Long = math.max(500L, n(50000))
    val embeddings: Long = math.max(500L, n(20000))
  }

  def documentText(seed: Long, id: Long): String = {
    val r = new Rng(seed, 9, id)
    if (id >= 10 && r.unit(0) < 0.05) {
      val src = documentText(seed, (r.long(1) >>> 1) % id)
      if (r.unit(2) < 0.5) src + " dup"
      else src.substring(0, math.max(src.lastIndexOf(' '), 1))
    } else {
      val words = 8 + r.int(3, 85)
      (0 until words).map(i => Vocab(r.int(10 + i, Vocab.length))).mkString(" ")
    }
  }

  /** Write every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    import spark.implicits._
    val z = Sizes(sf)
    def rows[T](n: Long)(f: Long => T)(implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
      spark.range(0, n, 1, 1).as[Long].map(f)
    def save(name: String, ds: Dataset[_]): Unit =
      ds.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", rows(5)(k => RegionRow(k.toInt, Regions(k.toInt))))
    save("nation", rows(25)(k => NationRow(k.toInt, s"NATION_$k", (k % 5).toInt)))
    save("customer", rows(z.customers) { k =>
      val r = new Rng(seed, 1, k)
      CustomerRow(k, f"Customer#$k%09d", r.int(0, 25), cents(-999.99 + r.unit(1) * 10999.98),
        Segments(r.int(2, Segments.length)))
    })
    save("supplier", rows(z.suppliers) { k =>
      val r = new Rng(seed, 2, k)
      SupplierRow(k, f"Supplier#$k%09d", r.int(0, 25), cents(-999.99 + r.unit(1) * 10999.98))
    })
    save("part", rows(z.parts) { k =>
      val r = new Rng(seed, 3, k)
      PartRow(k, s"${Adjectives(r.int(0, Adjectives.length))} ${Nouns(r.int(1, Nouns.length))}",
        s"Brand#${1 + r.int(2, 25)}", Types(r.int(3, Types.length)), 1 + r.int(4, 50),
        cents(900 + (k % 1000) / 10.0))
    })
    val orderLo = date(1995, 1, 1)
    val orderDays = ((date(2001, 8, 1) - orderLo) / Day).toInt + 1
    save("orders", rows(z.orders) { k =>
      val r = new Rng(seed, 4, k)
      OrderRow(k, (r.long(0) >>> 1) % z.customers, Statuses(r.int(1, 3)), cents(1000 + r.unit(2) * 499000),
        new Timestamp(orderLo + r.int(3, orderDays) * Day), Priorities(r.int(4, 5)))
    })
    save("lineitem", rows(z.lineitems) { k =>
      val r = new Rng(seed, 5, k)
      val qty = 1 + r.int(3, 50)
      val suppliers = if (r.unit(11) < 0.2) math.max(1L, z.suppliers / 10) else z.suppliers
      LineitemRow((r.long(0) >>> 1) % z.orders, (r.long(1) >>> 1) % z.parts, (r.long(2) >>> 1) % suppliers,
        1 + r.int(4, 7), qty.toDouble, cents(qty * (900 + r.unit(5) * 1200)),
        r.int(6, 11) / 100.0, r.int(7, 9) / 100.0, ReturnFlags(r.int(8, 3)),
        LineStatuses(r.int(9, 2)), new Timestamp(orderLo + Day + r.int(10, orderDays + 95) * Day))
    })
    val eventLo = date(2024, 1, 1) * 1000L // micros
    save("events", rows(z.events) { k =>
      val r = new Rng(seed, 6, k)
      val ts = new Timestamp(0L)
      val micros = eventLo + (r.unit(0) * 30 * Day * 1000L).toLong
      ts.setTime(micros / 1000L)
      ts.setNanos(((micros % 1000000L) * 1000L).toInt)
      EventRow(k, ts, (r.long(1) >>> 1) % z.users, EventTypes(r.int(2, 5)),
        cents(0.01 + -math.log(1 - r.unit(3)) * 40).min(490.02), s"""{"k": ${r.int(4, 100)}}""")
    })
    save("documents", rows(z.documents) { k =>
      val r = new Rng(seed, 7, k)
      val text = documentText(seed, k)
      DocumentRow(k, text, Langs(r.int(0, Langs.length)), s"src${k % 20}", text.length.toLong)
    })
    save("embeddings", rows(z.embeddings) { k =>
      val r = new Rng(seed, 8, k)
      val label = r.int(0, 10)
      val centroid = new Rng(seed, 10, label)
      val v = Array.tabulate(64)(i => centroid.gauss(i) + 0.6 * r.gauss(10 + i))
      val norm = math.sqrt(v.map(x => x * x).sum)
      EmbeddingRow(k, v.map(x => (x / norm).toFloat), label)
    })
  }
}
