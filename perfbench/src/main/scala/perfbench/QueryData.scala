package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}

final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: LocalDateTime, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String, l_linestatus: String,
    l_shipdate: LocalDateTime)
final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
    event_type: String, value: Double, props: String)
final case class Document(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded generator of the tables the headline queries read. It follows the
  * repository's reference sf datasets (schemas in FIXTURES.md §5) in row
  * counts and value distributions, as measured from their parquet files;
  * perfbench/DESIGN.md ("Query data") records the comparison. Every row is a
  * pure function of (seed, table, row id), so one seed always gives the same
  * tables. Each table is written as one parquet file, like the reference
  * data. The region, part and supplier tables are left out: no headline
  * query reads them. */
object QueryData {
  /** The reference corpus draws every document, whatever its `lang`, from
    * these 33 words. */
  private val Vocab = ("a the key agg row scan slow fast table value part hash " +
    "line sort window merge batch spark order data column join small customer " +
    "query big filter stream group vector").split(" ")
  private val Langs = Seq("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Dim = 64
  private val Labels = 10
  /** Per 10,000 documents: exact copies and near copies (one word appended
    * or the last one dropped) of a random earlier document. */
  private val ExactCopies = 8
  private val NearCopies = 460

  private def rng(seed: Long, table: Int, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (table.toLong << 56) ^ id)

  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double =
    r.nextLong(lo * 100, hi * 100) / 100.0

  private val OrderEpoch = LocalDateTime.of(1995, 1, 1, 0, 0)
  private val EventEpoch = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val EventSpanUs = 30L * 86400 * 1000000

  final case class Sizes(customers: Long, orders: Long, lineItems: Long,
      parts: Long, suppliers: Long, events: Long, users: Long, documents: Long,
      embeddings: Long)

  /** Row counts as in the reference data: linear in `sf`, except that the
    * corpus has at least 500 documents and at most 2,000 embeddings. */
  def sizes(sf: Double): Sizes = {
    def n(x: Double) = math.max(1L, math.round(x * sf))
    val documents = math.max(500L, n(50000))
    Sizes(n(150000), n(1500000), n(6000000), n(200000), n(10000), n(1000000),
      n(15000), documents, math.min(documents, 2000L))
  }

  private def words(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, 7, id)
    Array.fill(r.nextInt(10, 101))(Vocab(r.nextInt(Vocab.length)))
  }

  /** Document `id`'s text: fresh words, or a copy of an earlier document. */
  private def body(seed: Long, id: Long): String = {
    val r = rng(seed, 6, id)
    val roll = r.nextInt(10000)
    if (id == 0 || roll >= ExactCopies + NearCopies) words(seed, id).mkString(" ")
    else {
      val original = body(seed, r.nextLong(id))
      if (roll < ExactCopies) original
      else if (r.nextBoolean() || !original.contains(' '))
        original + " " + Vocab(r.nextInt(Vocab.length))
      else original.substring(0, original.lastIndexOf(' '))
    }
  }

  private def document(seed: Long, id: Long): Document = {
    val r = rng(seed, 10, id)
    var pick = r.nextInt(100)
    val lang = Langs.find { case (_, p) => pick -= p; pick < 0 }.get._1
    val text = body(seed, id)
    Document(id, text, lang, s"src${id % 20}", text.length.toLong)
  }

  /** An isotropic unit vector with an independent label, as in the
    * reference: the labels mark no clusters. */
  private def embedding(seed: Long, id: Long): Embedding = {
    val r = rng(seed, 8, id)
    val v = Array.fill(Dim)(r.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    Embedding(id, v.map(x => (x / norm).toFloat), r.nextInt(Labels))
  }

  /** Line items are independent rows with a random order key, so the table
    * is not clustered by order and the lines per order vary (Poisson, mean 4). */
  private def lineItem(seed: Long, id: Long, s: Sizes): LineItem = {
    val r = rng(seed, 4, id)
    LineItem(r.nextLong(s.orders), r.nextLong(s.parts), r.nextLong(s.suppliers),
      r.nextInt(1, 8), r.nextInt(1, 51).toDouble, cents(r, 900, 105000),
      math.round(r.nextDouble() * 10) / 100.0, math.round(r.nextDouble() * 8) / 100.0,
      "ANR".substring(r.nextInt(3)).take(1), "FO".substring(r.nextInt(2)).take(1),
      OrderEpoch.plusDays(1 + r.nextLong(2498)))
  }

  /** Events in time order over 30 days; values exponential with mean 50. */
  private def event(seed: Long, id: Long, s: Sizes): Event = {
    val r = rng(seed, 5, id)
    val us = ((id + r.nextDouble()) * EventSpanUs / s.events).toLong
    Event(id, EventEpoch.plusNanos(us * 1000), r.nextLong(s.users),
      EventTypes(r.nextInt(EventTypes.length)),
      math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0,
      s"""{"k": ${r.nextInt(100)}}""")
  }

  /** Writes every table under `dir`; returns their names. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Seq[String] = {
    import spark.implicits._
    val s = sizes(sf)
    def range(n: Long) = spark.range(n).as[Long]
    val tables: Seq[(String, Dataset[_])] = Seq(
      "nation" -> range(25).map(i => Nation(i.toInt, s"NATION_$i", (i % 5).toInt)),
      "customer" -> range(s.customers).map { i =>
        val r = rng(seed, 2, i)
        Customer(i, f"Customer#$i%09d", r.nextInt(25), cents(r, -999, 9999),
          Segments(r.nextInt(Segments.length)))
      },
      "orders" -> range(s.orders).map { i =>
        val r = rng(seed, 3, i)
        Order(i, r.nextLong(s.customers), "FOP".substring(r.nextInt(3)).take(1),
          cents(r, 1000, 500000), OrderEpoch.plusDays(r.nextLong(2404)),
          Priorities(r.nextInt(Priorities.length)))
      },
      "lineitem" -> range(s.lineItems).map(i => lineItem(seed, i, s)),
      "events" -> range(s.events).map(i => event(seed, i, s)),
      "documents" -> range(s.documents).map(i => document(seed, i)),
      "embeddings" -> range(s.embeddings).map(i => embedding(seed, i)))
    tables.foreach { case (name, ds) => ds.coalesce(1).write.parquet(s"$dir/$name.parquet") }
    tables.map(_._1)
  }
}
