package perfbench

import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** One journal row. Every generated row carries an explicit dense `seq`, so
  * the benchmark knows every seq the store holds. */
final case class JRow(seq: Long, ns: String, ukey: Long, ts: java.sql.Timestamp,
                      payload: String, `val`: Double)

/** Seeded journal traffic: `nsCount` namespaces with Zipf-like weights and,
  * within each, keys skewed toward small ids (key = keys * u^skew). */
final class JournalGen(seed: Long, val nsCount: Int, val keysPerNs: Int,
                       skew: Double) {
  private val rnd = new Random(seed)
  private var next = 0L
  private val nsCum = {
    val w = (1 to nsCount).map(i => 1.0 / i)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val t0 = 1700000000000L

  def ns(i: Int): String = s"ns$i"
  def pickNs(): String = {
    val u = rnd.nextDouble(); ns(nsCum.indexWhere(u <= _) max 0)
  }
  def pickKey(): Long = math.min(keysPerNs - 1L, (keysPerNs * math.pow(rnd.nextDouble(), skew)).toLong)
  def nextInt(n: Int): Int = rnd.nextInt(n)

  private def ts(seq: Long) = new java.sql.Timestamp(t0 + seq * 1000L)
  private def payload(seq: Long) = s"p$seq-${rnd.nextInt(1 << 20)}"
  private def value() = rnd.nextInt(100000) / 100.0

  /** The next `n` rows of the log, seqs continuing densely. */
  def rows(n: Int): Vector[JRow] = Vector.fill(n) {
    val s = next; next += 1
    JRow(s, pickNs(), pickKey(), ts(s), payload(s), value())
  }

  /** Merge source: one row per (ns, ukey), `hits` keys from `live` and the
    * rest new keys above the generator's key domain (ids >= keysPerNs). No
    * seq: the store assigns seqs to merged rows. */
  def mergeSource(live: IndexedSeq[(String, Long)], hits: Int, fresh: Int,
                  tag: String): Vector[(String, Long, java.sql.Timestamp, String, Double)] = {
    val picked = rnd.shuffle(live).take(hits)
    val newKeys = Vector.fill(fresh)((pickNs(), keysPerNs + rnd.nextInt(keysPerNs * 4).toLong))
    (picked ++ newKeys).distinct.map { case (n, k) =>
      (n, k, new java.sql.Timestamp(t0 + (next + 1) * 1000L),
        s"$tag-${rnd.nextInt(1 << 20)}", value())
    }.toVector
  }
}

object Gen {
  def df(spark: SparkSession, rows: Seq[JRow]): DataFrame = {
    import spark.implicits._
    rows.toDS().toDF()
  }

  def sourceDf(spark: SparkSession,
               rows: Seq[(String, Long, java.sql.Timestamp, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("ns", "ukey", "ts", "payload", "val")
  }

  // ---- the operator suite's fixture: the ten tables of the sf fixtures,
  // same names, columns and types, with values drawn from the seed --------

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                            s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String,
                        p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: LocalDateTime,
                         o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: LocalDateTime)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val nations = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1,
    "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2,
    "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1,
    "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4, "VIETNAM" -> 2,
    "RUSSIA" -> 3, "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("signup", "error", "click", "view", "purchase")
  private val vocab = Seq("data", "query", "table", "index", "join", "scan",
    "filter", "group", "order", "limit", "merge", "stream", "batch", "window",
    "event", "user", "click", "view", "model", "vector", "embed", "token",
    "parse", "cache", "shard", "route", "store", "log", "commit", "replay", "sketch")

  /** Writes the fixture under `dir`, one `<table>.parquet` per table. Sizes
    * follow the sf0.01 fixture, with half its orders, lineitems and events. */
  def fixture(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val r = new Random(seed)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val nCust = 1500; val nSupp = 100; val nPart = 2000; val nOrd = 7500
    val customers = (1 to nCust).map(i => Customer(i, f"Customer#$i%09d", r.nextInt(25),
      money(-999, 9999), segments(r.nextInt(5))))
    val suppliers = (1 to nSupp).map(i => Supplier(i, f"Supplier#$i%09d", r.nextInt(25),
      money(-999, 9999)))
    val parts = (1 to nPart).map(i => Part(i, s"part ${vocab(r.nextInt(31))} ${vocab(r.nextInt(31))}",
      s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
      Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")(r.nextInt(6)) +
        Seq(" ANODIZED", " BURNISHED", " PLATED", " POLISHED", " BRUSHED")(r.nextInt(5)) +
        Seq(" TIN", " NICKEL", " BRASS", " STEEL", " COPPER")(r.nextInt(5)),
      1 + r.nextInt(50), money(900, 2000)))
    val orders = Vector.newBuilder[Order]; val items = Vector.newBuilder[Lineitem]
    for (o <- 1 to nOrd) {
      val date = day0.plusDays(r.nextInt(2404).toLong)
      val n = 1 + r.nextInt(7)
      var total = 0.0
      for (ln <- 1 to n) {
        val qty = (1 + r.nextInt(50)).toDouble
        val price = money(900, 2000) * qty
        total += price
        val ship = date.plusDays(1L + r.nextInt(120))
        val flag = if (ship.isBefore(LocalDateTime.of(1998, 6, 1, 0, 0))) Seq("R", "A")(r.nextInt(2)) else "N"
        items += Lineitem(o, 1 + r.nextInt(nPart), 1 + r.nextInt(nSupp), ln, qty,
          math.round(price * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          flag, if (flag == "N") "O" else "F", ship)
      }
      orders += Order(o, 1 + r.nextInt(nCust), Seq("P", "O", "F")(r.nextInt(3)),
        math.round(total * 100) / 100.0, date, priorities(r.nextInt(5)))
    }
    val nEv = 5000; val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    var evT = 0L
    val events = (0 until nEv).map { i =>
      evT += r.nextInt(520)
      Event(i, ev0.plusSeconds(evT), r.nextInt(1000), eventTypes(r.nextInt(5)),
        math.round(r.nextDouble() * 100000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    // near-duplicate-rich corpus: each document perturbs one of 100 templates
    val templates = Vector.fill(100)(Vector.fill(12 + r.nextInt(30))(vocab(r.nextInt(31))))
    val docs = (0 until 500).map { i =>
      val words = templates(r.nextInt(100)).map(w => if (r.nextInt(10) == 0) vocab(r.nextInt(31)) else w)
      val text = words.mkString(" ")
      Document(i, text, if (r.nextInt(20) == 0) "de" else "en", s"src${r.nextInt(20)}", text.length)
    }
    val centers = Vector.fill(10)(Array.fill(64)(r.nextGaussian()))
    val embs = (0 until 500).map { i =>
      val l = r.nextInt(10)
      // unit-length vectors, like the sf fixtures' embeddings
      val v = centers(l).map(c => c + 0.3 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat), l)
    }
    def put(name: String, df: DataFrame): Unit = {
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet.d")
      // one file per table, at the path the fixture loader expects
      val d = java.nio.file.Paths.get(s"$dir/$name.parquet.d")
      val part = java.nio.file.Files.list(d).filter(_.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name.parquet"))
      Fs.deleteTree(d.toString)
    }
    val oRows = orders.result(); val lRows = items.result()
    put("region", regions.zipWithIndex.map { case (n, i) => Region(i, n) }.toDF())
    put("nation", nations.zipWithIndex.map { case ((n, rk), i) => Nation(i, n, rk) }.toDF())
    put("customer", customers.toDF()); put("supplier", suppliers.toDF())
    put("part", parts.toDF()); put("orders", oRows.toDF()); put("lineitem", lRows.toDF())
    put("events", events.toDF()); put("documents", docs.toDF()); put("embeddings", embs.toDF())
  }
}

object Fs {
  def deleteTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally st.close()
    }
  }

  def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        var n = 0L
        st.forEach(f => if (java.nio.file.Files.isRegularFile(f)) n += java.nio.file.Files.size(f))
        n
      } finally st.close()
    }
  }
}
