package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed synthetic-data generator for the engine's star schema —
  * the same ten tables the driver ships at sf0.001/0.01/0.1
  * (TESTDATA.md), schema- and domain-identical, at ANY scale factor.
  * Exists so the suite has measured points ABOVE fixture scale (sf1 =
  * 6M-row lineitem, 1M events, 50k docs) without touching the
  * read-only driver data, and so an external user can smoke a cluster
  * at sf100 before pointing the engine at production tables.
  *
  * Scale design: every row is a pure function of (table salt, row id) —
  * `spark.range(n)` partitions the id space, each task synthesizes its
  * slice, nothing passes through the driver, and the output is
  * byte-stable across partitionings/re-runs. Per-id seeding uses the
  * probe-proven mix (id * 0xC2B2AE3D27D4EB4FL + salt) — NOT multiples
  * of SplittableRandom's internal gamma, which would make consecutive
  * ids' draw streams shift-by-one copies (see `Profile.docText`).
  *
  * Fidelity notes (what downstream queries actually depend on):
  *  - key ranges/referential integrity: lineitem→orders→customer,
  *    part/supplier keys dense from 0;
  *  - literal-bearing domains: mktsegments, order status/priority,
  *    return flags, event types, langs, src0..19, Brand#1..25, the
  *    31-token document vocabulary, acctbal>9000 / totalprice>350000 /
  *    1995..2001 date windows all populated;
  *  - documents plant exact-duplicate pairs (id % 500 == 499 copies
  *    id-1) so dedup families have planted truth at every sf;
  *  - embeddings are unit vectors with a mild label-cluster pull so
  *    ANN bucketing has structure to find;
  *  - lineitem fans out 1..7 lines per order (avg 4 — the driver's
  *    ratio), shipdate = orderdate + 1..120 days.
  *
  * Usage: `runMain graft.DataGen <sf> <outDir> [partitions]`.
  */
object DataGen {

  private val Mix = 0xC2B2AE3D27D4EB4FL

  private def rnd(salt: Long, id: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(id * Mix + salt)

  private def money(r: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    math.rint((lo + (hi - lo) * r.nextDouble()) * 100) / 100

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjs = Array("blue", "cold", "hot", "large", "lean", "red", "small", "worn")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Flags = Array("A", "N", "R")
  private val Langs = Array("en", "en", "de", "fr", "es", "zh") // en-weighted
  private val Vocab: Array[String] =
    ("a agg batch big column customer data dup fast filter group hash join key " +
      "line merge order part query row scan slow small sort spark stream table " +
      "the value vector window").split(" ")

  private val DayMs = 86400000L
  /** 1995-01-01T00:00:00Z in epoch millis; order dates span ~2400 days. */
  private val Epoch1995 = 788918400000L
  private val OrderDays = 2400
  /** 2024-01-01T00:00:00Z; events span 30 days at microsecond grain. */
  private val Epoch2024Us = 1704067200000000L
  private val EventSpanUs = 30L * 86400L * 1000000L

  def docText(id: Long): String = {
    val base = if (id % 500 == 499) id - 1 else id // planted exact dups
    val r = rnd(0xD0C5L, base)
    val n = 8 + r.nextInt(100)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  def region(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  def nation(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def customer(s: SparkSession, n: Long, p: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, p).map { id =>
      val r = rnd(0xC057L, id)
      (id, f"Customer#$id%09d", r.nextInt(25), money(r, -1000, 10000),
        Segments(r.nextInt(5)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  }

  def supplier(s: SparkSession, n: Long, p: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, p).map { id =>
      val r = rnd(0x5A77L, id)
      (id, f"Supplier#$id%09d", r.nextInt(25), money(r, -1000, 10000))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
  }

  def part(s: SparkSession, n: Long, p: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, p).map { id =>
      val r = rnd(0x9A87L, id)
      (id, s"${Adjs(r.nextInt(8))} ${Nouns(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(6)),
        1 + r.nextInt(50), money(r, 900, 1000))
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
  }

  /** Order date as a pure function of the order key — shared by orders()
    * and lineitem() (shipdate = orderdate + 1..120d) without either
    * replaying the other's draw stream.
    */
  private def orderDateMs(okey: Long): Long =
    Epoch1995 + rnd(0x0DA7EL, okey).nextInt(OrderDays) * DayMs

  def orders(s: SparkSession, n: Long, nCust: Long, p: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, p).map { id =>
      val r = rnd(0x08DEL, id)
      val status = { val x = r.nextInt(20); if (x < 9) "F" else if (x < 18) "O" else "P" }
      (id, r.nextLong(nCust), status, money(r, 1000, 500000),
        new java.sql.Timestamp(orderDateMs(id)), Priorities(r.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
  }

  def lineitem(s: SparkSession, nOrders: Long, nPart: Long, nSupp: Long,
      p: Int): DataFrame = {
    import s.implicits._
    s.range(0, nOrders, 1, p).flatMap { okey =>
      val odate = orderDateMs(okey)
      val r = rnd(0x117EL, okey)
      val lines = 1 + r.nextInt(7)
      (1 to lines).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        (okey, r.nextLong(nPart), r.nextLong(nSupp), ln, qty,
          math.rint(qty * money(r, 900, 1000) * 100) / 100,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F",
          new java.sql.Timestamp(odate + (1 + r.nextInt(120)) * DayMs))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
  }

  /** orders:customer = 10:1, the driver's ratio — derived, not passed, so
    * lineitem's order-date replay stays a pure function of the order key.
    */
  private def nCustOf(nOrders: Long): Long = math.max(nOrders / 10, 1)

  def events(s: SparkSession, n: Long, nUsers: Long, p: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, p).map { id =>
      val r = rnd(0xE7E7L, id)
      val v = math.rint(r.nextDouble() * r.nextDouble() * 560 * 100) / 100
      val us = Epoch2024Us + r.nextLong(EventSpanUs)
      (id, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(us / 1000000, (us % 1000000) * 1000)),
        r.nextLong(nUsers), EventTypes(r.nextInt(5)), v,
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def documents(s: SparkSession, n: Long, p: Int): DataFrame = {
    import s.implicits._
    s.range(0, n, 1, p).map { id =>
      val r = rnd(0x10C5L, id)
      val text = docText(id)
      (id, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(s: SparkSession, n: Long, p: Int, dim: Int = 64): DataFrame = {
    import s.implicits._
    // 10 fixed unit centers; each vector = unit(noise + pull * center)
    val centers = Array.tabulate(10) { l =>
      val r = rnd(0xCE27L, l)
      val c = Array.fill(dim)(r.nextDouble() - 0.5)
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(x => (x / norm).toFloat)
    }
    val bc = s.sparkContext.broadcast(centers)
    s.range(0, n, 1, p).map { id =>
      val r = rnd(0xE3BDL, id)
      val label = r.nextInt(10)
      val c = bc.value(label)
      val v = Array.tabulate(dim)(i => (r.nextDouble() - 0.5) + 0.25 * c(i))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(x => (x / norm).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Align generated physical schemas with the driver's (int32 columns). */
  private def withInts(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("int")))

  def main(args: Array[String]): Unit = {
    val sf = args(0).toDouble
    val out = args(1)
    val p = if (args.length > 2) args(2).toInt else 64
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .appName(s"graft-datagen-sf$sf")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      // INT64 micros, not the INT96 default: every modern reader's
      // native type, and what the streaming sources adapt to
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    def cnt(base: Long): Long = math.max((base * sf).toLong, 1)
    val nOrders = cnt(1500000)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> region(s),
      "nation" -> nation(s),
      "customer" -> withInts(customer(s, nCustOf(nOrders), p), "c_nationkey"),
      "supplier" -> withInts(supplier(s, cnt(10000), p), "s_nationkey"),
      "part" -> withInts(part(s, cnt(200000), p), "p_size"),
      "orders" -> orders(s, nOrders, nCustOf(nOrders), p),
      "lineitem" -> withInts(
        lineitem(s, nOrders, cnt(200000), cnt(10000), p), "l_linenumber"),
      "events" -> events(s, cnt(1000000), cnt(150000) / 10, p),
      // driver floors: small-sf fixtures keep 500 docs/vectors
      "documents" -> documents(s, math.max(cnt(50000), 500), p),
      "embeddings" -> withInts(embeddings(s, math.max(cnt(20000), 500), p), "label"))
    tables.foreach { case (name, df) =>
      val t0 = System.nanoTime()
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      println(f"$name%-12s ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    }
    s.stop()
  }
}
