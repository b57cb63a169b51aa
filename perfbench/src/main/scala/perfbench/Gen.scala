package perfbench

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generation. Every workload's inputs are rows built here
  * from the run's seed alone, in the shape of the TPC-H tables the engine's
  * fixtures use (lineitem, orders, customer) and of the constructed
  * near-duplicate corpus of the streaming fixtures. The same seed gives the
  * same rows in the same order; [[digest]] is the byte-level identity the
  * determinism spec checks.
  */
object Gen {

  /** A stream of seeded draws; one per table so tables are independent. */
  final class Draws(seed: Long, salt: Long) {
    private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)
    def int(n: Int): Int = r.nextInt(n)
    def long(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def word(len: Int): String = {
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
      sb.toString
    }
    /** `k` distinct elements of `xs`, in a seeded order. */
    def sample[T](xs: IndexedSeq[T], k: Int): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      val n = math.min(k, a.length)
      (0 until n).foreach { i =>
        val j = i + r.nextInt(a.length - i)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(n).toIndexedSeq.map(_.asInstanceOf[T])
    }
  }

  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val Priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val ShipModes = IndexedSeq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  /** First and last order date of TPC-H (1992-01-01 .. 1998-08-02). */
  val OrderDay0: Long = LocalDate.of(1992, 1, 1).toEpochDay
  val OrderDays: Int = 2405

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_quantity", IntegerType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", TimestampType, nullable = false),
    StructField("l_shipmode", StringType, nullable = false),
    StructField("l_comment", StringType, nullable = false)))

  /** `perDay` lineitem rows for each of `days` ship days from `day0`; ship
    * times are whole seconds in UTC so day boundaries never depend on the
    * JVM's zone.
    */
  def lineitem(seed: Long, day0: LocalDate, days: Int, perDay: Int): IndexedSeq[Row] = {
    val d = new Draws(seed, 1L)
    for (day <- 0 until days; i <- 0 until perDay) yield {
      val okey = (day.toLong * perDay + i) * 4 + 1
      val qty = 1 + d.int(50)
      val price = (qty * (90000 + d.int(10000))).toLong / 100.0
      val secs = (day0.toEpochDay + day) * 86400L + d.int(86400)
      Row(okey, 1 + d.int(7), d.long(1, 20001), d.long(1, 1001), qty, price,
        d.int(11) / 100.0, Flags(d.int(3)), if (d.int(2) == 0) "F" else "O",
        new java.sql.Timestamp(secs * 1000L), d.pick(ShipModes), d.word(12))
    }
  }

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalcents", LongType, nullable = false),
    StructField("o_orderdate", DateType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false),
    StructField("o_clerk", StringType, nullable = false),
    StructField("o_comment", StringType, nullable = false)))

  /** One orders row; keys are sparse like TPC-H's (4k+1). */
  final case class Order(key: Long, cust: Long, status: String, cents: Long,
      day: Long, prio: String, clerk: String, comment: String) {
    def row: Row = Row(key, cust, status, cents, LocalDate.ofEpochDay(day), prio, clerk, comment)
  }

  object Order {
    def of(r: Row): Order = Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
      r.getAs[String]("o_orderstatus"), r.getAs[Long]("o_totalcents"),
      epochDay(r.getAs[Any]("o_orderdate")), r.getAs[String]("o_orderpriority"),
      r.getAs[String]("o_clerk"), r.getAs[String]("o_comment"))
  }

  /** A collected DateType value as an epoch day, whichever Java type the
    * session returns it as.
    */
  def epochDay(v: Any): Long = v match {
    case d: LocalDate => d.toEpochDay
    case d: java.sql.Date => d.toLocalDate.toEpochDay
  }

  def order(d: Draws, key: Long, customers: Int): Order =
    Order(key, 1 + d.int(customers), d.pick(IndexedSeq("F", "O", "P")),
      90000L + d.long(0, 50000000L), OrderDay0 + d.int(OrderDays), d.pick(Priorities),
      f"Clerk#${1 + d.int(1000)}%09d", d.word(16))

  def orders(seed: Long, n: Int, customers: Int): IndexedSeq[Order] = {
    val d = new Draws(seed, 2L)
    (0 until n).map(i => order(d, i.toLong * 4 + 1, customers))
  }

  val factSchema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("ck", LongType, nullable = false),
    StructField("odate", DateType, nullable = false),
    StructField("cents", LongType, nullable = false),
    StructField("prio", StringType, nullable = false),
    StructField("status", StringType, nullable = false)))

  /** The MV workload's fact row: orders reduced to key, customer, date,
    * cents, priority and status.
    */
  final case class Fact(k: Long, ck: Long, day: Long, cents: Long, prio: String, status: String) {
    def row: Row = Row(k, ck, LocalDate.ofEpochDay(day), cents, prio, status)
  }

  def fact(d: Draws, k: Long, customers: Int): Fact = {
    val o = order(d, k, customers)
    Fact(o.key, o.cust, o.day, o.cents, o.prio, o.status)
  }

  def facts(seed: Long, n: Int, customers: Int): IndexedSeq[Fact] = {
    val d = new Draws(seed, 3L)
    (0 until n).map(i => fact(d, i.toLong * 4 + 1, customers))
  }

  val dimSchema: StructType = StructType(Seq(
    StructField("ck2", LongType, nullable = false),
    StructField("seg", StringType, nullable = false)))

  /** customer(c_custkey, c_mktsegment) as the join MV's dimension. */
  def customers(seed: Long, n: Int): IndexedSeq[(Long, String)] = {
    val d = new Draws(seed, 4L)
    (1 to n).map(c => (c.toLong, d.pick(Segments)))
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("__del", BooleanType, nullable = false)))

  /** The constructed near-duplicate corpus of the streaming fixtures: a
    * document's text is one 12-token text per group, and tokens embed the
    * group id, so two documents are near-duplicates (Jaccard 1.0) exactly
    * when they share a group and distinct groups share no shingle.
    */
  def groupText(g: Int): String = (1 to 12).map(x => s"w${g}x$x").mkString(" ")

  /** Byte-level identity of a row sequence: SHA-256 over each row's
    * canonical string form, one per line.
    */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val canon = r.toSeq.map {
        case t: java.sql.Timestamp => s"ts:${t.getTime}"
        case v => String.valueOf(v)
      }
      md.update(canon.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
