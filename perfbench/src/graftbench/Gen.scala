package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The seeded input generator, kept apart from everything that measures.
  * The same seed gives byte-identical tables, change batches and query
  * sequences: the tables come from `xxhash64(id, seed, salt)` expressions
  * (independent of partitioning), the batches and query draws from
  * `scala.util.Random` streams seeded by (seed, stream id).
  *
  * Shapes follow TPC-H at sf0.02 over its last 48 months: 30k orders
  * (1994-09..1998-08), 4 lineitems per order, 3k customers. 48 month
  * dirs keep a full scan of the month-sliced tables above Spark's
  * parallel file-listing threshold (32 paths); more months or rows would
  * push a run past the benchmark's time budget. Order keys are
  * `4 * i + 1` and uncorrelated with dates, so per-dir min/max stats
  * cannot prune a key lookup; only the bloom can. */
final class Gen(val seed: Long) {
  import Gen._

  // ------------------------------------------------------------ tables

  private def h(salt: Int, id: String = "id"): String =
    s"xxhash64($id, ${seed}L, $salt)"
  private def pick(salt: Int, n: Long, id: String = "id"): String =
    s"pmod(${h(salt, id)}, ${n}L)"
  private def words(salt: Int, n: Int, id: String = "id"): String =
    (0 until n).map(i => s"element_at($WordsSql, CAST(${pick(salt + i, Words.size, id)} + 1 AS INT))")
      .mkString("concat_ws(' ', ", ", ", ")")
  private def orderDate(id: String): String =
    s"date_add(DATE'$FirstDay', CAST(${pick(4, Days, id)} AS INT))"

  def orders(spark: SparkSession): DataFrame = spark.range(Orders).selectExpr(
    "id * 4 + 1 AS o_orderkey",
    s"${pick(1, Customers)} + 1 AS o_custkey",
    s"element_at(array('F','O','P'), CAST(${pick(2, 3)} + 1 AS INT)) AS o_orderstatus",
    s"CAST(100000 + ${pick(3, 49900000)} AS DOUBLE) / 100 AS o_totalprice",
    s"${orderDate("id")} AS o_orderdate",
    s"element_at(array(${Priorities.map(p => s"'$p'").mkString(",")}), " +
      s"CAST(${pick(5, Priorities.size)} + 1 AS INT)) AS o_orderpriority",
    s"concat('Clerk#', lpad(CAST(${pick(6, 1000)} + 1 AS STRING), 9, '0')) AS o_clerk",
    "0 AS o_shippriority",
    s"${words(10, 4)} AS o_comment")

  def lineitem(spark: SparkSession): DataFrame = spark.range(Orders * 4).selectExpr(
    "id DIV 4 * 4 + 1 AS l_orderkey",
    "CAST(id % 4 + 1 AS INT) AS l_linenumber",
    s"CAST(${pick(21, 2000)} + 1 AS BIGINT) AS l_partkey",
    s"CAST(${pick(22, 50)} + 1 AS DOUBLE) AS l_quantity",
    s"CAST(90000 + ${pick(23, 10000000)} AS DOUBLE) / 100 AS l_extendedprice",
    s"CAST(${pick(24, 11)} AS DOUBLE) / 100 AS l_discount",
    s"CAST(${pick(25, 9)} AS DOUBLE) / 100 AS l_tax",
    s"element_at(array('A','N','R'), CAST(${pick(26, 3)} + 1 AS INT)) AS l_returnflag",
    s"element_at(array('AIR','MAIL','RAIL','SHIP','TRUCK','FOB','REG AIR'), " +
      s"CAST(${pick(27, 7)} + 1 AS INT)) AS l_shipmode",
    s"date_add(${orderDate("id DIV 4")}, CAST(${pick(28, 121)} + 1 AS INT)) AS l_shipdate",
    s"${words(30, 3)} AS l_comment")

  def customer(spark: SparkSession): DataFrame = spark.range(Customers).selectExpr(
    "id + 1 AS c_custkey",
    "concat('Customer#', lpad(CAST(id + 1 AS STRING), 9, '0')) AS c_name",
    s"CAST(${pick(41, 25)} AS INT) AS c_nationkey",
    s"CAST(${pick(42, 1100000)} - 100000 AS DOUBLE) / 100 AS c_acctbal",
    s"element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'), " +
      s"CAST(${pick(43, 5)} + 1 AS INT)) AS c_mktsegment",
    s"${words(50, 5)} AS c_comment")

  // ---------------------------------------------------- change stream

  /** One change batch: Debezium JSON envelopes plus the clean rows the
    * model expects afterwards (None = the key is deleted). */
  final case class Batch(values: Seq[String], expect: Seq[(Long, Option[Row])])

  /** Draws `BatchRows` distinct keys per batch against the live key set of
    * `model`: creates take fresh keys in recent months; updates and
    * deletes take a recent-month key with probability `RecentShare`, else
    * a uniform key. The mix was not tuned to dodge any write path: a
    * batch touches many months, as a real feed does. */
  final class ChangeStream(model: Model, stream: Int) {
    private val rnd = new scala.util.Random(seed * 1000003L + stream)
    private var nextKey = Orders * 4 + 1

    def next(): Batch = {
      val used = mutable.HashSet.empty[Long]
      val vals = Vector.newBuilder[String]
      val exp = Vector.newBuilder[(Long, Option[Row])]
      def emit(k: Long, op: String, before: Option[Row], after: Option[Row]): Unit = {
        used += k; vals += envelope(op, before, after); exp += k -> after
      }
      while (used.size < BatchRows) {
        val r = rnd.nextDouble()
        if (r < CreateShare) {
          val k = nextKey; nextKey += 4
          emit(k, "c", None, Some(Row(k, 1L + rnd.nextInt(Customers.toInt), "O",
            100000L + rnd.nextInt(49900000), model.recentDay(rnd),
            Priorities(rnd.nextInt(Priorities.size)),
            f"Clerk#${rnd.nextInt(1000) + 1}%09d", 0, comment(rnd))))
        } else {
          val k = model.drawKey(rnd)
          if (!used.contains(k)) {
            val before = model.row(k)
            if (r < CreateShare + DeleteShare) emit(k, "d", Some(before), None)
            else emit(k, "u", Some(before), Some(before.copy(
              o_custkey = 1L + rnd.nextInt(Customers.toInt),
              o_orderstatus = Seq("F", "O", "P")(rnd.nextInt(3)),
              cents = 100000L + rnd.nextInt(49900000),
              o_orderpriority = Priorities(rnd.nextInt(Priorities.size)),
              o_comment = comment(rnd))))
          }
        }
      }
      Batch(vals.result(), exp.result())
    }

    private def comment(rnd: scala.util.Random): String =
      Seq.fill(3 + rnd.nextInt(3))(Words(rnd.nextInt(Words.size))).mkString(" ")

    private val tsBase = 1700000000000L
    private var ts = tsBase

    /** The envelope's `after`/`before` images carry the source's raw
      * representations: about a third of the rows spell the date, the
      * customer key or the comment in a dirty form that the cleaning
      * layer (D/N/T rules) must normalise back to the clean row. */
    private def envelope(op: String, before: Option[Row], after: Option[Row]): String = {
      ts += 1
      val dirty = rnd.nextDouble() < DirtyShare
      def img(o: Option[Row]) = o.fold("null")(r => rowJson(r, dirty))
      s"""{"before":${img(before)},"after":${img(after)},"op":"$op","ts_ms":$ts}"""
    }

    private def rowJson(r: Row, dirty: Boolean): String = {
      val date = java.time.LocalDate.ofEpochDay(r.epochDay)
      val (dateS, custS, commentS) =
        if (!dirty) (date.toString, r.o_custkey.toString, r.o_comment)
        else rnd.nextInt(3) match {
          case 0 => (f"${date.getDayOfMonth}%02d/${date.getMonthValue}%02d/${date.getYear}",
            s"\"${r.o_custkey}.0\"", r.o_comment)
          case 1 => (s"$date 13:45:00", s"\" ${r.o_custkey} \"",
            "  " + r.o_comment.replace(" ", " \t ") + "\n")
          case _ => (date.toString, r.o_custkey.toString,
            r.o_comment.replace(" ", "\u0001 ") + "  ")
        }
      s"""{"o_orderkey":${r.o_orderkey},"o_custkey":$custS,""" +
        s""""o_orderstatus":"${r.o_orderstatus}","o_totalprice":${r.cents / 100.0},""" +
        s""""o_orderdate":"$dateS","o_orderpriority":"${r.o_orderpriority}",""" +
        s""""o_clerk":"${r.o_clerk}","o_shippriority":${r.o_shippriority},""" +
        s""""o_comment":${jsonStr(commentS)}}"""
    }
  }

  // ---------------------------------------------------------- queries

  /** Seeded query-class sequence, dealt from shuffled decks of `Deck`
    * that hold each class in proportion to its weight, so every deck has
    * the same class mix whatever the seed. */
  def queryDraws(stream: Int, weights: Seq[(String, Double)]): Iterator[String] = {
    val rnd = new scala.util.Random(seed * 7919L + stream)
    val deck = weights.flatMap { case (c, w) => Seq.fill(math.round(w * Deck).toInt)(c) }
    Iterator.continually(rnd.shuffle(deck)).flatten
  }

  def rnd(stream: Int): scala.util.Random = new scala.util.Random(seed * 104729L + stream)
}

object Gen {
  val Orders = 30000L
  val Customers = 3000L
  val FirstDay = "1994-09-01"
  val Months = 48 // 1994-09 .. 1998-08
  val FirstEpochDay: Int = java.time.LocalDate.parse(FirstDay).toEpochDay.toInt
  val Days: Long = java.time.LocalDate.parse(FirstDay).plusMonths(Months).toEpochDay - FirstEpochDay
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Words = Vector("furiously", "quickly", "carefully", "blithely", "slyly",
    "express", "regular", "final", "special", "pending", "ironic", "bold",
    "deposits", "requests", "accounts", "packages", "theodolites", "pinto",
    "beans", "foxes", "ideas", "instructions", "dependencies", "asymptotes",
    "sleep", "wake", "haggle", "nag", "cajole", "detect", "integrate", "boost")
  private val WordsSql = Words.map(w => s"'$w'").mkString("array(", ",", ")")

  /** Change-stream parameters, echoed in the output. */
  val BatchRows = 400
  val CreateShare = 0.15
  val DeleteShare = 0.10
  val RecentMonths = 3
  val RecentShare = 0.8
  val DirtyShare = 0.35
  val CompactEvery = 4
  val Deck = 10

  /** One orders row in the model's (clean) form; the price is in cents. */
  final case class Row(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      cents: Long, epochDay: Int, o_orderpriority: String, o_clerk: String,
      o_shippriority: Int, o_comment: String) {
    def month: Int = {
      val d = java.time.LocalDate.ofEpochDay(epochDay)
      d.getYear * 100 + d.getMonthValue
    }
    def hash: Int = rowHash(o_orderkey, o_custkey, o_orderstatus, cents,
      epochDay, o_orderpriority, o_clerk, o_shippriority, o_comment)
  }

  /** Content hash of one row; registered as the SQL function
    * `bench_rowhash` so a table's checksum is `sum(bench_rowhash(...))`.
    * Non-negative, so a sum over 10^6 rows cannot overflow a long. */
  def rowHash(k: Long, cust: java.lang.Long, status: String, cents: Long,
      epochDay: Int, prio: String, clerk: String, ship: Int, comment: String): Int =
    scala.util.hashing.MurmurHash3.stringHash(
      s"$k|$cust|$status|$cents|$epochDay|$prio|$clerk|$ship|$comment") & 0x7fffffff

  /** Projection that feeds `bench_rowhash` from an orders-shaped relation. */
  val RowHashSql: String =
    "bench_rowhash(o_orderkey, o_custkey, o_orderstatus, " +
      "CAST(round(o_totalprice * 100) AS BIGINT), unix_date(o_orderdate), " +
      "o_orderpriority, o_clerk, o_shippriority, o_comment)"

  def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** The in-memory key → row model of the orders table that the CDC
  * workloads check graft against. Keeps the per-month aggregates and the
  * content checksum incrementally, so a check costs O(batch) here and one
  * table scan on the graft side. */
final class Model(rows0: Iterator[Gen.Row]) {
  import Gen._
  private val rows = new java.util.TreeMap[java.lang.Long, Row]()
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val keyPos = mutable.HashMap.empty[Long, Int]
  private val recent = mutable.ArrayBuffer.empty[Long]
  private val recentPos = mutable.HashMap.empty[Long, Int]
  val perMonth = mutable.HashMap.empty[Int, (Long, Long)]
  var checksum = 0L

  private val lastDay: Int = FirstEpochDay + Days.toInt - 1
  private val recentFrom: Int = {
    val last = java.time.LocalDate.ofEpochDay(lastDay)
    last.withDayOfMonth(1).minusMonths(RecentMonths - 1).toEpochDay.toInt
  }

  rows0.foreach(put)

  def size: Int = rows.size
  def row(k: Long): Row = rows.get(k)
  def get(k: Long): Option[Row] = Option(rows.get(k))
  def minKey: Long = rows.firstKey
  def maxKey: Long = rows.lastKey
  def recentDay(rnd: scala.util.Random): Int =
    recentFrom + rnd.nextInt(lastDay - recentFrom + 1)
  /** First day of the newest month. */
  def lastMonth: java.time.LocalDate = java.time.LocalDate.ofEpochDay(lastDay).withDayOfMonth(1)

  def drawKey(rnd: scala.util.Random): Long =
    if (recent.nonEmpty && rnd.nextDouble() < RecentShare) recent(rnd.nextInt(recent.size))
    else keys(rnd.nextInt(keys.size))

  def apply(b: Gen#Batch): Unit = b.expect.foreach {
    case (k, Some(r)) => remove(k); put(r)
    case (k, None) => remove(k)
  }

  private def put(r: Row): Unit = {
    rows.put(r.o_orderkey, r)
    keyPos(r.o_orderkey) = keys.size; keys += r.o_orderkey
    if (r.epochDay >= recentFrom) { recentPos(r.o_orderkey) = recent.size; recent += r.o_orderkey }
    val (n, s) = perMonth.getOrElse(r.month, (0L, 0L))
    perMonth(r.month) = (n + 1, s + r.cents)
    checksum += r.hash
  }

  private def remove(k: Long): Unit = Option(rows.remove(k)).foreach { r =>
    def drop(buf: mutable.ArrayBuffer[Long], pos: mutable.HashMap[Long, Int]): Unit =
      pos.remove(k).foreach { i =>
        val last = buf.remove(buf.size - 1)
        if (last != k) { buf(i) = last; pos(last) = i }
      }
    drop(keys, keyPos); drop(recent, recentPos)
    val (n, s) = perMonth(r.month)
    perMonth(r.month) = (n - 1, s - r.cents)
    checksum -= r.hash
  }
}
