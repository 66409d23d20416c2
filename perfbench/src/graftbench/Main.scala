package graftbench

import graft.GraftSession
import graft.clean.TableCleaner
import graft.ingest.{ChangeFeed, ManifestCommit, Optimize}
import graft.schema.{ColumnMeta, TableMeta}
import graft.streaming.CdcEnvelope
import graft.views.Views
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession, Row => SRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Workload benchmark for graft: one process, one client thread, a closed
  * loop on `local[nproc]`.
  *
  * {{{
  * java ... graftbench.Main --workload bi_read|cdc_to_bi
  *   --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Every operation's output is checked against a reference (plain Spark
  * over the source parquet for `bi_read`, the generator's key -> row
  * [[Model]] for the CDC workloads); an exception or a wrong answer is a
  * failed operation. Report lines start with `[`; the last stdout line
  * is the result object. `--trace 1` records spans around every call into
  * a graft layer (see [[Trace]]) and reports per-layer numbers instead of
  * the end-to-end ones. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val code =
      try { new Run(a).run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  val Workloads = Seq("bi_read", "cdc_to_bi")

  /** bi_read query-class weights. They are assumptions: no measured BI
    * traffic is in the repository (see perfbench/README.md). */
  val ClassWeights = Seq("point" -> 0.3, "range" -> 0.3, "meta" -> 0.1, "scan" -> 0.2, "tt" -> 0.1)
  val Classes: Seq[String] = ClassWeights.map(_._1)
  /** Queries of each class in one deck. */
  val DeckCounts: Seq[(String, Long)] = ClassWeights.map { case (c, w) => c -> math.round(w * Gen.Deck) }

  /** CDC batches applied before the measured window: the first collapses
    * the fresh month-sliced table, the others warm the merge path. */
  val WarmBatches = 3

  /** The merge key of the change feed. */
  val Keys = Seq("o_orderkey")

  /** Row-level cleaning metadata for the change feed's `after` image
    * (MySQL-ish source types, as the schema reflector would record). */
  val OrdersMeta = TableMeta("orders", Seq(
    ColumnMeta("o_orderkey", "bigint", nullable = false, isPk = true),
    ColumnMeta("o_custkey", "bigint"),
    ColumnMeta("o_orderstatus", "varchar"),
    ColumnMeta("o_totalprice", "double"),
    ColumnMeta("o_orderdate", "date"),
    ColumnMeta("o_orderpriority", "varchar"),
    ColumnMeta("o_clerk", "varchar"),
    ColumnMeta("o_shippriority", "int"),
    ColumnMeta("o_comment", "varchar")))

  /** The raw `after` schema: the dirty fields arrive as strings. */
  val AfterSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", StringType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", StringType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", StringType),
    StructField("o_comment", StringType)))

  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest of `wanted` and the lower fallbacks that leaves at least
    * ten samples beyond it; None when even the median does not. */
  def tailPct(n: Int, wanted: Int): Option[Int] =
    Seq(99, 95, 90, 80, 75, 50).filter(_ <= wanted).find(p => n * (100 - p) / 100.0 >= 10)
}

/** One benchmark run. */
final class Run(a: Main.Args) {
  import Main._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val work = new java.io.File(a.work).getAbsoluteFile
  private val gen = new Gen(a.seed)

  private var spark: SparkSession = _
  private var trace: Trace = _
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val untracedLat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val kernel = mutable.ArrayBuffer.empty[Double]
  private val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var setupS = 0.0
  /** Digest of the generated inputs of the first deck (bi_read) or of the
    * pre-window batches and first compaction cycle (CDC), in order: equal
    * seeds must print equal digests. */
  private val inputs = java.security.MessageDigest.getInstance("SHA-256")
  private def input(s: String): Unit = inputs.update(s.getBytes("UTF-8"))

  private def now(): Long = System.nanoTime()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of every Java thread (this client thread and Spark's task,
    * scheduler and I/O threads) by thread id, in ns. The JVM's JIT
    * compiler and GC threads are not Java threads, so background
    * compilation and collection do not count. */
  private def javaCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** Java-thread CPU time spent inside the timed regions of the current
    * operation: its compute cost, which wall time hides when the work
    * spreads over more cores. */
  private var opCpuNs = 0L
  private def timedCpu[T](body: => T): T = {
    val c0 = javaCpuNs()
    try body finally opCpuNs += javaCpuNs().map { case (id, t) => t - c0.getOrElse(id, 0L) }.sum
  }
  private def recordOp(wallMs: Double, traced: Boolean): Unit = {
    record("op", wallMs, traced); record("op_cpu", opCpuNs / 1e6, traced)
  }
  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def note(line: String): Unit = { println(line); System.out.flush() }
  private def phase(p: String): Unit = note(f"[t] $p ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f")
  private def record(series: String, ms: Double, traced: Boolean): Unit =
    (if (!trace.enabled || traced) lat else untracedLat)
      .getOrElseUpdate(series, mutable.ArrayBuffer.empty) += ms
  private def layerVal(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One attempted operation: an exception or a false check is a failure. */
  private def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try { val r = body; if (!r) errors += s"$what: wrong answer"; r } catch {
      case e: Exception =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        false
    }
    if (!ok) failed += 1
    ok
  }

  // ------------------------------------------------------------- run

  def run(): Unit = {
    val t0 = now()
    work.mkdirs()
    spark = GraftSession.build("graftbench", cpus.toString)
    spark.udf.register("bench_rowhash", Gen.rowHash _)
    trace = new Trace(spark, a.trace)
    val sessionS = msSince(t0) / 1e3
    phase("session")
    note(s"[params] ${paramsJson()}")

    a.workload match {
      case "bi_read" => biRead(sessionS)
      case _ => cdc(sessionS)
    }

    phase("workload")
    spark.catalog.clearCache()
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(50)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    report("heap_live_mb") = (heapMb, "MB")
    report("failed_frac") = (failed.toDouble / math.max(attempted, 1), "ratio")
    val kMed = median(kernel.toSeq); val kP10 = pct(kernel.toSeq, 0.1)
    note(f"[contention] kernel_factor=${kMed / kP10}%.3f median_s=$kMed%.5f " +
      f"p10_s=$kP10%.5f samples=${kernel.size}")
    note(s"[inputs] sha256=${inputs.digest().map(b => f"$b%02x").mkString}")
    errors.take(20).foreach(e => note(s"[error] $e"))
    report.foreach { case (k, (v, u)) => note(f"[metric] ${a.workload} $k $v%.4f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        Seq(("setup_s", setupS, "s"), ("op_p50_ms", report("op_p50_ms")._1, "ms"),
          ("op_cpu_ms", report("op_cpu_ms")._1, "ms"), ("heap_live_mb", heapMb, "MB"))
      } else traceMetrics()
    trace.close()
    phase("report")
    spark.stop()
    phase("stopped")
    val m = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$m}}""")
  }

  private def paramsJson(): String = {
    val w = ClassWeights.map { case (c, x) => s""""$c":$x""" }.mkString(",")
    s"""{"workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${a.trace},"cpus":$cpus,"orders":${Gen.Orders},"lineitem":${Gen.Orders * 4},""" +
      s""""customer":${Gen.Customers},"months":${Gen.Months},"batch_rows":${Gen.BatchRows},""" +
      s""""op_mix":{"c":${Gen.CreateShare},"u":${1 - Gen.CreateShare - Gen.DeleteShare},""" +
      s""""d":${Gen.DeleteShare}},"recent_months":${Gen.RecentMonths},""" +
      s""""recent_share":${Gen.RecentShare},"dirty_share":${Gen.DirtyShare},""" +
      s""""compact_every":${Gen.CompactEvery},"class_weights":{$w},""" +
      s""""warm_batches":$WarmBatches}"""
  }

  /** Runs `step` until `seconds` of wall time have passed, at least
    * `minUnits` units are done and the step count is a multiple of `unit`
    * (a whole query deck or compaction cycle, so every run has the same
    * operation mix), sampling the machine-contention kernel about once a
    * second between operations. */
  private def loop(unit: Int, minUnits: Int)(step: Int => Unit): Double = {
    val t0 = now()
    val end = t0 + a.seconds * 1000000000L
    var lastK = 0L
    var i = 0
    while (now() < end || i % unit != 0 || i < unit * minUnits) {
      if (now() - lastK > 1000000000L) { kernel += graft.Bench.kernelPassSec(); lastK = now() }
      step(i); i += 1
    }
    msSince(t0)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  // ---------------------------------------------------------- set-up

  /** Independent set-up steps (one per table, or one per worker's share
    * of the reference queries) run one thread each. */
  private def par[T](items: Seq[T])(f: T => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = items.map(t => new Thread(() => try f(t) catch { case e: Throwable => errs.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    Option(errs.peek()).foreach(e => throw e)
  }

  private def rootOf(name: String) = new java.io.File(work, s"tables/$name").toString

  /** Materialises the generated source tables in Spark's memory and
    * registers the reference views over them: `ref_<t>`, and for lineitem
    * `ref_lineitem_full` (before the setup delete) beside `ref_lineitem`
    * (after it). */
  private def writeSources(tables: Seq[String]): Unit = par(tables) { t =>
    val src = (t match {
      case "orders" => gen.orders(spark)
      case "lineitem" => gen.lineitem(spark)
      case "customer" => gen.customer(spark)
    }).cache()
    src.count()
    t match {
      case "lineitem" =>
        src.createOrReplaceTempView("ref_lineitem_full")
        src.filter(s"NOT ($DeletePred)").createOrReplaceTempView("ref_lineitem")
      case "orders" =>
        src.createOrReplaceTempView("ref_orders")
        spark.sql("SELECT *, o_orderdate AS o_orderdate_date FROM ref_orders")
          .createOrReplaceTempView("ref_orders_v")
      case _ => src.createOrReplaceTempView(s"ref_$t")
    }
  }

  /** The setup delete on lineitem: about 1.3% of rows, spread over every
    * month, applied merge-on-read so each month dir keeps a DV. */
  private val DeletePred = "l_shipmode = 'AIR' AND l_quantity > 45"

  /** Loads one copy of the graft tables named `<t><suffix>` and returns
    * the generation of lineitem before its delete (bi_read only). */
  private def load(tables: Seq[String], suffix: String): Long = {
    @volatile var ltt = 0L
    par(tables) { t =>
      val name = t + suffix
      val (cols, slice) = t match {
        case "orders" => ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING, o_clerk STRING, " +
          "o_shippriority INT, o_comment STRING", " PARTITIONED BY (months(o_orderdate))")
        case "lineitem" => ("l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT, " +
          "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
          "l_returnflag STRING, l_shipmode STRING, l_shipdate DATE, l_comment STRING",
          " PARTITIONED BY (months(l_shipdate))")
        case "customer" => ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING, c_comment STRING", "")
      }
      spark.sql(s"CREATE TABLE graft.`$name` ($cols)$slice LOCATION '${rootOf(name)}'")
      spark.sql(s"INSERT INTO graft.`$name` SELECT * FROM ref_${if (t == "lineitem") "lineitem_full" else t}")
      t match {
        case "orders" =>
          spark.sql(s"ANALYZE TABLE graft.`$name` COMPUTE STATISTICS WITH BLOOMS (o_orderkey)")
          Views.persistAnalyticsView(spark, name)
        case "lineitem" =>
          ltt = ManifestCommit.readManifest(spark, rootOf(name)).get.gen
          spark.sql(s"SELECT l_orderkey, l_linenumber FROM ref_lineitem_full WHERE $DeletePred")
            .createOrReplaceTempView("bench_li_del")
          spark.sql(s"MERGE INTO graft.`$name` t USING bench_li_del s " +
            "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
            "WHEN MATCHED THEN DELETE")
        case _ => ()
      }
    }
    ltt
  }

  /** Set-up as a user pays it in a fresh process: source generation, one
    * graft load (cold JIT included) and the reference answers. Returns the
    * pre-delete lineitem generation. */
  private def setup(tables: Seq[String], sessionS: Double)(refs: => Unit): Long = {
    val t0 = now()
    writeSources(tables)
    val srcS = msSince(t0) / 1e3
    val tl = now()
    val ltt = load(tables, "")
    val loadS = msSince(tl) / 1e3
    val t1 = now(); refs; val refS = msSince(t1) / 1e3
    setupS = sessionS + srcS + loadS + refS
    note(f"[setup] session_s=$sessionS%.3f sources_s=$srcS%.3f load_s=$loadS%.3f " +
      f"references_s=$refS%.3f setup_s=$setupS%.3f")
    ltt
  }

  // --------------------------------------------------------- bi_read

  /** One pool entry: SQL over `{orders}` etc., the graft and reference
    * renderings, and the predicate that marks qualifying rows (for the
    * traced run's prune hit ratio). */
  final case class Q(id: Int, cls: String, table: String, tmpl: String, pred: String) {
    def graftSql(sfx: String, ltt: Long): String = render(tmpl, Map(
      "orders" -> s"graft.`orders$sfx`", "lineitem" -> s"graft.`lineitem$sfx`",
      "customer" -> s"graft.`customer$sfx`",
      "orders_v" -> s"graft.`graft_analytics__orders${sfx}_v`",
      "lineitem_tt" -> s"graft.`lineitem$sfx@v$ltt`"))
    def refSql: String = render(tmpl, Map("orders" -> "ref_orders", "lineitem" -> "ref_lineitem",
      "customer" -> "ref_customer", "orders_v" -> "ref_orders_v", "lineitem_tt" -> "ref_lineitem_full"))
  }
  private def render(t: String, m: Map[String, String]): String =
    m.foldLeft(t) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  /** The seeded bi_read pool. Entries of one class cost about the same
    * (same shape, different parameters), so a class median does not
    * depend on which entries a seed draws. */
  private def biPool(): Seq[Q] = {
    val rnd = gen.rnd(1)
    val first = java.time.LocalDate.parse(Gen.FirstDay)
    val qs = mutable.ArrayBuffer.empty[(String, String, String, String)]
    (0 until 8).foreach { _ =>
      val k = rnd.nextInt(Gen.Orders.toInt).toLong * 4 + 1
      qs += (("point", "orders", "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        s"o_orderdate, o_orderpriority, o_clerk, o_comment FROM {orders} WHERE o_orderkey = $k",
        s"o_orderkey = $k"))
    }
    (0 until 6).foreach { _ =>
      val from = first.plusMonths(rnd.nextInt(Gen.Months - 1))
      val p = s"l_shipdate >= DATE'$from' AND l_shipdate < DATE'${from.plusMonths(2)}'"
      qs += (("range", "lineitem", "SELECT count(*) AS n, " +
        "sum(l_extendedprice * (1 - l_discount)) AS revenue, sum(l_quantity) AS qty " +
        s"FROM {lineitem} WHERE $p", p))
    }
    (0 until 4).foreach { _ =>
      val from = first.plusMonths(rnd.nextInt(Gen.Months - 5))
      val p = s"o_orderdate >= DATE'$from' AND o_orderdate < DATE'${from.plusMonths(6)}'"
      qs += (("meta", "orders", "SELECT count(*) AS n, min(o_orderdate) AS lo, " +
        s"max(o_orderdate) AS hi FROM {orders} WHERE $p", p))
    }
    Seq("F", "O", "P").foreach { st =>
      qs += (("scan", "orders", "SELECT year(o.o_orderdate_date) AS y, c.c_mktsegment, " +
        "count(*) AS n, sum(o.o_totalprice) AS total FROM {orders_v} o " +
        s"JOIN {customer} c ON o.o_custkey = c.c_custkey WHERE o.o_orderstatus = '$st' GROUP BY 1, 2",
        s"o_orderstatus = '$st'"))
    }
    Seq("AIR", "MAIL", "SHIP").foreach { m =>
      qs += (("tt", "lineitem", "SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS ext " +
        s"FROM {lineitem_tt} WHERE l_shipmode = '$m' GROUP BY 1", s"l_shipmode = '$m'"))
    }
    qs.zipWithIndex.map { case ((c, t, sql, p), i) => Q(i, c, t, sql, p) }.toSeq
  }

  private def biRead(sessionS: Double): Unit = {
    val pool = biPool()
    val refs = new java.util.concurrent.ConcurrentHashMap[Int, Seq[SRow]]()
    val ltt = setup(Seq("orders", "lineitem", "customer"), sessionS) {
      par(pool.grouped((pool.size + cpus - 1) / cpus).toSeq)(_.foreach(q =>
        refs.put(q.id, spark.sql(q.refSql).collect().toSeq)))
    }
    // one untimed pass over the pool warms the JIT, codegen and the
    // resolve memo before the measured window
    val tw = now()
    pool.foreach(q => spark.sql(q.graftSql("", ltt)).collect())
    note(f"[warmup] bi_read pool_pass_s=${msSince(tw) / 1e3}%.3f")

    val draws = gen.queryDraws(2, ClassWeights)
    val pick = gen.rnd(3)
    // within a class, the pool entries come round in a seeded order
    val next = pool.groupBy(_.cls).map { case (c, qs) =>
      c -> Iterator.continually(pick.shuffle(qs)).flatten }
    val gc0 = gcMs()
    var deckMs = 0.0
    // every second query of each class is traced, the first included
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val wall = loop(Gen.Deck, minUnits = 2) { i =>
      val q = next(draws.next()).next()
      if (i < Gen.Deck) input(q.graftSql("", ltt))
      val traced = trace.enabled && seen(q.cls) % 2 == 0
      seen(q.cls) += 1
      deckMs += runQuery(q.cls, q.graftSql("", ltt), q.table, q.pred, traced,
        rows => sameRows(rows, refs.get(q.id)), cacheKey = Some(q.id)).getOrElse(0.0)
      if (i % Gen.Deck == Gen.Deck - 1) { recordOp(deckMs, traced = true); deckMs = 0.0; opCpuNs = 0L }
    }
    summarise(wall, gcMs() - gc0)
  }

  // ----------------------------------------------------- query + trace

  private val hitCache = mutable.HashMap.empty[Any, (Int, Int)]

  /** Runs one BI query (plan, then collect) as an operation, records its
    * latency under `query` and its class, and in a traced op the
    * Catalyst phases, jobs and pruning of the executed plan. */
  private def runQuery(cls: String, sql: String, table: String, pred: String,
      traced: Boolean, check: Array[SRow] => Boolean,
      cacheKey: Option[Any], measured: Boolean = true): Option[Double] = {
    var ms: Option[Double] = None
    op(s"$cls query") {
      val c0 = opCpuNs
      val t0 = now()
      val (rows, df) = timedCpu(maybeSpan(traced, "query", cls) {
        val df = maybeSpan(traced, "sql") {
          val d = spark.sql(sql); d.queryExecution.executedPlan; d
        }
        (maybeSpan(traced, "spark")(df.collect()), df)
      })
      val el = msSince(t0)
      ms = Some(el)
      if (measured) {
        Seq("query", cls).foreach(s => record(s, el, traced))
        record(s"$cls.cpu", (opCpuNs - c0) / 1e6, traced)
      }
      if (traced) traceQuery(cls, df, table, pred, cacheKey)
      check(rows)
    }
    ms
  }

  private def maybeSpan[T](traced: Boolean, layer: String, tag: String = "")(body: => T): T =
    if (traced) trace.span(layer, tag)(body) else body

  private def traceQuery(cls: String, df: DataFrame, table: String, pred: String,
      cacheKey: Option[Any]): Unit = {
    val id = trace.lastRootId
    val phases = df.queryExecution.tracker.phases
    Seq("parsing", "analysis", "optimization", "planning").foreach { p =>
      trace.countOn(id, s"sql.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    val root = rootOf(table)
    val m = ManifestCommit.readManifest(spark, root).get
    val live = m.dirs.toSet
    val scans = Plans.fileScans(df.queryExecution.executedPlan)
    val scanned = scans.flatMap { case (paths, _) => paths.flatMap(dirOf(_, live)) }.distinct
    val bytes = scans.filter(_._1.exists(dirOf(_, live).nonEmpty)).map(_._2).sum
    trace.countOn(id, "prune.dirs_live", live.size)
    trace.countOn(id, "prune.dirs_scanned", scanned.size)
    trace.countOn(id, "prune.bytes_read", bytes)
    if (scanned.nonEmpty) {
      val (hits, of) = hitCache.getOrElseUpdate((cacheKey, m.gen, scanned.size), {
        val files = spark.read.parquet(scanned.map(ManifestCommit.dirAbs(root, _)): _*)
          .filter(expr(pred)).select(input_file_name()).distinct().collect().map(_.getString(0))
        (scanned.count(d => files.exists(_.contains(s"/$d/"))), scanned.size)
      })
      trace.countOn(id, "prune.hit_ratio", hits.toDouble / of)
    }
    manifestCounts(id, root)
  }

  private def dirOf(path: String, live: Set[String]): Option[String] =
    path.split('/').find(live.contains)

  /** Manifest state after an op, read untimed; the resolve is timed. */
  private def manifestCounts(id: Int, root: String): Unit = {
    val m = ManifestCommit.readManifest(spark, root).get
    val t0 = now()
    ManifestCommit.readManifestAt(spark, root, m.gen)
    trace.countOn(id, "manifest.resolve_ms", msSince(t0))
    trace.countOn(id, "manifest.gens", ManifestCommit.history(spark, root).count().toDouble)
    trace.countOn(id, "manifest.dirs_live", m.dirs.size)
    trace.countOn(id, "manifest.dvs_live", m.dvs.size)
    trace.countOn(id, "manifest.meta_bytes", Files.metaBytes(root).toDouble)
  }

  // ------------------------------------------------------------- CDC

  private def cdc(sessionS: Double): Unit = {
    val root = rootOf("orders")
    var model: Model = null
    setup(Seq("orders"), sessionS) { model = new Model(modelRows()) }
    val stream = new gen.ChangeStream(model, 1)
    val keyPick = gen.rnd(4)
    var gen0 = ManifestCommit.readManifest(spark, root).get.gen
    var files = Files.dataFiles(root)
    var bytesAdded = 0L
    var rowsApplied = 0L
    val applied = mutable.ArrayBuffer.empty[Seq[String]]
    val freshness = mutable.ArrayBuffer.empty[Double]
    val gc0 = gcMs()

    /** One change batch and its dashboard set. `i < 0` is one of the
      * `WarmBatches` applied before the measured window: the first of them
      * collapses the fresh month-sliced table once, a one-off that a short
      * window would overweight, and the rest warm the JIT. The traced run
      * traces them. */
    def cycle(i: Int): Unit = {
      val measured = i >= 0
      opCpuNs = 0L
      val b = stream.next()
      if (i < Gen.CompactEvery) b.values.foreach(input)
      val traced = trace.enabled && (i < 0 || i % 2 == 0)
      val prev = (model.size.toLong, model.perMonth.values.map(_._2).sum)
      val prevGen = gen0
      val compact = measured && (i + 1) % Gen.CompactEvery == 0
      var applyMs = 0.0
      val okBatch = op("batch") {
        val raw = spark.createDataset(b.values)(Encoders.STRING).toDF("value")
        if (traced) {
          val t0 = now()
          val n = changes(b.values).count()
          layerVal("cdc.decode_clean_ms", msSince(t0))
          layerVal("cdc.rows_in", b.values.size); layerVal("cdc.rows_out", n)
        }
        val t0 = now()
        val res = timedCpu(maybeSpan(traced, "batch") {
          val ch = maybeSpan(traced, "cdc")(changesOf(raw))
          val r = maybeSpan(traced, "merge")(ChangeFeed.applyTo(spark, root, ch, Keys))
          val g = if (!compact) r.gen else maybeSpan(traced, "optimize") {
            val before = ManifestCommit.readManifest(spark, root).get.dirs.size
            val mm = Optimize.compactSmall(spark, root, 128L << 20)
            if (traced) {
              trace.count("optimize.dirs_before", before)
              trace.count("optimize.dirs_after", mm.dirs.size)
            }
            mm.gen
          }
          (r, g)
        })
        applyMs = msSince(t0)
        if (measured) {
          record("apply", applyMs, traced)
          // traced batches are the even ones and compactions end on odd
          // ones, so the overhead compares batches without compaction
          if (!compact) record("apply_plain", applyMs, traced)
        }
        model.apply(b)
        rowsApplied += b.values.size
        applied += b.values
        gen0 = res._2
        val nf = Files.dataFiles(root)
        val added = nf.filter { case (p, _) => !files.contains(p) }.values.sum
        bytesAdded += added
        files = nf
        if (traced) traceBatch(res._1, added, root)
        tableMatches(root, model)
      }
      val t0 = now() - (applyMs * 1e6).toLong
      var fresh = okBatch
      val hit = b.expect(keyPick.nextInt(b.expect.size))._1
      var cycle = applyMs
      dashboard(model, hit, prevGen, prev).foreach { case (cls, table, sql, pred, check) =>
        val ms = runQuery(cls, sql, table, pred, traced, check, cacheKey = None,
          measured = measured)
        cycle += ms.getOrElse(0.0)
        if (fresh && ms.isDefined && cls != "tt") {
          if (measured) freshness += msSince(t0)
          fresh = false
        }
      }
      if (measured) recordOp(cycle, traced)
    }
    val tw = now()
    (-WarmBatches to -1).foreach(cycle)
    note(f"[warmup] cdc_to_bi batches_s=${msSince(tw) / 1e3}%.3f")
    val wall = loop(Gen.CompactEvery, minUnits = 1)(cycle)
    val gcRun = gcMs() - gc0
    phase("loop")
    val changeBytes = Files.parquetBytes(spark, changes(applied.flatten.toSeq), new java.io.File(work, "amp/changes"))
    report("write_amp") = (bytesAdded.toDouble / changeBytes, "ratio")
    val applyMs = lat.getOrElse("apply", mutable.ArrayBuffer.empty).toSeq ++
      untracedLat.getOrElse("apply", mutable.ArrayBuffer.empty).toSeq
    report("rows_per_s") = (rowsApplied / (applyMs.sum / 1e3), "1/s")
    val live = Files.parquetBytes(spark, spark.sql("SELECT * FROM graft.orders"),
      new java.io.File(work, "amp/live"))
    report("space_amp") = (Files.treeBytes(root).toDouble / live, "ratio")
    tail("freshness", freshness.toSeq, 90)
    summarise(wall, gcRun)
  }

  private def modelRows(): Iterator[Gen.Row] =
    spark.sql("SELECT o_orderkey, o_custkey, o_orderstatus, " +
      "CAST(round(o_totalprice * 100) AS BIGINT), unix_date(o_orderdate), o_orderpriority, " +
      "o_clerk, o_shippriority, o_comment FROM ref_orders").collect().iterator.map { r =>
      Gen.Row(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4),
        r.getString(5), r.getString(6), r.getInt(7), r.getString(8))
    }

  /** decode -> flatten to change rows -> clean -> table types. */
  private def changesOf(raw: DataFrame): DataFrame = {
    val decoded = CdcEnvelope.decode(raw, AfterSchema)
    val flat = decoded.select(
      when(col("e.op") === "d", col("e.before")).otherwise(col("e.after")).as("r"),
      when(col("e.op") === "c", lit("insert")).when(col("e.op") === "u", lit("update_postimage"))
        .otherwise(lit("delete")).as(ChangeFeed.ChangeType))
      .select(col("r.*"), col(ChangeFeed.ChangeType))
    TableCleaner.clean(flat, OrdersMeta)
      .withColumn("o_orderdate", col("o_orderdate").cast(DateType))
  }
  private def changes(values: Seq[String]): DataFrame =
    changesOf(spark.createDataset(values)(Encoders.STRING).toDF("value"))

  /** Row count and content checksum of the graft table against the model. */
  private def tableMatches(root: String, model: Model): Boolean = {
    val r = spark.sql(s"SELECT count(*), sum(${Gen.RowHashSql}) FROM graft.orders").collect()(0)
    val ok = r.getLong(0) == model.size && r.getLong(1) == model.checksum
    if (!ok) errors += s"table check: rows ${r.getLong(0)} vs ${model.size}, " +
      s"checksum ${r.getLong(1)} vs ${model.checksum}"
    ok
  }

  private def traceBatch(r: graft.ingest.MergeInto.MergeResult, added: Long,
      root: String): Unit = {
    val id = trace.lastRootId
    val changed = r.updated + r.deleted + r.inserted
    trace.countOn(id, "merge.dirs_total", r.dirsTotal)
    trace.countOn(id, "merge.dirs_rewritten", r.dirsRewritten)
    trace.countOn(id, "merge.rows_written_per_row_changed",
      (r.survivors + r.updated + r.inserted).toDouble / math.max(changed, 1))
    trace.countOn(id, "merge.bytes_written", added)
    manifestCounts(id, root)
  }

  /** The dashboard set after a batch: one query per class on the table
    * being written plus a time-travel read of the previous generation,
    * each with its expected answer from the model. */
  private def dashboard(model: Model, key: Long, prevGen: Long, prev: (Long, Long))
      : Seq[(String, String, String, String, Array[SRow] => Boolean)] = {
    val cents = "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
    val lastM = model.lastMonth
    val from = lastM.minusMonths(2)
    val to = lastM.plusMonths(1)
    val rangeP = s"o_orderdate >= DATE'$from' AND o_orderdate < DATE'$to'"
    val inRange = model.perMonth.filter { case (mo, _) =>
      mo >= from.getYear * 100 + from.getMonthValue && mo < to.getYear * 100 + to.getMonthValue }
    val (rangeN, rangeCents) = (inRange.values.map(_._1).sum, inRange.values.map(_._2).sum)
    val byYear = model.perMonth.toSeq.groupBy(_._1 / 100).map { case (y, ms) =>
      (y, ms.map(_._2._1).sum, ms.map(_._2._2).sum) }.filter(_._2 > 0).toSeq.sorted
    Seq(
      ("point", "orders", "SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents, unix_date(o_orderdate) AS d, " +
        s"o_orderpriority, o_clerk, o_shippriority, o_comment FROM graft.orders WHERE o_orderkey = $key",
        s"o_orderkey = $key",
        (rows: Array[SRow]) => model.get(key) match {
          case None => rows.isEmpty
          case Some(e) => rows.length == 1 && {
            val r = rows(0)
            Gen.rowHash(r.getLong(0), if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)), r.getString(2),
              r.getLong(3), r.getInt(4), r.getString(5), r.getString(6), r.getInt(7),
              r.getString(8)) == e.hash
          }
        }),
      ("range", "orders", s"SELECT count(*) AS n, $cents AS cents FROM graft.orders WHERE $rangeP",
        rangeP,
        (rows: Array[SRow]) => rows(0).getLong(0) == rangeN &&
          (if (rangeN == 0) rows(0).isNullAt(1) else rows(0).getLong(1) == rangeCents)),
      ("meta", "orders", "SELECT count(*) AS n, min(o_orderkey) AS lo, max(o_orderkey) AS hi " +
        "FROM graft.orders", "true",
        (rows: Array[SRow]) => rows(0).getLong(0) == model.size &&
          rows(0).getLong(1) == model.minKey && rows(0).getLong(2) == model.maxKey),
      ("scan", "orders", s"SELECT year(o_orderdate_date) AS y, count(*) AS n, $cents AS cents " +
        "FROM graft.graft_analytics__orders_v GROUP BY 1", "true",
        (rows: Array[SRow]) =>
          rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted == byYear),
      ("tt", "orders", s"SELECT count(*) AS n, $cents AS cents FROM graft.`orders@v$prevGen`", "true",
        (rows: Array[SRow]) => rows(0).getLong(0) == prev._1 &&
          rows(0).getLong(1) == prev._2))
  }

  // --------------------------------------------------------- checking

  /** Same rows in any order; doubles equal to a relative 1e-9. */
  private def sameRows(got: Array[SRow], want: Seq[SRow]): Boolean = {
    def key(r: SRow): String = r.toSeq.map {
      case d: Double => f"$d%.2f"
      case null => "null"
      case x => x.toString
    }.mkString("|")
    got.length == want.length && got.sortBy(key).zip(want.sortBy(key)).forall { case (g, w) =>
      g.length == w.length && (0 until g.length).forall { i =>
        (g.get(i), w.get(i)) match {
          case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
          case (x, y) => x == y
        }
      }
    }
  }

  // ---------------------------------------------------------- report

  private def tail(name: String, xs: Seq[Double], wanted: Int): Unit = {
    report(s"${name}_p50_ms") = (median(xs), "ms")
    tailPct(xs.size, wanted).filter(_ > 50).foreach(p => report(s"${name}_p${p}_ms") = (pct(xs, p / 100.0), "ms"))
    note(s"[samples] ${a.workload} $name n=${xs.size}" +
      tailPct(xs.size, wanted).filter(_ > 50).fold(s" (no tail percentile has 10 samples beyond it)")(p => s" tail=p$p"))
  }

  private def summarise(wallMs: Double, gcRunMs: Long): Unit = {
    def s(k: String) = lat.getOrElse(k, mutable.ArrayBuffer.empty).toSeq
    note(f"[setup_s] $setupS%.3f")
    report("setup_s") = (setupS, "s")
    tail("query", s("query"), 95)
    Classes.foreach(c => if (s(c).nonEmpty) report(s"${c}_p50_ms") = (median(s(c)), "ms"))
    if (a.workload == "bi_read")
      report("queries_per_s") = (s("query").size / (s("query").sum / 1e3), "1/s")
    if (a.workload != "bi_read") tail("apply", s("apply"), 90)
    tail("op", s("op"), 90)
    if (a.workload == "bi_read") {
      // a window holds few decks but many queries: the p50 deck is
      // assembled from per-class medians, sum of n_c x p50_c
      def deckOf(series: String => String) =
        DeckCounts.map { case (c, n) => n * median(s(series(c))) }.sum
      report("op_p50_ms") = (deckOf(c => c), "ms")
      report("op_cpu_ms") = (deckOf(c => s"$c.cpu"), "ms")
    } else report("op_cpu_ms") = (median(s("op_cpu")), "ms")
    note(s"[ops] ${s("op").map(x => f"$x%.0f").mkString(",")}")
    report("op_wall_share") = (s("op").sum / wallMs, "ratio")
    layerVal("jvm.gc_ms", gcRunMs.toDouble)
  }

  // ----------------------------------------------------------- trace

  /** The per-layer metrics of the traced ops, plus the per-layer self
    * time / unattributed remainder report and the trace dump. */
  private def traceMetrics(): Seq[(String, Double, String)] = {
    trace.settle()
    val spans = trace.all
    val jobsBy = trace.jobsBySpan
    val children = spans.groupBy(_.parent)
    def self(s: Trace.Span): Double =
      s.ms - Trace.unionMs(children.getOrElse(s.id, Nil).map(c => (c.start, c.end))) / 1e6
    def jobsUnder(s: Trace.Span): Seq[Trace.Job] =
      jobsBy.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(jobsUnder)
    def sparkOf(s: Trace.Span): (Double, Double, Double, Double, Double, Double) = {
      val js = jobsUnder(s)
      val covered = Trace.unionMs(js.filter(_.end > 0).map(j => (j.start, j.end)))
      (js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e6, js.map(_.shuffleBytes).sum,
        js.map(_.inputBytes).sum, covered)
    }
    val roots = spans.filter(_.parent == -1)
    val stats = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def put(k: String, v: Double): Unit = stats.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val selfBy = mutable.LinkedHashMap.empty[String, Double]
    roots.foreach { r =>
      val cls = if (r.layer == "query") r.tag else "batch"
      def walk(s: Trace.Span): Unit = {
        val name = s.layer match { case "query" | "batch" => "op" case x => x }
        selfBy(s"$cls.$name") = selfBy.getOrElse(s"$cls.$name", 0.0) + self(s)
        children.getOrElse(s.id, Nil).foreach(walk)
      }
      walk(r)
      r.counts.foreach { case (k, v) => put(k, v); put(s"$cls.$k", v) }
      put("trace.unattributed_ms", self(r)); put(s"$cls.trace.unattributed_ms", self(r))
      put(s"$cls.op_ms", r.ms)
      children.getOrElse(r.id, Nil).foreach { c =>
        val (nj, nt, cpu, sh, in, covered) = sparkOf(c)
        c.layer match {
          case "sql" =>
            put("sql.pre_exec_jobs", nj); put(s"$cls.sql.pre_exec_jobs", nj)
            put("sql.ms", c.ms)
          case "spark" =>
            put("spark.exec_ms", c.ms); put(s"$cls.spark.exec_ms", c.ms)
            put("spark.jobs", nj); put("spark.tasks", nt); put("spark.task_cpu_ms", cpu)
            put("spark.shuffle_bytes", sh); put("spark.input_bytes", in)
            put("spark.driver_gap_ms", c.ms - covered)
          case "merge" =>
            put("merge.ms", c.ms); put("merge.jobs", nj); put("merge.driver_gap_ms", c.ms - covered)
            put("spark.jobs", nj); put("spark.tasks", nt); put("spark.task_cpu_ms", cpu)
            put("spark.shuffle_bytes", sh); put("spark.input_bytes", in)
          case "optimize" =>
            put("optimize.ms", c.ms)
            c.counts.foreach { case (k, v) => put(k, v) }
            put("optimize.bytes_rewritten", in)
          case _ => ()
        }
      }
    }
    layer.foreach { case (k, vs) => vs.foreach(put(k, _)) }
    val overhead = (lat.keys.toSet ++ untracedLat.keys).toSeq.sorted.flatMap { k =>
      for (t <- lat.get(k) if t.nonEmpty; u <- untracedLat.get(k) if u.nonEmpty)
        yield k -> (median(t.toSeq) - median(u.toSeq))
    }.toMap
    overhead.foreach { case (k, v) => note(f"[overhead] ${a.workload} $k traced_minus_untraced_ms=$v%.3f") }
    // per operation, summed over its parts: a deck's queries (bi_read),
    // or a batch without compaction and its dashboard set (cdc_to_bi)
    val parts = if (a.workload == "bi_read") DeckCounts
      else ("apply_plain" -> 1L) +: Classes.map(_ -> 1L)
    put("trace.overhead_ms", parts.map { case (c, n) => n * overhead.getOrElse(c, 0.0) }.sum)
    put("trace.spans", spans.size)
    selfBy.toSeq.sortBy(_._1).foreach { case (k, v) =>
      note(f"[self] ${a.workload} $k total_ms=$v%.1f")
    }
    Files.dumpSpans(new java.io.File(work, "..").getCanonicalFile, a, spans, jobsBy)
    val med = stats.map { case (k, v) => k -> median(v.toSeq) }
    med.toSeq.sortBy(_._1).foreach { case (k, v) => note(f"[layer] ${a.workload} $k $v%.3f n=${stats(k).size}") }
    // the source probe's claims, as this trace sees them
    Seq("point", "scan").filter(c => med.contains(s"$c.op_ms")).foreach { c =>
      note(f"[probe] ${a.workload} $c sql.optimization_ms=${med(s"$c.sql.optimization_ms")}%.1f " +
        f"sql.pre_exec_jobs=${med(s"$c.sql.pre_exec_jobs")}%.1f op_ms=${med(s"$c.op_ms")}%.1f")
    }
    val merges = roots.filter(_.counts.contains("merge.dirs_total")).map(r =>
      s"${r.counts("merge.dirs_rewritten").toInt}/${r.counts("merge.dirs_total").toInt}")
    if (merges.nonEmpty) note(s"[probe] ${a.workload} merge dirs_rewritten/dirs_total in order: ${merges.mkString(" ")}")
    PerLayer.map { case (k, u) => (k, med.getOrElse(k, 0.0), u) }
  }

  /** The per-layer metric names printed on every traced run, with units:
    * a layer the workload does not enter reads 0. */
  val PerLayer: Seq[(String, String)] = {
    val base = Seq(
      "sql.parsing_ms" -> "ms", "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms",
      "sql.planning_ms" -> "ms", "sql.pre_exec_jobs" -> "count",
      "prune.dirs_live" -> "count", "prune.dirs_scanned" -> "count", "prune.hit_ratio" -> "ratio",
      "prune.bytes_read" -> "bytes",
      "spark.exec_ms" -> "ms", "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.task_cpu_ms" -> "ms", "spark.shuffle_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
      "spark.driver_gap_ms" -> "ms",
      "merge.ms" -> "ms", "merge.dirs_total" -> "count", "merge.dirs_rewritten" -> "count",
      "merge.rows_written_per_row_changed" -> "ratio", "merge.bytes_written" -> "bytes",
      "merge.jobs" -> "count", "merge.driver_gap_ms" -> "ms",
      "manifest.gens" -> "count", "manifest.dirs_live" -> "count", "manifest.dvs_live" -> "count",
      "manifest.meta_bytes" -> "bytes", "manifest.resolve_ms" -> "ms",
      "optimize.ms" -> "ms", "optimize.dirs_before" -> "count", "optimize.dirs_after" -> "count",
      "optimize.bytes_rewritten" -> "bytes",
      "cdc.decode_clean_ms" -> "ms", "cdc.rows_in" -> "count", "cdc.rows_out" -> "count",
      "jvm.gc_ms" -> "ms",
      "trace.unattributed_ms" -> "ms", "trace.overhead_ms" -> "ms", "trace.spans" -> "count")
    val perClass = for {
      c <- Classes
      (k, u) <- Seq("op_ms" -> "ms", "sql.optimization_ms" -> "ms", "sql.pre_exec_jobs" -> "count",
        "spark.exec_ms" -> "ms", "prune.dirs_scanned" -> "count", "trace.unattributed_ms" -> "ms")
    } yield s"$c.$k" -> u
    base ++ perClass ++ Seq("batch.op_ms" -> "ms", "batch.trace.unattributed_ms" -> "ms")
  }
}

/** Physical-plan walks for the traced run. */
object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

  /** (root paths, bytes of the files listed) of every file scan. */
  def fileScans(plan: SparkPlan): Seq[(Seq[String], Long)] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.map(_.toString), s.relation.location.sizeInBytes)
    }
}

/** File-system measurements under a table root (the benchmark's own, not
  * graft's), and the trace dump. */
object Files {
  private def walk(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).toSeq.flatten.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))

  def treeBytes(root: String): Long = walk(new java.io.File(root)).map(_.length).sum

  /** Data files (not manifest records or side files) by path -> bytes. */
  def dataFiles(root: String): Map[String, Long] =
    walk(new java.io.File(root)).filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toMap

  def metaBytes(root: String): Long =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(ManifestCommit.ManifestFile)).map(_.length).sum

  /** Bytes of `df` written once as parquet. */
  def parquetBytes(spark: SparkSession, df: DataFrame, dir: java.io.File): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    walk(dir).filter(_.getName.endsWith(".parquet")).map(_.length).sum
  }

  def dumpSpans(dir: java.io.File, a: Main.Args, spans: Seq[Trace.Span],
      jobs: Map[Int, Seq[Trace.Job]]): Unit = {
    val f = new java.io.File(dir, s"trace-${a.workload}-${a.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val js = jobs.getOrElse(s.id, Nil).map(j =>
        s"""{"job":${j.id},"start_ms":${j.start},"end_ms":${j.end},"tasks":${j.tasks},"cpu_ns":${j.cpuNs}}""")
      val cs = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"span":${s.id},"parent":${s.parent},"layer":"${s.layer}","tag":"${s.tag}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"counts":{$cs},"jobs":[${js.mkString(",")}]}""")
    } finally w.close()
  }
}
