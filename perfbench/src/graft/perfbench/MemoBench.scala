package graft.perfbench

import java.nio.file.{Files => JFiles, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.memo.MemoEngine

final case class Config(workload: String, seed: Long, seconds: Int,
    trace: Boolean, runDir: Path, cpus: Int, traceOut: Option[Path])

/** Workload sizes. The set-up store is 2,000 bulk-saved notes grown by
  * two 200-row appends, so it has three segments. */
object Sizes {
  val BaseDocs = 2000
  val SetupAppends = 2
  val BatchRows = 200
  /** memo_ingest: `maintain()` after every this many appends. */
  val MaintainEvery = 5
  /** memo_read: appends of the write probe after the reader's checks. */
  val ProbeAppends = 7
  /** memo_ingest: writer cycles (appends + maintain) per 10 s of run. */
  val CycleSeconds = 10
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 2
  val Queries = 48
  /** Reader rounds whose recalls are compared with exact recall: their
    * brute-arm rows must match it, and traced runs take `recall_at_10`
    * over them (memo_ingest re-runs them on its final store). */
  val CheckRounds = 2
  val K = 10
  /** Reader calls per cycle: four recalls and one analyze. */
  val CycleOps = 5
  /** `recallServe`'s brute-arm row bound. The engine default (4,096) is
    * sized for bigger stores; at 1,024 this 2,400-row store routes as a
    * 5,000-row one does under the default: the `ts` window (one 200-row
    * segment) takes the exact brute arm, `source` equality (every
    * segment) the masked ANN arm. */
  val BruteRows = 1024L
  /** Rows in the set-up store. */
  def setupRows: Int = BaseDocs + SetupAppends * BatchRows
}

/** What one set-up produced. */
final case class SetupResult(spark: SparkSession, tracer: Tracer,
    engine: MemoEngine, store: Path, seconds: Double, sessionMs: Double,
    saveMs: Double, appendMs: Seq[Double],
    maintainMs: Double, appendBytesPerUserByte: Seq[Double],
    familyBytes: Seq[(String, Long)])

/** One reader operation, as the bench's stopwatch saw it, with what it
  * returned: served (id, score) rows, or the analyze count and the sum of
  * the stats groups' counts. */
final case class ReadOp(kind: String, round: Int, query: String,
    filter: Option[Filter], route: String, ms: Double, traced: Boolean,
    rows: Seq[(Long, Double)] = Nil, count: Long = -1L, statsSum: Long = -1L,
    visible: (Int, Int) = (0, 0)) {
  def cls: String = filter.map(_.name).getOrElse("none")
}

/** The two memo workloads. Both share one set-up (bulk save, appends, one
  * `maintain()`) and one closed-loop reader; memo_ingest adds a writer. */
final class MemoBench(cfg: Config) {
  import Sizes._

  private val log = System.err
  val docs = ArrayBuffer.tabulate(setupRows)(i => Corpus.doc(cfg.seed, i.toLong))
  val queries: IndexedSeq[String] = Corpus.queries(cfg.seed, Queries)
  val analyzeFilters: IndexedSeq[Filter] =
    Corpus.analyzeFilters(cfg.seed, setupRows)
  /** The last set-up append's days: prunes to one segment (brute arm). */
  val tsFilter: Filter =
    Corpus.tsWindow(setupRows.toLong, BatchRows / Corpus.RowsPerDay)
  /** Prunes nothing: every segment holds every source (masked ANN arm). */
  val sourceFilter: Filter = Corpus.sourceEq(cfg.seed)
  /** The cycle's recalls. Unfiltered recall, the plain `memo recall`,
    * is half of them and sits between the cheaper brute arm and the
    * dearer masked ANN arm, so the recall median falls inside one class
    * rather than on the edge between two. */
  private val serveFilters: IndexedSeq[Option[Filter]] =
    IndexedSeq(None, Some(tsFilter), None, Some(sourceFilter))

  /** Rows acknowledged by the store, and rows including a batch still in
    * flight: a read sees a version holding between the first (at its
    * start) and the second (at its end). */
  @volatile var committedRows: Int = setupRows
  @volatile var pendingRows: Int = setupRows

  var attempted = 0L
  var failed = 0L
  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failed <= 20) log.println(s"[perfbench] FAIL $what")
  }
  def attempt(): Unit = synchronized { attempted += 1 }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.runDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def batchFrame(spark: SparkSession, rows: Seq[Doc]): DataFrame = {
    import spark.implicits._
    rows.map(d => (d.body, d.metadata)).toDF("body", "metadata")
  }

  private val families = Seq("lexical", "ivf", "ivfpq", "minhash")
  private def familyBytes(store: Path): Seq[(String, Long)] =
    families.map(f => f -> Files.bytes(store.resolve(s"_$f")))

  /** Session start, generation, bulk save, appends and one maintain. */
  def setup(rep: Int, traced: Boolean): SetupResult = {
    val t0 = System.nanoTime()
    val spark = session()
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val tracer = new Tracer(spark.sparkContext, traced)
    val store = cfg.runDir.resolve(s"store-$rep")
    val engine = new MemoEngine(spark, store.toString)
    val yaml = cfg.runDir.resolve(s"base-$rep.yaml")
    val w = JFiles.newBufferedWriter(yaml)
    try (0 until BaseDocs).foreach(i => w.write(docs(i).yaml)) finally w.close()
    val (_, saveMs) = Stats.timeMs(tracer.span("memo.save", writes = true) {
      engine.saveFromPath(yaml.toString).foreach(_ => ())
    })
    val appendMs = ArrayBuffer.empty[Double]
    val bytesPerUser = ArrayBuffer.empty[Double]
    (0 until SetupAppends).foreach { a =>
      val rows = docs.slice(BaseDocs + a * BatchRows, BaseDocs + (a + 1) * BatchRows)
      val df = batchFrame(spark, rows.toSeq)
      val before = Files.bytes(store)
      appendMs += Stats.timeMs(tracer.span("memo.append", writes = true) {
        engine.streamAppend(df, a.toLong)
      })._2
      bytesPerUser += (Files.bytes(store) - before).toDouble / userBytes(rows)
    }
    val (_, maintainMs) = Stats.timeMs(
      tracer.span("memo.maintain", writes = true)(engine.maintain()))
    val fams = familyBytes(store)
    SetupResult(spark, tracer, engine, store, (System.nanoTime() - t0) / 1e9,
      sessionMs, saveMs, appendMs.toSeq, maintainMs, bytesPerUser.toSeq, fams)
  }

  /** Appends ingest batch `n` (rows of [[Corpus.ingestDoc]]) as stream
    * batch id `SetupAppends + n`; returns its wall ms. */
  def append(spark: SparkSession, engine: MemoEngine, tracer: Tracer,
      n: Int): Double = {
    val rows = (0 until BatchRows).map(r =>
      Corpus.ingestDoc(cfg.seed, setupRows, n.toLong * BatchRows + r))
    val df = batchFrame(spark, rows)
    attempt()
    synchronized { docs ++= rows }
    pendingRows = docs.size
    val ms = Stats.timeMs(tracer.span("memo.append", writes = true) {
      engine.streamAppend(df, (SetupAppends + n).toLong)
    })._2
    committedRows = pendingRows
    ms
  }

  def userBytes(rows: Iterable[Doc]): Long =
    rows.iterator.map(_.body.getBytes("UTF-8").length.toLong).sum

  /** One reader step: op `i` of the fixed [[CycleOps]]-call cycle — four
    * recalls ([[serveFilters]]), then one analyze: analyzeCount plus
    * analyzeStats on the same filter, as the reference's `analyze` command
    * reports both. */
  def readStep(engine: MemoEngine, tracer: Tracer, i: Int,
      traced: Boolean): ReadOp = {
    val round = i / CycleOps
    // every serve call of a run asks a different query (until they wrap)
    val q = queries((CycleOps * round + i % CycleOps) % queries.size)
    val af = analyzeFilters(round % analyzeFilters.size)
    def timed[T](name: String, cls: String)(body: => T): Double = {
      val (_, ms) = Stats.timeMs(
        if (traced) tracer.span(name, attrs = Map("filter" -> cls))(body)
        else tracer.untraced(body))
      ms
    }
    attempt()
    val lo = committedRows
    def seen = (lo, pendingRows)
    try (i % CycleOps) match {
      case k if k < serveFilters.size =>
        val f = serveFilters(k)
        var rows = Seq.empty[(Long, Double)]
        var route = ""
        val ms = timed("memo.serve", f.map(_.name).getOrElse("none")) {
          rows = engine.recallServe(q, K, f.map(_.expr), bruteRows = BruteRows)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          route = engine.lastServeRoute.map(_._1).getOrElse("?")
        }
        if (rows.isEmpty) fail(s"recallServe('$q', ${f.map(_.expr)}) returned no rows")
        ReadOp("serve", round, q, f, route, ms, traced, rows = rows, visible = seen)
      case _ =>
        var n = 0L
        var groups = 0L
        val ms = timed("memo.analyze", af.name) {
          n = engine.analyzeCount(af.expr)
          groups = engine.analyzeStats(af.expr, "lang").collect().map(_.getLong(1)).sum
        }
        ReadOp("analyze", round, q, Some(af), "", ms, traced, count = n,
          statsSum = groups, visible = seen)
    } catch {
      case e: Exception =>
        fail(s"read op $i: $e")
        ReadOp("error", round, q, None, "", 0.0, traced)
    }
  }

  /** Closed-loop reader until `stop()`; traced runs alternate traced and
    * untraced cycles so the tracing overhead is measured in-run. */
  def readLoop(engine: MemoEngine, tracer: Tracer, stop: () => Boolean)
      : ArrayBuffer[ReadOp] = {
    val out = ArrayBuffer.empty[ReadOp]
    var i = 0
    while (!stop()) {
      out += readStep(engine, tracer, i, tracer.enabled && (i / CycleOps) % 2 == 0)
      i += 1
    }
    out
  }

  /** Output checks over the timed reader operations, outside any timed
    * region. Each analyze result must equal a plain-Scala count over the
    * generated metadata of a version the call could have seen (any
    * batch boundary between its `visible` bounds; on memo_read there is
    * one). The `ts` (brute-arm) recalls of the first [[Sizes.CheckRounds]]
    * rounds must return exactly the rows of `MemoEngine.recall`; ingest
    * rows lie after the window, so this holds on every version. */
  def checkReads(engine: MemoEngine, ops: Seq[ReadOp]): Unit = {
    val rows = synchronized(docs.toVector)
    ops.filter(_.kind == "analyze").foreach { o =>
      attempt()
      val (lo, hi) = o.visible
      val allowed = (lo to hi by BatchRows)
        .map(n => rows.take(n).count(o.filter.get.matches).toLong).toSet
      if (!allowed(o.count) || !allowed(o.statsSum))
        fail(s"analyze ${o.cls}: count ${o.count}, stats sum ${o.statsSum}, " +
          s"expected one of $allowed")
    }
    ops.filter(o => o.kind == "serve" && o.filter.contains(tsFilter) &&
        o.round < CheckRounds).foreach { o =>
      attempt()
      if (o.route != "brute" || o.rows != exact(engine, o))
        fail(s"brute-arm recall for '${o.query}' (${o.route}) differs from exact recall")
    }
  }

  private def exact(engine: MemoEngine, o: ReadOp): Seq[(Long, Double)] =
    engine.recall(o.query, K, o.filter.map(_.expr)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Mean id overlap of the served top-k with exact `MemoEngine.recall`
    * over the serve calls in `ops` (all three filter classes). */
  def recallAtK(engine: MemoEngine, ops: Seq[ReadOp]): Double = {
    val overlaps = ops.filter(_.kind == "serve").map { o =>
      val ex = exact(engine, o)
      o.rows.map(_._1).toSet.intersect(ex.map(_._1).toSet).size.toDouble /
        math.max(1, ex.size)
    }
    if (overlaps.isEmpty) Double.NaN else overlaps.sum / overlaps.size
  }

  /** A fresh engine on the store sees exactly `rows` rows (the set-up's
    * plus every acknowledged append) with dense, unique ids. */
  def checkStore(spark: SparkSession, store: Path, rows: Long): Unit = {
    attempt()
    val r = new MemoEngine(spark, store.toString).records
      .agg(count(lit(1)), countDistinct(col("id")), min(col("id")), max(col("id")))
      .collect()(0)
    val ok = r.getLong(0) == rows && r.getLong(1) == rows &&
      r.getLong(2) == 0L && r.getLong(3) == rows - 1
    if (!ok) fail(s"fresh engine sees $r, expected $rows rows with ids 0..${rows - 1}")
  }
}
