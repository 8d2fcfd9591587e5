package graftbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CrossValidationOps, FeatureOps, MacroOps}
import graft.output.{Fmt, Json, OutputManager, SystemClock}
import graft.queries.Q
import graft.runner.{Request, RequestRunner, RunResult}
import graft.sources.{ErrorTracker, RetryPolicy, Source, SourceOps}
import graft.warehouse.Warehouse

/** The file-backed stand-ins for the three feeds, built the way the
  * `RunPipeline` CLI builds them: prices as the Yahoo feed, gross
  * revenue as the Alpha Vantage feed, the events aggregate as the FRED
  * feed. Every fetch goes through graft's retry + error-tracker chain.
  */
final class RequestSources(sfDir: String) {
  val tracker = new ErrorTracker()
  private val retry = new RetryPolicy()

  private def src(sp: Spans)(build: SparkSession => DataFrame): Source =
    new Source { def fetch(s: SparkSession): DataFrame = sp.span("sources")(build(s)) }

  private def events(s: SparkSession): DataFrame = {
    val raw = Q.t(s, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** (primary, secondary, macro) frames for one request. */
  def fetch(spark: SparkSession, req: Request, sp: Spans)
      : (DataFrame, Option[DataFrame], Option[DataFrame]) = {
    val yahoo = src(sp) { s =>
      Q.prices(Q.t(s, sfDir, "lineitem"))
        .withColumn("ticker", col("ticker").cast("string"))
        .filter(col("ticker").isin(req.tickers: _*))
        .filter(col("date").between(lit(req.startDate).cast("date"), lit(req.endDate).cast("date")))
    }
    val primary = sp.span("sources") {
      val (df, errs) = SourceOps.fetchAllOrLog(Seq("yahoo" -> yahoo), spark, retry, Some(tracker))
      df.getOrElse(sys.error(s"primary source failed after retries: ${errs.mkString("; ")}"))
    }
    val secondary =
      if (!req.enableValidation) None
      else sp.span("sources")(SourceOps.fetchAllOrLog(Seq("alpha_vantage" -> src(sp) { s =>
        Q.t(s, sfDir, "lineitem")
          .groupBy(col("l_suppkey").cast("string").as("ticker"), to_date(col("l_shipdate")).as("date"))
          .agg(Q.money2(sum(col("l_extendedprice").cast("decimal(12,4)"))).as("close"))
          .filter(col("ticker").isin(req.tickers: _*))
      }), spark, retry, Some(tracker))._1)
    val macroData =
      if (!req.fetchMacro) None
      else sp.span("sources")(SourceOps.fetchAllOrLog(Seq("fred" -> src(sp)(macroSeries)),
        spark, retry, Some(tracker))._1)
    (primary, secondary, macroData)
  }

  /** The FRED stand-in: daily sums per event type. It does not depend on
    * the request, so every macro request offers the same rows.
    */
  def macroSeries(s: SparkSession): DataFrame =
    events(s)
      .select(col("event_type").as("series_id"), to_date(col("ts")).as("date"), col("value"))
      .groupBy("series_id", "date")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("value"))
}

/** Distinct (ticker, date) price keys, read straight from lineitem with
  * plain Spark (no graft code), plus the keys each warehouse already
  * holds: the reference for how many rows a request must save.
  */
final class KeyOracle(val byTicker: Map[String, Array[Int]]) {
  private val stored = mutable.Map.empty[String, mutable.BitSet]

  def universe: IndexedSeq[String] = byTicker.keys.toVector.sortBy(t => (t.length, t))
  def dayRange: (Int, Int) = (byTicker.values.map(_.head).min, byTicker.values.map(_.last).max)

  private def days(req: Request): Seq[(String, Seq[Int])] = {
    val lo = LocalDate.parse(req.startDate).toEpochDay.toInt
    val hi = LocalDate.parse(req.endDate).toEpochDay.toInt
    req.tickers.distinct.map { t =>
      t -> byTicker.getOrElse(t, Array.emptyIntArray).toSeq.filter(d => d >= lo && d <= hi)
    }
  }

  def rows(req: Request): Long = days(req).map(_._2.size.toLong).sum

  def expectedSaved(req: Request): Long = days(req).map { case (t, ds) =>
    val have = stored.getOrElse(t, mutable.BitSet.empty)
    ds.count(d => !have(d)).toLong
  }.sum

  def commit(req: Request): Unit = days(req).foreach { case (t, ds) =>
    stored.getOrElseUpdate(t, mutable.BitSet.empty) ++= ds
  }

  /** Take what a warehouse really holds for `tickers` (after a failed op). */
  def resync(spark: SparkSession, marketDir: String, tickers: Seq[String]): Unit =
    if (Files.exists(Paths.get(marketDir))) {
      spark.read.parquet(marketDir).filter(col("ticker").cast("string").isin(tickers: _*))
        .select(col("ticker").cast("string"), col("date")).collect().foreach { r =>
          stored.getOrElseUpdate(r.getString(0), mutable.BitSet.empty) +=
            r.getDate(1).toLocalDate.toEpochDay.toInt
        }
    }

  def storedCount: Long = stored.values.map(_.size.toLong).sum
}

object KeyOracle {
  def load(spark: SparkSession, sfDir: String): KeyOracle = {
    val rows = Q.t(spark, sfDir, "lineitem")
      .groupBy(col("l_suppkey").cast("string").as("t"))
      .agg(sort_array(collect_set(datediff(to_date(col("l_shipdate")), lit("1970-01-01")))).as("d"))
      .collect()
    new KeyOracle(rows.map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap)
  }
}

/** Seeded request generators. The program only ever sees the `Request`
  * values they return.
  */
object RequestPlans {
  sealed trait Slot
  final case class Fresh(tickers: Int, windowDays: Int, validation: Boolean, withMacro: Boolean)
    extends Slot
  /** An exact re-run of slot `of` of the same round. */
  final case class Rerun(of: Int) extends Slot

  /** `request`: one round of four slots that repeats: a plain request,
    * one with validation and macro, one with validation only, and an
    * exact re-run of the plain request, which must save 0 rows through
    * the warehouse's read and dedup path. The re-run repeats a fixed
    * slot because re-runs of the validating requests cost more and vary
    * more, which would make the round's median depend on the seed.
    * Ticker counts (1-3) and windows (6 months to 2 years) are paired so
    * each fresh slot carries a similar number of rows, and the slots are
    * fixed, so every run times the same mix. The seed draws the tickers
    * (Zipf-skewed popularity over a seeded ranking of the universe) and
    * the start dates.
    */
  val streamCycle: Vector[Slot] = Vector(
    Fresh(2, 365, validation = false, withMacro = false),
    Fresh(3, 182, validation = true, withMacro = true),
    Fresh(1, 730, validation = true, withMacro = false),
    Rerun(of = 0))

  def isoDay(d: Int): String = LocalDate.ofEpochDay(d.toLong).toString

  final class Stream(seed: Long, universe: IndexedSeq[String], minDay: Int, maxDay: Int) {
    private val rnd = new scala.util.Random(seed)
    private val ranked = rnd.shuffle(universe)
    private val cum = ranked.indices.map(r => 1.0 / math.pow(r + 1.0, 1.1)).scanLeft(0.0)(_ + _).tail
    private val made = ArrayBuffer.empty[(Request, Boolean)]

    private def ticker(): String = {
      val u = rnd.nextDouble() * cum.last
      val i = cum.indexWhere(_ >= u)
      ranked(if (i < 0) ranked.size - 1 else i)
    }

    private def tickers(n: Int): Seq[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < n) s += ticker()
      s.toSeq
    }

    /** i-th request and whether it is a re-run. */
    def apply(i: Int): (Request, Boolean) = {
      while (made.size <= i) {
        val next = streamCycle(made.size % streamCycle.size) match {
          case Rerun(of) =>
            (made(made.size - made.size % streamCycle.size + of)._1, true)
          case Fresh(n, w, v, m) =>
            val start = minDay + rnd.nextInt(maxDay - minDay - w)
            (Request(tickers(n), isoDay(start), isoDay(start + w), enableValidation = v,
              fetchMacro = m), false)
        }
        made += next
      }
      made(i)
    }
  }

  /** `backfill`: the universe split by the seed into two halves, each
    * one request over the full date range with validation and macro on,
    * then both re-run.
    */
  final class Backfill(seed: Long, universe: IndexedSeq[String], minDay: Int, maxDay: Int) {
    private val (a, b) = new scala.util.Random(seed).shuffle(universe).splitAt(universe.size / 2)
    private def req(ts: Seq[String]) = Request(ts.sortBy(t => (t.length, t)), isoDay(minDay),
      isoDay(maxDay), enableValidation = true, fetchMacro = true)
    private val plan = Vector((req(a), false), (req(b), false), (req(a), true), (req(b), true))
    def apply(i: Int): (Request, Boolean) = plan(i % plan.size)
  }
}

/** One warehouse + output dir being served requests, with everything the
  * output checks need to know about what happened to it.
  */
final class Served(spark: SparkSession, val dir: String, tracker: Option[ErrorTracker]) {
  val warehouseDir = s"$dir/warehouse"
  val outputDir = s"$dir/outputs"
  val runner = new RequestRunner(spark, warehouseDir, outputDir, tracker = tracker)
  var completed = 0
  var failed = 0
  var savedTotal = 0L

  def record(ok: Boolean, saved: Long): Unit =
    if (ok) { completed += 1; savedTotal += saved } else failed += 1

  /** Output checks on the warehouse as a whole. */
  def checkTables(oracle: KeyOracle, label: String): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val market = s"$warehouseDir/market_data"
    if (Files.exists(Paths.get(market))) {
      val md = spark.read.parquet(market)
      val r = md.agg(count(lit(1)), countDistinct(col("ticker"), col("date"))).head()
      if (r.getLong(0) != r.getLong(1))
        errs += s"$label: market_data holds ${r.getLong(0)} rows but ${r.getLong(1)} distinct (ticker, date)"
      if (r.getLong(0) != oracle.storedCount)
        errs += s"$label: market_data holds ${r.getLong(0)} rows, expected ${oracle.storedCount}"
    } else if (oracle.storedCount > 0) errs += s"$label: market_data missing"
    val logDir = s"$warehouseDir/request_log"
    val attempted = completed + failed
    if (attempted > 0) {
      if (!Files.exists(Paths.get(logDir))) errs += s"$label: request_log missing"
      else {
        val rl = spark.read.parquet(logDir)
        val n = rl.count()
        val ids = rl.select("request_id").distinct().count()
        val byStatus = rl.groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        if (n != attempted || ids != attempted)
          errs += s"$label: request_log has $n rows / $ids ids for $attempted requests"
        if (byStatus.getOrElse("completed", 0L) != completed || byStatus.getOrElse("failed", 0L) != failed)
          errs += s"$label: request_log statuses $byStatus, expected completed=$completed failed=$failed"
      }
    }
    errs.toSeq
  }
}

object CsvRows {
  def apply(path: String): Long =
    scala.util.Using.resource(Files.lines(Paths.get(path)))(_.count()) - 1
}

/** `request` and `backfill`: a closed loop of request lifecycles into one
  * warehouse that grows during the run.
  */
final class RequestWorkload(o: Opts, backfill: Boolean) extends Workload {
  private var sources: RequestSources = _
  private var oracle: KeyOracle = _
  private var oracleB: KeyOracle = _
  private var stream: Int => (Request, Boolean) = _
  private val served = ArrayBuffer.empty[(Served, KeyOracle, String)]
  private var reruns = 0
  private val rowsPerOp = ArrayBuffer.empty[Long]
  /** Requests per round: the stream's four slots, or the four backfill
    * requests.
    */
  private val round = if (backfill) 4 else RequestPlans.streamCycle.size
  /** Rows of the macro batch each macro request offers to `dedupAppend`. */
  private var macroRows = 0L
  private val opLog = ArrayBuffer.empty[Map[String, Any]]

  def register(spark: SparkSession): Unit = sources = new RequestSources(o.sfDir)

  /** Warm-up request for set-up: the first supplier over the whole
    * range, plain; it needs no generated input.
    */
  private val warmReq = Request(Seq("1"), "1900-01-01", "2099-12-31")

  def prepare(spark: SparkSession): Unit = {
    oracle = KeyOracle.load(spark, o.sfDir)
    oracleB = new KeyOracle(oracle.byTicker)
    val (lo, hi) = oracle.dayRange
    macroRows = MacroOps.enrichWithCatalog(sources.macroSeries(spark)).count()
    stream =
      if (backfill) new RequestPlans.Backfill(o.seed, oracle.universe, lo, hi).apply
      else new RequestPlans.Stream(o.seed, oracle.universe, lo, hi).apply
  }

  def warmUp(spark: SparkSession, scratchDir: String): Unit = {
    val s = new Served(spark, scratchDir, Some(sources.tracker))
    val (p, sec, m) = sources.fetch(spark, warmReq, NoSpans)
    s.runner.run(warmReq, p, sec, m)
  }

  private def fail(e: Throwable): Some[String] = Some(e.getClass.getName)

  /** Per-request output checks shared by both loops. */
  private def checkResult(label: String, req: Request, r: RunResult, expected: Long): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    if (r.marketRecords != expected)
      errs += s"$label: saved ${r.marketRecords} rows, expected $expected (${req.tickers.mkString(",")} ${req.startDate}..${req.endDate})"
    val rows = oracle.rows(req)
    r.csvPath match {
      case Some(p) =>
        val n = CsvRows(p)
        if (n != rows) errs += s"$label: CSV has $n rows, request has $rows"
      case None => if (rows > 0) errs += s"$label: no CSV for a request with $rows rows"
    }
    Seq(r.reportPath, r.logPath).foreach { p =>
      if (!Files.exists(Paths.get(p))) errs += s"$label: missing artifact $p"
    }
    errs.toSeq
  }

  def timed(spark: SparkSession, rounds: Int, samples: Samples): Seq[String] = {
    val s = new Served(spark, s"${o.workDir}/timed", Some(sources.tracker))
    served += ((s, oracle, "timed"))
    val errs = ArrayBuffer.empty[String]
    for (i <- 0 until rounds * round) {
      val (req, rerun) = stream(i)
      val expected = oracle.expectedSaved(req)
      val rows = oracle.rows(req)
      val t0 = System.nanoTime()
      val res =
        try { val (p, sec, m) = sources.fetch(spark, req, NoSpans); Right(s.runner.run(req, p, sec, m)) }
        catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      res match {
        case Right(r) =>
          samples.add(OpSample(ok = true, dt, rows, None))
          errs ++= checkResult(s"request $i", req, r, expected)
          s.record(ok = true, r.marketRecords)
          oracle.commit(req)
        case Left(e) =>
          samples.add(OpSample(ok = false, dt, rows, fail(e)))
          s.record(ok = false, 0)
          oracle.resync(spark, s"${s.warehouseDir}/market_data", req.tickers)
      }
      if (rerun) reruns += 1
      rowsPerOp += rows
      opLog += Map("i" -> i, "tickers" -> req.tickers.size, "start" -> req.startDate,
        "end" -> req.endDate, "validation" -> req.enableValidation, "macro" -> req.fetchMacro,
        "rerun" -> rerun, "rows" -> rows, "expected_saved" -> expected, "seconds" -> dt,
        "error" -> res.left.toOption.map(_.getClass.getName))
    }
    errs.toSeq
  }

  def traced(spark: SparkSession, rounds: Int, tracer: Tracer, samples: Samples,
      counters: mutable.Map[String, Double]): Seq[String] = {
    val srcA = new RequestSources(o.sfDir)
    val a = new Served(spark, s"${o.workDir}/traced", Some(srcA.tracker))
    val b = new Served(spark, s"${o.workDir}/untraced", Some(sources.tracker))
    served += ((a, oracle, "traced replay"))
    served += ((b, oracleB, "run()"))
    val errs = ArrayBuffer.empty[String]
    var tracedS = 0.0
    var plainS = 0.0
    def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
    for (i <- 0 until rounds * round) {
      val (req, rerun) = stream(i)
      val expected = oracle.expectedSaved(req)
      val rows = oracle.rows(req)
      def runA(): Either[Throwable, RunResult] = {
        val whBefore = Disk.snapshot(a.warehouseDir)
        val outBefore = Disk.snapshot(a.outputDir)
        tracer.attach()
        tracer.nextOp()
        val r =
          try {
            val (p, sec, m) = srcA.fetch(spark, req, tracer)
            Right(Replay(spark, a, req, p, sec, m, tracer, srcA.tracker, rows, macroRows, add))
          } catch { case e: Throwable => Left(e) }
        val dt = tracer.opWallSeconds
        tracer.detach()
        tracedS += dt
        samples.add(OpSample(r.isRight, dt, rows, r.left.toOption.flatMap(fail)))
        Blocks.sample(spark, counters)
        val (wf, wb) = Disk.written(whBefore, Disk.snapshot(a.warehouseDir))
        val (_, ob) = Disk.written(outBefore, Disk.snapshot(a.outputDir))
        add("warehouse.files_written", wf.toDouble)
        add("warehouse.mb_written", wb / 1e6)
        add("output.mb_written", ob / 1e6)
        r
      }
      def runB(): Either[Throwable, RunResult] = {
        val t0 = System.nanoTime()
        val r =
          try { val (p, sec, m) = sources.fetch(spark, req, NoSpans); Right(b.runner.run(req, p, sec, m)) }
          catch { case e: Throwable => Left(e) }
        plainS += (System.nanoTime() - t0) / 1e9
        Blocks.sample(spark, counters)
        r
      }
      // alternate which twin goes first, so neither always runs warmer
      val (ra, rb) =
        if (i % 2 == 0) { val x = runA(); (x, runB()) }
        else { val y = runB(); (runA(), y) }
      (ra, rb) match {
        case (Right(x), Right(y)) =>
          errs ++= checkResult(s"replay $i", req, x, expected)
          errs ++= checkResult(s"run() $i", req, y, expected)
          if ((x.marketRecords, x.macroRecords, x.discrepancies) != (y.marketRecords, y.macroRecords, y.discrepancies))
            errs += s"request $i: replay saved ${(x.marketRecords, x.macroRecords, x.discrepancies)}, run() ${(y.marketRecords, y.macroRecords, y.discrepancies)}"
          if (x.csvPath.map(CsvRows(_)) != y.csvPath.map(CsvRows(_)))
            errs += s"request $i: replay and run() CSVs differ in rows"
          val anomalies = (d: String) => Option(Paths.get(d).toFile.list()).toSeq.flatten.count(_.startsWith("anomalies_"))
          if (anomalies(a.outputDir) != anomalies(b.outputDir))
            errs += s"request $i: replay and run() wrote different anomaly reports"
          a.record(ok = true, x.marketRecords); b.record(ok = true, y.marketRecords)
          oracle.commit(req); oracleB.commit(req)
        case (Left(x), Left(y)) =>
          if (x.getClass != y.getClass)
            errs += s"request $i: replay failed with ${x.getClass.getName}, run() with ${y.getClass.getName}"
          a.record(ok = false, 0); b.record(ok = false, 0)
          oracle.resync(spark, s"${a.warehouseDir}/market_data", req.tickers)
          oracleB.resync(spark, s"${b.warehouseDir}/market_data", req.tickers)
        case (x, y) =>
          errs += s"request $i: replay ${x.fold(_.getClass.getName, _ => "ok")} but run() ${y.fold(_.getClass.getName, _ => "ok")}"
          a.record(x.isRight, x.fold(_ => 0L, _.marketRecords)); b.record(y.isRight, y.fold(_ => 0L, _.marketRecords))
          oracle.resync(spark, s"${a.warehouseDir}/market_data", req.tickers)
          oracleB.resync(spark, s"${b.warehouseDir}/market_data", req.tickers)
      }
      if (rerun) reruns += 1
      rowsPerOp += rows
    }
    counters("sources.retries") = srcA.tracker.errorCount.toDouble
    counters("trace.overhead_s") = tracedS - plainS
    counters("trace.traced_s") = tracedS
    counters("trace.untraced_s") = plainS
    errs.toSeq
  }

  def finalChecks(spark: SparkSession): Seq[String] =
    served.toSeq.flatMap { case (s, orc, label) => s.checkTables(orc, label) }

  def store: (Long, Long) = {
    val s = served.head._1
    val tables = Option(Paths.get(s.warehouseDir).toFile.list()).toSeq.flatten
    val spark = SparkSession.active
    val rows = tables.map(t => spark.read.parquet(s"${s.warehouseDir}/$t").count()).sum
    (Disk.bytes(s.warehouseDir), rows)
  }

  def details: Map[String, Any] = Map(
    "requests" -> rowsPerOp.size,
    "reruns" -> reruns,
    "rows_per_request" -> rowsPerOp.toSeq,
    "ops" -> opLog.toSeq)
}

/** The request lifecycle of `RequestRunner.run`, replayed through the
  * same public calls in the same order, each wrapped in a span named
  * after the layer it enters. Work that `run` does in its own body
  * (collecting summaries, counting discrepancies) lands in the
  * `runner.run` span that encloses the whole request. The rows each
  * `dedupAppend` is offered come from the caller (`marketRows`, the
  * request's distinct price keys; `macroRows`, counted before the run),
  * so the replay runs no Spark action that `run` does not.
  */
object Replay {
  def apply(spark: SparkSession, s: Served, req: Request, primary: DataFrame,
      secondary: Option[DataFrame], macroData: Option[DataFrame], sp: Spans,
      tracker: ErrorTracker, marketRows: Long, macroRows: Long,
      add: (String, Double) => Unit): RunResult = sp.span("runner.run") {
    val runner = s.runner
    val wh = new Warehouse(spark, s.warehouseDir)
    val out = new OutputManager(s.outputDir, SystemClock)
    val errorsBefore = tracker.errorCount.toLong
    val requestId = runner.generateRequestId(req)
    def append(table: String, batch: DataFrame, keys: Seq[String], parts: Seq[String],
        offered: Long): Long = {
      val saved = sp.span("warehouse.append")(wh.dedupAppend(table, batch, keys, parts))
      add("warehouse.rows_offered", offered.toDouble)
      add("warehouse.rows_saved", saved.toDouble)
      saved
    }
    sp.span("runner.request_log")(runner.writeRequestLog(requestId, req, "started"))
    val pinned = ArrayBuffer.empty[DataFrame]
    try {
      val (clean, basicReport) = sp.span("runner.validate")(runner.validateBasic(primary))
      pinned += clean
      val features = sp.span("ops.features")(FeatureOps.transform(clean))
      val cross = secondary.filter(_ => req.enableValidation).map { sec =>
        val cmp = sp.span("ops.crossval")(
          CrossValidationOps.compareSources(clean, sec, "ticker", "date", req.tolerancePct))
        cmp.cache()
        pinned += cmp
        val summary = sp.span("ops.crossval")(CrossValidationOps.reconciliationSummary(cmp))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
        (cmp, summary)
      }
      val enriched = cross match {
        case Some((cmp, _)) => sp.span("ops.crossval")(CrossValidationOps.enrichWithFlags(features,
          cmp.select(col("ticker"), col("date"), col("discrepancy_flag")), "ticker", "date"))
        case None => features.withColumn("discrepancy_flag", lit(false))
      }
      val macroProfile = macroData.map { m =>
        sp.span("ops.macro")(MacroOps.seriesProfile(m)).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
      }
      val withRequest = enriched.withColumn("request_id", lit(requestId))
        .withColumn("updated_at", lit(Fmt.iso(SystemClock)))
      val marketRecords = append("market_data", withRequest, Seq("ticker", "date"), Seq("ticker"),
        marketRows)
      val macroRecords = macroData.fold(0L) { m =>
        val enrichedMacro = sp.span("ops.macro")(MacroOps.enrichWithCatalog(m))
        append("macro_data", enrichedMacro.withColumn("request_id", lit(requestId)),
          Seq("series_id", "date"), Seq("series_id"), macroRows)
      }
      val discrepancyCount = cross.fold(0L) { case (cmp, _) =>
        val disc = sp.span("ops.crossval")(CrossValidationOps.discrepancies(cmp, req.tolerancePct))
          .withColumn("validation_id",
            concat(lit(s"${requestId}_cross_"), col("ticker"), lit("_"),
              date_format(col("date"), "yyyyMMdd")))
          .withColumn("request_id", lit(requestId))
        disc.cache()
        pinned += disc
        val n = disc.count()
        if (n > 0) {
          sp.span("warehouse.upsert")(wh.upsert("cross_validation", disc,
            Seq("validation_id", "ticker"), Seq("ticker")))
          sp.span("output.csv")(out.saveAnomalyReport(
            disc.select("ticker", "date", "yahoo_close", "alpha_close", "price_diff", "diff_pct")
              .orderBy("ticker", "date"),
            s"anomalies_$requestId.csv"))
        }
        n
      }
      val csvPath = sp.span("output.csv")(out.createTimestampedCsv(
        enriched.orderBy("ticker", "date"), req.tickers, req.startDate, req.endDate, requestId))
      val crossSummary = cross.map { case (_, perTicker) =>
        OutputManager.CrossValidationSummary(
          comparisons = perTicker.map(_._2).sum,
          discrepancies = discrepancyCount,
          perTicker = perTicker)
      }
      val macroSummary = macroProfile.map { profiles =>
        OutputManager.MacroValidationSummary(profiles.map(_._2).sum, profiles)
      }
      val reportPath = sp.span("output.report")(out.createValidationReport(
        requestId, basicReport, crossSummary, macroSummary,
        req.tickers, req.startDate, req.endDate))
      val errorStats: Seq[(String, Json.JValue)] = Seq(
        "error_count" -> Json.JInt(tracker.errorCount.toLong),
        "errors_by_operation" -> Json.JObj(tracker.byOperation.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (Json.JInt(v.toLong): Json.JValue) }),
        "errors_by_type" -> Json.JObj(tracker.byType.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (Json.JInt(v.toLong): Json.JValue) }))
      val logPath = sp.span("output.report")(out.createSummaryLog(
        requestId,
        Seq(
          "total_market_records" -> Json.JInt(marketRecords),
          "total_macro_records" -> Json.JInt(macroRecords),
          "cross_validation_performed" -> Json.JBool(cross.isDefined),
          "discrepancies_found" -> Json.JInt(discrepancyCount)) ++ errorStats,
        Map("csv" -> csvPath.map(_.toString).getOrElse("None"),
          "validation" -> reportPath.toString)))
      sp.span("runner.request_log")(runner.writeRequestLog(requestId, req, "completed",
        marketRecords, macroRecords, validationPerformed = cross.isDefined,
        errorCount = tracker.errorCount.toLong - errorsBefore))
      RunResult(requestId, "completed", marketRecords, macroRecords,
        discrepancyCount, csvPath.map(_.toString), reportPath.toString, logPath.toString)
    } catch {
      case e: Throwable =>
        sp.span("runner.request_log")(runner.writeRequestLog(requestId, req, "failed",
          errorCount = tracker.errorCount.toLong - errorsBefore + 1))
        throw e
    } finally pinned.foreach(_.unpersist())
  }
}
