package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer


/** Benchmark entry point: one JVM, one SparkSession on `local[nproc]`, one
  * client thread in a closed loop.
  *
  * Prints a report line (every metric with its unit and sample count,
  * environment, failures by error class, check results) and, last, the
  * result line `{"correct", "attempted", "failed", "metrics"}`. Exits 1
  * when an output check fails.
  */
object Main {
  val layers: Seq[String] = Seq(
    "sources", "runner.request_log", "runner.validate", "ops.features", "ops.crossval",
    "ops.macro", "warehouse.append", "warehouse.upsert", "output.csv", "output.report",
    "corpus.ingest")

  private def layerMetrics(prefix: String, t: Tracer.LayerTotals, full: Boolean): Seq[(String, Double, String)] = {
    val all = Seq(
      ("s", t.selfS, "s"), ("calls", t.calls.toDouble, "count"), ("jobs", t.jobs.toDouble, "count"),
      ("tasks", t.tasks.toDouble, "count"), ("task_cpu_s", t.taskCpuS, "s"), ("gc_s", t.gcS, "s"),
      ("shuffle_mb", t.shuffleMb, "MB"), ("spill_mb", t.spillMb, "MB"), ("plan_s", t.planS, "s"),
      ("gap_s", t.gapS, "s"))
    val keep = if (full) all else all.filter { case (k, _, _) =>
      Set("s", "jobs", "tasks", "task_cpu_s", "plan_s", "gap_s")(k) }
    keep.map { case (k, v, u) => (s"$prefix.$k", v, u) }
  }

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  def perLayer(totals: Map[String, Tracer.LayerTotals], c: collection.Map[String, Double])
      : Seq[(String, Double, String)] = {
    def g(k: String) = c.getOrElse(k, 0.0)
    val offered = g("warehouse.rows_offered")
    layers.flatMap(l => layerMetrics(l, totals.getOrElse(l, Tracer.LayerTotals()), full = true)) ++
      layerMetrics("runner.run", totals.getOrElse("runner.run", Tracer.LayerTotals()), full = false) ++
      Seq(
        ("sources.retries", g("sources.retries"), "count"),
        ("warehouse.rows_offered", offered, "rows"),
        ("warehouse.rows_saved", g("warehouse.rows_saved"), "rows"),
        ("warehouse.saved_ratio", if (offered > 0) g("warehouse.rows_saved") / offered else 0.0, "ratio"),
        ("warehouse.files_written", g("warehouse.files_written"), "count"),
        ("warehouse.mb_written", g("warehouse.mb_written"), "MB"),
        ("output.mb_written", g("output.mb_written"), "MB"),
        ("corpus.survivor_ratio", g("corpus.survivor_ratio"), "ratio"),
        ("corpus.files_written", g("corpus.files_written"), "count"),
        ("caches.blocks_left", g("caches.blocks_left"), "count"),
        ("trace.overhead_s", g("trace.overhead_s"), "s"))
  }

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val o = Opts.parse(args)
    val wl: Workload = o.workload match {
      case "request" => new RequestWorkload(o, backfill = false)
      case "backfill" => new RequestWorkload(o, backfill = true)
      case "corpus_night" => new CorpusWorkload(o)
      case w => sys.error(s"unknown workload '$w' (request | corpus_night | backfill)")
    }

    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phases("jvm_to_main") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // Set-up: session build, source registration and one untimed
    // operation on a scratch dir, timed from main entry, so it includes
    // the cold JVM a CLI user pays on every run.
    val spark = Session.build(o)
    wl.register(spark)
    wl.warmUp(spark, s"${o.workDir}/scratch")
    val setupS = (System.nanoTime() - entryNs) / 1e9
    Disk.deleteTree(s"${o.workDir}/scratch")
    phase("prepare")(wl.prepare(spark))

    val samples = new Samples
    val counters = mutable.Map.empty[String, Double]
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    // The timed set is a fixed number of rounds, one per whole 30 s of
    // --seconds and at least one, never "until the clock runs out": a
    // faster program must be timed on the same operations as a slower one.
    val rounds = math.max(1, o.seconds / 30)
    val opErrors = phase("timed_loop") {
      tracer match {
        case None => wl.timed(spark, rounds, samples)
        case Some(t) => wl.traced(spark, rounds, t, samples, counters)
      }
    }
    val heapRounds = phase("heap")(Session.heapLiveMb())
    val heapMb = heapRounds.last
    val checkErrors = opErrors ++ phase("final_checks")(wl.finalChecks(spark))
    val (storeBytes, storeRows) = phase("store")(wl.store)

    val ok = samples.okLatencies
    val timedS = samples.ops.map(_.seconds).sum
    val e2e: Seq[(String, Double, String, Int)] = Seq(
      ("latency_p50_s", Stats.median(ok), "s", ok.size),
      ("rows_per_s", samples.rows / timedS, "rows/s", ok.size),
      ("store_bytes_per_row", storeBytes.toDouble / math.max(storeRows, 1L), "B/row", 1),
      ("heap_live_mb", heapMb, "MB", 1),
      ("setup_s", setupS, "s", 1))
    val traceM = tracer.map(t => perLayer(t.layerTotals(), counters)).getOrElse(Nil)

    val failures = ArrayBuffer.empty[String]
    failures ++= checkErrors
    if (ok.isEmpty) failures += "no operation succeeded"
    val correct = failures.isEmpty
    val metrics: Seq[(String, Double, String)] =
      if (o.trace) traceM
      else e2e.map { case (k, v, u, _) => (k, v, u) }

    val tail = Stats.tail(ok)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "environment" -> Session.environment(o, spark),
      "end_to_end" -> e2e.filter(m => !m._2.isNaN).map { case (k, v, u, n) =>
        Map("name" -> k, "value" -> v, "unit" -> u, "samples" -> n) },
      "latency_tail_s" -> tail.map { case (p, v) => Map("percentile" -> p, "value" -> v, "samples" -> ok.size) }
        .getOrElse(s"omitted: ${ok.size} samples, a tail needs at least 11"),
      "fail_frac" -> (if (samples.attempted == 0) 0.0 else samples.failed.toDouble / samples.attempted),
      "failures_by_class" -> samples.failuresByClass,
      "phases_s" -> phases,
      "rounds" -> rounds,
      "timed_wall_s" -> timedS,
      "heap_rounds_mb" -> heapRounds,
      "store" -> Map("bytes" -> storeBytes, "rows" -> storeRows),
      "check_failures" -> failures.toSeq,
      "details" -> wl.details)
    if (o.workload == "request")
      report("context") = Map("reference_request_s" -> 1.0, "reference_request_rows" -> 12,
        "note" -> "reference run of a 12-row request (BASELINE.md); context only, not a gate")
    if (o.trace) report("trace") = Map(
      "traced_s" -> counters.getOrElse("trace.traced_s", 0.0),
      "untraced_s" -> counters.getOrElse("trace.untraced_s", 0.0),
      "overhead_s" -> counters.getOrElse("trace.overhead_s", 0.0))

    val result = J.render(mutable.LinkedHashMap[String, Any](
      "correct" -> correct,
      "attempted" -> samples.attempted,
      "failed" -> samples.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.filter(m => !m._2.isNaN)
        .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }: _*)))

    Files.createDirectories(Paths.get(o.resultsDir))
    val stem = s"${o.resultsDir}/${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.writeString(Paths.get(stem + ".json"), J.render(report) + "\n")
    tracer.foreach { t =>
      Files.writeString(Paths.get(stem + "-spans.json"), J.render(t.spanRecords.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "op" -> s.op,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> (s.endNs - s.startNs) / 1e9)
      }) + "\n")
    }
    failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    println(J.render(Map("report" -> report)))
    println(result)
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
