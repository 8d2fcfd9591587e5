package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.{CorpusPipeline, SemanticConfig}

/** `corpus_night`: the stateful nightly ingest. The seed splits the
  * documents into three nights. Each round ingests the first two, timed,
  * into a fresh state dir, and then replays the second, untimed; the
  * replay must ingest nothing.
  */
final class CorpusWorkload(o: Opts) extends Workload {
  private val nights = 3
  private val timedNights = 2
  private val semantic = SemanticConfig(dim = 64)
  private var docs: DataFrame = _
  private var chunks: DataFrame = _
  private var nightSizes: Vector[Long] = _
  /** per state dir, in ingest order: (night, replay?, ingested, corpus_total) */
  private val results = mutable.LinkedHashMap.empty[String, ArrayBuffer[(Int, Boolean, Long, Long)]]
  private val opLog = ArrayBuffer.empty[Map[String, Any]]

  private def night(i: Int): DataFrame =
    docs.filter(pmod(xxhash64(col("doc_id"), lit(o.seed)), lit(nights)) === i)

  def register(spark: SparkSession): Unit = {
    docs = spark.read.parquet(s"${o.sfDir}/documents.parquet").select(col("doc_id"), col("text"))
    chunks = spark.read.parquet(s"${o.sfDir}/embeddings.parquet")
      .select(expr(s"vec_id div ${semantic.chunksPerDoc}").as("doc_id"), col("embedding"))
  }

  def prepare(spark: SparkSession): Unit =
    nightSizes = (0 until nights).map(i => night(i).count()).toVector

  private def ingest(spark: SparkSession, dir: String, batch: DataFrame): Map[String, Long] =
    CorpusPipeline.ingest(spark, dir, batch, batchChunks = Some(chunks), semantic = Some(semantic))

  def warmUp(spark: SparkSession, scratchDir: String): Unit = {
    // a small night: ~1% of the documents, picked by the seed
    ingest(spark, s"$scratchDir/state",
      docs.filter(pmod(xxhash64(col("doc_id"), lit(o.seed + 1)), lit(100)) === 0))
    ()
  }

  private def run(spark: SparkSession, rounds: Int, samples: Samples, label: String)
      (op: (String, Int) => (Map[String, Long], Double)): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    for (r <- 0 until rounds) {
      val dir = s"${o.workDir}/$label/state$r"
      for (n <- 0 until timedNights) {
        val res = try Right(op(dir, n)) catch { case e: Throwable => Left(e) }
        res match {
          case Right((c, dt)) =>
            samples.add(OpSample(ok = true, dt, nightSizes(n), None))
            results.getOrElseUpdate(dir, ArrayBuffer.empty) += ((n, false, c("ingested"), c("corpus_total")))
            opLog += Map("round" -> r, "night" -> n, "docs" -> nightSizes(n),
              "ingested" -> c("ingested"), "seconds" -> dt)
          case Left(e) =>
            samples.add(OpSample(ok = false, 0.0, nightSizes(n), Some(e.getClass.getName)))
            errs += s"$label: night $n failed with $e"
        }
      }
      // the no-op check: replay the round's last ingested night, untimed
      results.get(dir).flatMap(_.lastOption).foreach { case (last, _, _, _) =>
        try {
          val c = ingest(spark, dir, night(last))
          results(dir) += ((last, true, c("ingested"), c("corpus_total")))
          opLog += Map("round" -> r, "night" -> last, "replay" -> true, "ingested" -> c("ingested"))
        } catch { case e: Throwable => errs += s"$label: replay of night $last failed with $e" }
      }
    }
    errs.toSeq
  }

  def timed(spark: SparkSession, rounds: Int, samples: Samples): Seq[String] =
    run(spark, rounds, samples, "timed") { (dir, n) =>
      val t0 = System.nanoTime()
      val c = ingest(spark, dir, night(n))
      (c, (System.nanoTime() - t0) / 1e9)
    }

  def traced(spark: SparkSession, rounds: Int, tracer: Tracer, samples: Samples,
      counters: mutable.Map[String, Double]): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    var tracedS = 0.0
    var plainS = 0.0
    var offered = 0L
    var ingested = 0L
    var files = 0L
    var i = 0
    errs ++= run(spark, rounds, samples, "traced") { (dir, n) =>
      val twin = dir.replace("/traced/", "/untraced/")
      def runA(): Map[String, Long] = {
        val before = Disk.snapshot(dir)
        tracer.attach()
        tracer.nextOp()
        val c = try tracer.span("corpus.ingest")(ingest(spark, dir, night(n))) finally tracer.detach()
        tracedS += tracer.opWallSeconds
        files += Disk.written(before, Disk.snapshot(dir))._1
        offered += nightSizes(n)
        ingested += c("ingested")
        Blocks.sample(spark, counters)
        c
      }
      def runB(): Map[String, Long] = {
        val t0 = System.nanoTime()
        val c = ingest(spark, twin, night(n))
        plainS += (System.nanoTime() - t0) / 1e9
        Blocks.sample(spark, counters)
        c
      }
      val (a, b) = if (i % 2 == 0) { val x = runA(); (x, runB()) } else { val y = runB(); (runA(), y) }
      if (a != b) errs += s"traced and untraced ingest of night $n disagree: $a vs $b"
      i += 1
      (a, tracer.opWallSeconds)
    }
    counters("corpus.survivor_ratio") = if (offered == 0) 0.0 else ingested.toDouble / offered
    counters("corpus.files_written") = files.toDouble
    counters("trace.overhead_s") = tracedS - plainS
    counters("trace.traced_s") = tracedS
    counters("trace.untraced_s") = plainS
    errs.toSeq
  }

  def finalChecks(spark: SparkSession): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    results.foreach { case (dir, rs) =>
      var sum = 0L
      if (rs.filterNot(_._2).map(_._1) != rs.indices.take(rs.count(!_._2)))
        errs += s"$dir: nights ingested out of order: ${rs.map(_._1)}"
      rs.foreach { case (n, replay, ing, total) =>
        if (replay && ing != 0) errs += s"$dir: replay of night $n ingested $ing, expected 0"
        sum += ing
        if (total != sum) errs += s"$dir: corpus_total $total after night $n, ingested sum $sum"
      }
      val stored = spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/corpus")
      val r = stored.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
      if (r.getLong(0) != r.getLong(1))
        errs += s"$dir: ${r.getLong(0)} stored rows but ${r.getLong(1)} distinct doc_id"
      if (r.getLong(0) != sum) errs += s"$dir: ${r.getLong(0)} stored rows, ingested $sum"
    }
    errs.toSeq
  }

  def store: (Long, Long) = {
    val dirs = results.keys.filter(_.contains("/timed/")).toSeq match {
      case Seq() => results.keys.filter(_.contains("/traced/")).toSeq
      case ds => ds
    }
    (dirs.map(Disk.bytes).sum, dirs.map(d => results(d).lastOption.map(_._4).getOrElse(0L)).sum)
  }

  def details: Map[String, Any] = Map(
    "documents" -> nightSizes.sum,
    "docs_per_night" -> nightSizes,
    "ops" -> opLog.toSeq)
}
