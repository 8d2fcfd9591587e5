package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    sfDir: String,
    workDir: String,
    resultsDir: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      sfDir = need("sf-dir"),
      workDir = need("work-dir"),
      resultsDir = need("results-dir"))
  }
}

/** Something that can wrap a call in a named span; [[Tracer]] records
  * it, [[NoSpans]] just runs the call.
  */
trait Spans { def span[A](layer: String)(body: => A): A }
object NoSpans extends Spans { def span[A](layer: String)(body: => A): A = body }

/** `caches.blocks_left`: persisted RDDs still registered, sampled after
  * every operation of a traced run; the counter keeps the largest sample.
  */
object Blocks {
  def sample(spark: SparkSession, counters: scala.collection.mutable.Map[String, Double]): Unit =
    counters("caches.blocks_left") = math.max(counters.getOrElse("caches.blocks_left", 0.0),
      spark.sparkContext.getPersistentRDDs.size.toDouble)
}

/** Outcome of one timed operation. */
final case class OpSample(ok: Boolean, seconds: Double, rows: Long, error: Option[String])

final class Samples {
  val ops = ArrayBuffer.empty[OpSample]
  def add(s: OpSample): Unit = ops += s
  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def okLatencies: Vector[Double] = ops.filter(_.ok).map(_.seconds).toVector.sorted
  def rows: Long = ops.filter(_.ok).map(_.rows).sum
  def failuresByClass: Map[String, Int] =
    ops.flatMap(_.error).groupBy(identity).map { case (k, v) => k -> v.size }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples above it, as
    * (percentile, value); None when there are fewer than 11 samples.
    */
  def tail(sorted: Vector[Double]): Option[(Double, Double)] =
    if (sorted.size < 11) None
    else {
      val idx = sorted.size - 11 // ten samples lie strictly above this rank
      Some((100.0 * (idx + 1) / sorted.size, sorted(idx)))
    }
}

object Disk {
  /** Regular files under `root`, path -> size. */
  def snapshot(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
    }
  }

  def bytes(root: String): Long = snapshot(root).values.sum

  /** (files, bytes) present in `after` but new or resized since `before`. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val w = after.filter { case (k, v) => !before.get(k).contains(v) }
    (w.size.toLong, w.values.sum)
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala.toVector.reverse.foreach(f => Files.deleteIfExists(f))
      }
  }
}

/** Minimal single-line JSON rendering for the result lines. */
object J {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in result: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Session {
  def build(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry TIMESTAMP(NANOS); harmless otherwise
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.workDir}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Heap in use after a full collection, in MB, per round: the pools'
    * usage as the collector left it, so allocations racing the read don't
    * count. Rounds repeat because a collection can hand objects to
    * Spark's ContextCleaner, which frees more for the next one.
    */
  def heapLiveMb(rounds: Int = 3): Seq[Double] = (1 to rounds).map { _ =>
    System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1e6
    Thread.sleep(250)
    mb
  }

  def environment(o: Opts, spark: SparkSession): Map[String, Any] = {
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("-Xmx")).lastOption.getOrElse("default")
    val sfName = Paths.get(o.sfDir).getFileName.toString
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_xmx" -> xmx,
      "scale_factor" -> (if (sfName.startsWith("sf")) sfName.drop(2) else sfName),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "client" -> "one thread, closed loop",
      "run_seconds" -> o.seconds)
  }
}

/** One workload: how to register its sources, warm up, and run its
  * timed closed loop and output checks.
  */
trait Workload {
  /** Session-dependent source registration (part of set-up). */
  def register(spark: SparkSession): Unit
  /** One untimed operation on a scratch dir (end of set-up). */
  def warmUp(spark: SparkSession, scratchDir: String): Unit
  /** Closed loop over `rounds` rounds, a fixed set of operations each;
    * untraced. Returns the check failures.
    */
  def timed(spark: SparkSession, rounds: Int, samples: Samples): Seq[String]
  /** As [[timed]], but each op is traced and paired with an untraced
    * twin. Returns the check failures.
    */
  def traced(spark: SparkSession, rounds: Int, tracer: Tracer, samples: Samples,
      counters: scala.collection.mutable.Map[String, Double]): Seq[String]
  /** End-of-run output checks (outside every timed window). */
  def finalChecks(spark: SparkSession): Seq[String]
  /** (on-disk bytes, rows stored) of the run's warehouse / state dirs. */
  def store: (Long, Long)
  /** Workload-specific lines for the report. */
  def details: Map[String, Any]
  /** Builds the benchmark's own inputs and reference data, after set-up. */
  def prepare(spark: SparkSession): Unit
}
