package nelbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Minimal JSON emitters (no JSON library ships with the program). */
object Json {
  def str(s: String): String = nelspark.util.Json.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** What one run measured, handed to `run.py` as a JSON file. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Workload facts printed beside the result (seed, sizes, stamps). */
  val context = mutable.LinkedHashMap.empty[String, String]
  /** The workload's own end-to-end figures, by name: (value, unit). */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Counts one operation; a thrown exception or a false check fails it. */
  def attempt(what: String)(op: => Boolean): Unit = {
    attempted += 1
    val error = try { if (op) None else Some("check failed") }
      catch { case e: Throwable => Some(e.toString.take(300)) }
    error.foreach { e => failed += 1; failures += s"$what: $e" }
  }

  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
    "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
    "named" -> Json.obj(named.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
    "context" -> Json.obj(context)))
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/**
 * Benchmark entry point, one workload per JVM:
 *
 *   nelbench.Bench --workload <er-hot|er-resume|query-surface>
 *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
 *     [--spans <file>] [--tables <dir>] [--expected <query hashes>] [--record <file>]
 *
 * Everything the run writes lives under `--work`; the caller deletes it.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsoluteFile
    work.mkdirs()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = session(cores, new java.io.File(work, "spark-local").getPath)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    val out = new Outcome
    val run = Run(spark, seed, seconds, trace, work, listener, tracer, out, sessionS)

    out.context ++= Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"),
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString)
    try workload match {
      case "er-hot" => Er.batch(run, Er.Hot)
      case "er-resume" => Er.resume(run)
      case "query-surface" => QuerySurface.run(run, opts("tables"), opts("expected"), opts.get("record"))
      case other => sys.error(s"unknown workload: $other")
    } finally {
      out.metrics("peak_rss_mb") = peakRssMb()
      opts.get("spans").foreach { p =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          tracer.toJsonLines(s"$workload-seed$seed").mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
        out.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** High-water resident set of this JVM, from the kernel. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** The program's tuned local session (`nelspark.Main.session`), with
    * the shuffle directory inside the benchmark's work directory instead
    * of a shared tmpfs path. */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("nelbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", new java.io.File(localDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Everything a workload needs from the harness. */
final case class Run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    work: java.io.File, listener: SpanListener, tracer: Tracer, out: Outcome,
    sessionS: Double) {

  /** Runs `iteration` back to back until `seconds` have passed (at least
    * once) and returns each iteration's result. */
  def closedLoop[T](iteration: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val res = mutable.ArrayBuffer.empty[T]
    while (res.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) res += iteration(res.size)
    res.toSeq
  }

  /** Median wall seconds of `reps` runs of `f`; returns the last value. */
  def medianOf[T](reps: Int)(f: => T): (Double, T) = {
    val runs = (1 to reps).map { _ => timed(f) }
    (Stats.median(runs.map(_._1)), runs.last._2)
  }

  /** Per-description task totals since the last reset (bus drained). */
  def taskTotals(): Map[String, TaskTotals] = {
    org.apache.spark.sql.NelShim.waitForListenerBus(spark)
    listener.snapshot()
  }

  def resetTaskTotals(): Unit = {
    org.apache.spark.sql.NelShim.waitForListenerBus(spark)
    listener.reset()
  }

  /** setup_s = session start + median fixture build + untimed warm-up. */
  def setup(fixtureS: Double, warmupS: Double): Unit = {
    out.metrics("setup_s") = sessionS + fixtureS + warmupS
    out.context ++= Seq("session_s" -> Json.num(sessionS), "fixture_s" -> Json.num(fixtureS),
      "warmup_s" -> Json.num(warmupS))
  }
}

object timed {
  def apply[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }
}
