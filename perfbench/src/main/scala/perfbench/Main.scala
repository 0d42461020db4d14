package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Result of one run, written as JSON for run.py. */
final class Result {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Workload properties and diagnostics: printed, never gated. */
  val info = mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String): Unit = failures += what

  def json: String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    def v(x: Any): String = x match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case s: String => q(s)
      case (d: Double, u: String) => s"""{"value":${v(d)},"unit":${q(u)}}"""
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => q(k.toString) + ":" + v(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(v).mkString("[", ",", "]")
      case other => other.toString
    }
    v(mutable.LinkedHashMap[String, Any]("attempted" -> attempted,
      "failed" -> failures.size, "failures" -> failures.take(20).toSeq,
      "metrics" -> e2e, "layers" -> layers, "info" -> info))
  }
}

/** Everything a workload needs: the session, the tracing hooks, the
  * run's parameters, and the clock that splits set-up from timing. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val trace: Boolean, val seed: Long, val seconds: Double,
    val inputs: String, val work: String, val benchDir: String,
    val cores: Int, val result: Result) {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Long = (ns + offsetNs) / 1000000L
  var excludedSetupS = 0.0
  private var readyNs = 0L
  val opWindows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Workload-measured inputs to the per-layer report. */
  val facts = mutable.Map.empty[String, Double]
  var primaryOps = 0
  /** Codegen compiles and compile ns inside timed ops (traced runs). */
  var codegen = (0L, 0L)
  var counters: Option[Counters] = None

  /** Ends set-up and runs the workload's timed loop, which fills
    * `result.e2e`. A traced run runs the loop three times in this JVM:
    * untraced, traced (spans and listeners on; the per-layer metrics come
    * from it) and untraced again, so that warm-up and table growth cancel
    * out of the tracing overhead. The first loop's metrics are kept. */
  def measure(loop: () => Unit): Unit = {
    result.e2e("setup_s") = ((System.currentTimeMillis() - jvmStartMs) / 1e3 -
      excludedSetupS, "s")
    def timed(): Double = {
      readyNs = System.nanoTime()
      loop()
      result.e2e("sweep_s")._1
    }
    val u1 = timed()
    if (trace) {
      val base = result.e2e.clone()
      opWindows.clear()
      primaryOps = 0
      tracer.enabled = true
      val cnt = Counters.install(spark)
      counters = Some(cnt)
      val t = tracer.span("run", "timed loop", "run")(timed())
      tracer.enabled = false
      cnt.uninstall(spark)
      val snapshot = (opWindows.clone(), primaryOps, facts.clone())
      val u2 = timed()
      opWindows.clear()
      opWindows ++= snapshot._1
      primaryOps = snapshot._2
      facts ++= snapshot._3
      facts("trace.overhead_frac") = t / ((u1 + u2) / 2) - 1.0
      result.e2e ++= base
    }
  }
  def elapsed: Double = (System.nanoTime() - readyNs) / 1e9

  /** One timed op: job group = op id, span "op". Returns (value, seconds). */
  def op[T](kind: String, id: String, primary: Boolean = true)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val cg0 = if (tracer.enabled) Layers.codegenSnapshot else (0L, 0L)
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = try tracer.span("op", kind, id)(body) finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    if (tracer.enabled) {
      val cg1 = Layers.codegenSnapshot
      codegen = (codegen._1 + cg1._1 - cg0._1, codegen._2 + cg1._2 - cg0._2)
    }
    opWindows += ((id, t0, t1))
    if (primary) primaryOps += 1
    (r, (t1 - t0) / 1e9)
  }

  /** A sub-step of an op (construct, drain, a named action), with its own
    * job group so eager jobs inside construction can be told apart. */
  def step[T](kind: String, name: String, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    try tracer.span(kind, name)(body)
    finally if (prev != null) sc.setJobGroup(prev, kind, interruptOnCancel = false)
    else sc.clearJobGroup()
  }

  def drainNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least `beyond` samples above it:
    * (value, percentile, samples beyond). Nearest-rank; with too few
    * samples, the maximum. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) (s.last, 100.0, 0)
    else {
      val idx = n - beyond - 1
      (s(idx), math.floor(1000.0 * (idx + 1) / n) / 10, beyond)
    }
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Driver process peak resident set (VmHWM), MB. */
  def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Fixed host-drift control: range -> xxhash64 -> noop, median of 3. */
  def hostControl(spark: SparkSession, cores: Int): Double = {
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 5000000L, 1L, cores)
        .select(xxhash64(col("id")).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    median(ts)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Storage.pinBucketedScans(spark)
    val result = new Result
    result.info("session_start_s") = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, new Tracer(false), trace, a("seed").toLong,
      a("seconds").toDouble, a("inputs"), work, a("bench"), cores, result)
    val c0 = System.nanoTime()
    val controlBefore = hostControl(spark, cores)
    ctx.excludedSetupS = (System.nanoTime() - c0) / 1e9
    try workload match {
      case "suite" => Suite.run(ctx, a.get("write-expected"))
      case "ingest" => Ingest.run(ctx)
      case "corpus" => Corpus.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        result.fail(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    result.e2e("rss_peak_mb") = (rssPeakMb, "MB")
    result.info("host.control_s") = Seq(controlBefore, hostControl(spark, cores))
    ctx.counters.foreach(_ => Layers.report(ctx))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), result.json)
    spark.stop()
  }
}
