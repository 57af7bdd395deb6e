package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark JVM (see perfbench/run.py). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    data: Path,
    work: Path,
    out: Path,
    t0Ms: Double)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      m("workload"),
      m("seed").toLong,
      m("seconds").toInt,
      m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt,
      Paths.get(m("data")),
      Paths.get(m("work")),
      Paths.get(m("out")),
      m("t0").toDouble)
  }
}

/** What one run measured. End-to-end metrics go to `metrics`, per-layer
  * metrics (traced runs only) to `layer`; every failed operation is named
  * in `failures`.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val layer = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0

  def metric(name: String, value: Double, unit: String, n: Int): Unit =
    metrics(name) = Map("value" -> value, "unit" -> unit, "n" -> n)

  def layerMetric(name: String, value: Double, unit: String): Unit =
    layer(name) = Map("value" -> value, "unit" -> unit)

  def fail(op: String, why: Throwable): Unit = fail(op, s"${why.getClass.getSimpleName}: ${why.getMessage}")

  def fail(op: String, why: String): Unit = {
    failures += op -> Option(why).getOrElse("").linesIterator.take(3).mkString(" | ").take(400)
    System.err.println(s"[perfbench] FAILED $op: $why")
  }
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val opts: Opts, val result: Result) {
  val tracer = new Tracer(s"${opts.workload}-s${opts.seed}-t${if (opts.trace) 1 else 0}-${System.currentTimeMillis()}")
  val derbyUrl = s"jdbc:derby:memory:graftbench_${opts.seed};create=true"

  /** Release every cached frame and persistent RDD (checkpoint blocks
    * live outside the CacheManager), as graft's own Bench does between
    * queries.
    */
  def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** One benchmark JVM: set up Spark (the timed `setup_s`), run one
  * workload, write the result JSON.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    Files.createDirectories(opts.work)
    val spark = SparkSession
      .builder()
      .master(s"local[${opts.cores}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = new Result
    val ctx = new Ctx(spark, opts, result)

    // warm-up: one shuffle job through codegen and the scheduler, plus the
    // warehouse connection for the streaming workload
    spark.range(0, 100000, 1, opts.cores).selectExpr("id % 10 AS k").groupBy("k").count().collect()
    if (opts.workload == StreamUpsert.Name) graft.streaming.JdbcUpsertSink.ensureTables(ctx.derbyUrl)
    val setupS = (Clock.nowMs - opts.t0Ms) / 1000.0
    result.info("setup_s") = setupS
    System.err.println(f"[perfbench] setup ${setupS}%.3f s")

    opts.workload match {
      case StreamUpsert.Name => StreamUpsert.run(ctx)
      case w if ClosedLoop.calls.contains(w) => ClosedLoop.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (opts.trace) {
      LayerProbes.run(ctx)
      ctx.tracer.write(opts.work.resolve("spans.jsonl"))
      ctx.tracer.selfMsByLayer.foreach { case (layer, ms) => result.info(s"self_ms.$layer") = ms }
    }
    result.info("env") = Map(
      "local" -> s"local[${opts.cores}]",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> sys.props("java.version"),
      "spark" -> spark.version,
      "jvm_cpus" -> Runtime.getRuntime.availableProcessors)
    writeResult(opts.out, result)
    spark.stop()
  }

  private def writeResult(out: Path, r: Result): Unit = {
    val json = Json(Map(
      "attempted" -> r.attempted,
      "failures" -> r.failures.map { case (op, why) => Map("op" -> op, "why" -> why) },
      "metrics" -> r.metrics,
      "layer" -> r.layer,
      "info" -> r.info))
    Files.write(out, json.getBytes(StandardCharsets.UTF_8))
  }
}
