package graftbench

import scala.util.Random

import graft.SparkEntry

/** The closed-loop workloads: one client thread runs a fixed call list
  * through `SparkEntry.queries`, in a seeded order that holds for the run.
  *
  * Pass 0 is the cold first pass. It writes each call's result to parquet,
  * the output a one-shot job keeps, for the DuckDB oracle replay, and
  * sweeps nothing until it ends, so the heap it leaves is
  * `retained_heap_mb`. Then `MinWarm` warm passes run through the noop
  * sink, as graft's Bench does, and more while the next one is expected
  * to end within the run's seconds of warm passes. A traced run traces the
  * cold pass and every other warm pass; the untraced warm passes in
  * between give `bench.trace_overhead_pct`.
  */
object ClosedLoop {
  val Cdc = Seq(
    "cdc_classify", "cdc_history", "cdc_current", "cdc_stats", "cdc_scd2", "cdc_compact",
    "cdc_dedup_redelivery", "cdc_sequence_audit", "cdc_envelope_parse", "cdc_avro_parse",
    "cdc_maxwell_parse")

  /** TPC-H queries: q1 (scan + aggregate), q3 (three-way join + top-N)
    * and q6 (filtered scan + aggregate).
    */
  val Tpch = Seq("q1_pricing_summary", "q3_top_orders", "q6_forecast_revenue")

  /** The envelope parsers: the ingest step in front of the LLM-data
    * operators, and the calls through which `sources` reaches `pass_s`.
    */
  val Parse = Seq("cdc_envelope_parse", "cdc_avro_parse", "cdc_maxwell_parse")

  val Llm = Seq(
    "dedup_minhash", "dedup_clusters", "dedup_simhash", "ann_lsh", "text_tfidf",
    "text_textrank", "mm_phash_neardup") ++ Parse

  val calls: Map[String, () => Seq[String]] = Map(
    "cdc_batch_olap" -> (() => Cdc ++ Tpch),
    "llm_dedup_ann" -> (() => Llm))

  /** Warm passes at least, so that `pass_s` and each call's latency are
    * medians of three; a traced run alternates untraced and traced ones.
    */
  val MinWarm = 3
  val MaxWarm = 12

  def family(call: String): String = call.takeWhile(_ != '_') match {
    case f if f.matches("q\\d*") => "q"
    case f => f
  }

  private final case class Call(name: String, startMs: Double, endMs: Double, leaked: Int) {
    def ms: Double = endMs - startMs
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val opts = ctx.opts
    val r = ctx.result
    val data = opts.data.toString
    val order = new Random(opts.seed).shuffle(calls(opts.workload)())
    r.info("call_order") = order
    val failedNames = collection.mutable.LinkedHashSet.empty[String]
    val listener = new JobListener(recordAll = true)

    val outDir = opts.work.resolve("results")

    /** One pass over the call list. The cold pass writes each result for the
      * oracle replay and sweeps only after its last call; warm passes write
      * to the noop sink and sweep after each call.
      */
    def runPass(pass: Int, traced: Boolean): Seq[Call] = {
      val cold = pass == 0
      ctx.sweep()
      System.gc()
      if (traced) sc.addSparkListener(listener)
      val passStart = Clock.nowMs
      val out = order.map { name =>
        sc.setJobGroup(s"graftbench-p$pass-$name", s"perfbench $name (pass $pass)", interruptOnCancel = false)
        val t0 = Clock.nowMs
        try {
          val w = SparkEntry.queries(name)(spark, data).write.mode("overwrite")
          if (cold) w.parquet(outDir.resolve(name).toString) else w.format("noop").save()
        } catch { case e: Throwable => r.fail(s"$name (pass $pass)", e); failedNames += name }
        val t1 = Clock.nowMs
        sc.clearJobGroup()
        val leaked = sc.getPersistentRDDs.size
        if (!cold) ctx.sweep()
        Call(name, t0, t1, leaked)
      }
      if (traced) {
        listener.drain()
        sc.removeSparkListener(listener)
        val passSpan = ctx.tracer.add(s"pass $pass", "bench", passStart, Clock.nowMs)
        out.foreach { c =>
          val callSpan = ctx.tracer.add(c.name, "driver", c.startMs, c.endMs, passSpan)
          jobsIn(c).foreach(j => ctx.tracer.add(s"job ${j.id}", "operators", j.startMs, j.endMs, callSpan))
        }
      }
      r.attempted += out.size
      out
    }

    def jobsIn(c: Call): Seq[JobRec] = {
      import scala.jdk.CollectionConverters._
      listener.jobs.values.asScala.filter(j => j.startMs >= c.startMs && j.startMs <= c.endMs).toSeq
    }

    // the cold first pass, then the heap still held once every call has run
    // once without a sweep
    val passes = collection.mutable.ArrayBuffer(runPass(0, traced = opts.trace))
    val heap = ctx.retainedHeapMb()
    r.info("oracle_calls") = order.filterNot(failedNames.contains)
    r.info("oracle_sql") = order.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    // warm passes: MinWarm, then more while the next one, as long as the
    // last, is expected to end within the run's seconds
    var warmMs, lastMs = 0.0
    def warm = passes.size - 1
    while (warm < MaxWarm && (warm < MinWarm || warmMs + lastMs <= opts.seconds * 1000.0)) {
      val t0 = Clock.nowMs
      passes += runPass(passes.size, traced = opts.trace && passes.size % 2 == 0)
      lastMs = Clock.nowMs - t0
      warmMs += lastMs
    }

    // end-to-end metrics
    val warmPasses = passes.toSeq.drop(1)
    val passSums = warmPasses.map(_.map(_.ms).sum / 1000.0)
    val warmCalls = warmPasses.flatten.size
    val callMs = order.map(n => n -> warmPasses.flatten.filter(_.name == n).map(_.ms)).toMap
    // the typical call is the geometric mean of every call's median warm
    // latency: the median over the pass's calls falls between two calls of
    // the list and jumped with either of them (0.30 IQR/median over ten
    // seeds, against 0.16 for the geometric mean)
    val typicalMs = math.exp(Stats.mean(callMs.values.map(ms => math.log(Stats.median(ms))).toSeq))
    // a run has too few calls for a p90 with ten samples beyond it, so the
    // tail is the slowest call of the list (its median warm latency)
    val (slowest, slowestMs) = callMs.toSeq.maxBy { case (_, ms) => Stats.median(ms) }
    r.metric("first_pass_s", passes.head.map(_.ms).sum / 1000.0, "s", 1)
    r.metric("pass_s", Stats.median(passSums), "s", passSums.size)
    r.metric("fresh_p50_ms", typicalMs, "ms", warmCalls)
    r.metric("fresh_p90_ms", Stats.median(slowestMs), "ms", slowestMs.size)
    r.metric("retained_heap_mb", heap, "MB", 1)
    r.info("warm_s") = warmMs / 1000.0
    r.info("warm_pass_s") = passSums
    r.info("slowest_call") = slowest
    r.info("call_ms") = callMs

    if (opts.trace) {
      val tracedWarm = warmPasses.zipWithIndex.collect { case (p, i) if (i + 1) % 2 == 0 => p }
      val untracedWarm = warmPasses.zipWithIndex.collect { case (p, i) if (i + 1) % 2 == 1 => p }
      val costs = tracedWarm.flatten.map(c => UnitCost.of(listener, jobsIn(c), c.startMs, c.endMs))
      UnitCost.means(costs).foreach { case (n, v, u) => r.layerMetric(n, v, u) }
      val cold = passes.head.map(c => UnitCost.of(listener, jobsIn(c), c.startMs, c.endMs))
      r.layerMetric("driver.first_gap_ms", Stats.mean(cold.map(_.gapMs)), "ms")
      r.layerMetric("operators.leaked_rdds",
        Stats.median(warmPasses.map(_.map(_.leaked).sum.toDouble)), "count")
      Seq("cdc", "q", "dedup", "ann", "text", "mm").foreach { f =>
        val perPass = warmPasses.map(_.filter(c => family(c.name) == f).map(_.ms).sum / 1000.0)
        r.layerMetric(s"operators.family_s.$f", Stats.median(perPass), "s")
      }
      val t = Stats.median(tracedWarm.map(_.map(_.ms).sum))
      val u = Stats.median(untracedWarm.map(_.map(_.ms).sum))
      r.layerMetric("bench.trace_overhead_pct", 100.0 * (t - u) / u, "%")
    }
  }
}
