package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.operators.Cdc
import graft.streaming.{CdcStream, CurrentRow, JdbcUpsertSink}

/** `cdc_stream_upsert`: the paper's incremental path as an open loop.
  *
  * A generator thread moves the staged changelog files into the input
  * directory at their due times (fixed rate, aligned to the trigger grid);
  * the stream is `CdcStream.currentState(CdcStream.readChangelog(...))`
  * into `foreachBatch(JdbcUpsertSink.upsertBatch(derby))` on a fixed
  * processing-time trigger. An unmeasured warm-up feed comes first; over
  * the measured (steady) feed, freshness runs from a file's due time to
  * the commit of the MERGE that applied it. Then `Outages` consumer outages:
  * the query stops, a share of the backlog lands, the query restarts from
  * the same checkpoint, and the catch-up is timed. Last, the warehouse
  * table must equal `Cdc.current` over the fed changelog.
  */
object StreamUpsert {
  val Name = "cdc_stream_upsert"
  val TriggerMs = 1000L
  /** Offset of the first due time past a trigger tick, so no file lands
    * while a trigger lists the input directory.
    */
  val DueOffsetMs = 50L
  val WaitLimitMs = 90000L
  /** Consumer outages a run; the backlog is split evenly between them. */
  val Outages = 3

  private final case class Staged(name: String, kind: String, dueMs: Long, rows: Int)
  private final case class Outage(lastBatch: Long, restartMs: Double, eventsPerS: Double)
  private final case class Sunk(batch: Long, startMs: Double, endMs: Double, skipped: Boolean, traced: Boolean, leaked: Int)
  private final case class Progress(batch: Long, startMs: Double, triggerMs: Double, addBatchMs: Double,
      commitMs: Double, stateRows: Long, stateMem: Long, inputRows: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val opts = ctx.opts
    val r = ctx.result
    val url = ctx.derbyUrl
    val staged = opts.data.resolve("staged")
    val inDir = Files.createDirectories(opts.work.resolve("in"))
    val ckpt = opts.work.resolve("checkpoint")
    val manifest = Files.readAllLines(opts.data.resolve("manifest.tsv"), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.split("\t")).map(a => Staged(a(0), a(1), a(2).toLong, a(3).toInt))
    def ofKind(k: String*) = manifest.filter(s => k.contains(s.kind))

    val sunk = new ConcurrentHashMap[Long, Sunk]()
    val listener = new JobListener(recordAll = false)
    val progress = new ConcurrentHashMap[Long, Progress]()
    if (opts.trace) {
      sc.addSparkListener(listener)
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
          val st = p.stateOperators.headOption
          progress.put(p.batchId, Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            d.getOrElse("triggerExecution", 0.0), d.getOrElse("addBatch", 0.0),
            st.map(_.commitTimeMs.toDouble).getOrElse(0.0), st.map(_.numRowsTotal).getOrElse(0L),
            st.map(_.memoryUsedBytes).getOrElse(0L), p.numInputRows))
        }
      })
    }

    val sink: (Dataset[CurrentRow], Long) => Unit = (ds, batch) => {
      val traced = opts.trace && batch % 2 == 0
      sc.setLocalProperty(JobListener.TraceProp, if (traced) "1" else "0")
      sc.setLocalProperty(JobListener.GroupProp, s"batch-$batch")
      val skipped = opts.trace && JdbcUpsertSink.isApplied(url, batch)
      val t0 = Clock.nowMs
      JdbcUpsertSink.upsertBatch(url)(ds, batch)
      val t1 = Clock.nowMs
      sunk.put(batch, Sunk(batch, t0, t1, skipped, traced, if (opts.trace) sc.getPersistentRDDs.size else 0))
    }

    def start(): StreamingQuery =
      CdcStream
        .currentState(CdcStream.readChangelog(spark, inDir.toString))
        .writeStream
        .queryName("perfbench_cdc")
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .foreachBatch(sink)
        .start()

    def deliver(s: Staged): Unit = {
      val dst = inDir.resolve(s.name)
      Files.move(staged.resolve(s.name), dst, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(System.currentTimeMillis()))
    }

    /** Wait until `done` holds; a dead query or the time limit is a failure. */
    def await(q: StreamingQuery, what: String)(done: => Boolean): Boolean = {
      val deadline = System.currentTimeMillis() + WaitLimitMs
      while (!done && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(5)
      if (!done) {
        r.fail(what, q.exception.map(_.toString).getOrElse("timed out"))
        false
      } else true
    }

    // cold start: the warm-up file, first micro-batch
    ofKind("warm").foreach(deliver)
    val coldStart = Clock.nowMs
    val q1 = start()
    val coldOk = await(q1, "first micro-batch")(sunk.containsKey(0L))
    val firstPassS = if (coldOk) (sunk.get(0L).endMs - coldStart) / 1000.0 else Double.NaN

    // open loop, warm-up then steady feed: due times on the trigger grid
    // plus DueOffsetMs
    val feed = ofKind("warmup", "steady", "redeliver")
    val steady = ofKind("steady", "redeliver")
    val feedStart = Clock.nowMs
    val gridMs = ((System.currentTimeMillis() / TriggerMs) + 2) * TriggerMs + DueOffsetMs
    val lateness = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val gen = new Thread(() => {
      feed.foreach { s =>
        val due = gridMs + s.dueMs
        var wait = due - System.currentTimeMillis()
        while (wait > 0) { Thread.sleep(math.min(wait, 20)); wait = due - System.currentTimeMillis() }
        deliver(s)
        lateness.add(System.currentTimeMillis() - due.toDouble)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val steadyOk = coldOk && (try { q1.processAllAvailable(); true } catch {
      case e: Throwable => r.fail("steady micro-batches", e); false
    })
    val steadyEnd = Clock.nowMs
    val feedProgress = q1.recentProgress.filter(p => p.batchId >= 1 && p.numInputRows > 0)

    // outages: a share of the backlog lands while the consumer is down, then
    // it restarts from the same checkpoint; each catch-up is timed
    val backlog = ofKind("backlog")
    val queries = collection.mutable.ArrayBuffer(q1)
    var caughtUp = steadyOk
    val outages = backlog.grouped(math.max(1, backlog.size / Outages)).toSeq.map { files =>
      val before = sunk.keySet.asScala.maxOption.getOrElse(-1L)
      queries.last.stop()
      files.foreach(deliver)
      val restart = Clock.nowMs
      queries += start()
      caughtUp &&= (try { queries.last.processAllAvailable(); true } catch {
        case e: Throwable => r.fail("catch-up micro-batches", e); false
      })
      val ends = sunk.values.asScala.filter(_.batch > before).map(_.endMs)
      val rate = if (ends.isEmpty) Double.NaN else files.map(_.rows).sum / ((ends.max - restart) / 1000.0)
      Outage(before, restart, rate)
    }
    queries.last.stop()
    val outagesEnd = Clock.nowMs
    queries.flatMap(_.exception).foreach(e => r.fail("stream", e))
    r.attempted += sunk.size + 1

    // correctness: the warehouse equals the batch current state of the fed changelog
    val cols = Seq("user_id", "last_event_id", "last_ts", "value")
    try {
      val got = JdbcUpsertSink.readCurrent(spark, url).select(cols.head, cols.tail: _*).cache()
      val want = Cdc.current(spark, opts.data.resolve("fed").toString).select(cols.head, cols.tail: _*).cache()
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      r.info("warehouse_rows") = got.count()
      if (extra + missing > 0 || !caughtUp)
        r.fail("warehouse = Cdc.current", s"$extra unexpected rows, $missing missing rows")
      got.unpersist(); want.unpersist()
    } catch { case e: Throwable => r.fail("warehouse = Cdc.current", e) }
    val heap = ctx.retainedHeapMb()
    r.info("phase_s") = Map(
      "cold" -> (feedStart - coldStart) / 1000.0, "feed" -> (steadyEnd - feedStart) / 1000.0,
      "outages" -> (outagesEnd - steadyEnd) / 1000.0, "check" -> (Clock.nowMs - outagesEnd) / 1000.0)

    // freshness: each file's batch from the file source's commit log; the
    // steady batches are those that applied a steady file
    val fileBatch = sourceLog(ckpt)
    val steadyIds = steady.flatMap(s => fileBatch.get(s.name)).toSet
    val steadyProgress = feedProgress.filter(p => steadyIds.contains(p.batchId))
    val fresh = steady.flatMap { s =>
      fileBatch.get(s.name).flatMap(b => Option(sunk.get(b))).map(k => k.endMs - (gridMs + s.dueMs))
    }
    if (fresh.size != steady.size) r.fail("freshness", s"${steady.size - fresh.size} files without a committed batch")
    val triggers = steadyProgress.map(_.durationMs.get("triggerExecution").toDouble).toSeq
    r.metric("first_pass_s", firstPassS, "s", 1)
    r.metric("pass_s", Stats.median(triggers) / 1000.0, "s", triggers.size)
    r.metric("fresh_p50_ms", Stats.percentile(fresh, 0.5), "ms", fresh.size)
    r.metric("fresh_p90_ms", Stats.percentile(fresh, 0.9), "ms", fresh.size)
    r.metric("catchup_events_per_s", Stats.median(outages.map(_.eventsPerS)), "1/s", outages.size)
    r.metric("retained_heap_mb", heap, "MB", 1)
    r.info("steady_batches") = triggers.size
    r.info("trigger_ms") = triggers
    r.info("catchup_events_per_s") = outages.map(_.eventsPerS)
    val genLateP90 = Stats.percentile(lateness.asScala.toSeq, 0.9)
    r.info("gen_late_p90_ms") = genLateP90

    if (opts.trace) {
      listener.drain()
      val prog = progress.asScala.values.toSeq.sortBy(_.batch)
      val steadyProg = prog.filter(p => steadyIds.contains(p.batch))
      val steadySunk = sunk.values.asScala.filter(s => steadyIds.contains(s.batch)).toSeq
      prog.foreach { p =>
        val b = ctx.tracer.add(s"batch ${p.batch}", "streaming", p.startMs, p.startMs + p.triggerMs)
        Option(sunk.get(p.batch)).foreach { s =>
          val sinkSpan = ctx.tracer.add(s"upsertBatch ${p.batch}", "streaming.sink", s.startMs, s.endMs, b)
          listener.jobsOf(s"batch-${p.batch}").foreach(j =>
            ctx.tracer.add(s"job ${j.id}", "operators", j.startMs, j.endMs, sinkSpan))
        }
      }
      val (traced, untraced) = steadyProg.partition(p => Option(sunk.get(p.batch)).exists(_.traced))
      val costs = traced.map(p => UnitCost.of(listener, listener.jobsOf(s"batch-${p.batch}"), p.startMs, p.startMs + p.triggerMs))
      UnitCost.means(costs).foreach { case (n, v, u) => r.layerMetric(n, v, u) }
      r.layerMetric("operators.leaked_rdds", Stats.median(steadySunk.map(_.leaked.toDouble)), "count")
      val last = steadyProg.lastOption
      r.layerMetric("streaming.trigger_ms", Stats.median(steadyProg.map(_.triggerMs)), "ms")
      r.layerMetric("streaming.add_batch_ms", Stats.median(steadyProg.map(_.addBatchMs)), "ms")
      r.layerMetric("streaming.state_commit_ms", Stats.median(steadyProg.map(_.commitMs)), "ms")
      r.layerMetric("streaming.state_rows", last.map(_.stateRows.toDouble).getOrElse(0.0), "count")
      r.layerMetric("streaming.state_mem_bytes", last.map(_.stateMem.toDouble).getOrElse(0.0), "bytes")
      r.layerMetric("streaming.batch_rows", Stats.median(steadyProg.map(_.inputRows.toDouble)), "count")
      r.layerMetric("streaming.sink_upsert_ms", Stats.median(steadySunk.map(s => s.endMs - s.startMs)), "ms")
      r.layerMetric("streaming.sink_skipped", sunk.values.asScala.count(_.skipped).toDouble, "count")
      r.layerMetric("streaming.busy_share", steadyProg.map(_.triggerMs).sum / (steadyEnd - gridMs - steady.head.dueMs), "ratio")
      val recovery = outages.flatMap(o => prog.find(_.batch > o.lastBatch).map(_.startMs - o.restartMs))
      r.layerMetric("streaming.recovery_ms", Stats.median(recovery), "ms")
      r.layerMetric("bench.gen_late_p90_ms", genLateP90, "ms")
      val tr = Stats.median(traced.map(_.triggerMs))
      val un = Stats.median(untraced.map(_.triggerMs))
      r.layerMetric("bench.trace_overhead_pct", 100.0 * (tr - un) / un, "%")
    }
  }

  /** File name → micro-batch id, from the file source's metadata log
    * (`<checkpoint>/sources/0/<batch>[.compact]`, one JSON entry a line).
    */
  private def sourceLog(ckpt: Path): Map[String, Long] = {
    val Entry = """.*"path":"([^"]+)".*"batchId":(\d+).*""".r
    val dir = ckpt.resolve("sources").resolve("0")
    Files.list(dir).iterator().asScala.toSeq.filter(_.getFileName.toString.matches("\\d+(\\.compact)?")).flatMap { f =>
      Files.readAllLines(f, StandardCharsets.UTF_8).asScala.collect {
        case Entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong
      }
    }.toMap
  }
}
