package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval: `parent` is the span that caused it (0 = root);
  * every span of one benchmark run shares `runId`.
  */
final case class Span(
    id: Long,
    name: String,
    layer: String,
    startMs: Double,
    endMs: Double,
    parent: Long,
    runId: String) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store, written out once when the run ends. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(1)
  private val store = new ConcurrentLinkedQueue[Span]()

  def add(name: String, layer: String, startMs: Double, endMs: Double, parent: Long = 0): Long = {
    val id = ids.getAndIncrement()
    store.add(Span(id, name, layer, startMs, endMs, parent, runId))
    id
  }

  def spans: Seq[Span] = store.asScala.toSeq.sortBy(_.startMs)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val all = spans
    val children = all.groupBy(_.parent)
    all
      .map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        s.layer -> (s.durMs - Stats.unionLength(kids))
      }
      .groupBy(_._1)
      .map { case (layer, xs) => layer -> xs.map(_._2).sum }
  }

  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      Json(Map(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "run_id" -> s.runId))
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (q in [0, 1]); NaN on no samples. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A Spark job seen by the listener. `group` is the job's
  * `graftbench.group` local property: the call or micro-batch it ran for.
  */
final case class JobRec(id: Int, group: String, startMs: Double, var endMs: Double, stageIds: Seq[Int])

/** Summed task metrics of one completed stage. */
final case class StageRec(
    tasks: Int,
    cpuMs: Double,
    runMs: Double,
    shuffleRead: Long,
    shuffleWrite: Long,
    spill: Long,
    input: Long)

/** The benchmark's SparkListener: records jobs with their stages' summed
  * task metrics. With `recordAll` it records every job while registered;
  * otherwise only jobs submitted while the local property
  * `graftbench.trace` is "1", and every other event returns at once, so
  * untraced work pays only a property lookup.
  */
final class JobListener(recordAll: Boolean) extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val tracedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val open = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (recordAll || (p != null && p.getProperty(JobListener.TraceProp) == "1")) {
      val group = Option(p).flatMap(x => Option(x.getProperty(JobListener.GroupProp))).getOrElse("")
      val ids = e.stageInfos.map(_.stageId)
      ids.foreach(tracedStages.add)
      jobs.put(e.jobId, JobRec(e.jobId, group, e.time.toDouble, Double.NaN, ids))
      open.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) { j.endMs = e.time.toDouble; open.decrementAndGet() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (tracedStages.contains(si.stageId)) {
      val m = si.taskMetrics
      val rec =
        if (m == null) StageRec(si.numTasks, 0, 0, 0, 0, 0, 0)
        else
          StageRec(
            si.numTasks,
            m.executorCpuTime / 1e6,
            m.executorRunTime.toDouble,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead)
      stages.put(si.stageId, rec)
    }
  }

  /** Block until every recorded job has ended and the bus has been quiet
    * for a moment (listener events arrive asynchronously).
    */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (open.get() > 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(100)
  }

  def jobsOf(group: String): Seq[JobRec] = jobs.values.asScala.filter(_.group == group).toSeq
}

object JobListener {
  val TraceProp = "graftbench.trace"
  val GroupProp = "graftbench.group"
}

/** Per-unit (call or micro-batch) driver and operator figures. */
final case class UnitCost(
    jobs: Int,
    stages: Int,
    tasks: Int,
    gapMs: Double,
    cpuMs: Double,
    runMs: Double,
    shuffleRead: Long,
    shuffleWrite: Long,
    spill: Long,
    input: Long)

object UnitCost {

  /** Cost of one unit that ran from startMs to endMs as the jobs `js`. */
  def of(l: JobListener, js: Seq[JobRec], startMs: Double, endMs: Double): UnitCost = {
    val st = js.flatMap(_.stageIds).distinct.flatMap(id => Option(l.stages.get(id)))
    val jobIv = js.map(j => (math.max(j.startMs, startMs), math.min(if (j.endMs.isNaN) endMs else j.endMs, endMs)))
    UnitCost(
      js.size,
      st.size,
      st.map(_.tasks).sum,
      (endMs - startMs) - Stats.unionLength(jobIv),
      st.map(_.cpuMs).sum,
      st.map(_.runMs).sum,
      st.map(_.shuffleRead).sum,
      st.map(_.shuffleWrite).sum,
      st.map(_.spill).sum,
      st.map(_.input).sum)
  }

  /** Mean per unit of each figure, under the per-layer metric names. */
  def means(cs: Seq[UnitCost]): Seq[(String, Double, String)] = {
    def m(f: UnitCost => Double) = Stats.mean(cs.map(f))
    Seq(
      ("driver.jobs", m(_.jobs), "count"),
      ("driver.stages", m(_.stages), "count"),
      ("driver.tasks", m(_.tasks), "count"),
      ("driver.gap_ms", m(_.gapMs), "ms"),
      ("operators.task_cpu_ms", m(_.cpuMs), "ms"),
      ("operators.task_run_ms", m(_.runMs), "ms"),
      ("operators.shuffle_read_bytes", m(_.shuffleRead.toDouble), "bytes"),
      ("operators.shuffle_write_bytes", m(_.shuffleWrite.toDouble), "bytes"),
      ("operators.spill_bytes", m(_.spill.toDouble), "bytes"),
      ("operators.input_bytes", m(_.input.toDouble), "bytes"))
  }
}
