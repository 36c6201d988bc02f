package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A span of the traced run: workload → cycle/pass → layer call → job.
  * Times are epoch milliseconds (fractional), comparable with the
  * listener's job times.
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startMs: Double, var endMs: Double = Double.NaN)

/** Counters summed over the Spark jobs that started inside some spans. */
final case class LayerStats(
    wallS: Double, jobs: Int, stages: Int, tasks: Long,
    executorRunS: Double, executorCpuS: Double, gcS: Double,
    scanBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, coveredS: Double, filesRead: Long,
    persistedDelta: Int) {
  /** Wall time in which no job of the call was running. */
  def driverS: Double = math.max(0.0, wallS - coveredS)
}

/** Outside-in meter: one SparkListener and one QueryExecutionListener
  * that record jobs, stages, tasks and SQL executions, plus the span
  * tree the benchmark opens around each call into a layer. Jobs are
  * attributed to spans by time window, because layer calls run in
  * sequence and pool threads do not inherit job groups.
  */
final class Meter(spark: SparkSession) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private final class Job(val id: Int, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var shR = 0L; var shW = 0L; var spill = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  private val stagesDone = mutable.HashSet.empty[Int]
  private val execStarts = mutable.HashMap.empty[Long, Long]
  private val execFiles = mutable.HashMap.empty[Long, Long]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val persisted = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Meter.this.synchronized {
      jobs += new Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Meter.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Meter.this.synchronized { stagesDone += e.stageInfo.stageId }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Meter.this.synchronized {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime; a.inBytes += m.inputMetrics.bytesRead
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Meter.this.synchronized {
        execStarts(s.executionId) = s.time
      }
      case s: SparkListenerSQLExecutionEnd => Meter.this.synchronized {
        execFiles(s.executionId) = pendingFiles
        pendingFiles = 0L
      }
      case _ =>
    }
  }

  // Files a finished execution read. The execution listener and this
  // meter's listener share the listener bus's shared queue, and the
  // session registered its execution listener first, so for one
  // execution `onSuccess` runs just before this listener sees the
  // execution's end event, which carries the execution id.
  private var pendingFiles = 0L
  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val files = scans(qe.executedPlan).map(s =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      Meter.this.synchronized { pendingFiles = files }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private val listenerManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  @volatile var attached = false

  def attach(): Unit = {
    attached = true
    spark.sparkContext.addSparkListener(listener)
    listenerManager.register(qel)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def open(name: String, kind: String, parent: Int): Int = synchronized {
    val id = spans.size
    spans += Span(id, name, kind, parent, nowMs)
    persisted(id) = spark.sparkContext.getPersistentRDDs.size
    id
  }

  def close(id: Int): Unit = {
    val n = spark.sparkContext.getPersistentRDDs.size
    synchronized {
      spans(id).endMs = nowMs
      persisted(id) = n - persisted(id)
    }
  }

  def span[A](name: String, kind: String, parent: Int)(f: Int => A): A = {
    val id = open(name, kind, parent)
    try f(id) finally close(id)
  }

  /** Sum the counters of every job that started inside one of the named
    * layer spans under `parents` (all of them when empty).
    */
  def layer(name: String, parents: Set[Int] = Set.empty): LayerStats = {
    drain()
    synchronized {
      val sel = spans.filter(s => s.name == name && s.kind == "layer" &&
        (parents.isEmpty || parents(s.parent)) && !s.endMs.isNaN).toSeq
      stats(sel)
    }
  }

  private def stats(sel: Seq[Span]): LayerStats = {
    def inside(t: Double) = sel.exists(s => t >= s.startMs - 1 && t <= s.endMs + 1)
    val js = jobs.filter(j => inside(j.startMs.toDouble)).toSeq
    val stageIds = js.flatMap(_.stages).distinct
    val aggs = stageIds.flatMap(stageAgg.get)
    // wall covered by at least one job, clipped to the spans
    val covered = sel.map { s =>
      val iv = js.map(j => (math.max(j.startMs.toDouble, s.startMs),
          math.min(if (j.endMs < 0) s.endMs else j.endMs.toDouble, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) total += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) total += curB - curA
      total
    }.sum
    val files = execStarts.collect { case (id, st) if inside(st.toDouble) =>
      execFiles.getOrElse(id, 0L) }.sum
    LayerStats(
      wallS = sel.map(s => s.endMs - s.startMs).sum / 1e3,
      jobs = js.size,
      stages = stageIds.count(stagesDone),
      tasks = aggs.map(_.tasks).sum,
      executorRunS = aggs.map(_.runMs).sum / 1e3,
      executorCpuS = aggs.map(_.cpuNs).sum / 1e9,
      gcS = aggs.map(_.gcMs).sum / 1e3,
      scanBytes = aggs.map(_.inBytes).sum,
      shuffleReadBytes = aggs.map(_.shR).sum,
      shuffleWriteBytes = aggs.map(_.shW).sum,
      spillBytes = aggs.map(_.spill).sum,
      coveredS = covered / 1e3,
      filesRead = files,
      persistedDelta = sel.map(s => persisted.getOrElse(s.id, 0)).sum)
  }

  /** Counters of every job inside the given spans, whatever their kind. */
  def within(ids: Set[Int]): LayerStats = {
    drain()
    synchronized { stats(spans.filter(s => ids(s.id)).toSeq) }
  }

  /** The span tree as JSON, with each span's jobs as child spans and
    * each layer call's counters.
    */
  def spansJson(): String = {
    drain()
    synchronized {
      val out = new StringBuilder("[")
      var first = true
      def emit(s: String): Unit = { if (!first) out.append(",\n"); first = false; out.append(s) }
      spans.foreach { s =>
        val counters = if (s.kind != "layer") "" else {
          val c = stats(Seq(s))
          f""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
            f""""executor_run_s":${c.executorRunS}%.3f,"executor_cpu_s":${c.executorCpuS}%.3f,""" +
            f""""gc_s":${c.gcS}%.3f,"scan_bytes":${c.scanBytes},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
            f""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
            f""""driver_s":${c.driverS}%.3f,"files_read":${c.filesRead},"persisted_rdd_delta":${c.persistedDelta}"""
        }
        emit(f"""{"id":${s.id},"name":${Json.str(s.name)},"kind":${Json.str(s.kind)},"parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f$counters}""")
      }
      val layers = spans.filter(_.kind == "layer")
      jobs.foreach { j =>
        val parent = layers.find(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
          .map(_.id).getOrElse(-1)
        val tasks = j.stages.flatMap(stageAgg.get).map(_.tasks).sum
        emit(f"""{"id":"job${j.id}","name":"spark.job","kind":"job","parent":$parent,"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":$tasks}""")
      }
      out.append("]\n").toString
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
