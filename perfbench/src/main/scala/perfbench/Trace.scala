package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch
  * microseconds; `parent` is 0 for a root; `key` names the query or
  * micro-batch the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    key: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Long]
  private var nextId = 1L
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()

  /** Epoch microseconds from the monotonic clock. */
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  def span[T](name: String, layer: String, key: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0L)
      val start = nowUs
      open.push(id)
      try body
      finally {
        open.pop()
        spans += Span(id, parent, name, layer, key, start, nowUs)
      }
    }

  /** Adds a span measured elsewhere (listener events); its parent is
    * the innermost recorded span that contains its start — of the
    * same key when `key` is set. */
  def attach(name: String, layer: String, key: String, startUs: Long,
      endUs: Long, parent: Long = -1L): Long = {
    val id = nextId; nextId += 1
    val p =
      if (parent >= 0) parent
      else spans.iterator
        .filter(s => s.startUs <= startUs && startUs <= s.endUs &&
          (key.isEmpty || s.key == key))
        .minByOption(_.durUs).map(_.id).getOrElse(0L)
    spans += Span(id, p, name, layer, key, startUs, math.max(startUs, endUs))
    id
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per layer in ms: each span's duration minus the part of
    * it its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = Tracer.unionUs(kids.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
      s.layer -> (s.durUs - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"key":${Json.str(s.key)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Total length of the union of half-open intervals (empty ones
    * ignored). */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Counters from Spark's public listener APIs: jobs, stages and task
  * metrics (SparkListener) and the planning phases of every action
  * (QueryExecutionListener). Registered only in traced runs. */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  @volatile private var fenceSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageInfos.foreach(s => jobOfStage.put(s.stageId, e.jobId))
    starts.put(e.jobId, e)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { s =>
      val props = Option(s.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (group == FenceGroup) fenceSeen = true
      else {
        // the result stage carries the job's call site as its name
        val site = s.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
        jobs.add(Job(e.jobId, group, site, s.time, e.time))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, jobOfStage.getOrDefault(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(jobOfStage.getOrDefault(e.stageId, -1),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    if (ph.nonEmpty) plans.add(Plan(ph.map(_._2).min, ph))
  }

  /** Blocks until every listener event posted before this call has
    * been delivered: runs a marker job and waits for its end event,
    * which the shared listener queue delivers after all earlier ones. */
  private def fence(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val prior = Option(sc.getLocalProperty("spark.jobGroup.id"))
    fenceSeen = false
    sc.setJobGroup(FenceGroup, "listener fence")
    try sc.parallelize(Seq(1), 1).count(): Unit
    finally prior.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Delivers every event posted so far (see `fence`), then stops
    * listening, so that work after this call runs without the probe. */
  def unregister(spark: SparkSession): Unit = {
    fence(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)

  /** Per-layer counters for all work that started in [fromMs, toMs]. */
  def counters(fromMs: Long, toMs: Long): Map[String, Double] = {
    val js = jobsIn(fromMs, toMs)
    val ids = js.map(_.id).toSet
    val st = stages.asScala.toSeq.filter(s => ids.contains(s.jobId))
    val ts = tasks.asScala.toSeq.filter(t => ids.contains(t.jobId))
    val pl = plans.asScala.toSeq.filter(p => p.startMs >= fromMs && p.startMs <= toMs)
    Map(
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> st.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "tables.read_jobs" -> js.count(_.site.contains("Tables.scala")).toDouble,
      "catalyst.plan_ms" -> pl.map(_.planMs).sum.toDouble,
      "exec.run_ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble)
  }
}

object Probe {
  val FenceGroup = "perfbench-fence"
  final case class Job(id: Int, group: String, site: String, startMs: Long, endMs: Long)
  final case class Stage(id: Int, jobId: Int, submitMs: Long, doneMs: Long)
  final case class Task(jobId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  /** Planning phases (analysis, optimization, planning) of one action. */
  final case class Plan(startMs: Long, phases: Seq[(String, Long, Long)]) {
    def planMs: Long = phases.map { case (_, s, e) => e - s }.sum
  }

  def register(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Adds the probe's job, stage and planning intervals to the trace,
    * each under the innermost benchmark span that contains it. */
  def attachSpans(probe: Probe, tracer: Tracer, fromMs: Long, toMs: Long,
      keyOfGroup: String => String): Unit = {
    val jobs = probe.jobsIn(fromMs, toMs)
    probe.plans.asScala.toSeq.filter(p => p.startMs >= fromMs && p.startMs <= toMs)
      .flatMap(_.phases).sortBy(_._2).foreach { case (n, s, e) =>
        tracer.attach(s"plan.$n", "catalyst", "", s * 1000, e * 1000)
      }
    val jobSpan = jobs.map { j =>
      j.id -> tracer.attach(s"job ${j.id}", "scheduler", keyOfGroup(j.group),
        j.startMs * 1000, j.endMs * 1000)
    }.toMap
    probe.stages.asScala.toSeq.filter(s => jobSpan.contains(s.jobId)).foreach { s =>
      tracer.attach(s"stage ${s.id}", "exec", "", s.submitMs * 1000, s.doneMs * 1000,
        parent = jobSpan(s.jobId))
    }
  }
}

/** Micro-batch progress, kept in both traced and untraced runs: the
  * commit times are the livestream latency's end points and the trigger
  * durations backfill's batch latencies. */
final class Progress extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches = new ConcurrentLinkedQueue[Progress.Batch]()
  @volatile var terminated: Option[String] = None

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => terminated = Some(x))
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    batches.add(Progress.Batch(p.runId.toString, p.batchId, p.numInputRows,
      startMs, startMs + d.getOrElse("triggerExecution", 0L), d))
  }

  def of(runId: String): Seq[Progress.Batch] =
    batches.asScala.toSeq.filter(b => b.runId == runId && b.rows > 0).sortBy(_.batchId)
}

object Progress {
  final case class Batch(runId: String, batchId: Long, rows: Long, startMs: Long,
      commitMs: Long, durationMs: Map[String, Long])

  def register(spark: SparkSession): Progress = {
    val p = new Progress
    spark.streams.addListener(p)
    p
  }
}

/** Just enough JSON writing for the result line and the trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
