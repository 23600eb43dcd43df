package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graft.scbridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Hand-run dev tools over the query registry, one subcommand each:
  * `runMain graft.Dev <command> [args]` (see [[Usage]]). Each command
  * is a function of a [[SparkSession]]; only [[main]] creates and
  * stops the session. Per-layer figures for whole workloads come from
  * `python3 perfbench/run.py --workload <w> --seed 1 --seconds 10
  * --trace 1` instead. */
object Dev {

  val Usage: String =
    """usage: graft.Dev <command> [args]
      |  time <sfDir> <q...>                  min of two collect() passes after an sf0.001 warm-up, job/stage breakdown, calibration bracket
      |  plan <q,q|all> [sfDir]               formatted explain; builds each query, so it runs the query's construction-time work (slow for `all`)
      |  audit [sfDir] [q,q]                  one-line plan-shape counts per query
      |  exec <sfDir> <q>                     run the query's own plan once; per-operator metrics, codegen method sizes
      |  run <sfDir> <q> [maxRows]            print the result rows
      |  throughput [sfDir] [warm] [measure]  streaming steady-state lines/s (seconds)
      |  serving [sfDir]                      serving-hop eps, free vs stalled subscriber, delivery latency""".stripMargin

  private val Sf0001 = "/root/testdata/sf0.001"
  private val Sf001 = "/root/testdata/sf0.01"
  private val Sf01 = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val cmd =
      try command(args.toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    // plan text names the shuffle partition count; 8 keeps printed
    // plans comparable across hosts (the plans/rNN evidence files)
    val threads = if (Set("plan", "audit")(args.head)) "8" else Sessions.cpus
    val spark = Sessions.local(threads, "ERROR")
    try cmd(spark) finally spark.stop()
  }

  /** Parse `args` into the command it names; a malformed line throws
    * `IllegalArgumentException` carrying [[Usage]]. */
  def command(args: Seq[String]): SparkSession => Unit = {
    val a = args.lift
    (args.headOption, args.size) match {
      case (Some("time"), n) if n >= 3 => time(_, args(1), args.drop(2))
      case (Some("plan"), 2 | 3) => plan(_, args(1), a(2).getOrElse(Sf001))
      case (Some("audit"), n) if n <= 3 => audit(_, a(1).getOrElse(Sf001), a(2).getOrElse("all"))
      case (Some("exec"), 3) => exec(_, args(1), args(2))
      case (Some("run"), 3 | 4) => run(_, args(1), args(2), a(3).fold(50)(_.toInt))
      case (Some("throughput"), n) if n <= 4 =>
        throughput(_, a(1).getOrElse(Sf01), a(2).fold(10)(_.toInt), a(3).fold(30)(_.toInt))
      case (Some("serving"), 1 | 2) => serving(_, a(1).getOrElse(Sf01))
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))

  private def names(list: String): Seq[String] =
    if (list == "all") SparkEntry.queries.keys.toSeq.sorted else list.split(",").toSeq

  private def calib(label: String): String =
    f"CALIB $label cpu=${CalibProbe.ms()}%.1f par=${CalibProbe.msParallel()}%.1f " +
      f"mem=${CalibProbe.msMem()}%.1f ms"

  private final case class Job(id: Int, startMs: Long, wallMs: Long, stages: Int)

  /** One timed construction and action with the jobs and stages they
    * ran; `construct` counts the jobs that started while the query was
    * being built. */
  private final case class Pass(secs: Double, rows: Long, construct: Int,
      jobs: Seq[Job], stages: Seq[StageInfo]) {
    def tasks: Int = stages.map(_.numTasks).sum
    def execRunMs: Long = stages.map(_.taskMetrics.executorRunTime).sum
  }

  /** Collects the jobs and completed stages of the queries built and
    * run inside [[record]]. */
  private final class JobLog extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (Long, Int)]()
    private val jobs = new ConcurrentLinkedQueue[Job]()
    private val stages = new ConcurrentLinkedQueue[StageInfo]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      started.put(j.jobId, (j.time, j.stageInfos.size)): Unit
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.remove(j.jobId)).foreach { case (t0, n) =>
        jobs.add(Job(j.jobId, t0, j.time - t0, n)): Unit
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.add(s.stageInfo): Unit

    def record(spark: SparkSession)(build: => DataFrame): Pass = {
      jobs.clear(); stages.clear()
      val t0 = System.nanoTime()
      val df = build
      val built = System.currentTimeMillis() // the clock of job start events
      val rows = df.collect().length.toLong
      val secs = (System.nanoTime() - t0) / 1e9
      scbridge.drainListenerBus(spark.sparkContext) // the bus is async
      val js = jobs.asScala.toSeq
      Pass(secs, rows, js.count(_.startMs < built), js, stages.asScala.toSeq)
    }
  }

  /** Bench's protocol for named queries, materialized as perfbench's
    * analytics workload does: warm-up at sf0.001, then two timed passes
    * over all of them, each building the query and `collect()`ing its
    * whole ordered result, keeping each query's minimum, with the
    * storage a query left behind dropped after it. Not `count()`, as
    * Bench times: `count()` plans away the final ORDER BY (and every
    * column no count needs), so it neither shows nor guards the cost of
    * the final sort. Prints the min pass's jobs (`construct=` of them
    * started while the query was being built, before its `collect()`),
    * stages, tasks and executor run time plus its ten slowest jobs and
    * stages — wall far above execRun/cores over many small jobs is
    * scheduling-bound — between two readings of the three
    * [[CalibProbe]] host-load scalars. */
  def time(spark: SparkSession, sfDir: String, queries: Seq[String]): Unit = {
    val fns = queries.map(n => n -> query(n))
    val sc = spark.sparkContext
    println(calib("pre"))
    fns.foreach { case (_, fn) => fn(spark, Sf0001).collect(): Unit }
    val log = new JobLog
    sc.addSparkListener(log)
    val passes =
      try Seq.fill(2)(fns.map { case (n, fn) =>
        val priorRdds = sc.getPersistentRDDs.keySet
        val p = log.record(spark)(fn(spark, sfDir))
        sc.getPersistentRDDs.filterNot { case (id, _) => priorRdds.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
        n -> p
      }.toMap)
      finally sc.removeSparkListener(log)
    queries.foreach { n =>
      val (p1, p2) = (passes(0)(n), passes(1)(n))
      val best = if (p2.secs < p1.secs) p2 else p1
      println(f"TIME $n%-26s min=${best.secs}%6.2f s (p1=${p1.secs}%.2f p2=${p2.secs}%.2f) " +
        f"jobs=${best.jobs.size}%3d construct=${best.construct}%3d " +
        f"stages=${best.stages.size}%3d tasks=${best.tasks}%5d " +
        f"execRun=${best.execRunMs / 1000.0}%7.2f s rows=${best.rows}")
      best.jobs.sortBy(-_.wallMs).take(10).foreach { j =>
        println(f"        job=${j.id}%4d wall=${j.wallMs / 1000.0}%6.2fs stages=${j.stages}%3d")
      }
      best.stages.sortBy(-_.taskMetrics.executorRunTime).take(10).foreach { s =>
        val wall = (for (a <- s.completionTime; b <- s.submissionTime) yield a - b).getOrElse(0L)
        println(f"        stage=${s.stageId}%4d tasks=${s.numTasks}%4d " +
          f"execRun=${s.taskMetrics.executorRunTime / 1000.0}%6.2fs " +
          f"wall=${wall / 1000.0}%6.2fs  ${s.name.take(60)}")
      }
    }
    println(calib("post"))
  }

  /** Formatted explain per query (`all` = the whole registry). Not a
    * cheap dump: building a query runs its construction-time work —
    * fences, persisted ANN and dedup stores, bucketed tables — so `all`
    * at sf0.001 runs for tens of minutes (two concurrent runs on 4
    * cores took about 70). */
  def plan(spark: SparkSession, list: String, sfDir: String): Unit =
    names(list).foreach { n =>
      println(s"===== $n =====")
      println(
        try query(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case NonFatal(e) => s"EXPLAIN FAILED: $e" })
    }

  /** One line of plan-shape counts per query (`all` = the whole
    * registry): parquet scans, scans with pushed filters, shuffles and
    * broadcasts. */
  def audit(spark: SparkSession, sfDir: String, list: String): Unit =
    names(list).foreach { n =>
      try {
        val p = query(n)(spark, sfDir).queryExecution.executedPlan.toString
        def c(s: String) = s.r.findAllIn(p).length
        println(f"AUDIT $n%-26s scans=${c("Scan parquet")} " +
          s"pushedScans=${c("PushedFilters: \\[[^\\]]")} " +
          s"shuffles=${c("Exchange (hash|range)partitioning")} " +
          s"broadcasts=${c("BroadcastExchange")}")
      } catch { case NonFatal(e) => println(s"AUDIT $n ERROR ${String.valueOf(e.getMessage).take(60)}") }
    }

  /** Final AQE tree, depth-first with depths. AQE wrappers and query
    * stages report no children, so the walk enters their plans. */
  private def walk(p: SparkPlan, depth: Int): Seq[(Int, SparkPlan)] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
    case qs: QueryStageExec => walk(qs.plan, depth)
    case other =>
      (depth, other) +: (other.children ++ other.subqueries).flatMap(walk(_, depth + 1))
  }

  /** Runs the query's OWN plan once (a `count()` would plan anew and
    * leave this AQE tree unexecuted), then prints every operator of
    * the final tree with its nonzero metrics; a WholeStageCodegen
    * stage also shows its largest generated method in bytecode bytes
    * — HotSpot will not JIT a method over 8000 unless the JVM runs
    * with `-XX:-DontCompileHugeMethods`. */
  def exec(spark: SparkSession, sfDir: String, name: String): Unit = {
    val plan = query(name)(spark, sfDir).queryExecution.executedPlan
    val t0 = System.nanoTime()
    val rows = plan.executeCollect().length
    println(f"EXEC $name wall=${(System.nanoTime() - t0) / 1e9}%.2fs rows=$rows")
    walk(plan, 0).foreach { case (depth, p) =>
      val code = p match {
        case w: WholeStageCodegenExec =>
          Seq(s"maxMethodCodeSize=${CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize}")
        case _ => Nil
      }
      val metrics = p.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1).map { case (k, m) =>
        m.metricType match {
          case "nsTiming" => s"$k=${m.value / 1000000}ms"
          case "timing" => s"$k=${m.value}ms"
          case _ => s"$k=${m.value}"
        }
      }
      println(("  " * depth) + (p.nodeName +: (code ++ metrics)).mkString(" "))
    }
  }

  def run(spark: SparkSession, sfDir: String, name: String, maxRows: Int): Unit =
    query(name)(spark, sfDir).show(maxRows, truncate = false)

  /** [[graft.streaming.ThroughputProbe]] in a JVM doing nothing else,
    * to tell a depressed bench-embedded figure (dirty JVM, host load)
    * from a plan regression. */
  def throughput(spark: SparkSession, sfDir: String, warmupSec: Int, measureSec: Int): Unit = {
    val r = graft.streaming.ThroughputProbe.steadyState(
      spark, sfDir, warmupSec = warmupSec, measureSec = measureSec)
    println(f"[throughput] median=${r.eps}%.0f min=${r.epsMin}%.0f " +
      f"max=${r.epsMax}%.0f windows=${r.windows.size} series=${r.seriesJson}")
  }

  /** [[graft.streaming.ServingProbe]] standalone; `warmupSec` and
    * `measureSec` are per phase (free, then stalled). */
  def serving(spark: SparkSession, sfDir: String, warmupSec: Int = 4,
      measureSec: Int = 10): Unit = {
    val r = graft.streaming.ServingProbe.run(spark, sfDir,
      warmupSec = warmupSec, measureSec = measureSec)
    println(f"SERVING free=${r.freeEps}%.0f eps stalled=${r.stalledEps}%.0f eps " +
      f"ratio=${r.ratio}%.2f p50=${r.p50Ms}%.1f ms p99=${r.p99Ms}%.1f ms")
  }
}
