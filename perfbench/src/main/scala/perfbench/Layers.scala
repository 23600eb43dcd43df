package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import perfbench.Main.Ctx

/** The per-layer metrics every traced run reports (BENCHMARK.json's
  * `per_layer`), and the files a traced run leaves: the spans and the
  * per-layer table. */
object Layers {

  /** Per-layer metrics of the streaming layers. */
  private val StreamingNames: Seq[(String, String)] = Seq(
    "trigger.batches" -> "count", "trigger.rows_per_batch" -> "count",
    "sink.files_written" -> "count", "sink.bytes_written" -> "B",
    "hub.published" -> "count", "hub.broadcasts" -> "count",
    "source.backlog_lines" -> "count",
    "pipeline.kept_ratio" -> "ratio", "dim.hit_ratio" -> "ratio")

  /** The streaming layers' metrics: what the workload measured, and
    * zero for a layer it does not exercise. */
  def streaming(measured: (String, Double)*): Seq[(String, Double, String)] = {
    val m = measured.toMap
    require(m.keySet.subsetOf(StreamingNames.map(_._1).toSet), s"unknown metrics in ${m.keys}")
    StreamingNames.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
  }

  /** Heap peak and collector time from construction to `stop()`. */
  final class Jvm {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private def gcTotal = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    pools.foreach(_.resetPeakUsage())
    private val gc0 = gcTotal

    /** (collector ms, heap peak MB) so far. */
    def stop(): (Double, Double) =
      ((gcTotal - gc0).toDouble, pools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  /** The layers every workload exercises, from the probe's counters
    * over the traced unit of work. */
  def common(c: Map[String, Double], constructMs: Double, constructJobs: Int,
      overheadMs: Double, jvm: (Double, Double)): Seq[(String, Double, String)] = Seq(
    ("queries.construct_ms", constructMs, "ms"),
    ("queries.construct_jobs", constructJobs.toDouble, "count"),
    ("tables.read_jobs", c("tables.read_jobs"), "count"),
    ("catalyst.plan_ms", c("catalyst.plan_ms"), "ms"),
    ("scheduler.jobs", c("scheduler.jobs"), "count"),
    ("scheduler.stages", c("scheduler.stages"), "count"),
    ("scheduler.tasks", c("scheduler.tasks"), "count"),
    ("exec.run_ms", c("exec.run_ms"), "ms"),
    ("exec.cpu_ms", c("exec.cpu_ms"), "ms"),
    ("shuffle.read_bytes", c("shuffle.read_bytes"), "B"),
    ("shuffle.write_bytes", c("shuffle.write_bytes"), "B"),
    ("jvm.heap_peak_mb", jvm._2, "MB"),
    ("jvm.gc_ms", jvm._1, "ms"),
    ("trace.overhead_ms", overheadMs, "ms"))

  /** Counters kept out of `per_layer` because they read zero on most
    * runs; they go to the per-layer table. */
  def extra(c: Map[String, Double]): Seq[(String, Double, String)] = Seq(
    ("exec.gc_ms", c("exec.gc_ms"), "ms"),
    ("exec.spill_bytes", c("exec.spill_bytes"), "B"))

  def selfTable(self: Map[String, Double]): Seq[(String, Double, String)] =
    self.toSeq.sortBy(_._1).map { case (l, ms) => (s"self.$l", ms, "ms") }

  /** Writes `<work>/trace/spans.jsonl` and `<work>/trace/layers.tsv`. */
  def write(ctx: Ctx, tracer: Tracer, rows: Seq[(String, Double, String)]): Unit = {
    val dir = ctx.args.work.resolve("trace")
    tracer.writeJsonl(dir.resolve("spans.jsonl"))
    Files.write(dir.resolve("layers.tsv"),
      ("metric\tvalue\tunit" +: rows.map { case (n, v, u) => s"$n\t${Json.num(v)}\t$u" }).asJava)
  }
}
