package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Flagship
import graft.streaming.{DimensionSnapshot, StreamingFlagship}
import perfbench.Main.{Ctx, Outcome}

/** Input shared by the streaming workloads: the seeded log generator
  * and its dimension, written as parquet the way a dimension export
  * arrives. */
final class LogInput(spark: SparkSession, seed: Long, work: Path) {
  val gen = new LogGen(seed)
  val dimPath: String = work.resolve("dim.parquet").toString

  {
    import spark.implicits._
    gen.dimensionRows.toDF("lemma", "freq", "first_user")
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
  }

  /** Loads the dimension as the engine's pinned snapshot. */
  def snapshot(): DimensionSnapshot = new DimensionSnapshot(() => spark.read.parquet(dimPath))
}

object Workdir {
  /** An empty directory: what an earlier run left there is removed. */
  def fresh(p: Path): Path = {
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .foreach(Files.delete)
    Files.createDirectories(p)
  }

  /** (files, bytes) of the parquet files under `p`. */
  def parquetFiles(p: Path): (Long, Long) = {
    val fs = Files.walk(p).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
    (fs.size.toLong, fs.map(Files.size).sum)
  }
}

/** `backfill`: the reference's batch mode at full speed. A seeded
  * access log, written as rotated files, is replayed closed-loop
  * through the streaming flagship (`readLines` → `logToRequests` →
  * `DimensionSnapshot.enrichTo`) into epoch parquet facts, as fast as
  * the engine admits it. One drain backfills the whole log into a fresh
  * fact directory; the first drain is the warm-up and part of set-up,
  * then drains repeat until the measured time is used up. Each drain's
  * facts are read back after its timer and compared with the
  * generator's ground truth. */
object Backfill {

  val LinesPerFile = 25000
  val LogFiles = 16
  val FilesPerTrigger = 4

  /** Ground truth of the written log. */
  final case class Truth(lines: Long, kept: Long, hits: Long, facts: Digest)

  def writeLog(gen: LogGen, dir: Path, staging: Path): Truth = {
    Files.createDirectories(dir)
    var t = Truth(0, 0, 0, Digest.empty)
    for (f <- 0 until LogFiles) {
      val ls = gen.take(LinesPerFile)
      ls.foreach { l =>
        t = if (!l.kept) t.copy(lines = t.lines + 1)
        else Truth(t.lines + 1, t.kept + 1, t.hits + (if (l.hit) 1 else 0),
          t.facts + LogGen.factHash(l.lemma, l.tsSec, l.hit))
      }
      LogGen.writeFile(dir, f"access-$f%05d.log", ls, staging)
    }
    t
  }

  /** One drain: its timed wall, its interval in epoch ms and its
    * micro-batches, then (read back after the timer) its facts. */
  final case class Drain(wallMs: Double, fromMs: Long, toMs: Long,
      batches: Seq[Progress.Batch], facts: Digest, hits: Long, files: (Long, Long))

  /** One complete backfill into a fresh directory `out`: the timer runs
    * from building the stream until its last batch has committed.
    * `afterTimer` runs right after the timer stops, before the facts are
    * read back. */
  def drain(spark: SparkSession, logDir: Path, dim: DimensionSnapshot, out: Path,
      progress: Progress, tracer: Tracer, afterTimer: () => Unit = () => ()): Drain = {
    Workdir.fresh(out)
    val facts = out.resolve("facts")
    val key = out.getFileName.toString
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = tracer.span(key, "stream", key) {
      val requests = tracer.span("construct", "queries.construct", key)(
        Flagship.logToRequests(StreamingFlagship.readLines(spark, logDir.toString, FilesPerTrigger)))
      val q = dim.enrichTo(requests, facts.toString, out.resolve("checkpoint").toString)
      q.processAllAvailable()
      q
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val toMs = System.currentTimeMillis()
    afterTimer()
    q.stop()
    val (digest, hits) = readBack(spark, facts.toString)
    Drain(wallMs, fromMs, toMs, progress.of(q.runId.toString), digest, hits,
      Workdir.parquetFiles(facts))
  }

  /** Digest and dimension hits of the persisted facts. */
  def readBack(spark: SparkSession, facts: String): (Digest, Long) = {
    import spark.implicits._
    val parts = spark.read.parquet(facts)
      .select(col("lemma"), unix_seconds(col("ts")), col("freq").isNotNull)
      .as[(String, Long, Boolean)]
      .mapPartitions { it =>
        var d = Digest.empty
        var hits = 0L
        it.foreach { case (l, t, h) => d = d + LogGen.factHash(l, t, h); if (h) hits += 1 }
        Iterator((d.rows, d.sum, d.mix, hits))
      }
      .collect()
    (parts.map { case (r, s, m, _) => Digest(r, s, m) }.foldLeft(Digest.empty)(_ ++ _),
      parts.map(_._4).sum)
  }

  /** Fact rows missing or duplicated against the expected
    * `(lemma, tsSec, hit)` rows, counted exactly; only run when a
    * digest disagrees. */
  def mismatchedRows(spark: SparkSession, facts: String, expected: Seq[(String, Long, Boolean)]): Long = {
    import spark.implicits._
    val want = expected.toDF("lemma", "ts", "hit")
    val got = spark.read.parquet(facts)
      .select(col("lemma"), unix_seconds(col("ts")).as("ts"), col("freq").isNotNull.as("hit"))
    got.exceptAll(want).count() + want.exceptAll(got).count()
  }

  def apply(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val work = Workdir.fresh(ctx.args.work)
    val input = new LogInput(spark, ctx.args.seed, work)
    val logDir = work.resolve("log")
    val truth = writeLog(input.gen, logDir, work.resolve("staging"))
    val progress = Progress.register(spark)
    val off = new Tracer(false)

    val s0 = System.nanoTime()
    val dim = input.snapshot()
    val snapshotMs = (System.nanoTime() - s0) / 1e6
    val warm = drain(spark, logDir, dim, work.resolve("drain-0"), progress, off)
    val setupS = ctx.sessionS + (System.nanoTime() - s0) / 1e9

    def failed(d: Drain, out: Path): Long =
      if (d.facts == truth.facts) 0L
      else {
        val gen = new LogGen(ctx.args.seed)
        mismatchedRows(spark, out.resolve("facts").toString,
          Iterator.fill(LogFiles * LinesPerFile)(gen.next()).filter(_.kept)
            .map(l => (l.lemma, l.tsSec, l.hit)).toSeq)
      }

    var failures = failed(warm, work.resolve("drain-0"))
    var drains = Vector.empty[Drain]
    def next(tracer: Tracer, afterTimer: () => Unit = () => ()): Drain = {
      val out = work.resolve(s"drain-${drains.size + 1}")
      val d = drain(spark, logDir, dim, out, progress, tracer, afterTimer)
      failures += failed(d, out)
      Workdir.fresh(out)
      drains :+= d
      d
    }
    // traced: drains without, with and again without tracing
    val tracer = new Tracer(ctx.args.trace)
    var probe: Probe = null
    var jvmUse = (0.0, 0.0)
    if (ctx.args.trace) {
      next(off)
      probe = Probe.register(spark)
      val jvm = new Layers.Jvm
      next(tracer, () => jvmUse = jvm.stop())
      probe.unregister(spark)
      next(off)
    } else
      while (drains.map(_.wallMs).sum < ctx.seconds * 1000) next(off)

    val all = warm +: drains
    val attempted = truth.kept * all.size
    val problems = all.zipWithIndex.collect {
      case (d, i) if d.facts != truth.facts =>
        s"drain $i: facts ${d.facts} differ from the generator's ${truth.facts}"
    }
    val batches = drains.flatMap(_.batches)
    val layerRows = Seq(
      ("log.lines", truth.lines.toDouble, "count"),
      ("dim.snapshot_ms", snapshotMs, "ms"),
      ("pipeline.kept_ratio.truth", truth.kept.toDouble / truth.lines, "ratio"),
      ("dim.hit_ratio.truth", truth.hits.toDouble / truth.kept, "ratio"),
      ("drains", drains.size.toDouble, "count")) ++
      StreamPhases.table(batches)

    if (!ctx.args.trace) {
      // every line of the log is there when a drain starts: its latency
      // runs from the drain's start to the commit of the batch holding it
      val lat = drains.flatMap(d => Latency.attribute(
        Seq(Latency.Chunk(d.fromMs, d.fromMs, Array.fill(truth.lines.toInt)(true))),
        d.batches.map(b => (b.rows, b.commitMs)), 0))
      return Outcome(attempted, failures, problems,
        Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", truth.lines * drains.size / (drains.map(_.wallMs).sum / 1000), "1/s"),
          ("latency_p50_ms", Stats.percentile(lat, 0.5).value, "ms"),
          ("latency_p90_ms", Stats.percentile(lat, 0.9).value, "ms")),
        layerRows ++ Seq(("latency.samples", lat.size.toDouble, "count")))
    }

    val traced = drains(1)
    StreamPhases.attach(tracer, traced.batches)
    Probe.attachSpans(probe, tracer, traced.fromMs, traced.toMs, _ => "")
    val c = StreamPhases.withPlanning(probe.counters(traced.fromMs, traced.toMs), traced.batches)
    val constructMs = tracer.all.filter(_.layer == "queries.construct").map(_.durUs).sum / 1000.0
    val untracedMs = (drains(0).wallMs + drains(2).wallMs) / 2
    val metrics = Layers.common(c, constructMs, 0, traced.wallMs - untracedMs, jvmUse) ++
      Layers.streaming(
        "trigger.batches" -> traced.batches.size.toDouble,
        "trigger.rows_per_batch" -> truth.lines.toDouble / traced.batches.size,
        "sink.files_written" -> traced.files._1.toDouble,
        "sink.bytes_written" -> traced.files._2.toDouble,
        "source.backlog_lines" -> truth.lines.toDouble,
        "pipeline.kept_ratio" -> traced.facts.rows.toDouble / truth.lines,
        "dim.hit_ratio" -> traced.hits.toDouble / traced.facts.rows)
    val table = metrics ++ Layers.extra(c) ++ layerRows ++ Seq(
      ("exec.cpu_ns_per_line", c("exec.cpu_ms") * 1e6 / truth.lines, "ns"),
      ("drain_s.untraced", untracedMs / 1000, "s"),
      ("drain_s.traced", traced.wallMs / 1000, "s")) ++
      Layers.selfTable(tracer.selfMsByLayer)
    Layers.write(ctx, tracer, table)
    Outcome(attempted, failures, problems, metrics, table)
  }
}
