package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, InetSocketAddress, Socket, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.streaming.{EventServer, StreamingFlagship}
import perfbench.Main.{Ctx, Outcome}

/** Micro-batch progress phases, as tables and as trace spans. */
object StreamPhases {

  /** Spark's trigger phases in the order a micro-batch runs them. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
    "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
    "addBatch" -> "add_batch", "commitOffsets" -> "commit_offsets")

  /** Median per batch of each phase, plus batch count and size. */
  def table(bs: Seq[Progress.Batch]): Seq[(String, Double, String)] =
    if (bs.isEmpty) Nil
    else {
      def med(f: Progress.Batch => Double) = Stats.median(bs.map(f))
      Phases.map { case (p, n) => (s"trigger.${n}_ms", med(_.durationMs.getOrElse(p, 0L).toDouble), "ms") } ++
        Seq(("trigger.execution_ms", med(_.durationMs.getOrElse("triggerExecution", 0L).toDouble), "ms"),
          ("trigger.batch_count", bs.size.toDouble, "count"),
          ("trigger.rows_median", med(_.rows.toDouble), "count"))
    }

  /** Catalyst time of a streaming run: the micro-batch planning the
    * progress reports plus the planning of actions inside the batches. */
  def withPlanning(c: Map[String, Double], bs: Seq[Progress.Batch]): Map[String, Double] =
    c.updated("catalyst.plan_ms",
      c("catalyst.plan_ms") + bs.map(_.durationMs.getOrElse("queryPlanning", 0L)).sum)

  /** One span per batch, its phases laid out in run order as children. */
  def attach(tracer: Tracer, bs: Seq[Progress.Batch]): Unit =
    bs.foreach { b =>
      val id = tracer.attach(s"batch ${b.batchId}", "streaming", "", b.startMs * 1000, b.commitMs * 1000)
      var t = b.startMs
      Phases.foreach { case (p, _) =>
        val d = b.durationMs.getOrElse(p, 0L)
        if (d > 0) tracer.attach(p, s"trigger.$p", "", t * 1000, (t + d) * 1000, parent = id)
        t += d
      }
    }
}

/** Write→commit latency of generated lines. */
object Latency {

  /** A rotated file of the live log: when it was due, when it was
    * written, and which of its lines should become events. */
  final case class Chunk(dueMs: Long, writtenMs: Long, kept: Array[Boolean])

  /** For each kept line of the chunks from index `from` on, the time
    * from when its chunk was due to the commit of the micro-batch that
    * consumed it. Lines are consumed in write order, so the batches'
    * cumulative input rows map each batch to its lines. Lines no
    * committed batch covers get no sample. `batches` are (input rows,
    * commit ms) in batch order. */
  def attribute(chunks: Seq[Chunk], batches: Seq[(Long, Long)], from: Int): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    var b = 0
    var batchEnd = batches.headOption.map(_._1).getOrElse(0L)
    var line = 0L
    chunks.zipWithIndex.foreach { case (c, i) =>
      c.kept.foreach { k =>
        while (b < batches.length && line >= batchEnd) {
          b += 1
          if (b < batches.length) batchEnd += batches(b)._1
        }
        if (k && i >= from && b < batches.length) out += (batches(b)._2 - c.dueMs).toDouble
        line += 1
      }
    }
    out.toSeq
  }
}

/** The three subscribers of the livestream workload: a draining JSONL
  * reader, an SSE reader at the visualization's default `?epm=45`, and
  * a socket that requests the stream and never reads it. */
final class Subscribers(port: Int) {
  val jsonlEvents = new AtomicLong
  val jsonlHits = new AtomicLong
  val sseEvents = new AtomicLong
  private val conns = mutable.ArrayBuffer.empty[HttpURLConnection]

  private def reader(path: String)(onLine: String => Unit): Thread = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conns += c
    val t = new Thread(() => {
      try {
        val in = new BufferedReader(new InputStreamReader(c.getInputStream, StandardCharsets.UTF_8))
        Iterator.continually(in.readLine()).takeWhile(_ != null).foreach(onLine)
      } catch { case _: java.io.IOException => () }
    }, s"subscriber$path")
    t.setDaemon(true)
    t.start()
    t
  }

  private val threads = Seq(
    reader("/api/jsonl") { l =>
      if (l.nonEmpty) { jsonlEvents.incrementAndGet(); if (l.contains("\"freq\"")) jsonlHits.incrementAndGet() }
    },
    reader("/api/events?epm=45") { l => if (l.startsWith("data: ")) sseEvents.incrementAndGet() })

  private val stalled = {
    val s = new Socket()
    s.setReceiveBufferSize(4096)
    s.connect(new InetSocketAddress("127.0.0.1", port))
    s.getOutputStream.write(
      "GET /api/jsonl HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
    s.getOutputStream.flush()
    s
  }

  /** Closes every connection and waits for the reader threads. */
  def close(): Unit = {
    stalled.close()
    conns.foreach(_.disconnect())
    threads.foreach(_.join(5000))
  }
}

/** `livestream`: the serving regime. The seeded generator writes a
  * rotated chunk of the live log into the watched directory every
  * `ChunkMs`, open-loop on a wall-clock schedule that never waits for
  * the engine; the stream (`StreamingFlagship.enriched` with the pinned
  * snapshot → `toJsonl` → `EventServer.attach`, default 1 s trigger)
  * publishes to three subscribers. */
object Livestream {

  val LinesPerSec = 1000
  val ChunkMs = 100
  val LinesPerChunk: Int = LinesPerSec * ChunkMs / 1000

  def apply(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val work = Workdir.fresh(ctx.args.work)
    val input = new LogInput(spark, ctx.args.seed, work)
    val inDir = Workdir.fresh(work.resolve("in"))
    val staging = work.resolve("staging")
    val progress = Progress.register(spark)

    val s0 = System.nanoTime()
    val dim = input.snapshot()
    val snapshotMs = (System.nanoTime() - s0) / 1e6
    val server = EventServer.start(0)
    val subs = new Subscribers(server.port)
    val c0 = System.nanoTime()
    val events = StreamingFlagship.toJsonl(StreamingFlagship.enriched(
      StreamingFlagship.readLines(spark, inDir.toString), dim.pinned))
    val constructMs = (System.nanoTime() - c0) / 1e6
    val q = server.attach(events, work.resolve("checkpoint").toString)
    val runId = q.runId.toString
    def committed: Long = progress.of(runId).map(_.rows).sum

    val chunks = mutable.ArrayBuffer.empty[Latency.Chunk]
    var written = 0L
    var backlog = 0L
    def writeChunk(dueMs: Long): Unit = {
      val ls = input.gen.take(LinesPerChunk)
      LogGen.writeFile(inDir, f"live-${chunks.size}%06d.log", ls, staging)
      chunks += Latency.Chunk(dueMs, System.currentTimeMillis(), ls.map(_.kept))
      written += ls.length
      backlog = math.max(backlog, written - committed)
    }
    def awaitCommitted(n: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (committed < n && q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
      committed >= n
    }
    // the first batch (planning, code generation) is part of set-up
    writeChunk(System.currentTimeMillis())
    awaitCommitted(written, 60)
    val setupS = ctx.sessionS + (System.nanoTime() - s0) / 1e9

    /** Open-loop schedule: chunk k is due at `start + k·ChunkMs`, on a
      * grid 50 ms off the wall-clock second that the 1 s trigger is
      * aligned to, so which batch takes a chunk does not depend on
      * when the run started. */
    def window(seconds: Int): (Int, Int) = {
      val now = System.currentTimeMillis()
      val start = now - now % 1000 + 1050
      val first = chunks.size
      for (k <- 0 until seconds * 1000 / ChunkMs) {
        val due = start + k.toLong * ChunkMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeChunk(due)
      }
      (first, chunks.size)
    }

    // traced: windows without, with and again without tracing
    val tracer = new Tracer(ctx.args.trace)
    val (w0, w1) = window(ctx.args.seconds)
    val traceWin = if (!ctx.args.trace) None else Some {
      awaitCommitted(written, 30)
      val probe = Probe.register(spark)
      val jvm = new Layers.Jvm
      val fromMs = System.currentTimeMillis()
      val win = window(ctx.args.seconds)
      awaitCommitted(written, 30)
      val jvmUse = jvm.stop()
      val toMs = System.currentTimeMillis()
      probe.unregister(spark)
      (probe, jvmUse, fromMs, toMs, win, window(ctx.args.seconds))
    }
    val drained = awaitCommitted(written, 30)
    val toMs = System.currentTimeMillis()
    val terminated = progress.terminated.orElse(q.exception.map(_.toString))
    val published = server.published
    q.stop()
    server.stop()
    subs.close()

    val batches = progress.of(runId)
    val lat = Latency.attribute(chunks.toSeq.take(w1), batches.map(b => (b.rows, b.commitMs)), w0)
    val expected = chunks.map(_.kept.count(identity).toLong).sum
    val problems =
      terminated.map(t => s"stream terminated: $t").toSeq ++
        (if (!drained) Seq(s"only $committed of $written lines committed") else Nil) ++
        (if (published != expected) Seq(s"published $published events, expected $expected") else Nil) ++
        (if (lat.size < 1000) Seq(s"only ${lat.size} latency samples") else Nil)
    val failed = math.abs(expected - published)
    val lateness = chunks.map(c => (c.writtenMs - c.dueMs).toDouble).toSeq
    val measuredChunks = chunks.slice(w0, w1)
    val lastCommit = {
      val lines = chunks.take(w1).map(_.kept.length.toLong).sum
      var cum = 0L
      batches.find { b => cum += b.rows; cum >= lines }.map(_.commitMs).getOrElse(toMs)
    }
    val measuredLines = measuredChunks.map(_.kept.length).sum
    val hubP99 = server.latencySince(0L).map(_ / 1e6)
    val windowMin = ctx.args.seconds / 60.0 * (if (ctx.args.trace) 3 else 1)
    val layerRows = Seq(
      ("dim.snapshot_ms", snapshotMs, "ms"),
      ("latency.samples", lat.size.toDouble, "count"),
      ("latency_p99_ms", if (lat.size >= 100) Stats.percentile(lat, 0.99).value else -1.0, "ms"),
      ("gen.lateness_ms", lateness.max, "ms"),
      ("gen.lateness_p50_ms", Stats.median(lateness), "ms"),
      ("hub.delivered_ratio.jsonl", subs.jsonlEvents.get.toDouble / math.max(1, published), "ratio"),
      ("hub.epm_delivered_per_min", subs.sseEvents.get / windowMin, "1/min"),
      ("hub.publish_to_write_p99_ms",
        if (hubP99.nonEmpty) Stats.percentile(hubP99.toSeq, 0.99).value else -1.0, "ms")) ++
      StreamPhases.table(batches.filter(_.startMs >= chunks(w0).dueMs))

    traceWin match {
      case None =>
        Outcome(expected, failed, problems,
          Seq(
            ("setup_s", setupS, "s"),
            ("items_per_s", measuredLines / ((lastCommit - measuredChunks.head.dueMs) / 1000.0), "1/s"),
            ("latency_p50_ms", Stats.percentile(lat, 0.5).value, "ms"),
            ("latency_p90_ms", Stats.percentile(lat, 0.9).value, "ms")),
          layerRows ++ Seq(("hub.published", published.toDouble, "count"),
            ("source.backlog_lines", backlog.toDouble, "count")))
      case Some((probe, jvmUse, fromMs, tracedToMs, (t0, t1), (u0, u1))) =>
        def busy(a: Int, b: Int) = {
          val from = chunks(a).dueMs
          val to = if (b < chunks.size) chunks(b).dueMs else Long.MaxValue
          batches.filter(x => x.startMs >= from && x.startMs < to)
        }
        val tracedBatches = busy(t0, t1)
        def exec(bs: Seq[Progress.Batch]) = bs.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum.toDouble
        val untracedMs = (exec(busy(w0, w1)) + exec(busy(u0, u1))) / 2
        val overheadMs = exec(tracedBatches) - untracedMs
        StreamPhases.attach(tracer, tracedBatches)
        Probe.attachSpans(probe, tracer, fromMs, tracedToMs, _ => "")
        val c = StreamPhases.withPlanning(probe.counters(fromMs, tracedToMs), tracedBatches)
        val tracedLines = chunks.slice(t0, t1).map(_.kept.length).sum
        val metrics = Layers.common(c, constructMs, 0, overheadMs, jvmUse) ++
          Layers.streaming(
            "trigger.batches" -> tracedBatches.size.toDouble,
            "trigger.rows_per_batch" -> tracedLines.toDouble / math.max(1, tracedBatches.size),
            "hub.published" -> published.toDouble,
            "hub.broadcasts" -> server.broadcasts.toDouble,
            "source.backlog_lines" -> backlog.toDouble,
            "pipeline.kept_ratio" -> published.toDouble / written,
            "dim.hit_ratio" -> subs.jsonlHits.get.toDouble / math.max(1, subs.jsonlEvents.get))
        val table = metrics ++ Layers.extra(c) ++ layerRows ++
          Seq(("exec.cpu_ns_per_line", c("exec.cpu_ms") * 1e6 / math.max(1, tracedLines), "ns"),
            ("busy_s.untraced", untracedMs / 1000, "s"),
            ("busy_s.traced", exec(tracedBatches) / 1000, "s")) ++
          Layers.selfTable(tracer.selfMsByLayer)
        Layers.write(ctx, tracer, table)
        Outcome(expected, failed, problems, metrics, table)
    }
  }
}
