package graft.streaming

import java.net.Socket
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.pipeline.Flagship

/** Serving-path fidelity probe — pins the reference's core
  * operational guarantee (`server.clj:17`, `http.clj:77`): a slow or
  * STALLED subscriber must not slow the pipeline, because every
  * subscriber sits behind a 1-slot latest-wins buffer and the
  * publish path never blocks or queues.
  *
  * Shape: the same synthesized-CLF flagship pipeline as
  * [[ThroughputProbe]] (parse → filter cascade → broadcast enrich),
  * but its output runs through the REAL serving hop —
  * [[StreamingFlagship.toJsonl]] → `foreachBatch` collect →
  * [[EventServer.publish]] over a bound socket — rather than the
  * noop sink. Measured twice with identical settings:
  *
  *  1. `free`: no subscribers connected;
  *  2. `stalled`: a raw socket that completes the HTTP request and
  *     then never reads — its writer thread blocks once the kernel
  *     socket buffer fills, the worst case a subscriber can inflict.
  *
  * Reported: events/s through the serving hop in both states and
  * their ratio. A ratio ≈ 1 is the drop-oldest guarantee holding at
  * the pipeline level; a ratio well below 1 would mean subscriber
  * backpressure is leaking into the stream. */
object ServingProbe {

  final case class Result(freeEps: Double, stalledEps: Double,
      p50Ms: Double = -1.0, p99Ms: Double = -1.0) {
    def ratio: Double = if (freeEps > 0) stalledEps / freeEps else 0.0
  }

  /** Exact percentile by rank over the sample set (nearest-rank,
    * the conservative convention): empty → -1 (unmeasured). */
  private[graft] def percentileMs(nanos: Array[Long], p: Double): Double =
    if (nanos.isEmpty) -1.0
    else {
      val sorted = nanos.sorted
      sorted(math.min(sorted.length - 1,
        math.ceil(p * sorted.length).toInt - 1).max(0)) / 1e6
    }

  private def measureEps(spark: SparkSession, sfDir: String,
      es: EventServer, rowsPerBatch: Long, warmupSec: Int,
      measureSec: Int): Double = {
    val dim = Flagship.dimension(Tables(spark, sfDir, "events"))
    val types = array(Seq("click", "view", "signup", "error", "purchase").map(lit): _*)
    val rate = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toString)
      .option("numPartitions", "32")
      .load()
    val synthIn = rate.select(
      col("value").as("event_id"),
      pmod(col("value"), lit(977)).as("user_id"),
      element_at(types, (pmod(col("value"), lit(5)) + 1).cast("int")).as("event_type"),
      col("timestamp").as("ts"))
    val out = StreamingFlagship.toJsonl(
      StreamingFlagship.enriched(Flagship.synthLog(synthIn), dim))
    val ckpt = java.nio.file.Files.createTempDirectory("serving-probe").toString
    val q = es.attach(out, ckpt, Trigger.ProcessingTime("100 milliseconds"))
    try {
      Thread.sleep(warmupSec * 1000L)
      val p0 = es.published
      val t0 = System.nanoTime()
      Thread.sleep(measureSec * 1000L)
      val events = es.published - p0
      events * 1e9 / (System.nanoTime() - t0)
    } finally q.stop()
  }

  /** Standalone run: `runMain graft.Dev serving [sfDir]`. */
  def run(spark: SparkSession, sfDir: String, rowsPerBatch: Long = 20000L,
      warmupSec: Int = 4, measureSec: Int = 10): Result = {
    val es = EventServer.start()
    try {
      val free = measureEps(spark, sfDir, es, rowsPerBatch, warmupSec, measureSec)
      // stalled subscriber: full HTTP request, then never read a byte
      val sock = new Socket("127.0.0.1", es.port)
      // plus a DRAINING subscriber in the same phase: it yields the
      // publish→write latency percentiles (the event-to-subscriber UX
      // number), measured while a stalled peer exists — so the sample
      // also demonstrates fan-out independence: a healthy subscriber's
      // latency is unaffected by the worst-case peer.
      val drain = new Socket("127.0.0.1", es.port)
      val drainStop = new java.util.concurrent.atomic.AtomicBoolean(false)
      try {
        sock.getOutputStream.write(
          "GET /api/events HTTP/1.1\r\nHost: localhost\r\n\r\n"
            .getBytes(StandardCharsets.UTF_8))
        sock.getOutputStream.flush()
        drain.getOutputStream.write(
          "GET /api/jsonl HTTP/1.1\r\nHost: localhost\r\n\r\n"
            .getBytes(StandardCharsets.UTF_8))
        drain.getOutputStream.flush()
        val drainer = new Thread(() => {
          val buf = new Array[Byte](8192)
          try { val in = drain.getInputStream
            while (!drainStop.get && in.read(buf) >= 0) () }
          catch { case _: java.io.IOException => () }
        }, "serving-probe-drain")
        drainer.setDaemon(true)
        drainer.start()
        val deadline = System.nanoTime() + 5L * 1000000000L
        while (es.subscriberCount < 2 && System.nanoTime() < deadline)
          Thread.sleep(20)
        val mark = es.latencyMark
        val stalled = measureEps(spark, sfDir, es, rowsPerBatch, warmupSec, measureSec)
        val lat = es.latencySince(mark)
        Result(free, stalled,
          percentileMs(lat, 0.50), percentileMs(lat, 0.99))
      } finally { drainStop.set(true); drain.close(); sock.close() }
    } finally es.stop()
  }
}
