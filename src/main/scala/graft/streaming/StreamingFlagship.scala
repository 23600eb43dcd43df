package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Flagship

/** The reference's server process (§3.1) as Structured Streaming:
  * tailed log lines → parse/filter cascade → broadcast enrichment →
  * fan-out sinks.
  *
  * Source mapping (SURVEY.md §2.1): the reference tails one
  * log-rotated file (S1); Spark's file stream source watches a
  * directory where rotation simply produces new files —
  * `spark.readStream.text(dir)` with `maxFilesPerTrigger` as the
  * admission control (T3 analog: Spark backpressures instead of
  * dropping; see RateSampler for the explicit drop semantics).
  *
  * All transformations reuse the EXACT batch Column pipelines from
  * graft.pipeline.Flagship — the reference's own batch mode
  * (`server.clj:37-48`) is the proof that batch ≡ stream for this
  * query, and here it holds by construction.
  */
object StreamingFlagship {

  /** S1 — directory-tail source. */
  def readLines(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .withColumnRenamed("value", "line")

  /** Stream side of the pipeline: identical plan to batch. A plain
    * *static* dimension DataFrame is re-evaluated and re-broadcast
    * into the join every micro-batch, which refreshes like the
    * reference's 12 h cycle (T5) but does NOT pin a version. Given a
    * [[DimensionSnapshot]]'s `pinned` frame, every batch instead
    * probes that version's lookup, broadcast once when the version
    * was built — the reference's atomic-swap consistency guarantee,
    * with no per-batch broadcast. */
  def enriched(lines: DataFrame, dim: DataFrame): DataFrame =
    Flagship.enrich(Flagship.logToRequests(lines), dim)

  /** K2 analog — JSONL wire format. `to_json` omits null fields like
    * the reference omits absent keys for unenriched events (§1.2d). */
  def toJsonl(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** K1 analog — SSE framing (`http.clj:96-97`): `data: {json}\n\n`.
    * The serving layer proper is out of engine scope; the frame
    * column is what a push gateway flushes per event. */
  def toSse(df: DataFrame): DataFrame =
    toJsonl(df).select(concat(lit("data: "), col("value"), lit("\n\n")).as("frame"))

  /** A2 analog (plan-level) — the reference's Dropwizard meters
    * (`metrics.clj:6-18`) as zero-cost `observe` metrics: counts are
    * collected by the running query per micro-batch and surfaced via
    * `StreamingQueryListener`/`lastProgress.observedMetrics`, without
    * adding any operator to the data plane. */
  def metered(requests: DataFrame): DataFrame =
    requests.observe("wb_page_requests",
      count(lit(1)).as("events"),
      approx_count_distinct(col("lemma")).as("distinct_lemmata"))

  /** A2 analog (data-plane) — per-minute throughput meter as a
    * watermarked tumbling-window count (late data beyond 10 min
    * dropped). */
  def minuteCounts(requests: DataFrame): DataFrame =
    requests
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("minute"), col("n"))

  /** Streaming deduplication with bounded state: drop events with a
    * duplicate (lemma, ts) within the watermark horizon — the
    * streaming form of exact dedup (state is evicted once the
    * watermark passes, so memory stays O(events-per-horizon), not
    * O(stream)). */
  def dedupedRequests(requests: DataFrame): DataFrame =
    requests
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("lemma", "ts")

  /** K3 analog — epoch-idempotent micro-batched append (see Sinks). */
  def startParquetSink(enriched: DataFrame, outDir: String,
      checkpoint: String): StreamingQuery =
    Sinks.appendParquet(enriched, outDir, checkpoint,
      Some(Trigger.ProcessingTime("1 second")))
}
