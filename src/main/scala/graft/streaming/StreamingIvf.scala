package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Ivf

/** Streaming ANN SERVING over the persisted IVF index — the
  * [[StreamingRerank]] shape applied to the vector index: the index
  * is built ONCE (coarse centroids + a durable cell-partitioned
  * posting store), then every micro-batch of arriving query vectors
  * runs the IDENTICAL shared serving path
  * ([[graft.operators.Ivf.serve]] — probe selection over the
  * k-bounded centroid table, literal cell filter pruning the store
  * scan, codec scoring, top-k).
  *
  * Stream ≡ batch per prefix, by construction: the serving tail is
  * PER-QUERY INDEPENDENT (the model and store are fixed at build
  * time; a query's answer never depends on other queries), so
  * serving any micro-batch split of a query set accumulates exactly
  * the batch answers for those queries — PersistedIvfSpec pins the
  * accumulated stream output row-for-row against the batch query of
  * each codec.
  *
  * Delivery contract: one row per query (the whole vector rides in
  * one column), so nothing can split across batches; a vec_id that
  * repeats within a batch is served once (two different vectors under
  * one vec_id fail the batch by name); no cross-batch state, clean
  * restart from any checkpoint. Per-batch work is
  * |batch queries|-scale against the pruned store scan — the
  * serving-latency shape of a production ANN stack: corpus work at
  * index-build time, per-query work proportional to the probed
  * cells.
  *
  * Store-lifetime contract (r15 advice closed in r16): each stream
  * builds its index under its OWN store generation (a fresh
  * `ivfserveN` path tag), so [[graft.operators.DedupManifest]]'s
  * retention of the SHARED `ivf` query-path store — which reclaims a
  * version after two further persists of the same path, e.g. any two
  * later `q_knn_ivf_persisted` runs — can never delete files under a
  * running stream. The stream's own path sees exactly one persist
  * for the stream's whole life, which retention never reclaims —
  * so the stream deletes its OWN store at query termination (r17,
  * the r16 advice: a StreamingQueryListener hook, which can never
  * race a reader because the only reader is the terminated query),
  * keeping repeated stream starts in one session from accumulating
  * orphaned store generations until JVM exit. */
object StreamingIvf {

  /** Ceiling on query vectors per micro-batch. Probe selection runs
    * DRIVER-SIDE over the k-bounded centroid table (the design that
    * makes per-query work nprobe/C of the store), which means each
    * micro-batch of query vectors is collected — fine at serving
    * rates, where queries are the small side by contract, but an
    * unbounded producer (someone piping the CORPUS through the query
    * stream) would pile vectors onto the driver. The loud-guard
    * discipline of `Sgns.MaxVocab` / `UnigramLm.MaxPieces`: at the
    * default 64-dim doubles, 2¹⁶ vectors ≈ 34 MB per batch — far
    * above any serving burst, far below driver heap. */
  val MaxBatchQueries: Int = 1 << 16

  /** Per-stream store generation counter (see the store-lifetime
    * contract above). */
  private val gen = new java.util.concurrent.atomic.AtomicLong(0)

  /** Build the index once (under this stream's own store
    * generation), then serve each micro-batch of streaming
    * (vec_id, v) query rows, handing every non-empty batch's top-k
    * frame to `sink` (ordered by q_id, rn).
    *
    * @param maxBatchQueries the [[MaxBatchQueries]] ceiling —
    *   parameterized so the guard spec can trip it at test scale;
    *   production callers keep the default
    * @param codec the posting-row codec ([[Ivf.Codec]]), which also
    *   fixes the index's coarse cells:
    *   - `Full`: double vectors, exact-cosine scoring, trained cells
    *     (batch twin `q_knn_ivf_persisted`);
    *   - `Q8`: int8 codes + norm, quantized-cosine scoring with
    *     driver-quantized queries — 8× fewer store bytes per probe
    *     (`q_knn_ivf_q8`);
    *   - `Pq`: 4 PQ code bytes + norm per row, driver-LUT ADC
    *     shortlist + exact point-read rerank — the FAISS IVFPQ
    *     serving shape, literal cells (`q_knn_ivf_pq_store`);
    *   - `PqR`: the same 12 B/vec with RESIDUAL-encoded codes (FAISS
    *     by_residual=true — the measured recall winner of
    *     `q_ann_mode_compare`: 0.90 vs 0.82 at equal bytes;
    *     `q_knn_ivf_pq_r`).
    *   Every codec emits the SAME grade-free (q_id, n_id, rn, sim) sink
    *   schema, collects its model once at stream start, and follows
    *   the same store-lifetime/reclamation contract. */
  def start(spark: SparkSession, queries: DataFrame, sfDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      maxBatchQueries: Int = MaxBatchQueries,
      codec: Ivf.Codec = Ivf.Codec.Full)(
      sink: DataFrame => Unit): StreamingQuery = {
    require(maxBatchQueries >= 1, s"maxBatchQueries=$maxBatchQueries")
    val kind = s"ivfserve${gen.incrementAndGet()}"
    // index build + model load happen ONCE, at stream start: the
    // per-batch closure touches only the built index
    val ix = Ivf.build(spark, sfDir, codec, kind)
    ix.store.count(): Unit // force the store write at build time
    val q = queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.col
        // limit+1 bounds the collect itself: the guard must not OOM
        // while measuring the violation it exists to prevent
        val qs = batch.select(col("vec_id").cast("long"), col("v"))
          .limit(maxBatchQueries + 1)
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
        require(qs.length <= maxBatchQueries,
          s"query micro-batch exceeds StreamingIvf.MaxBatchQueries=" +
            s"$maxBatchQueries vectors: probe selection collects each " +
            "batch driver-side (the nprobe/C serving design); this is a " +
            "serving stream, not a corpus channel — throttle the " +
            "producer or split the batch upstream")
        if (qs.nonEmpty) sink(Ivf.serve(ix, qs.toSeq))
      }
      .start()
    // Store-RECLAMATION half of the lifetime contract (r16 advice):
    // each stream's single-persist generation is invisible to
    // DedupManifest retention (which reclaims only after two FURTHER
    // persists of the same path), so without this hook repeated
    // stream starts in one session would accumulate orphaned store
    // versions until JVM exit. The stream's store dies with the
    // stream: once terminated, no batch can read it again (the
    // serving tail lives inside this query), so deletion at
    // onQueryTerminated can never race a reader.
    val storePath = graft.operators.DedupManifest.path(spark, kind, sfDir)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      // Match on runId, not id (r17 advice): a stream restarted from
      // the same checkpoint KEEPS its id but gets a fresh runId — and
      // the listener bus dispatches termination asynchronously, so a
      // stale event from a killed run could otherwise fire a freshly
      // registered listener, deleting the restarted stream's live
      // store mid-serving (and deregistering its own cleanup, leaking
      // the new generation). runId is unique per run by contract.
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == q.runId) {
          val p = new org.apache.hadoop.fs.Path(storePath)
          p.getFileSystem(spark.sessionState.newHadoopConf())
            .delete(p, true): Unit
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    q
  }
}
