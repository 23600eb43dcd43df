package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fence.FenceOps

/** Persisted incremental-dedup manifests — the write→read loop a real
  * daily-ingest deployment pays between corpus builds, extracted from
  * the in-plan stand-ins the incremental queries used to carry.
  *
  * A dedup pipeline that ingests batch after batch keeps two small
  * stores next to the corpus (reference behavior: the reference's
  * collector keeps its rolling state in a persistent store across
  * process restarts, `collector.clj`; here the analogous state is
  * dedup model state, not rows):
  *
  *  - the COMPONENT manifest (id → smallest-id representative) of the
  *    near-dup pair graph seen so far — what [[ccDelta]] contracts
  *    against, so each ingest's iterative work is |new-edge|-scale;
  *  - the BAND manifest (vec_id, label, band, bv) of every corpus
  *    vector's LSH band values — what an arriving batch equi-joins
  *    against, so candidate generation is |new|-scale and the prior
  *    corpus is never re-banded.
  *
  * Both are parquet: mergeable, partition-prunable, and orders of
  * magnitude smaller than the corpus (pair-graph-/band-scale). At
  * 100 TB the band manifest is the large one (8 longs per vector) —
  * [[persistBucketed]] writes it hash-bucketed by the FULL candidate
  * join key (label, band, bv) (stock Spark requires all clustering
  * keys for join co-partitioning, so a key prefix would re-exchange),
  * and each ingest's band equi-join then co-locates with ZERO
  * exchange on the manifest side — only the |new|-scale batch
  * shuffles; what remains is one partition-local sort, since stock
  * Spark no longer trusts bucket sort order (ManifestRoundTripSpec
  * pins the plan).
  *
  * ManifestRoundTripSpec proves the contract end to end: two CHAINED
  * ingests (run 1 → persisted manifest → run 2), each applying its
  * delta with [[apply]], reproduce the one-shot batch answer
  * hash-exactly — components equal `q_dedup_cc`'s labeling and the
  * chained verified-pair union equals `q_dedup_embed_lsh`'s pair set
  * on the union corpus.
  */
object DedupManifest {

  /** Canonical manifest location for a corpus identified by `tag`
    * (the engine queries tag by their sfDir). Rooted in
    * java.io.tmpdir UNDER THE SESSION's application id — two JVMs on
    * one host (a bench and a probe, say) must not race a
    * mode(overwrite) delete against the other's lazy read, and the
    * appId scope also keeps sanitized tags that happen to collide
    * ('/a/sf0.1' vs '_a_sf0.1') from sharing a store. The same
    * local-mode stance as [[graft.Fence]]'s reliable-checkpoint
    * fallback, cleaned up at JVM exit — a deployment passes its own
    * durable path to [[persist]] instead (never touched by the
    * cleanup). */
  def path(spark: SparkSession, kind: String, tag: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-manifest/" +
      spark.sparkContext.applicationId
    registerCleanup(root)
    s"$root/$kind-" + tag.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  private val cleanupRegistered = new java.util.concurrent.atomic.AtomicBoolean
  private def registerCleanup(root: String): Unit =
    if (cleanupRegistered.compareAndSet(false, true)) {
      val f = new java.io.File(root)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
        }
        rm(f)
      }))
    }

  /** Session-global persist counter — every [[persist]] (and
    * [[persistBucketed]] table) lands in a FRESH version, so
    * rebuilding the same query in one session never deletes files a
    * previously returned read-frame still points at (r13 advice: a
    * reused mode(overwrite) path raced retained earlier frames with
    * FileNotFoundException). */
  private val version = new java.util.concurrent.atomic.AtomicLong(0)

  /** Retention window per store (r14 advice: fresh-version-per-persist
    * traded the overwrite race for unbounded warehouse growth across
    * repeated runs in one session). Once version N is durably written,
    * versions ≤ N−[[KeepVersions]] of the SAME store are dropped:
    * the newest prior version stays readable (a chained ingest reads
    * run k−1's frame while writing run k — the ManifestRoundTripSpec
    * shape), anything older is past the documented contract ("a
    * returned frame remains readable until two further persists of
    * its store") and is reclaimed. */
  val KeepVersions = 2

  private val storeVersions =
    scala.collection.mutable.Map.empty[String, List[String]]

  /** Record version `v` of `store` and return the versions that just
    * fell out of the retention window (to be reclaimed by the
    * caller — AFTER the new version is durably written). */
  private def retire(store: String, v: String): Seq[String] =
    storeVersions.synchronized {
      val vs = v :: storeVersions.getOrElse(store, Nil)
      storeVersions(store) = vs.take(KeepVersions)
      vs.drop(KeepVersions)
    }

  /** Write `df` to a fresh version subdirectory under `path` and hand
    * back the PERSISTED frame — downstream plans read the parquet
    * store, exactly what the next ingest will do, so a query routed
    * through `persist` exercises the real write→read loop rather than
    * an in-plan stand-in. The round trip also cuts lineage (a durable
    * [[graft.Fence]]). [[read]] resolves the highest version — the
    * store a subsequent ingest consumes. Versions that fell out of
    * the [[KeepVersions]] window are deleted once the new write is
    * durable. The read declares the schema `df` was written with, so
    * the round trip starts no schema-inference job. */
  def persist(df: DataFrame, path: String): DataFrame = {
    val p = s"$path/v${version.incrementAndGet()}"
    df.write.mode("overwrite").parquet(p)
    reclaim(df, path, p)
    df.sparkSession.read.schema(df.schema).parquet(p)
  }

  /** [[persist]] with a PARTITIONED layout — one directory per value
    * of `partitionCols`, so a probe-style reader (IVF posting lists,
    * per-cell manifests) reads ONLY the probed partitions via
    * partition pruning instead of scanning the whole store: the
    * nprobe/C read fraction that makes a persisted ANN index an
    * INDEX at corpus scale rather than a filtered full scan. Same
    * versioning + retention contract as [[persist]]. NOTE: partition
    * columns come back at the END of the read schema with
    * directory-inferred types — consumers re-select/cast. */
  def persistPartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): DataFrame = {
    val p = s"$path/v${version.incrementAndGet()}"
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(p)
    reclaim(df, path, p)
    df.sparkSession.read.parquet(p)
  }

  private def reclaim(df: DataFrame, path: String, p: String): Unit =
    retire(path, p).foreach { old =>
      val hp = new org.apache.hadoop.fs.Path(old)
      hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(hp, true): Unit
    }

  /** Read the LATEST version of a previously persisted manifest. */
  def read(s: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val vs = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.matches("v\\d+"))
    require(vs.nonEmpty, s"no persisted manifest versions under $path")
    s.read.parquet(s"$path/${vs.maxBy(_.drop(1).toLong)}")
  }

  /** [[persist]] for the BAND manifest — the store that outgrows
    * broadcast first (DedupBands longs per corpus vector). Written as
    * a managed table hash-bucketed AND sorted by the candidate join
    * key (via [[Bucketing.writeBucketedMulti]] — plain parquet cannot
    * carry bucket metadata; pass the FULL join key, stock Spark
    * re-exchanges a prefix), so every subsequent ingest's band
    * equi-join arrives pre-partitioned: ZERO exchange on the
    * manifest side, only the |new|-scale batch shuffles — one
    * partition-local sort remains, stock Spark no longer trusts
    * bucket sort order (ManifestRoundTripSpec pins the plan). The bucket-spec shuffle
    * is paid once at ingest-commit time and amortized over every
    * later ingest — and appends ([[Bucketing.writeBucketedMulti]]
    * `append = true` on the returned table name) grow the manifest
    * bucket-aligned with no rewrite.
    *
    * @return (versioned table name — the append target, read frame) */
  def persistBucketed(df: DataFrame, tableBase: String,
      bucketKeys: Seq[String], buckets: Int,
      sortKeys: Seq[String] = Nil): (String, DataFrame) = {
    val table = s"${tableBase}_v${version.incrementAndGet()}"
    Bucketing.writeBucketedMulti(df, table, bucketKeys, buckets, sortKeys)
    // reclaim table versions past the retention window (same contract
    // as [[persist]] — managed tables grew the warehouse unboundedly
    // across repeated runs, the r14 advice)
    retire(s"table:$tableBase", table).foreach { old =>
      df.sparkSession.sql(s"DROP TABLE IF EXISTS $old"): Unit
    }
    (table, df.sparkSession.table(table))
  }

  /** One ingest's component-manifest DELTA (the iterative step of
    * `q_dedup_cc_incremental`, shared with ManifestRoundTripSpec's
    * chained runs):
    *
    * @param manifest prior component manifest (id, lbl) — lbl is the
    *   component's smallest member id, so contracting each prior
    *   endpoint to its lbl is EXACT: min-label over
    *   {new ids ∪ prior reps} equals min-label over the full union
    *   graph
    * @param edges    the ingest's verified near-dup edges
    *   (ai, bi, pa, pb) with per-endpoint prior flags; prior×prior
    *   edges must be absent (they belong to earlier ingests)
    * @param resolve  the CC variant (ConnectedComponents.resolve or
    *   resolveAlternating) — runs over the CONTRACTED new-edge graph
    *   only, |new-edge|-scale
    * @return delta rows (doc_id, lbl): every new-batch document in a
    *   verified pair, every prior document whose representative
    *   changed, and prior manifest-absent singletons drawn into a
    *   component — exactly what the ingest commits via [[apply]];
    *   untouched rows never appear
    */
  def ccDelta(manifest: DataFrame, edges: DataFrame,
      resolve: DataFrame => DataFrame = ConnectedComponents.resolve)
      : DataFrame = {
    // contract: prior endpoints → their representative (manifest-
    // absent prior docs are their own rep); new endpoints unchanged
    val ce = edges
      .join(manifest.select(col("id").as("ai"), col("lbl").as("la")), Seq("ai"), "left")
      .join(manifest.select(col("id").as("bi"), col("lbl").as("lb")), Seq("bi"), "left")
      .select(
        when(col("pa"), coalesce(col("la"), col("ai"))).otherwise(col("ai")).as("cs"),
        when(col("pb"), coalesce(col("lb"), col("bi"))).otherwise(col("bi")).as("ct"))
    // the ONLY iterative pass of the ingest — over the contracted
    // new-edge graph, |new-edge|-scale
    val clbl = resolve(ce).fenced()
    val newDocs = edges.where(!col("pa")).select(col("ai").as("doc_id"))
      .union(edges.where(!col("pb")).select(col("bi").as("doc_id")))
      .distinct()
    val outNew = newDocs
      .join(clbl.select(col("id").as("doc_id"), col("lbl")), "doc_id")
      .select(col("doc_id"), col("lbl"))
    // prior/new doc-id sets are disjoint, so contracted non-new nodes
    // are exactly the prior representatives
    val repLabels = ce.select(col("cs").as("id")).union(ce.select(col("ct").as("id")))
      .distinct()
      .join(newDocs.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .join(clbl, "id")
      .select(col("id").as("rep"), col("lbl").as("m"))
    // manifest members whose representative changed (shuffled
    // equi-join — the manifest is corpus-fraction-scaled, never
    // broadcast: the keep_best labels-join rule)
    val memberRows = repLabels
      .join(manifest.select(col("id").as("doc_id"), col("lbl").as("rep")), "rep")
      .where(col("m") =!= col("rep"))
      .select(col("doc_id"), col("m").as("lbl"))
    // manifest-absent prior singletons drawn into a component
    val singletonReps = repLabels
      .join(manifest.select(col("id").as("rep")), Seq("rep"), "left_anti")
      .select(col("rep").as("doc_id"), col("m").as("lbl"))
    outNew.union(memberRows).union(singletonReps)
  }

  /** Commit a [[ccDelta]] to the manifest: delta rows override,
    * previously unseen ids append — the updated (id, lbl) manifest
    * the NEXT ingest reads. One anti-join + union, no iteration. */
  def apply(manifest: DataFrame, delta: DataFrame): DataFrame =
    manifest
      .join(delta.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .union(delta.select(col("doc_id").as("id"), col("lbl")))
}
