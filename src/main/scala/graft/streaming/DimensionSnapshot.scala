package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

import graft.functions.GraftExpressions.{DimMap, dim_lookup}

/** T5 — the reference's atomic dimension swap, made an explicit
  * consistency guarantee.
  *
  * The reference refreshes its lemma dimension every 12 h by loading
  * the full map and `reset!`-ing ONE atom (`wbdb.clj:51-67`): readers
  * see either the old or the new dimension, never a mix. The plain
  * Spark answer — a static DataFrame re-evaluated per micro-batch
  * ([[StreamingFlagship.enriched]]) — refreshes but does NOT pin: if
  * the underlying table changes while a micro-batch is planning or a
  * retried task re-reads it, one batch can observe two versions.
  *
  * This holder restores the reference's guarantee: [[refresh]] loads
  * and MATERIALIZES a version via eager `localCheckpoint` — lineage is
  * TRUNCATED, so no recompute path back to the mutable source exists;
  * a version can never silently re-read — then swaps one
  * AtomicReference; [[pinned]] is a single volatile read, so every
  * micro-batch enriches against exactly one fully-loaded version for
  * its whole lifetime, tagged with `dim_version` for auditability.
  *
  * Like the reference's in-heap map, each version is also built ONCE
  * into a lookup: the checkpointed rows are collected into a hash map
  * from `lemma` to the row of the remaining columns, broadcast once.
  * A batch enriched against a version ([[enrichTo]], or
  * `Flagship.enrich` given [[pinned]]) probes that map through one
  * codegen'd expression (`GraftExpressions.BcDimLookup`) — it plans
  * no broadcast exchange, so no micro-batch collects, hashes and
  * ships the dimension again. A plain static dimension frame (not a
  * live version) still goes through the broadcast join and is
  * re-broadcast every batch. The map is the reference's semantics:
  * one row per lemma, so a version holding a lemma twice fails its
  * load ([[InvalidDimensionKey]]) instead of multiplying fact rows.
  *
  * Superseded versions — checkpoint blocks and broadcast — are freed
  * one refresh LATER (grace window): a batch pinned to version N is
  * long finished by the time version N+2 publishes at the reference's
  * 12 h cadence, so neither is pulled out from under a running batch.
  * [[close]] frees the last two.
  *
  * At scale the dimension stays broadcastable (~10⁵–10⁶ rows,
  * [[graft.dim.Dimension]]); one cached copy and one broadcast map
  * per 12 h version is the cost the reference pays for its in-heap
  * map.
  */
final class DimensionSnapshot(load: () => DataFrame) {
  import DimensionSnapshot._

  private val current = new AtomicReference[Version](materialize(load(), 0L))

  /** Superseded version awaiting its grace-window release. */
  private var retiring: Option[Version] = None
  private var closed = false

  /** The pinned snapshot — one volatile read; stable for as long as
    * the caller holds the reference (a micro-batch reads it once at
    * batch start). */
  def pinned: DataFrame = current.get().df

  def version: Long = current.get().number

  /** Load the next version and swap atomically (the reference's
    * `update-lemmata!`, `wbdb.clj:44-49`: on load failure the old
    * version stays — refresh never tears down a working dimension).
    * Serialized: two concurrent refreshes publish N+1 and N+2, and
    * each frees only the version that left the grace window.
    * Returns the new version number. */
  def refresh(): Long = synchronized {
    require(!closed, "refresh of a closed DimensionSnapshot")
    val prev = current.get()
    val next = materialize(load(), prev.number + 1)
    current.set(next)
    // free the version superseded one refresh AGO; prev enters the
    // grace window (any batch pinned to it finishes well within one
    // refresh period)
    retiring.foreach(_.free())
    retiring = Some(prev)
    next.number
  }

  /** Free the current and the grace-window version: checkpoint blocks
    * and broadcasts. Terminal — nothing may enrich against this
    * snapshot afterwards. Idempotent. */
  def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      retiring.foreach(_.free())
      retiring = None
      current.get().free()
    }
  }

  /** Streaming enrichment with per-micro-batch pinning: the version is
    * read ONCE per batch and probed through its lookup — the whole
    * batch enriches against one version (the `dim_version` column
    * proves it downstream). Sink: epoch-overwrite parquet like
    * `Sinks.appendParquet`. */
  def enrichTo(requests: DataFrame, outDir: String,
      checkpoint: String): StreamingQuery =
    requests.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        current.get().enrich(batch) // single volatile read pins the version
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId"): Unit
      }
      .start()
}

object DimensionSnapshot {

  /** A dimension version whose `lemma` column cannot key a lookup:
    * missing, not a plain string, or holding a lemma twice. */
  final class InvalidDimensionKey(message: String)
      extends IllegalArgumentException(message)

  /** One published version: its lineage-truncated frame and the
    * broadcast map built from it. */
  private[graft] final class Version(val number: Long, val df: DataFrame,
      val lookup: Broadcast[DimMap], valueType: StructType) {

    /** `requests` left-outer-joined to this version on `lemma`, as the
      * USING join lays it out — `lemma`, the other request columns,
      * then the version's columns (nullable; null on a miss) — by one
      * probe per row; a `lemma` of another type probes as a string. */
    def enrich(requests: DataFrame): DataFrame = {
      val lead = col("lemma") +: requests.columns.toSeq.filter(_ != "lemma").map(c => col(s"`$c`"))
      val row = dim_lookup(col("lemma").cast("string"), lookup, valueType).as("_dim")
      requests
        .select(lead :+ row: _*)
        .select(lead ++ valueType.fields.map(f => col("_dim").getField(f.name).as(f.name, f.metadata)): _*)
    }

    def free(): Unit = {
      live.synchronized(live.remove(df))
      lookup.destroy()
      // Dataset.unpersist is a silent no-op on a local checkpoint
      // (CacheManager never saw it) — release the RDD blocks directly
      // via the bridge shim
      org.apache.spark.sql.graft.bridge.freeLocalCheckpoint(df): Unit
    }
  }

  /** The live versions of every snapshot, by frame identity, so
    * `Flagship.enrich` can tell a pinned version from a plain frame. */
  private val live = new java.util.IdentityHashMap[DataFrame, Version]()

  /** The live version whose frame is `dim`, if any. */
  private[graft] def versionOf(dim: DataFrame): Option[Version] =
    live.synchronized(Option(live.get(dim)))

  private def materialize(loaded: DataFrame, number: Long): Version = {
    val key = loaded.schema.find(_.name == "lemma")
    if (!key.exists(_.dataType == StringType))
      throw new InvalidDimensionKey(s"dimension version $number: lemma column is " +
        key.fold("missing")(k => s"${k.dataType.simpleString}, not a string") +
        "; key the load by a string lemma, deduplicated with graft.dim.Dimension.dedupBy")
    // eager localCheckpoint: fully computed BEFORE publication, and
    // lineage-truncated so the version can never re-read the source
    val df = loaded.withColumn("dim_version", lit(number)).localCheckpoint(true)
    try {
      val (lookup, valueType) = broadcastLookup(df, number)
      val v = new Version(number, df, lookup, valueType)
      live.synchronized(live.put(df, v))
      v
    } catch {
      case e: Throwable =>
        org.apache.spark.sql.graft.bridge.freeLocalCheckpoint(df)
        throw e
    }
  }

  /** Collects a checkpointed version once and broadcasts it as a map
    * from each non-null lemma to the row of the remaining columns. */
  private def broadcastLookup(df: DataFrame, number: Long): (Broadcast[DimMap], StructType) = {
    val k = df.schema.fieldIndex("lemma")
    val values = df.schema.fields.toSeq.zipWithIndex.filter(_._2 != k)
    val project = UnsafeProjection.create(
      values.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
    val rows = df.queryExecution.executedPlan.executeCollect()
    val map = new DimMap(rows.length * 4 / 3 + 1)
    rows.foreach { r =>
      if (!r.isNullAt(k)) {
        val lemma = r.getUTF8String(k).clone()
        if (map.put(lemma, project(r).copy()) != null)
          throw new InvalidDimensionKey(s"dimension version $number holds lemma " +
            s"'$lemma' more than once; a lookup keeps one row per lemma where a join " +
            "would multiply fact rows — deduplicate the load with graft.dim.Dimension.dedupBy")
      }
    }
    (df.sparkSession.sparkContext.broadcast(map), StructType(values.map(_._1)))
  }
}
