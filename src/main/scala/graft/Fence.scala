package graft

import org.apache.spark.sql.Dataset

/** Materialization fence — the engine's single point of control for
  * "compute this frame once and cut its lineage" (iterative-loop
  * truncation, expensive-subtree reuse: the inverted-index builds,
  * per-round CC frames, rank vectors).
  *
  * Why this exists as an abstraction and not 66 raw `localCheckpoint`
  * calls: `localCheckpoint` stores blocks on the EXECUTORS that
  * computed them and TRUNCATES lineage — so on a real cluster, losing
  * one executor mid-job loses its blocks unrecoverably ("Checkpoint
  * block rdd_N_P not found") and fails the job. A 1000-executor run
  * hits executor loss routinely (spot reclaim, OOM kill, node drain);
  * ChaosProbe demonstrates the failure and the fix on a real
  * multi-JVM `local-cluster`. The mode is a session conf:
  *
  *  - `spark.graft.fence=local` (default): `localCheckpoint` —
  *    executor-local blocks, no external storage, fastest. Right for
  *    `local[*]` (one JVM — "executor loss" is process death anyway)
  *    and for re-runnable batch jobs where a rare executor loss is
  *    cheaper to absorb by re-running the job.
  *  - `spark.graft.fence=reliable`: `Dataset.checkpoint` into the
  *    context's checkpoint dir — blocks survive ANY executor loss;
  *    the job pays one write+read through the checkpoint filesystem
  *    per fence. Deployments set `spark.graft.fence.dir` to a
  *    fault-tolerant FS (HDFS/S3). If unset, a LOCAL master
  *    (local / local-cluster — one physical box, shared /tmp) falls
  *    back to a temp dir under java.io.tmpdir; a non-local master
  *    REFUSES to start the fence instead (executor-local /tmp is not
  *    shared storage — checkpoint partitions would land per-machine
  *    and the first cross-node read dies, so guessing a dir there
  *    would be nonfunctional, not merely non-fault-tolerant).
  *
  * Both modes materialize EAGERLY (same scheduling semantics), return
  * a lineage-truncated frame, and produce identical results —
  * FenceSpec pins representative queries bit-equal across modes.
  */
object Fence {

  def mode(ds: Dataset[_]): String =
    ds.sparkSession.conf.get("spark.graft.fence", "local")

  def apply[T](ds: Dataset[T]): Dataset[T] = mode(ds) match {
    case "reliable" =>
      val sc = ds.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val explicit = ds.sparkSession.conf.getOption("spark.graft.fence.dir")
        // the tmpdir fallback is only correct where every executor
        // shares the driver's filesystem (local / local-cluster on one
        // box). On a real multi-node master, executor-local /tmp is
        // NOT shared storage: checkpoint partitions would land
        // per-machine and the first cross-node read dies — worse than
        // "not fault-tolerant", it is nonfunctional. Reliable mode on
        // a cluster therefore REQUIRES the deploy-time dir; failing
        // fast here beats failing inside some later stage's read.
        require(explicit.isDefined || sc.isLocal ||
          sc.master.startsWith("local-cluster"),
          "spark.graft.fence=reliable on a non-local master requires " +
            "spark.graft.fence.dir to point at shared fault-tolerant " +
            "storage (HDFS/S3/NFS); executor-local java.io.tmpdir is " +
            "not readable across nodes")
        val dir = explicit.getOrElse(
          s"${System.getProperty("java.io.tmpdir")}/graft-fence-${sc.applicationId}")
        sc.setCheckpointDir(dir)
        // the auto-created tmpdir fallback is ours to clean up at JVM
        // exit (a user-provided fence dir is never touched); WITHIN a
        // session, superseded frames are reclaimed per-frame by
        // bridge.freeLocalCheckpoint, which deletes reliable
        // checkpoint files too — iterative operators call it each
        // round, so the checkpoint FS does not grow with iterations
        if (explicit.isEmpty) {
          val f = new java.io.File(dir)
          Runtime.getRuntime.addShutdownHook(new Thread(() => {
            def rm(x: java.io.File): Unit = {
              Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
            }
            rm(f)
          }))
        }
      }
      ds.checkpoint()
    case _ => ds.localCheckpoint()
  }

  /** Fence `df` AND return its row count, both from the fence's ONE
    * materializing job (r19 optimization round). The iterative
    * operators' per-round shape was fence + `count()` — the count a
    * second, separately planned Catalyst action (~170 ms planning
    * floor, OPTIMIZATION_r19.md "the per-action floor") over a frame
    * whose cardinality the fence job just computed. Local mode rides
    * `bridge.localCheckpointWithCount` (the Dataset.checkpoint
    * construction with the eager materialization as `rdd.count()`);
    * reliable mode keeps `Dataset.checkpoint` untouched and counts
    * the checkpoint FILES with one plain RDD job (no Catalyst
    * aggregate, no recompute — an in-job count there would be
    * recomputed when the end-of-job hook writes the files). Results
    * are the standard fence contract either way; FenceSpec pins the
    * frame AND count across modes. */
  def withCount(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = mode(df) match {
    case "reliable" =>
      val f = apply(df)
      (f, org.apache.spark.sql.graft.bridge.fencedRowCount(f))
    case _ =>
      org.apache.spark.sql.graft.bridge.localCheckpointWithCount(df)
  }

  /** Fence `ds` hash-partitioned by `keys` into `n` partitions with
    * the layout VISIBLE to downstream planning. Under AQE the
    * checkpoint capture reports `UnknownPartitioning` (the adaptive
    * plan's partitioning is not resolvable at capture time — measured
    * r19, OPTIMIZATION_r19.md §4), so every downstream groupBy/join
    * re-exchanges a frame that is already laid out correctly. Disabling AQE for JUST
    * the repartition+checkpoint action records the exact
    * `hashpartitioning(keys, n)` on the LogicalRDD; consumers (with
    * AQE back on) then satisfy any ClusteredDistribution over a
    * superset of `keys` exchange-free. The iterative operators use
    * this to buy out their per-round aggregate exchanges with ONE
    * up-front exchange. `n` must be chosen scale-adaptively by the
    * caller (rows-per-partition targets, never a local constant) —
    * with AQE off for the fence there is no coalescing safety net. */
  def partitioned[T](ds: Dataset[T], n: Int,
      keys: org.apache.spark.sql.Column*): Dataset[T] = {
    val conf = ds.sparkSession.conf
    val aqeBefore = conf.get("spark.sql.adaptive.enabled", "true")
    // r20: with AQE off for the fence action, any exchange INSIDE the
    // fenced subtree (e.g. the aggregate feeding the repartition) is
    // no longer coalesced — it materializes at the session's static
    // spark.sql.shuffle.partitions (= thread count locally), i.e.
    // cores-many byte-tiny tasks per fence stage regardless of data
    // size. Size those internal exchanges by the SAME scale-adaptive
    // `n` the caller derived for the layout (guide §2.2: partition
    // count follows data, not the core count).
    val spBefore = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", n.toString)
    try Fence(ds.repartition(n, keys: _*))
    finally {
      conf.set("spark.sql.adaptive.enabled", aqeBefore)
      conf.set("spark.sql.shuffle.partitions", spBefore)
    }
  }

  /** Fence `ds` with its INHERITED layout recorded on the LogicalRDD —
    * [[partitioned]] without the repartition, for frames whose plan
    * already produces the wanted hashpartitioning (e.g. a one-phase
    * aggregate over an already-pinned fence). Under AQE the capture
    * reports `UnknownPartitioning` (same root cause as
    * [[partitioned]]), so AQE is disabled for just this fence action;
    * the caller must know the static plan's output partitioning IS
    * the layout worth keeping — there is no repartition here to
    * establish it and no AQE coalescing safety net (r20). */
  def pinned[T](ds: Dataset[T]): Dataset[T] = {
    val conf = ds.sparkSession.conf
    val aqeBefore = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try Fence(ds)
    finally conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  /** `df.fenced()` — drop-in for `df.localCheckpoint()` call sites. */
  implicit final class FenceOps[T](private val ds: Dataset[T]) extends AnyVal {
    def fenced(): Dataset[T] = Fence(ds)
    def fencedBy(n: Int, keys: org.apache.spark.sql.Column*): Dataset[T] =
      Fence.partitioned(ds, n, keys: _*)
  }
}
