package graft.operators

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftExpressions, PortableHash}
import graft.Fence.FenceOps

/** Distributed SKIP-GRAM WITH NEGATIVE SAMPLING (word2vec SGNS,
  * Mikolov et al. NIPS'13) over a co-occurrence pair table — the
  * embedding-training stage that completes the DeepWalk recipe
  * (Perozzi et al. KDD'14) the graph family already generates inputs
  * for: `q_graph_walks` → `q_graph_walk_pairs` → THIS → the ANN/dedup
  * machinery consumes the vectors.
  *
  * Design point: the pair table is AGGREGATED ((center, context,
  * weight) with weight = co-occurrence count), so one epoch is
  * full-batch GD over weighted pairs rather than SGD over the raw
  * stream — the formulation that is (a) order-free, hence
  * deterministic under any partitioning, and (b) map-side combinable.
  * Negatives are k hash-derived vocabulary draws per pair
  * (`md5(center:context:k) mod V` over the SORTED vocabulary — the
  * q_shuffle_epoch stance: the portable digest replaces the RNG, so
  * "sampling" is a pure function and the whole run replays exactly).
  *
  * Scale shape per iteration (the KMeans/HashedLogReg contract —
  * executors hold nothing iterative, the driver holds only the
  * model):
  *
  *  - the example skeleton (pair table exploded to k+1 positive +
  *    negative examples) is fenced once; ONE narrow
  *    planned-and-codegen'd plan scans it every iteration, probing
  *    the V-bounded model as a `SparkContext.broadcast` HashMap via
  *    [[GraftExpressions.vec_lookup]] through a mutable holder, so no
  *    per-iteration Catalyst re-plan and no broadcast-build job;
  *  - there is NO exchange: each partition folds its rows into
  *    (node × side)-bounded exact-decimal gradient partials (the same
  *    map-side combine the old grouped sum did) and the driver merges
  *    them order-free as task results arrive — the same bytes the old
  *    exchange moved into its single reducer;
  *  - the driver update is O(V·dim) doubles.
  *
  * Determinism is the exact-decimal discipline: model weights live on
  * the 6-decimal grid; scores are left-to-right double dots of grid
  * values (the shared [[GraftExpressions.dot_product]] kernel);
  * per-example errors round to 6 decimals into DECIMAL; gradient
  * contributions are DECIMAL products (error × grid weight × integer
  * pair count) summed as DECIMAL — order-independent — and the update
  * re-rounds to the grid. SgnsSpec pins `fit` EXACTLY against a
  * sequential in-memory reference, not to a tolerance.
  */
object Sgns {

  /** Hard vocabulary ceiling for [[fit]] (r13 verdict item 5 — the
    * itemsets-F₁-bound stance): the trainer's driver state is
    * 2·V·dim doubles and each iteration broadcasts both model tables,
    * so V is the one input dimension that can silently OOM the
    * driver. At the ceiling (2²⁰ nodes, dim 8) the raw vector payload
    * is 2·2²⁰·8·8 B = 128 MiB per iteration's broadcasts — the upper
    * edge of the graph-embedding regime this full-batch formulation
    * targets. A pathological pair table now fails LOUDLY with sizing
    * arithmetic instead of an executor-side OOM. */
  val MaxVocab: Int = 1 << 20

  /** `nodes` is the sorted vocabulary; `in(i)`/`out(i)` are the
    * center/context vectors of `nodes(i)`, on the 6-decimal grid. */
  case class Model(dim: Int, nodes: Array[Long],
      in: Array[Array[Double]], out: Array[Array[Double]]) {
    def vector(node: Long): Option[Array[Double]] = {
      val i = java.util.Arrays.binarySearch(nodes, node)
      if (i >= 0) Some(in(i)) else None
    }
  }

  /** Driver-side twin of the executor-side `round(x, 6)`. */
  def round6(x: Double): Double =
    new JBig(x).setScale(6, RoundingMode.HALF_UP).doubleValue

  /** Deterministic init: component j of node n's in-vector is
    * `(md5(n:in:j) mod 1000 − 499.5) / 5000` — a ±0.1 grid value,
    * pure function of (node, side, dim index), identical on the
    * driver and in any reference implementation. */
  def initComponent(node: Long, side: String, j: Int): Double =
    round6((PortableHash.digest60(s"$node:$side:$j") % 1000L - 499.5) / 5000.0)

  /** Full-batch SGNS over an aggregated pair table.
    *
    * @param pairs (center, context, weight) — weight the integer
    *   co-occurrence count (e.g. `n_pairs` of q_graph_walk_pairs)
    * @param dim   embedding width
    * @param negK  hash-derived negatives per positive pair
    * @return trained model + per-iteration mean logistic loss
    *   (monitoring, computed before that iteration's update) */
  def fit(pairs: DataFrame, dim: Int, iters: Int = 15, negK: Int = 3,
      lr: Double = 1.0): (Model, Seq[Double]) = {
    require(dim >= 2 && iters >= 1 && negK >= 1, s"dim=$dim iters=$iters negK=$negK")
    val spark = pairs.sparkSession
    import spark.implicits._
    // NOT fenced (r19 optimization round): the iterations scan the
    // SKELETON fence below, and p0 itself is read only by the vocab
    // collect and the skeleton build — a cast projection evaluated
    // twice. Caller contract: `pairs` must be cheap to rescan (the
    // one caller, sgnsTrainAndSep, passes a fenced frame).
    val p0 = pairs.toDF("center", "context", "wt")
      .select(col("center").cast("long"), col("context").cast("long"),
        col("wt").cast("long"))
    // vocabulary: sorted distinct nodes — model-sized driver state
    // (the KMeans-centroid pattern)
    val nodes = p0.select(col("center").as("n"))
      .union(p0.select(col("context").as("n")))
      .distinct().as[Long].collect().sorted
    val v = nodes.length
    require(v >= 2, s"need at least 2 nodes, got $v")
    require(v <= MaxVocab,
      s"vocabulary $v exceeds MaxVocab=$MaxVocab: driver holds 2·V·dim " +
        s"doubles and every iteration broadcasts both model tables " +
        s"(~${2L * v * dim * 8 / (1 << 20)} MiB of raw vector payload at " +
        s"dim=$dim) — beyond this the full-batch-broadcast formulation is " +
        "the wrong tool; shard the model or train on a pair-table subset")
    // LocalRelation straight into the broadcast build — fencing a
    // driver-local V-sized seq cost a materialization job for nothing
    // (r19 optimization round)
    val idxDf = broadcast(nodes.zipWithIndex
      .map { case (n, i) => (i.toLong, n) }.toSeq.toDF("nidx", "nnode"))
    var in = Array.tabulate(v, dim)((i, j) => initComponent(nodes(i), "in", j))
    var out = Array.tabulate(v, dim)((i, j) => initComponent(nodes(i), "out", j))
    // the example SKELETON (center, x, y, wt) — negatives are a pure
    // function of (center, context, k), so it is iteration-invariant
    // and built once
    val skeleton = p0
      .select(col("center"), col("context"), col("wt"),
        explode(sequence(lit(0), lit(negK))).as("k"))
      .withColumn("nidx",
        when(col("k") === 0, lit(null).cast("long")).otherwise(
          pmod(PortableHash.md5Long(concat(
            col("center").cast("string"), lit(":"),
            col("context").cast("string"), lit(":"),
            col("k").cast("string"))), lit(v.toLong))))
      .join(idxDf, Seq("nidx"), "left")
      .select(col("center"),
        when(col("k") === 0, col("context")).otherwise(col("nnode")).as("x"),
        when(col("k") === 0, 1.0).otherwise(0.0).as("y"), col("wt"))
      .fenced() // scanned every iteration
    // PER-NODE example mass — the update normalizer. Dividing each
    // node's gradient by ITS OWN weighted example count makes the
    // step a per-node MEAN gradient, so convergence speed is
    // corpus-size-free (a global-mass normalizer shrinks every step
    // as the corpus grows — the full-batch trap). Exact integers,
    // bounded driver state (V-sized, like the centroids).
    // Computed from ITERATION 1's gradient collect instead of its own
    // pre-loop action (r19 optimization round): the iteration agg
    // groups by exactly (side, gn) over the same fenced skeleton, so
    // an extra `sum(wt)` column IS the old mass aggregate — identical
    // exact-integer sums, one fewer corpus-frame action. Mass is only
    // CONSUMED after the collect (update normalization, loss
    // monitor), so first-iteration availability is sufficient.
    var massIn: Map[Long, Long] = null
    var massOut: Map[Long, Long] = null
    var nAll = 0.0
    val losses = Seq.newBuilder[Double]
    // ONE planned-and-codegen'd plan serves ALL iterations (r19 third
    // cut). The per-iteration Catalyst action was the dominant cost —
    // each collect() paid the ~170 ms analyze/optimize/codegen floor
    // (OPTIMIZATION_r19.md "Key systemic measurement: the per-action
    // floor") for a plan whose ONLY change was the fresh broadcast
    // handle. The model now reaches the fixed plan through a mutable
    // [[graft.functions.VecBcHolder]] riding the codegen references
    // array: the scheduler re-serializes the task binary at every job
    // submission, so re-executing the SAME RDD each iteration reads
    // the handle the driver just swapped in.
    //
    // The grouped-sum Exchange is gone with it — necessarily:
    // re-executing an RDD that contains a shuffle would silently
    // REUSE the first run's map outputs (MapOutputTracker keys them
    // by shuffle id), so the re-executed plan must stay NARROW. Each
    // partition folds its rows into per-node gradient partials (exact
    // java BigDecimal adds over the SAME decimal(38,12) addends the
    // old in-plan sum consumed — the projection below still computes
    // them in codegen'd Catalyst decimal arithmetic), and rdd.reduce
    // merges the (side, node)-bounded partials on the driver as task
    // results arrive. Decimal/long addition is exact and order-free,
    // so the regrouping — partition-local fold, arbitrary driver
    // merge order — is provably invisible: the trained weights stay
    // bit-identical (SgnsSpec pins them against the sequential
    // reference). Scale shape unchanged: what crosses the wire is the
    // same per-map-partition group partials the old exchange moved
    // into its single reducer, and the driver holds one merged
    // V-bounded frame — exactly what it was about to collect anyway.
    // The old loop's AQE-off/static-shuffle-partition session toggle
    // is obsolete (no exchange remains) and is gone too.
    val holder = new graft.functions.VecBcHolder
    val vio = (k: org.apache.spark.sql.Column) =>
      GraftExpressions.vec_lookup(k, holder)
    val examples = skeleton
      .select(col("center"), col("x"), col("y"), col("wt"),
        slice(vio(col("center")), 1, dim).as("vin"),
        slice(vio(col("x")), dim + 1, dim).as("vout"))
    val m = GraftExpressions.dot_product(col("vin"), col("vout"))
    val prob = lit(1.0) / (lit(1.0) + exp(-m))
    val scored = examples
      .select(col("center"), col("x"), col("wt"), col("vin"), col("vout"),
        round(prob - col("y"), 6).cast("decimal(12,6)").as("e"),
        // monitoring only (exact-decimal addends keep the total
        // order-free too); clamp keeps saturation finite
        ((-(col("y") * log(greatest(prob, lit(1e-12))) +
          (lit(1.0) - col("y")) * log(greatest(lit(1.0) - prob, lit(1e-12)))))
          * col("wt")).cast("decimal(38,12)").as("ll"))
    // gradient contribution: multiply (e × wt) FIRST — (12,6)×(12,0)
    // = (25,6), then ×(12,6) = (38,12), exactly the 38-precision
    // cap. The naive left-assoc (e×c)×wt hits (25,12)×(20,0) = 46
    // > 38 and Spark silently SHRINKS the scale to fit — off the
    // exact grid.
    // ONE job and ONE pass per iteration: both gradient sides ride a
    // 2-way struct explode off the same scored rows (a union would
    // recompute the scored subtree per branch); gradient components
    // stay dim COLUMNS per (side, node) group (the addend set per
    // component is unchanged); the loss rides along emitted once per
    // example (in side only), and the per-(side, node) example mass
    // is the plain wt column folded into the same partials.
    val proj = scored
      .select(col("e"), col("wt"), col("ll"), explode(array(
        struct(lit(true).as("isin"), col("center").as("gn"),
          col("vout").as("vec")),
        struct(lit(false).as("isin"), col("x").as("gn"),
          col("vin").as("vec")))).as("sx"))
      .select(Seq(col("sx.isin").as("isin"), col("sx.gn").as("gn")) ++
        (0 until dim).map { j =>
          ((col("e") * col("wt").cast("decimal(12,0)"))
            * element_at(col("sx.vec"), j + 1).cast("decimal(12,6)"))
            .cast("decimal(38,12)").as(s"a$j")
        } ++ Seq(when(col("sx.isin"), col("ll")).as("lp"), col("wt")): _*)
    // physical planning + codegen happen here, ONCE
    val rowRdd = proj.queryExecution.toRdd
    val d = dim
    val partials = rowRdd.mapPartitions { it =>
      val inM = scala.collection.mutable.HashMap.empty[Long, GradAcc]
      val outM = scala.collection.mutable.HashMap.empty[Long, GradAcc]
      var lp = java.math.BigDecimal.ZERO
      it.foreach { row =>
        val tgt = if (row.getBoolean(0)) inM else outM
        val acc = tgt.getOrElseUpdate(row.getLong(1), new GradAcc(d))
        var j = 0
        while (j < d) {
          // a null addend means an example lost its model vector: the
          // skeleton scan of `pairs` saw a node (or a null) that the
          // vocabulary scan did not
          if (row.isNullAt(2 + j))
            throw new IllegalStateException("Sgns.fit: null gradient " +
              "addend — `pairs` changed between fit's vocabulary and " +
              "skeleton scans; fit requires a deterministic pairs frame " +
              "(fence it before calling)")
          acc.g(j) = acc.g(j).add(row.getDecimal(2 + j, 38, 12).toJavaBigDecimal)
          j += 1
        }
        if (!row.isNullAt(2 + d))
          lp = lp.add(row.getDecimal(2 + d, 38, 12).toJavaBigDecimal)
        acc.wt += row.getLong(3 + d)
      }
      Iterator.single((inM, outM, lp))
    }
    for (_ <- 1 to iters) {
      // fresh broadcast per iteration (the only thing that changes);
      // destroyed right after the job so executor storage stays one
      // model copy, not iters. Both sides ride ONE map of
      // concatenated (in ++ out) vectors; each side is a `slice`.
      val mmap = new java.util.HashMap[java.lang.Long, Array[Double]](2 * v)
      nodes.indices.foreach { i =>
        mmap.put(nodes(i), in(i) ++ out(i)): Unit
      }
      holder.bc = spark.sparkContext.broadcast(mmap)
      val (inG, outG, lpTot) = partials.reduce {
        case ((a1, b1, l1), (a2, b2, l2)) =>
          mergeInto(a1, a2, d); mergeInto(b1, b2, d); (a1, b1, l1.add(l2))
      }
      holder.bc.destroy() // iteration's one job done; drop the model copy
      if (massIn == null) { // iteration-invariant — read once (iter 1)
        massIn = massOf(inG)
        massOut = massOf(outG)
        nAll = massIn.values.sum.toDouble
      }
      def side(mg: scala.collection.mutable.HashMap[Long, GradAcc]) =
        mg.iterator.flatMap { case (gn, acc) =>
          (0 until dim).iterator.map(j => (gn, j) -> acc.g(j).doubleValue)
        }.toMap
      val (gIn, gOut) = (side(inG), side(outG))
      // loss monitor: exact-decimal total, one double conversion at
      // the end (order-free; may differ in the last ulp from the
      // pre-r19 per-group double summation — monitoring only, never
      // consumed by a query; SgnsSpec pins count + monotonic
      // decrease, not exact loss values)
      losses += lpTot.doubleValue / nAll
      in = Array.tabulate(v, dim)((i, j) =>
        round6(in(i)(j) - lr * gIn.getOrElse((nodes(i), j), 0.0)
          / massIn.getOrElse(nodes(i), 1L).toDouble))
      out = Array.tabulate(v, dim)((i, j) =>
        round6(out(i)(j) - lr * gOut.getOrElse((nodes(i), j), 0.0)
          / massOut.getOrElse(nodes(i), 1L).toDouble))
    }
    (Model(dim, nodes, in, out), losses.result())
  }

  /** Per-node gradient partial: exact decimal component sums plus the
    * node's example mass. Task-local accumulator; merged exactly
    * ([[mergeInto]]) — decimal/long adds are order-free. */
  private[graft] final class GradAcc(dim: Int) extends Serializable {
    val g: Array[java.math.BigDecimal] =
      Array.fill(dim)(java.math.BigDecimal.ZERO)
    var wt: Long = 0L
  }

  /** Merge partial `b` into `a` (exact adds; arbitrary order). */
  private[graft] def mergeInto(
      a: scala.collection.mutable.HashMap[Long, GradAcc],
      b: scala.collection.mutable.HashMap[Long, GradAcc], d: Int): Unit =
    b.foreach { case (gn, acc2) =>
      a.get(gn) match {
        case Some(acc1) =>
          var j = 0
          while (j < d) { acc1.g(j) = acc1.g(j).add(acc2.g(j)); j += 1 }
          acc1.wt += acc2.wt
        case None => a.update(gn, acc2)
      }
    }

  /** The per-node example-mass map out of a merged gradient frame. */
  private def massOf(
      mg: scala.collection.mutable.HashMap[Long, GradAcc]): Map[Long, Long] =
    mg.iterator.map { case (gn, acc) => gn -> acc.wt }.toMap
}
