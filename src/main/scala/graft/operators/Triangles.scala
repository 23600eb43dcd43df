package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Fence.FenceOps

/** Distributed triangle counting over an undirected edge list.
  *
  * [[orientedCount]] is the scale path: DEGREE-ORDERED ORIENTATION
  * (Cohen 2009 MapReduce triangle counting; the `forward` algorithm of
  * Schank & Wagner 2005) directs every undirected edge from its
  * lower-(degree, id) endpoint to the higher, so each wedge is
  * enumerated exactly once, at its lowest-degree vertex. Out-degrees
  * under this orientation are bounded by O(√m), giving O(m^1.5) wedge
  * work worst-case — a hub vertex of degree d contributes nothing
  * (all its edges point AT it) instead of the d² wedges the naive
  * per-vertex enumeration pays; PLANS.md "Triangle-counting scale
  * probe (round 4)" records the measured gap on the wheel graph.
  *
  * The (degree, id) total order is carried ON the edge endpoints
  * (lexicographic compares in the join conditions) rather than
  * materialized by a global `row_number` relabel — node relabeling
  * through one unpartitioned window would serialize at scale.
  *
  * Input: `pairs(u, v)` — distinct undirected edges, u < v, both
  * integral ids. Output: one row `(n_nodes, n_edges, n_triangles)`,
  * all BIGINT (no float anywhere, exact under any row order).
  */
object Triangles {

  private def degrees(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("n")).union(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("d"))

  /** Degree-ordered oriented count — the 100 TB path. */
  def orientedCount(pairs: DataFrame): DataFrame = {
    val deg = degrees(pairs)
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val ori = pairs.join(du, "u").join(dv, "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("dv")).otherwise(col("du")).as("dst_d"))
      .fenced() // 3 reuses: both wedge sides + closing probe
    val e1 = ori.select(col("src"), col("dst").as("b"), col("dst_d").as("bd"))
    val e2 = ori.select(col("src"), col("dst").as("c"), col("dst_d").as("cd"))
    val e3 = ori.select(col("src").as("b"), col("dst").as("c"))
    val tri = e1.join(e2, Seq("src"))
      .where(col("bd") < col("cd") || (col("bd") === col("cd") && col("b") < col("c")))
      .join(e3, Seq("b", "c"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    val nEdges = pairs.agg(count(lit(1)).cast("long").as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(tri)
  }
}
