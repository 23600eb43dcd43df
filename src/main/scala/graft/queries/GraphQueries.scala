package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Q.t
import graft.Fence.FenceOps

/** Graph analytics beyond connected components (the dedup CC lives in
  * `operators.ConnectedComponents`): iterative PageRank over a graph
  * derived from the relational testdata.
  *
  * The graph: the part↔supplier bipartite graph of `lineitem` — a
  * directed edge each way for every distinct (l_partkey, l_suppkey)
  * stocking relation (node ids disambiguated by parity: part → 2·k,
  * supplier → 2·k+1). At sf0.01 that is 2 100 nodes / ~120 k edges; at
  * 100 TB the same derivation is one distinct + one union, both linear.
  *
  * Determinism design — **fixed-point integer PageRank**: ranks are
  * BIGINTs in units of 10⁻¹² (r₀ = 10¹² ≙ 1.0). Each iteration is
  *   r′(v) = 0.15·S + ⌊85 · Σ_{u→v} ⌊r(u)/deg(u)⌋ / 100⌋
  * computed entirely in 64-bit integer math: truncating division and
  * integer sums are order-independent and identical between Spark
  * (`div`) and DuckDB (`//`), so the oracle hash-matches bit-for-bit
  * with NO float tolerance anywhere — the float display column is a
  * single division of identical integers at the very end. Overflow
  * headroom: total mass ≈ n·10¹² ≈ 2.1·10¹⁵; 85·Σ < 1.8·10¹⁷ ≪ 2⁶³.
  *
  * Scale shape (100 TB): edges and degrees are computed once and
  * `localCheckpoint`ed (reused every iteration — without the fence the
  * distinct would re-run 5×). The rank vector is node-count sized
  * (≪ edge count), so the per-iteration join broadcasts ranks into the
  * edge scan and the only shuffle is the groupBy(dst) partial-agg —
  * map-side combine keeps it at node cardinality. On a graph whose
  * rank vector outgrows broadcast, drop the hint and co-partition
  * edges by src once; the per-iteration join then reuses that
  * partitioning (the loop body is hint-only, nothing else changes).
  * Fixed iteration count = ONE plan, no per-round driver actions
  * (contrast the CC loop, which needs a convergence probe).
  */
object GraphQueries {

  private val Scale = 1000000000000L // 10^12: rank 1.0 in fixed-point
  private val Iters = 5
  private val TeleportFp = 15L * Scale / 100 // 0.15 in fixed-point

  private val graphCtes =
    s"""li AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp
       |       FROM lineitem),
       |e AS (SELECT p AS src, sp AS dst FROM li
       |      UNION ALL SELECT sp, p FROM li),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
       |r0 AS (SELECT src AS id, CAST($Scale AS BIGINT) AS r FROM deg)"""
      .stripMargin

  private def iterCte(k: Int): String =
    s"""r$k AS (
       |  SELECT e.dst AS id,
       |    CAST($TeleportFp AS BIGINT)
       |      + (85 * CAST(sum(p.r // g.d) AS BIGINT)) // 100 AS r
       |  FROM r${k - 1} p JOIN deg g ON p.id = g.src JOIN e ON e.src = p.id
       |  GROUP BY e.dst)""".stripMargin

  /** Fixed-point PageRank, 5 iterations, top-20 nodes. `rank_fp` is the
    * exact BIGINT fixed-point value (the hash-compared truth); `rank`
    * is its float rendering (one division of identical integers). */
  private val qPagerank = Q("q_pagerank",
    s"""WITH $graphCtes,
       |${(1 to Iters).map(iterCte).mkString(",\n")}
       |SELECT id, r AS rank_fp, CAST(r AS DOUBLE) / 1e12 AS rank
       |FROM r$Iters ORDER BY r DESC, id LIMIT 20""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val e = li.select(col("p").as("src"), col("sp").as("dst"))
      .union(li.select(col("sp").as("src"), col("p").as("dst")))
      .fenced() // reused each iteration: fence off the distinct
    graft.operators.PageRank(e, Iters)
      .orderBy(col("r").desc, col("id"))
      .limit(20)
      .select(col("id"), col("r").as("rank_fp"),
        (col("r").cast("double") / lit(1e12)).as("rank"))
  }

  /** Triangle counting over the part co-purchase graph (an edge joins
    * two parts bought in the same order), restricted to the 1-in-5
    * audited part segment — the node-induced-subgraph pattern of a
    * production graph audit. (The part graph is the right substrate:
    * a co-occurrence graph over a LOW-cardinality key like supplier
    * saturates into a clique as the fact grows — any triangle
    * algorithm is Θ(n³) there because the answer itself is Θ(n³).)
    *
    * The count is [[graft.operators.Triangles.orientedCount]] —
    * DEGREE-ORDERED ORIENTATION, O(m^1.5) wedge work worst-case
    * instead of Σdeg²; PLANS.md "Triangle-counting scale probe
    * (round 4)" records the gap against the naive enumeration on the
    * adversarial wheel graph.
    *
    * All-integer counts: no float anywhere, the oracle hash is exact.
    * Scale shape: the pair derivation self-joins the filtered fact
    * per order (bounded by order width, linear in the fact); `ori` is
    * edge-sized and localCheckpointed (3 reuses: wedge sides +
    * closing probe); both triangle joins are equi-joins on (src) /
    * (src,dst).
    */
  private val qTriangles = Q("q_triangle_count",
    """WITH li AS (SELECT l_orderkey AS k, l_partkey AS p
      |            FROM lineitem WHERE l_partkey % 5 = 0),
      |pairs AS (
      |  SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
      |  FROM li a JOIN li b ON a.k = b.k AND a.p <> b.p),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS n FROM pairs
      |              UNION ALL SELECT v AS n FROM pairs) ends
      |        GROUP BY n),
      |ori AS (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
      |              THEN p.u ELSE p.v END AS src,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
      |              THEN p.v ELSE p.u END AS dst,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
      |              THEN dv.d ELSE du.d END AS dst_d
      |  FROM pairs p
      |  JOIN deg du ON p.u = du.n
      |  JOIN deg dv ON p.v = dv.n),
      |tri AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |  FROM ori e1
      |  JOIN ori e2 ON e1.src = e2.src
      |    AND (e1.dst_d < e2.dst_d OR (e1.dst_d = e2.dst_d AND e1.dst < e2.dst))
      |  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
      |       n_triangles
      |FROM tri""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
      .where(col("l_partkey") % 5 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("sa"))
    val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("sb"))
    val pairs = a.join(b, Seq("k"))
      .where(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("u"),
        greatest(col("sa"), col("sb")).as("v"))
      .distinct()
      .fenced() // reused: degree count + orientation + edge count
    graft.operators.Triangles.orientedCount(pairs)
  }

  // -------------------------------------------------- label propagation

  private val LpRounds = 3

  /** One synchronous LPA round as a CTE pair: count each in-neighbor
    * label, keep the (count desc, label asc) argmax per node. */
  private[graft] def lpIterCte(k: Int, edges: String = "e"): String =
    s"""c$k AS (SELECT $edges.dst AS id, p.lab, CAST(count(*) AS BIGINT) AS n
       |        FROM l${k - 1} p JOIN $edges ON $edges.src = p.id GROUP BY 1, 2),
       |l$k AS (SELECT id, lab FROM c$k
       |        QUALIFY row_number() OVER (PARTITION BY id
       |                                   ORDER BY n DESC, lab) = 1)""".stripMargin

  /** Deterministic synchronous label propagation (Raghavan et al.
    * 2007) over the same part↔supplier bipartite graph as
    * `q_pagerank` — the community-detection complement to the
    * centrality (PageRank) and cohesion (triangles) passes: 3
    * synchronous rounds of adopt-the-most-frequent-neighbor-label
    * with min-label tie-break (see [[graft.operators.LabelProp]] for
    * why the synchronous+total-tie-order variant is the only
    * oracle-checkable one), reported as the community-size histogram.
    *
    * Scale shape: the label vector is node-sized and rides the
    * PageRank broadcast-vs-co-partition choice; each round is one
    * edge join plus two map-side-combinable aggregates (count, then
    * argmax as `max(struct(n, −lab))` — no window over raw edges
    * anywhere). The final histogram is community-cardinality. The
    * oracle unrolls the identical recurrence as $LpRounds CTE pairs
    * with QUALIFY argmax — bit-exact, integers end to end. */
  private val qLabelProp = Q("q_graph_labelprop",
    s"""WITH li AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp
       |       FROM lineitem),
       |e AS (SELECT p AS src, sp AS dst FROM li
       |      UNION ALL SELECT sp, p FROM li),
       |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM e),
       |${(1 to LpRounds).map(k => lpIterCte(k)).mkString(",\n")}
       |SELECT lab, CAST(count(*) AS BIGINT) AS sz, CAST(min(id) AS BIGINT) AS min_id
       |FROM l$LpRounds GROUP BY lab
       |ORDER BY sz DESC, lab LIMIT 30""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val e = li.select(col("p").as("src"), col("sp").as("dst"))
      .union(li.select(col("sp").as("src"), col("p").as("dst")))
      .fenced() // reused each round: fence off the distinct
    graft.operators.LabelProp(e, LpRounds)
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("sz"), min(col("id")).as("min_id"))
      .orderBy(col("sz").desc, col("lab"))
      .limit(30)
  }

  // --------------------------------------------- personalized PageRank

  /** One PPR round. p$k is keyed on the FULL src-node set (deg) with
    * a LEFT join against the incoming scores — mirroring the
    * operator's left-outer rank update, so a seed with out-edges but
    * no in-edges keeps its teleport mass on asymmetric graphs (on the
    * symmetrized graph here both domains coincide, but the oracle
    * states the operator's actual contract). */
  private def pprIterCte(k: Int): String =
    s"""c$k AS (SELECT e.dst AS id,
       |          (85 * CAST(sum(p.r // g.d) AS BIGINT)) // 100 AS sc
       |        FROM p${k - 1} p JOIN deg g ON p.id = g.src JOIN e ON e.src = p.id
       |        GROUP BY 1),
       |p$k AS (SELECT g.src AS id,
       |          COALESCE(c.sc, 0) + CAST(CASE WHEN sd.id IS NOT NULL
       |                           THEN $TeleportFp ELSE 0 END AS BIGINT) AS r
       |        FROM deg g LEFT JOIN c$k c ON g.src = c.id
       |                   LEFT JOIN sd ON g.src = sd.id)""".stripMargin

  /** PERSONALIZED PageRank (Haveliwala 2002) from a vetted seed set —
    * the TrustRank recipe a crawl-curation pipeline uses to score
    * hosts by link proximity to a whitelist: teleport mass lands ONLY
    * on the seeds (every 10th supplier — the "audited" set), so rank
    * measures reachability from trust, not global centrality. Same
    * fixed-point integer recurrence as `q_pagerank` (bit-exact, no
    * float tolerance; see [[graft.operators.PageRank.personalized]]),
    * same broadcast-vs-co-partition choice; the extra per-iteration
    * cost is one node-sized LEFT join against the checkpointed
    * teleport vector. Top-20 by rank with the seed flag. */
  private val qPprSeeded = Q("q_pagerank_seeded",
    s"""WITH li AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp
       |       FROM lineitem),
       |e AS (SELECT p AS src, sp AS dst FROM li
       |      UNION ALL SELECT sp, p FROM li),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
       |sd AS (SELECT DISTINCT l_suppkey * 2 + 1 AS id FROM lineitem
       |       WHERE l_suppkey % 10 = 0),
       |p0 AS (SELECT g.src AS id,
       |         CAST(CASE WHEN sd.id IS NOT NULL THEN $Scale ELSE 0 END AS BIGINT) AS r
       |       FROM deg g LEFT JOIN sd ON g.src = sd.id),
       |${(1 to Iters).map(pprIterCte).mkString(",\n")}
       |SELECT p.id, p.r AS rank_fp, CAST(p.r AS DOUBLE) / 1e12 AS rank,
       |  (sd.id IS NOT NULL) AS is_seed
       |FROM p$Iters p LEFT JOIN sd ON p.id = sd.id
       |ORDER BY p.r DESC, p.id LIMIT 20""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val e = li.select(col("p").as("src"), col("sp").as("dst"))
      .union(li.select(col("sp").as("src"), col("p").as("dst")))
      .fenced()
    val seeds = t(s, d, "lineitem")
      .where(col("l_suppkey") % 10 === 0)
      .select((col("l_suppkey") * 2 + 1).as("id")).distinct()
    graft.operators.PageRank.personalized(e, Iters, seeds)
      .join(seeds.select(col("id"), lit(true).as("s")), Seq("id"), "left_outer")
      .orderBy(col("r").desc, col("id"))
      .limit(20)
      .select(col("id"), col("r").as("rank_fp"),
        (col("r").cast("double") / lit(1e12)).as("rank"),
        coalesce(col("s"), lit(false)).as("is_seed"))
  }

  /** k-core decomposition (k = 31) of the part↔supplier graph —
    * `operators.KCore` peeling to fixpoint. The oracle unrolls the
    * peel as a fixed chain of 8 CTE rounds: peeling is monotone (the
    * survivor set only shrinks) and idempotent at the fixpoint, so a
    * fixed unroll ≥ the convergence depth equals the engine's
    * fixpoint — measured depth is 2–4 at sf0.001..0.1 and
    * KCoreSpec pins depth ≤ 8 with the doubled-corpus margin check.
    * k = 31 sits just above the median degree at every SF, so the
    * core is a proper nonempty subset (377 of 2 100 nodes at sf0.01,
    * 9 334 of 21 000 at sf0.1). */
  private val KcoreK = 31
  private val KcorePeels = 8

  // MATERIALIZED is load-bearing: each round references the previous
  // round TWICE (src ∈ nᵢ₋₁ AND dst ∈ nᵢ₋₁) — inlined, the expansion
  // doubles per level (2⁸ copies of the whole chain; measured 82.6 s
  // vs 0.33 s at sf0.01)
  private def peelCte(i: Int): String =
    s"""n$i AS MATERIALIZED (SELECT src AS id FROM e
       |  WHERE src IN (SELECT id FROM n${i - 1})
       |    AND dst IN (SELECT id FROM n${i - 1})
       |  GROUP BY src HAVING CAST(count(*) AS BIGINT) >= $KcoreK)""".stripMargin

  private val qKcore = Q("q_graph_kcore",
    s"""WITH $graphCtes,
       |n0 AS (SELECT DISTINCT src AS id FROM e),
       |${(1 to KcorePeels).map(peelCte).mkString(",\n")}
       |SELECT src AS id, CAST(count(*) AS BIGINT) AS core_degree
       |FROM e
       |WHERE src IN (SELECT id FROM n$KcorePeels)
       |  AND dst IN (SELECT id FROM n$KcorePeels)
       |GROUP BY src ORDER BY core_degree DESC, id""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val e = li.select(col("p").as("src"), col("sp").as("dst"))
      .union(li.select(col("sp").as("src"), col("p").as("dst")))
    graft.operators.KCore(e, KcoreK)
      .orderBy(col("core_degree").desc, col("id"))
  }

  /** k-truss decomposition (k = 5) of the part co-purchase graph —
    * `operators.KTruss` peeling to fixpoint, the edge analog of
    * q_graph_kcore on the same substrate as q_triangle_count (the
    * part↔supplier graph is bipartite — zero triangles — so the truss
    * lives on the co-purchase projection). The oracle unrolls the
    * peel as a fixed chain of 10 MATERIALIZED CTE round pairs
    * (bidirectional survivors + the common-neighbor support count);
    * the same monotone+idempotent argument as the k-core oracle makes
    * the fixed unroll ≡ the engine fixpoint — measured depth ≤ 5 at
    * sf0.001..0.1 and KTrussSpec pins depth ≤ 10 via maxIters. The
    * oracle counts support as |N(u) ∩ N(v)| per surviving edge; the
    * engine enumerates each triangle once (degree-ordered orientation)
    * and explodes it into its 3 edges — identical counts, so the hash
    * match proves the orientation device invisible. k = 5 keeps a
    * proper nonempty truss at every SF (356 / 194 / 2 263 edges). */
  private val KtrussK = 5
  private val KtrussPeels = 10

  private def trussCte(i: Int): String =
    s"""b$i AS MATERIALIZED (SELECT u AS src, v AS dst FROM t${i - 1}
       |  UNION ALL SELECT v, u FROM t${i - 1}),
       |t$i AS MATERIALIZED (
       |  SELECT e.u, e.v FROM t${i - 1} e
       |  JOIN b$i x ON x.src = e.u JOIN b$i y ON y.src = e.v AND y.dst = x.dst
       |  GROUP BY e.u, e.v
       |  HAVING CAST(count(*) AS BIGINT) >= ${KtrussK - 2})""".stripMargin

  private val qKtruss = Q("q_graph_ktruss",
    s"""WITH li AS (SELECT l_orderkey AS k, l_partkey AS s FROM lineitem
       |           WHERE l_partkey % 5 = 0),
       |t0 AS MATERIALIZED (
       |  SELECT DISTINCT least(a.s, b.s) AS u, greatest(a.s, b.s) AS v
       |  FROM li a JOIN li b ON a.k = b.k WHERE a.s <> b.s),
       |${(1 to KtrussPeels).map(trussCte).mkString(",\n")},
       |bf AS (SELECT u AS src, v AS dst FROM t$KtrussPeels
       |       UNION ALL SELECT v, u FROM t$KtrussPeels)
       |SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS support
       |FROM t$KtrussPeels e
       |JOIN bf x ON x.src = e.u JOIN bf y ON y.src = e.v AND y.dst = x.dst
       |GROUP BY e.u, e.v
       |ORDER BY support DESC, u, v""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
      .where(col("l_partkey") % 5 === 0)
      .select(col("l_orderkey").as("k"), col("l_partkey").as("s"))
    val e = li.as("a").join(li.as("b"), "k")
      .where(col("a.s") =!= col("b.s"))
      .select(least(col("a.s"), col("b.s")).as("u"),
        greatest(col("a.s"), col("b.s")).as("v"))
      .distinct()
    graft.operators.KTruss(e, KtrussK)
      .orderBy(col("support").desc, col("u"), col("v"))
  }

  /** Deterministic random-walk corpus (DeepWalk, Perozzi et al.
    * KDD'14 / node2vec's p=q=1 case) over the part↔supplier graph —
    * the sequence-generation pass a graph-embedding training pipeline
    * feeds to its skip-gram stage: one length-5 walk per seed
    * (suppliers ≡ 0 mod 10, the PPR seed rule), where step t of walk
    * w moves to `neighbors(cur)[ md5(w:t) mod degree(cur) ]` over the
    * SORTED neighbor list. The portable md5 hash replaces the RNG —
    * "random" walks that are a pure function of (walk, step), so the
    * corpus is reproducible across engines/runs/resumes (the
    * q_shuffle_epoch stance: a new epoch is a new salt in the hash
    * input, md5 avalanche does the mixing) and the DuckDB oracle
    * replays the identical walks hash-exactly.
    *
    * Scale shape: [[graft.operators.RandomWalk]] — adjacency stays
    * in hub-safe (src, rank, dst) long-row form (rank ≡ sorted
    * neighbor position), one corpus-scale exchange fenced and reused
    * by all steps; each step is a seed-scale (node, rank) equi-join,
    * so a hub node's neighbor list never materializes as one array
    * cell / one straggler row. The oracle's `list_sort(list(dst))[i]`
    * indexing replays the identical element because row_number over
    * the dst total order IS the sorted position. */
  private val WalkLen = 5

  private def walkStepCte(t: Int): String = {
    val h = graft.functions.PortableHash.md5LongSql(
      s"walk_id::VARCHAR || ':' || '$t'")
    s"""w$t AS (SELECT w.walk_id,
       |  a.ns[(1 + $h % len(a.ns))::BIGINT] AS node
       |  FROM w${t - 1} w JOIN adj a ON a.src = w.node)""".stripMargin
  }

  /** The walk corpus as an unordered frame + its oracle CTE chain —
    * shared by q_graph_walks and the skip-gram pair extraction. */
  private val walkCtes: String =
    s"""$graphCtes,
       |adj AS MATERIALIZED (
       |  SELECT src, list_sort(list(dst)) AS ns FROM e GROUP BY src),
       |w0 AS (SELECT DISTINCT l_suppkey * 2 + 1 AS walk_id,
       |         l_suppkey * 2 + 1 AS node
       |       FROM lineitem WHERE l_suppkey % 10 = 0),
       |${(1 to WalkLen).map(walkStepCte).mkString(",\n")},
       |walks AS MATERIALIZED (
       |${(0 to WalkLen).map(t =>
            s"  SELECT walk_id, CAST($t AS BIGINT) AS step, node FROM w$t")
          .mkString("\n  UNION ALL\n")}
       |)""".stripMargin

  private[graft] def walksOf(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val e = li.select(col("p").as("src"), col("sp").as("dst"))
      .union(li.select(col("sp").as("src"), col("p").as("dst")))
    val seeds = t(s, d, "lineitem")
      .where(col("l_suppkey") % 10 === 0)
      .select((col("l_suppkey") * 2 + 1).as("walk_id")).distinct()
      .select(col("walk_id"), col("walk_id").as("node"))
    graft.operators.RandomWalk.walks(e, seeds, WalkLen,
      (wid, st) => graft.functions.PortableHash.md5Long(
        concat(wid.cast("string"), lit(s":$st"))))
  }

  private val qWalks = Q("q_graph_walks",
    s"""WITH $walkCtes
       |SELECT walk_id, step, node FROM walks
       |ORDER BY walk_id, step""".stripMargin) { (s, d) =>
    walksOf(s, d).orderBy(col("walk_id"), col("step"))
  }

  /** The shared (edges, seeds) derivation of the walk family. */
  private def walkGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val li = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val e = li.select(col("p").as("src"), col("sp").as("dst"))
      .union(li.select(col("sp").as("src"), col("p").as("dst")))
    val seeds = t(s, d, "lineitem")
      .where(col("l_suppkey") % 10 === 0)
      .select((col("l_suppkey") * 2 + 1).as("walk_id")).distinct()
      .select(col("walk_id"), col("walk_id").as("node"))
    (e, seeds)
  }

  /** node2vec search-bias weights as EXACT INTEGERS: p = 1/2, q = 2 →
    * α(return)=2, α(common)=1, α(far)=1/2, scaled ×2 to (4, 2, 1). */
  private val WBack = 4L
  private val WCommon = 2L
  private val WFar = 1L

  private def biasedStepCtes(t: Int): String = {
    val h = graft.functions.PortableHash.md5LongSql(
      s"walk_id::VARCHAR || ':b' || '$t'")
    s"""c$t AS (
       |  SELECT w.walk_id, w.node AS cur, t.i AS idx, ac.ns[t.i] AS dst,
       |    CASE WHEN ac.ns[t.i] = w.prev THEN $WBack
       |         WHEN ap.src IS NOT NULL AND list_contains(ap.ns, ac.ns[t.i])
       |           THEN $WCommon
       |         ELSE $WFar END AS wt
       |  FROM b${t - 1} w
       |  JOIN adj ac ON ac.src = w.node
       |  LEFT JOIN adj ap ON ap.src = w.prev,
       |  unnest(generate_series(1, len(ac.ns))) AS t(i)),
       |s$t AS (
       |  SELECT walk_id, cur, dst, wt,
       |    sum(wt) OVER (PARTITION BY walk_id ORDER BY idx) AS cum,
       |    sum(wt) OVER (PARTITION BY walk_id) AS wtot
       |  FROM c$t),
       |b$t AS (SELECT walk_id, cur AS prev, dst AS node FROM s$t
       |        WHERE cum > $h % wtot AND cum - wt <= $h % wtot)""".stripMargin
  }

  /** SECOND-ORDER biased walk corpus (node2vec, Grover & Leskovec
    * KDD'16) — the p/q-biased generalization of [[qWalks]] (its
    * p = q = 1 case): from state (prev, cur), neighbors of cur draw
    * the search bias α = 1/p (return), 1 (common neighbor — BFS-ish),
    * 1/q (explore — DFS-ish), here the exact integer triple
    * ([[WBack]], [[WCommon]], [[WFar]]) = p 1/2 / q 2, and the step
    * takes the first sorted neighbor whose cumulative weight exceeds
    * `md5(w:b:t) mod Σw` — pure integer arithmetic, so the DuckDB
    * oracle replays the identical biased corpus hash-exactly (the
    * portable hash replaces the RNG, the [[qWalks]] stance). Step 1
    * is the uniform first-order start (no prev yet).
    *
    * Scale shape: [[graft.operators.RandomWalk.biasedWalks]] — steps
    * 2+ inherently touch all of cur's neighbors (the bias normalizer
    * Σw is degree-mass, node2vec's own cost); the candidate join is
    * the long-row (node = cur) equi-join and the pick is a PER-WALK
    * cumulative window (one visit's neighbor list per partition —
    * spillable, never the frontier through one task). */
  /** The biased walk corpus's oracle CTE chain, ending in
    * `bwalks(walk_id, step, node)` — shared by q_graph_walks_biased
    * and the biased embedding's coverage oracle. */
  private val biasedWalkCtes: String =
    s"""$graphCtes,
       |adj AS MATERIALIZED (
       |  SELECT src, list_sort(list(dst)) AS ns FROM e GROUP BY src),
       |bw0 AS (SELECT DISTINCT l_suppkey * 2 + 1 AS walk_id,
       |          l_suppkey * 2 + 1 AS node
       |        FROM lineitem WHERE l_suppkey % 10 = 0),
       |b1 AS (SELECT w.walk_id, w.node AS prev,
       |         a.ns[(1 + ${graft.functions.PortableHash.md5LongSql(
                  "walk_id::VARCHAR || ':b' || '1'")} % len(a.ns))::BIGINT]
       |           AS node
       |       FROM bw0 w JOIN adj a ON a.src = w.node),
       |${(2 to WalkLen).map(biasedStepCtes).mkString(",\n")},
       |bwalks AS MATERIALIZED (
       |  SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM bw0
       |${(1 to WalkLen).map(t =>
          s"  UNION ALL SELECT walk_id, CAST($t AS BIGINT), node FROM b$t")
          .mkString("\n")}
       |)""".stripMargin

  /** The biased walk corpus as an unordered frame — shared by
    * q_graph_walks_biased and the biased skip-gram pair extraction. */
  private[graft] def biasedWalksOf(s: SparkSession, d: String): DataFrame = {
    val (e, seeds) = walkGraph(s, d)
    graft.operators.RandomWalk.biasedWalks(e, seeds, WalkLen,
      (wid, st) => graft.functions.PortableHash.md5Long(
        concat(wid.cast("string"), lit(s":b$st"))),
      WBack, WCommon, WFar)
  }

  private val qWalksBiased = Q("q_graph_walks_biased",
    s"""WITH $biasedWalkCtes
       |SELECT walk_id, step, node FROM bwalks
       |ORDER BY walk_id, step""".stripMargin) { (s, d) =>
    biasedWalksOf(s, d).orderBy(col("walk_id"), col("step"))
  }

  /** Skip-gram training pairs over the walk corpus — the second half
    * of the DeepWalk recipe (walks → windowed (center, context)
    * pairs → embedding trainer): every ordered pair of nodes within
    * window ±2 steps on the same walk, aggregated to (center,
    * context, distance, n_pairs) — the co-occurrence statistic a
    * skip-gram/GloVe stage trains from. Scale shape: the pair window
    * is a per-walk self-join bounded by the FIXED walk length (each
    * step pairs with ≤ 2·window others), so pair volume is exactly
    * (2·window·len-ish)·|walks| — linear in the corpus; the one
    * exchange is the map-side-combinable pair count over a key space
    * capped by edges within 2 hops. */
  /** The aggregated skip-gram pair frame (center, context, distance,
    * n_pairs) — shared by q_graph_walk_pairs and the SGNS trainer
    * query. */
  private def pairsFrom(corpus: DataFrame): DataFrame = {
    val w = corpus.fenced() // both self-join sides
    val a = w.select(col("walk_id"), col("step").as("sa"), col("node").as("center"))
    val b = w.select(col("walk_id"), col("step").as("sb"), col("node").as("context"))
    a.join(b, Seq("walk_id"))
      .where(col("sa") =!= col("sb") && abs(col("sa") - col("sb")) <= 2)
      .groupBy(col("center"), col("context"),
        abs(col("sa") - col("sb")).as("distance"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private[graft] def walkPairsOf(s: SparkSession, d: String): DataFrame =
    pairsFrom(walksOf(s, d))

  /** Skip-gram pairs over the BIASED (node2vec) corpus — the pair
    * window is corpus-agnostic, so the derivation is [[pairsFrom]]
    * verbatim; only the walk generator differs. */
  private[graft] def biasedWalkPairsOf(s: SparkSession, d: String): DataFrame =
    pairsFrom(biasedWalksOf(s, d))

  private val qWalkPairs = Q("q_graph_walk_pairs",
    s"""WITH $walkCtes
       |SELECT a.node AS center, b.node AS context,
       |  CAST(abs(a.step - b.step) AS BIGINT) AS distance,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM walks a JOIN walks b
       |  ON a.walk_id = b.walk_id AND a.step <> b.step
       |  AND abs(a.step - b.step) <= 2
       |GROUP BY 1, 2, 3
       |ORDER BY n_pairs DESC, center, context, distance""".stripMargin) { (s, d) =>
    walkPairsOf(s, d)
      .orderBy(col("n_pairs").desc, col("center"), col("context"), col("distance"))
  }

  /** q_graph_embed training knobs — the SHIPPED operating point.
    * `private[graft]` so SgnsSpec's walk-corpus separation test reads
    * these constants directly: spec and query train the identical
    * point and cannot drift (r13 advice — the spec used to validate a
    * nearby lr, leaving the shipped point enforced only at oracle
    * time). */
  private[graft] val EmbedDim = 8
  private[graft] val EmbedIters = 15
  private[graft] val EmbedNegK = 3
  private[graft] val EmbedLr = 2.0

  /** GRAPH-EMBEDDING TRAINING — the third stage of the DeepWalk
    * recipe (walks → skip-gram pairs → SGNS), closing the loop:
    * [[graft.operators.Sgns]] trains node vectors from
    * [[walkPairsOf]]'s co-occurrence table with hash-derived
    * negatives, full-batch over the exact-decimal grid so the run is
    * bit-reproducible (SgnsSpec pins `fit` against a sequential
    * reference EXACTLY).
    *
    * Oracle (guarantee stance — the q_knn_ivf_trained pattern): the
    * embedding VALUES are a fixpoint of iterative training, not
    * SQL-expressible, so the oracle asserts what both engines can
    * agree on — the model covers EXACTLY the walk-corpus node set —
    * while Spark computes the real verdicts in-plan: every vector has
    * a finite positive norm, and the corpus-level separation holds
    * (mean cosine over co-occurring pairs exceeds mean cosine over
    * hash-random NEGATIVE pairs — random partners that are actual
    * co-occurrences are excluded from the null model, exactly as
    * SGNS's own negative sampling excludes positives (r16; on a
    * 4-node sf0.001 graph every random partner IS a neighbor and the
    * old contrast was noise), and a clique corpus with no negative
    * pair holds vacuously — the property the embeddings exist to
    * have; both means reduce as order-free decimal sums).
    *
    * Scale shape: training is [[graft.operators.Sgns]]'s contract
    * (pair-table scans against broadcast V-bounded model tables; only
    * (node, dim) gradient frames exchange); the verdict pass joins the
    * V-bounded embedding table to the pair table once — nothing
    * corpus-scaled, the walk corpus is seed-scale by construction. */
  /** Shared SGNS train-and-verdict body for the embedding queries:
    * trains at the SHIPPED operating point on the given raw pair
    * frame and returns (node, dim, embed_ok) — norm and corpus-level
    * separation verdicts computed in-plan (see [[qGraphEmbed]]'s
    * guarantee-stance contract). */
  private def sgnsEmbedQuery(s: SparkSession, rawPairs: DataFrame): DataFrame = {
    val (_, emb, sepFrame) = sgnsTrainAndSep(s, rawPairs)
    // coalesce(true): a clique corpus has no negative pair to
    // contrast against — vacuous truth, per the sgnsTrainAndSep note
    sgnsVerdict(emb,
      sepFrame.select(coalesce(col("co") > col("rn"), lit(true)).as("sep_ok")))
  }

  /** Train at the shipped operating point and build the separation
    * means frame (co-occurring vs hash-random mean cosine) — shared
    * by the ○ queries. */
  private[graft] def sgnsTrainAndSep(s: SparkSession, rawPairs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.Sgns
    val pairs = rawPairs
      .groupBy(col("center"), col("context")).agg(sum(col("n_pairs")).as("wt"))
      .fenced() // trained on (iteratively) + verdict-joined
    val (model, _) =
      Sgns.fit(pairs, dim = EmbedDim, iters = EmbedIters,
        negK = EmbedNegK, lr = EmbedLr)
    val spark = s
    import spark.implicits._
    val v = model.nodes.length
    // driver-local V-sized relations go STRAIGHT into their broadcast
    // builds — fencing each cost a materialization job for nothing
    // (r19 optimization round; LocalRelation is already driver-held)
    val emb = broadcast(model.nodes.indices
      .map(i => (model.nodes(i), model.in(i).toSeq)).toDF("node", "vin"))
    // hash-random self-excluded partner per node (V-bounded model
    // state, like the centroid tables)
    val rnd = broadcast(model.nodes.zipWithIndex.map { case (n, i) =>
      (n, model.nodes(((i + 1 +
        graft.functions.PortableHash.digest60(s"rnd:$n") % (v - 1)) % v).toInt))
    }.toSeq.toDF("node", "partner"))
    // …minus the random pairs that are actual co-occurrences (either
    // orientation): the null model must be NEGATIVE pairs, exactly as
    // SGNS's own negative sampling excludes positives. On a tiny
    // graph (sf0.001: 4 nodes) every "random" partner IS a true
    // neighbor — the old contrast compared two samples of the same
    // population and its sign was noise (measured −0.008 on 13
    // pairs; PLANS.md "Round-16 (cont.): embed separation verdict").
    val coSet = pairs.select(col("center").as("ca"), col("context").as("cb"))
    val rndNeg = rnd.join(coSet,
      (col("node") === col("ca") && col("partner") === col("cb")) ||
        (col("node") === col("cb") && col("partner") === col("ca")),
      "left_anti")
    val cosNat = graft.functions.GraftExpressions.cosine_sim(col("va"), col("vb"))
    def meanCos(pairDf: DataFrame, a: String, b: String, out: String) = pairDf
      .join(emb.select(col("node").as(a), col("vin").as("va")), a)
      .join(emb.select(col("node").as(b), col("vin").as("vb")), b)
      .agg((sum(round(cosNat, 6).cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as(out))
    // rn is NULL when no negative pair exists (the corpus is a
    // clique at this scale) — separation is then undefined and the
    // verdict downstream holds vacuously rather than reporting noise
    val sepFrame = meanCos(pairs.select(col("center"), col("context")),
        "center", "context", "co")
      .crossJoin(meanCos(rndNeg, "node", "partner", "rn"))
    (pairs, emb, sepFrame)
  }

  private def sgnsVerdict(emb: DataFrame, sep: DataFrame): DataFrame = {
    val normOk = graft.functions.GraftExpressions.dot_product(
      col("vin"), col("vin")) > 0.0
    emb.select(col("node"), normOk.as("norm_ok"))
      .crossJoin(broadcast(sep))
      .select(col("node"), lit(EmbedDim).cast("int").as("dim"),
        (col("norm_ok") && col("sep_ok")).as("embed_ok"))
      .orderBy(col("node"))
  }

  private val qGraphEmbed = Q("q_graph_embed",
    s"""WITH $walkCtes
       |SELECT node, CAST($EmbedDim AS INT) AS dim, true AS embed_ok
       |FROM (SELECT DISTINCT node FROM walks) n
       |ORDER BY node""".stripMargin) { (s, d) =>
    sgnsEmbedQuery(s, walkPairsOf(s, d))
  }

  /** node2vec LOOP CLOSED (round 15 — the r14 verdict's item 3): SGNS
    * trained on the BIASED (second-order, p=1/2 q=2) walk corpus, the
    * actual Grover & Leskovec §3.2 recipe — biased walks → windowed
    * skip-gram pairs → SGNS. Training, verdicts, and the
    * guarantee-stance oracle (model covers EXACTLY the biased-corpus
    * node set; norms finite-positive and co-occurring-vs-random
    * separation verified in-plan) are [[sgnsEmbedQuery]] verbatim —
    * only the corpus generator differs. */
  private val qGraphEmbedBiased = Q("q_graph_embed_biased",
    s"""WITH $biasedWalkCtes
       |SELECT node, CAST($EmbedDim AS INT) AS dim, true AS embed_ok
       |FROM (SELECT DISTINCT node FROM bwalks) n
       |ORDER BY node""".stripMargin) { (s, d) =>
    sgnsEmbedQuery(s, biasedWalkPairsOf(s, d))
  }

  val all: Seq[Q] =
    Seq(qPagerank, qTriangles, qLabelProp, qPprSeeded, qKcore, qKtruss,
      qWalks, qWalksBiased, qWalkPairs, qGraphEmbed, qGraphEmbedBiased)
}
