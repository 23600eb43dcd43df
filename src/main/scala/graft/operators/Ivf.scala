package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Fence.FenceOps
import graft.Tables
import graft.functions.GraftExpressions.{cosine_sim, dot_product, sq_dist}

/** Inverted-file (IVF) vector search over the `embeddings` table: one
  * implementation of each step that every ANN query, posting store
  * and serving stream is built from.
  *
  *  - Coarse cells: [[Trained]] (k-means, ranked by squared L2) or
  *    [[Literal]] (the first [[IvfC]] corpus vectors, ranked by
  *    cosine). Each has ONE nearness rule, used by assignment
  *    ([[assign]]), in-plan probes ([[probes]]) and driver probes
  *    ([[probeLocal]]); ties always go to the lower cent_id.
  *  - Product quantization (Jégou/Douze/Schmid, TPAMI'11): the
  *    codebook is the [[PqM]] subspace slices of the first [[PqK]]
  *    vectors (raw, or residuals v − centroid(cell) — FAISS
  *    `by_residual`); [[encode]] assigns codes, [[lut]] builds the
  *    per-query table, [[adcScore]] adds coarse dot + LUT entries.
  *  - The shortlist, exact-cosine [[rerank]], [[top5]] and the
  *    brute-truth grades ([[gradeRows]], [[gradeQueries]]).
  *
  * A persisted index ([[Index]]) is built as assign → [[Codec]] encode
  * → cell-partitioned persist ([[build]]) and served by one path
  * ([[serve]]): driver probe selection, the pruned cell scan, codec
  * scoring, for PQ a shortlist and a point-read rerank, then the
  * top-5.
  *
  * Every double is accumulated left to right, as the DuckDB oracle and
  * the driver twins ([[dotLocal]], [[cosLocal]], [[sqDistLocal]]) do,
  * and every score keeps its written addition order, so in-plan,
  * persisted, streamed and oracle answers agree bit for bit. */
object Ivf {

  /** Coarse cells per index. The literal quantizer borrows the first
    * C corpus vectors (a deterministic stand-in for k-means training
    * that embeds in the oracle SQL); the trained one learns C cells. */
  private[graft] val IvfC = 16

  /** Probe width of the in-plan literal IVF (`q_knn_ivf`). */
  private[graft] val IvfNprobe = 2

  /** Trained-IVF probe width — wider than the literal IVF's because
    * trained cells are BALANCED (`q_knn_ivf_trained`'s operating-point
    * study: nprobe=4 → recall 0.92 at a 26% candidate fraction). */
  private[graft] val IvfNprobeTrained = 4

  /** IVFPQ probe width: ADC makes candidate scoring nearly free, so a
    * deployment widens the probe and lets the exact rerank pay only
    * for the shortlist. */
  private[graft] val IvfPqNprobe = 4

  /** ADC shortlist width fed to the exact rerank (FAISS `k factor`).
    * Measured recall@5 vs brute at sf0.01: 20 → 0.54, 40 → 0.72,
    * 64 → 0.82 (the nprobe=4 candidate ceiling is ≈0.9); 64 is the
    * knee. */
  private[graft] val IvfPqShortlist = 64

  private[graft] val PqM = 4 // subspaces
  private[graft] val PqDsub = 16 // dims per subspace (4 × 16 = the 64-dim embedding)
  private[graft] val PqK = 16 // codes per subspace; codebook = first PqK vectors
  // the PQ model reuses the literal centroids' collected rows as its
  // codebook vectors
  require(PqK <= IvfC, s"PqK=$PqK > IvfC=$IvfC")

  /** Per-query recall floor of the graded ANN queries: each query
    * returns a full top-5 and recalls ≥ this share of the exact
    * brute-force top-5 — comfortably under the measured per-query
    * minimum (0.80 at sf0.01), far above what a broken probe or
    * score approximation measures (0.0–0.28). */
  private[graft] val RecallFloor = 0.4

  private def cosine(a: Column, b: Column): Column = cosine_sim(a, b)
  private def dot(a: Column, b: Column): Column = dot_product(a, b)

  /** vec_id, label, v (double). */
  private[graft] def vectors(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** The fixed query set of the knn family (vec_id < 10) as (q_id, qv)
    * rows, `v` naming the vector column. */
  private[graft] def queryRows(e: DataFrame, v: String = "v"): DataFrame =
    e.where(col("vec_id") < 10).select(col("vec_id").as("q_id"), col(v).as("qv"))

  /** The same query set collected driver-side, in id order. */
  private[graft] def queries(s: SparkSession, d: String): Seq[(Long, Seq[Double])] = {
    val spark = s
    import spark.implicits._
    queryRows(vectors(s, d)).as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
  }

  // ------------------------------------------------------ driver twins

  /** Left-to-right local dot — the driver twin of
    * [[graft.functions.GraftExpressions.dot_product]]. */
  private[graft] def dotLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Driver twin of the cosine composition both engines use. */
  private[graft] def cosLocal(a: Seq[Double], b: Seq[Double]): Double =
    dotLocal(a, b) / (math.sqrt(dotLocal(a, a)) * math.sqrt(dotLocal(b, b)))

  /** Driver twin of [[graft.functions.GraftExpressions.sq_dist]]. */
  private[graft] def sqDistLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var sAcc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val dd = a(i) - b(i); sAcc += dd * dd; i += 1 }
    sAcc
  }

  // ------------------------------------------------------ coarse cells

  /** A coarse quantizer: how its cells are learned, and the one
    * nearness rule that ranks them. */
  sealed abstract class Coarse(val nprobe: Int) {
    /** Larger is nearer — the assignment argmax key. */
    private[graft] def nearness(v: Column, c: Column): Column
    /** Nearest first — the in-plan probe window's order. */
    private[graft] def order(q: Column, c: Column): Column
    /** Smaller is nearer — the driver probe sort key. */
    private[graft] def key(q: Seq[Double], c: Seq[Double]): Double
    /** Learn the cells over `e` (vec_id, v): (vec_id, list) assignment,
      * the driver centroid table, and the same table in-plan
      * (cent_id, cv). */
    private[graft] def fit(e: DataFrame)
        : (DataFrame, Seq[(Int, Seq[Double])], DataFrame)
  }

  /** Lloyd's k-means cells ([[KMeans]], deterministic init, 5 rounds),
    * ranked by (d², cent_id). */
  case object Trained extends Coarse(IvfNprobeTrained) {
    private[graft] def nearness(v: Column, c: Column): Column = -sq_dist(v, c)
    private[graft] def order(q: Column, c: Column): Column = sq_dist(q, c).asc
    private[graft] def key(q: Seq[Double], c: Seq[Double]): Double = sqDistLocal(q, c)
    private[graft] def fit(e: DataFrame)
        : (DataFrame, Seq[(Int, Seq[Double])], DataFrame) = {
      val (assigned, cents, _) =
        KMeans.fit(e.select(col("vec_id"), col("v")), k = IvfC, maxIter = 5)
      val table = centroids(cents)
      val spark = e.sparkSession
      import spark.implicits._
      (assigned.select(col("id").as("vec_id"), col("cluster").as("list")),
        table, broadcast(table.toDF("cent_id", "cv")))
    }
  }

  /** The first [[IvfC]] corpus vectors as centroids, ranked by
    * (cos DESC, cent_id). */
  case object Literal extends Coarse(IvfPqNprobe) {
    private[graft] def nearness(v: Column, c: Column): Column = cosine(v, c)
    private[graft] def order(q: Column, c: Column): Column = cosine(q, c).desc
    private[graft] def key(q: Seq[Double], c: Seq[Double]): Double = -cosLocal(q, c)
    private[graft] def fit(e: DataFrame)
        : (DataFrame, Seq[(Int, Seq[Double])], DataFrame) = {
      val spark = e.sparkSession
      import spark.implicits._
      val cents = literalCents(e)
      val table = e.where(col("vec_id") < IvfC)
        .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
        .collect().sortBy(_._1).map { case (id, v) => (id.toInt, v) }.toSeq
      (assign(e, cents, this), table, cents)
    }
  }

  /** A trained centroid array as the (cent_id, vector) table. */
  private[graft] def centroids(cents: Array[Array[Double]]): Seq[(Int, Seq[Double])] =
    cents.toSeq.zipWithIndex.map { case (c, j) => (j, c.toSeq) }

  /** The literal centroids (cent_id, cv), broadcast. */
  private[graft] def literalCents(e: DataFrame, v: String = "v"): DataFrame =
    broadcast(e.where(col("vec_id") < IvfC)
      .select(col("vec_id").as("cent_id"), col(v).as("cv")))

  /** Coarse assignment: each vector's nearest centroid as `list`. A
    * map-side argmax — `max_by` over the TOTALLY ORDERED
    * (nearness, −cent_id), so the aggregate is tie-free and picks
    * exactly row_number's (nearest, cent_id) winner, while its partial
    * aggregate collapses each vector's C centroid rows before the
    * exchange (n rows shuffled, not n×C). `carry` columns ride the
    * winner. */
  private[graft] def assign(e: DataFrame, cents: DataFrame, coarse: Coarse,
      v: String = "v", carry: Seq[String] = Nil): DataFrame =
    e.crossJoin(cents)
      .withColumn("csim", coarse.nearness(col(v), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cent_id") +: carry.map(col): _*),
        struct(col("csim"), (-col("cent_id")).as("nc"))).as("best"))
      .select(col("vec_id") +: col("best.cent_id").as("list") +:
        carry.map(c => col(s"best.$c").as(c)): _*)

  /** In-plan probe selection: each query's `nprobe` nearest cells as
    * `list`, next to the query's own (q_id, qv) columns — a window
    * over the broadcast centroid table (|queries|·C rows). */
  private[graft] def probes(qs: DataFrame, cents: DataFrame, coarse: Coarse,
      nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(coarse.order(col("qv"), col("cv")), col("cent_id"))
    qs.crossJoin(cents)
      .withColumn("pr", row_number().over(w))
      .where(col("pr") <= nprobe)
      .select(qs.columns.map(col) :+ col("cent_id").as("list"): _*)
  }

  /** One driver-side probe: query `q` (vector `qv`) visits `cell`
    * (centroid `cv`) as its `rank`-th nearest. */
  private[graft] final case class Probe(q: Long, cell: Int, rank: Int,
      qv: Seq[Double], cv: Seq[Double])

  /** Driver-side probe selection over the k-bounded centroid table —
    * the same nearness rule as [[probes]], in the same double
    * arithmetic, so both choose identical cells. */
  private[graft] def probeLocal(qs: Seq[(Long, Seq[Double])],
      cents: Seq[(Int, Seq[Double])], coarse: Coarse, nprobe: Int): Seq[Probe] =
    qs.flatMap { case (q, qv) =>
      cents.map { case (cid, cv) => ((coarse.key(qv, cv), cid), cv) }
        .sortBy(_._1).take(nprobe).zipWithIndex
        .map { case (((_, cid), cv), r) => Probe(q, cid, r + 1, qv, cv) }
    }

  /** In-plan candidates: the cell rows joined to the broadcast probes on
    * `list`, a query never its own neighbor. */
  private[graft] def candidates(cells: DataFrame, probes: DataFrame): DataFrame =
    cells.join(broadcast(probes), Seq("list")).where(col("q_id") =!= col("vec_id"))

  // ------------------------------------------------ product quantization

  /** The PQ subspace explode: one (idCol, keep…, j, xs) row per
    * subspace. `keep` columns ride along unchanged, so the code pivot
    * can aggregate them instead of re-joining the corpus. */
  private def pqSubspaces(src: DataFrame, idCol: String,
      keep: Seq[String] = Nil): DataFrame = src
    .select(col(idCol) +: keep.map(col) :+ explode(array((0 until PqM).map(j =>
      struct(lit(j).as("j"),
        slice(col("v"), j * PqDsub + 1, PqDsub).as("xs"))): _*)).as("sp"): _*)
    .select(col(idCol) +: keep.map(col) ++: Seq(
      col("sp.j").as("j"), col("sp.xs").as("xs")): _*)

  /** The codebook (cent_id, j, cs, cn2): subspace slices of the first
    * [[PqK]] vectors of `src` (vec_id, v). */
  private[graft] def codebook(src: DataFrame): DataFrame =
    pqSubspaces(src.where(col("vec_id") < PqK)
      .withColumnRenamed("vec_id", "cent_id"), "cent_id")
      .select(col("cent_id"), col("j"), col("xs").as("cs"),
        dot(col("xs"), col("xs")).as("cn2"))

  /** Encode `src` (vec_id, v, n2, keep…) against `book`, pivoted to ONE
    * (vec_id, c0..c{M-1}, keep…, xn2) row per vector: per (vec_id, j)
    * the argmin of (dd, cent_id), plus the vector's TRUE norm recorded
    * at encode time so ADC ranks by cosine. min_by's partial
    * aggregation collapses the |corpus|·M·K scored rows map-side before
    * the single exchange; min over struct(dd, cent_id) ≡ the first row
    * of ORDER BY dd, cent_id (cent_id is unique per (vec_id, j), dd is
    * never null, and the other j's rows — null ordering structs — are
    * skipped). */
  private[graft] def encode(src: DataFrame, book: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val kept = "n2" +: keep
    val scored = pqSubspaces(src, "vec_id", kept).join(broadcast(book), "j")
      .select(col("vec_id") +: kept.map(col) ++: Seq(col("j"),
        col("cent_id"),
        (col("cn2") - lit(2) * dot(col("xs"), col("cs"))).as("dd")): _*)
    val codeCols = (0 until PqM).map { j =>
      min_by(when(col("j") === j, col("cent_id")),
        when(col("j") === j, struct(col("dd"), col("cent_id")))).as(s"c$j")
    } ++ kept.map { c =>
      // every row of a vec_id group carries the identical value (it
      // rode the explode), so max() IS the value
      max(col(c)).as(c)
    }
    scored.groupBy(col("vec_id")).agg(codeCols.head, codeCols.tail: _*)
      .withColumnRenamed("n2", "xn2")
  }

  /** Residuals r = v − centroid(cell), elementwise and exact on both
    * engines: (vec_id, list, n2, r), fenced (the encode scan and the
    * codebook both read it). */
  private[graft] def residuals(e: DataFrame, assigned: DataFrame,
      cents: DataFrame, v: String = "v"): DataFrame =
    e.join(assigned, "vec_id")
      .join(cents.select(col("cent_id").as("list"), col("cv")), "list")
      .select(col("vec_id"), col("list"), col("n2"),
        zip_with(col(v), col("cv"), (a, b) => a - b).as("r"))
      .fenced()

  /** The ADC LUT of queries (q_id, qv) against `book`, pivoted to ONE
    * (q_id, lutv) row per query with lutv[j·K + cent_id + 1] = qdot —
    * one broadcast build instead of one per subspace. array_sort on
    * struct(j, cent_id, qdot) orders the complete (j, cent_id) grid
    * grid-major. */
  private[graft] def lut(qs: DataFrame, book: DataFrame): DataFrame =
    pqSubspaces(qs.select(col("q_id"), col("qv").as("v")), "q_id")
      .join(broadcast(book), "j")
      .select(col("q_id"), col("j"), col("cent_id"),
        dot(col("xs"), col("cs")).as("qdot"))
      .groupBy(col("q_id")).agg(transform(
        array_sort(collect_list(struct(col("j"), col("cent_id"), col("qdot")))),
        x => x.getField("qdot")).as("lutv"))

  /** `lutv` lookup for subspace j's code column. */
  private def lutAt(j: Int): Column =
    element_at(col("lutv"), (col(s"c$j") + lit(j * PqK) + 1).cast("int"))

  /** The ADC score: (coarse dot +) the [[PqM]] LUT entries, added left
    * to right in that written order, over the query and vector norms
    * (`qn2`, `xn2`). */
  private[graft] def adcScore(entry: Int => Column, coarseDot: Option[Column]): Column =
    (coarseDot.toSeq ++ (0 until PqM).map(entry)).reduce(_ + _) /
      (sqrt(col("qn2")) * sqrt(col("xn2")))

  /** Query norms (qn_id, qn2) of `e` (vec_id, n2). */
  private def queryNorms(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 10).select(col("vec_id").as("qn_id"), col("n2").as("qn2"))

  /** What residual encoding needs from the coarse stage: the
    * (vec_id, list) assignment, the in-plan centroids (cent_id, cv) and
    * the (q_id, qv, list) probe rows. */
  private[graft] final case class Cells(assigned: DataFrame, cents: DataFrame,
      probes: DataFrame)

  /** In-plan ADC over candidates (q_id, n_id[, list]): PQ-encode `e`
    * (vec_id, n2, `v`) — the raw vectors, or with `residualOf` the
    * residuals v − centroid(cell) plus the per-(query, cell) coarse dot
    * — and score every candidate from the broadcast LUT:
    * (q_id, n_id, score). */
  private[graft] def adc(e: DataFrame, v: String, cand: DataFrame,
      residualOf: Option[Cells]): DataFrame = {
    val src = residualOf.fold(e.select(col("vec_id"), col(v).as("v"), col("n2"))) {
      c => residuals(e, c.assigned, c.cents, v)
        .select(col("vec_id"), col("r").as("v"), col("n2"))
    }
    val coarse = residualOf.map(c =>
      c.probes.join(c.cents.select(col("cent_id").as("list"), col("cv")), "list")
        .select(col("q_id").as("co_q"), col("list").as("co_list"),
          dot(col("qv"), col("cv")).as("cdot")))
    val book = codebook(src)
    val withCodes = cand.join(encode(src, book).withColumnRenamed("vec_id", "n_id"), "n_id")
    coarse.fold(withCodes)(co => withCodes.join(broadcast(co),
        col("q_id") === col("co_q") && col("list") === col("co_list")))
      .join(broadcast(lut(queryRows(e, v), book)), "q_id")
      .join(broadcast(queryNorms(e)), col("q_id") === col("qn_id"))
      .select(col("q_id"), col("n_id"),
        adcScore(lutAt, coarse.map(_ => col("cdot"))).as("score"))
  }

  // --------------------------------------------- shortlist, rerank, top-5

  /** Top-[[IvfPqShortlist]] (by…, n_id) per `by` group by
    * (score DESC, n_id) — the rows the exact rerank pays for. */
  private[graft] def shortlist(scored: DataFrame,
      by: Seq[String] = Seq("q_id")): DataFrame = {
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("score").desc, col("n_id"))
    scored.withColumn("srn", row_number().over(w))
      .where(col("srn") <= IvfPqShortlist)
      .select(by.map(col) :+ col("n_id"): _*)
  }

  /** Exact-cosine scores of (q_id, n_id) `pairs`: query vectors from
    * `qvs` (q_id, qv), neighbor vectors from `corpus` (vec_id, v). */
  private[graft] def rerank(pairs: DataFrame, qvs: DataFrame,
      corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("n_id"), col("v"))
      .join(pairs, "n_id")
      .join(qvs, "q_id")
      .select(pairs.columns.map(col) :+ cosine(col("qv"), col("v")).as("score"): _*)

  /** The top-5 rows per `by` group by (score DESC, n_id), with `rn`. */
  private[graft] def top5(scored: DataFrame, by: Seq[String] = Seq("q_id")): DataFrame = {
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
  }

  /** The serving schema (q_id, n_id, rn, sim) of a [[top5]] frame. */
  private[graft] def servedRows(top: DataFrame): DataFrame =
    top.select(col("q_id"), col("n_id"), col("rn").cast("int").as("rn"),
      round(col("score"), 6).as("sim"))

  /** Served rows (q_id, n_id, rn, sim) marked `hit` where the exact
    * top-5 `truth` (q_id, n_id) holds them. */
  private[graft] def gradeRows(served: DataFrame, truth: DataFrame): DataFrame =
    served.join(broadcast(truth.withColumn("hitf", lit(true))),
        Seq("q_id", "n_id"), "left_outer")
      .select(col("q_id"), col("n_id"), col("rn"), col("sim"),
        coalesce(col("hitf"), lit(false)).as("hit"))
      .orderBy(col("q_id"), col("rn"))

  /** Per-query grade of served (q_id, n_id) pairs against the exact
    * top-5 `truth`: (q_id, n_ret, n_hit, recall_ok) — ONE
    * row-preserving left join and ONE aggregation (truth pairs are
    * unique, so the join duplicates nothing). */
  private[graft] def gradeQueries(served: DataFrame, truth: DataFrame): DataFrame =
    served.join(broadcast(truth.withColumn("hit", lit(1L))),
        Seq("q_id", "n_id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).cast("int").as("n_ret"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_ret"), col("n_hit"),
        (col("n_hit").cast("double") >= lit(RecallFloor) * lit(5.0))
          .as("recall_ok"))

  // ------------------------------------------------------- int8 codec

  /** The int8 absmax scale: max|x| / 127 (1 for a zero vector). */
  private[graft] def quantizeScale(v: Column): Column = {
    val absMax = aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x)))
    val s0 = absMax / lit(127.0)
    when(s0 === 0.0, lit(1.0)).otherwise(s0)
  }

  /** Codes under [[quantizeScale]]: round(x/s) clamped to ±127, as
    * longs (cast to tinyint at store-write time). */
  private[graft] def quantizeCodes(v: Column, sc: Column): Column =
    transform(v, x =>
      greatest(least(round(x / sc), lit(127)), lit(-127)).cast("long"))

  /** `e` with its int8 scale `s` and codes `c`. */
  private[graft] def quantized(e: DataFrame): DataFrame =
    e.withColumn("s", quantizeScale(col("v")))
      .withColumn("c", quantizeCodes(col("v"), col("s")))

  /** Exact integer dot product of two array<long> code columns. */
  private[graft] def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, p) => acc + p)

  /** Quantized cosine of query codes (qc, qqn2) against codes `c` with
    * norm `qn2` — the absmax scales cancel, so integers carry the
    * ranking. */
  private[graft] def q8Score(c: Column): Column =
    intDot(col("qc"), c).cast("double") /
      (sqrt(col("qqn2").cast("double")) * sqrt(col("qn2").cast("double")))

  /** Driver-side twin of the int8 codec — BigDecimal HALF_UP is exactly
    * Spark's `round` on doubles: (codes, Σ code²). */
  private[graft] def quantizeLocal(v: Seq[Double]): (Seq[Long], Long) = {
    val am = v.foldLeft(0.0)((a, x) => math.max(a, math.abs(x)))
    val sc = if (am == 0.0) 1.0 else am / 127.0
    val c = v.map { x =>
      val r = java.math.BigDecimal.valueOf(x / sc)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      math.max(-127L, math.min(127L, r))
    }
    (c, c.foldLeft(0L)((a, x) => a + x * x))
  }

  // ------------------------------------------------- persisted indexes

  /** What a posting row stores, which coarse cells its index uses, and
    * how serving scores a candidate. Every codec serves the same
    * (q_id, n_id, rn, sim) schema. */
  sealed abstract class Codec(val name: String, val coarse: Coarse) {
    /** Posting columns after (list, vec_id). */
    private[graft] def payload: Seq[String]
    /** Posting rows (list INT, vec_id, payload…) of `e` (vec_id, label,
      * v, n2) under `assigned` (vec_id, list) and in-plan centroids
      * `cents` (cent_id, cv). */
    private[graft] def encode(e: DataFrame, assigned: DataFrame,
        cents: DataFrame): DataFrame
    /** The driver codebook (cent_id, j, slice) from the centroid table. */
    private[graft] def codebook(cents: Seq[(Int, Seq[Double])]): Seq[(Int, Int, Seq[Double])] = Nil
    /** Broadcast probe rows (q_id, list, pr, per-probe score inputs…). */
    private[graft] def probeRows(spark: SparkSession, probes: Seq[Probe]): DataFrame
    /** (q_id, n_id, score) of scanned candidates (store ⋈ probe rows). */
    private[graft] def score(cand: DataFrame, ix: Index,
        qs: Seq[(Long, Seq[Double])]): DataFrame
    /** Whether `score` is an approximation the serving path shortlists
      * and reranks exactly. */
    private[graft] def reranks: Boolean = false
  }

  /** PQ codecs: 4 TINYINT codes + exact norm per posting row (12 B/vec),
    * driver LUT, ADC score. */
  sealed abstract class PqCodec(name: String, residual: Boolean)
      extends Codec(name, Literal) {
    private[graft] def payload = Seq("c0", "c1", "c2", "c3", "xn2")
    private[graft] def encode(e: DataFrame, assigned: DataFrame,
        cents: DataFrame): DataFrame = {
      val codes =
        if (!residual) assigned.join(Ivf.encode(e, Ivf.codebook(e)), "vec_id")
        else {
          val res = residuals(e, assigned, cents)
            .select(col("vec_id"), col("list"), col("n2"), col("r").as("v"))
          Ivf.encode(res, Ivf.codebook(res), Seq("list"))
        }
      codes.select(col("list").cast("int").as("list") +: col("vec_id") +:
        (0 until PqM).map(j => col(s"c$j").cast("tinyint").as(s"c$j")) :+
        col("xn2"): _*)
    }
    /** Slices of the first [[PqK]] vectors — raw, or their residuals
      * against the nearest centroid by the same rule as assignment. */
    override private[graft] def codebook(cents: Seq[(Int, Seq[Double])])
        : Seq[(Int, Int, Seq[Double])] =
      cents.filter(_._1 < PqK).flatMap { case (id, v) =>
        val x =
          if (!residual) v
          else {
            val cv = probeLocal(Seq((id.toLong, v)), cents, coarse, 1).head.cv
            v.indices.map(i => v(i) - cv(i))
          }
        (0 until PqM).map(j => (id, j, x.slice(j * PqDsub, j * PqDsub + PqDsub)))
      }
    /** The per-(query, cell) coarse dot: 0.0 for raw codes. */
    private[graft] def probeRows(spark: SparkSession, probes: Seq[Probe]): DataFrame = {
      import spark.implicits._
      probes.map(p => (p.q, p.cell, p.rank,
          if (residual) dotLocal(p.qv, p.cv) else 0.0))
        .toDF("q_id", "list", "pr", "cdot")
    }
    private[graft] def score(cand: DataFrame, ix: Index,
        qs: Seq[(Long, Seq[Double])]): DataFrame = {
      val spark = cand.sparkSession
      import spark.implicits._
      // driver LUT: |Q| × PqM × PqK entries, the same l→r slice dots
      val lutDf = (for {
        (q, qv) <- qs
        (cid, j, cs) <- ix.codebook
      } yield (q, j, cid, dotLocal(qv.slice(j * PqDsub, j * PqDsub + PqDsub), cs)))
        .toDF("q_id", "j", "cent_id", "qdot").fenced()
      def lutJ(j: Int): DataFrame = lutDf.where(col("j") === j)
        .select(col("q_id").as(s"q$j"), col("cent_id").as(s"k$j"),
          col("qdot").as(s"d$j"))
      val qn2 = broadcast(qs.map { case (q, qv) => (q, dotLocal(qv, qv)) }
        .toDF("qn_id", "qn2"))
      (0 until PqM).foldLeft(cand) { (df, j) =>
          df.join(broadcast(lutJ(j)),
            col("q_id") === col(s"q$j") && col(s"c$j") === col(s"k$j"))
        }
        .join(qn2, col("q_id") === col("qn_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          adcScore(j => col(s"d$j"), Some(col("cdot"))).as("score"))
    }
    override private[graft] def reranks = true
  }

  object Codec {
    /** Double vectors (512 B/vec), exact-cosine scoring; trained cells. */
    case object Full extends Codec("full", Trained) {
      private[graft] def payload = Seq("v")
      private[graft] def encode(e: DataFrame, assigned: DataFrame,
          cents: DataFrame): DataFrame =
        e.join(assigned, "vec_id")
          .select(col("list").cast("int").as("list"), col("vec_id"), col("v"))
      private[graft] def probeRows(spark: SparkSession, probes: Seq[Probe]): DataFrame = {
        import spark.implicits._
        probes.map(p => (p.q, p.cell, p.rank, p.qv)).toDF("q_id", "list", "pr", "qv")
      }
      private[graft] def score(cand: DataFrame, ix: Index,
          qs: Seq[(Long, Seq[Double])]): DataFrame =
        cand.select(col("q_id"), col("vec_id").as("n_id"),
          cosine(col("qv"), col("v")).as("score"))
    }

    /** int8 absmax codes + integer norm (72 B/vec), quantized-cosine
      * scoring with driver-quantized queries; trained cells. The
      * per-vector scale is not stored: it cancels in the cosine. */
    case object Q8 extends Codec("q8", Trained) {
      private[graft] def payload = Seq("c", "qn2")
      private[graft] def encode(e: DataFrame, assigned: DataFrame,
          cents: DataFrame): DataFrame =
        quantized(e.join(assigned, "vec_id"))
          .select(col("list").cast("int").as("list"), col("vec_id"),
            col("c").cast("array<tinyint>").as("c"),
            intDot(col("c"), col("c")).as("qn2"))
      private[graft] def probeRows(spark: SparkSession, probes: Seq[Probe]): DataFrame = {
        import spark.implicits._
        probes.map { p =>
          val (qc, qqn2) = quantizeLocal(p.qv)
          (p.q, p.cell, p.rank, qc, qqn2)
        }.toDF("q_id", "list", "pr", "qc", "qqn2")
      }
      private[graft] def score(cand: DataFrame, ix: Index,
          qs: Seq[(Long, Seq[Double])]): DataFrame =
        cand.select(col("q_id"), col("vec_id").as("n_id"),
          q8Score(col("c").cast("array<long>")).as("score"))
    }

    /** PQ codes of the raw vector; literal cells. */
    case object Pq extends PqCodec("pq", residual = false)

    /** PQ codes of the residual v − centroid(cell) (FAISS
      * `by_residual=true`); literal cells. */
    case object PqR extends PqCodec("pq_r", residual = true)

    val all: Seq[Codec] = Seq(Full, Q8, Pq, PqR)
  }

  /** A persisted index: the cell-partitioned posting store and the
    * driver-resident model it serves with — the k-bounded centroid
    * table, and for PQ the codebook — collected once per index
    * lifetime. `sfDir` locates the corpus the PQ rerank point-reads. */
  final case class Index(codec: Codec, coarse: Coarse, store: DataFrame,
      cents: Seq[(Int, Seq[Double])], codebook: Seq[(Int, Int, Seq[Double])],
      sfDir: String)

  /** Write `posting` (list INT, vec_id, payload…) partitioned by cell
    * under the session manifest root, and read it back. */
  private[graft] def persist(posting: DataFrame, s: SparkSession, d: String,
      kind: String, payload: Seq[String]): DataFrame =
    DedupManifest
      .persistPartitioned(posting, DedupManifest.path(s, kind, d), Seq("list"))
      .select(col("list").cast("int").as("list") +: col("vec_id") +:
        payload.map(col): _*)

  /** Build an index over the corpus of `d`: assign → encode → persist.
    *
    * @param kind store path tag under the session manifest root. A
    *   serving stream passes its own generation tag: DedupManifest
    *   retention reclaims a shared-path version after two further
    *   persists, which would pull files out from under a long-lived
    *   stream. */
  def build(s: SparkSession, d: String, codec: Codec, kind: String): Index = {
    val e = vectors(s, d).withColumn("n2", dot(col("v"), col("v")))
      .fenced() // assignment, encode and the model collect read it
    val (assigned, cents, centsDf) = codec.coarse.fit(e)
    val store = persist(codec.encode(e, assigned, centsDf), s, d, kind,
      codec.payload)
    Index(codec, codec.coarse, store, cents, codec.codebook(cents), d)
  }

  /** The serving batch: each equal (vec_id, v) row once, in id order. A
    * vec_id carrying two different vectors has no single answer. */
  private[graft] def distinctQueries(queries: Seq[(Long, Seq[Double])])
      : Seq[(Long, Seq[Double])] = {
    val qs = queries.distinct.sortBy(_._1)
    qs.groupBy(_._1).collectFirst { case (id, vs) if vs.size > 1 => id }
      .foreach { id =>
        throw new IllegalArgumentException(s"Ivf.serve: query vec_id $id " +
          "carries two different vectors in one batch — a query id must " +
          "name one vector")
      }
    qs
  }

  /** The pruned cell scan: the store's probed cells only (a literal
    * cell filter — static partition pruning on the cell-partitioned
    * store), joined to the broadcast probe rows. */
  private[graft] def scan(store: DataFrame, probes: Seq[Probe],
      rows: DataFrame): DataFrame =
    candidates(store.where(col("list").isin(probes.map(_.cell).distinct.sorted: _*)), rows)

  /** Driver probe selection for `qs`, then the pruned cell scan. */
  private[graft] def scanned(ix: Index, qs: Seq[(Long, Seq[Double])]): DataFrame = {
    val probed = probeLocal(qs, ix.cents, ix.coarse, ix.coarse.nprobe)
    scan(ix.store, probed, ix.codec.probeRows(ix.store.sparkSession, probed))
  }

  /** Codec-scored candidates (q_id, n_id, score) of `qs`' probed cells. */
  private[graft] def scored(ix: Index, qs: Seq[(Long, Seq[Double])]): DataFrame =
    ix.codec.score(scanned(ix, qs), ix, qs)

  /** Serve a batch of query vectors: (q_id, n_id, rn, sim), ordered. PQ
    * shortlists by ADC, collects the request-scale shortlist, and
    * reranks exactly by POINT-READING the shortlisted vectors
    * (`vec_id IN (…)` pushed to the corpus scan). */
  def serve(ix: Index, queries: Seq[(Long, Seq[Double])]): DataFrame = {
    val qs = distinctQueries(queries)
    val cand = scored(ix, qs)
    val ranked =
      if (!ix.codec.reranks) cand
      else {
        val spark = ix.store.sparkSession
        import spark.implicits._
        val short = shortlist(cand).as[(Long, Long)].collect()
        rerank(broadcast(short.toSeq.toDF("q_id", "n_id")),
          broadcast(qs.toDF("q_id", "qv")),
          vectors(spark, ix.sfDir)
            .where(col("vec_id").isin(short.map(_._2).distinct.sorted.toSeq: _*)))
      }
    servedRows(top5(ranked)).orderBy(col("q_id"), col("rn"))
  }
}
