package graft

import java.math.{BigDecimal => JBig, RoundingMode}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PortableHash
import graft.operators.Sgns

/** The distributed SGNS trainer pinned EXACTLY (not to a tolerance)
  * against a sequential in-memory reference implementing the same
  * decimal-grid arithmetic, plus loss monotonicity and the embedding
  * quality the DeepWalk pipeline exists for: co-occurring nodes end
  * up more similar than hash-random node pairs. */
class SgnsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val Dim = 4
  private val NegK = 3
  private val Lr = 0.5

  /** Sequential reference: full-batch SGNS on the identical grid —
    * decimal errors, decimal gradient products, order-free decimal
    * sums, round6 updates, digest-derived negatives. */
  private def reference(pairs: Seq[(Long, Long, Long)], dim: Int,
      iters: Int): (Array[Long], Array[Array[Double]], Array[Array[Double]]) = {
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted.toArray
    val v = nodes.length
    val nodeIdx = nodes.zipWithIndex.toMap
    var in = Array.tabulate(v, dim)((i, j) => Sgns.initComponent(nodes(i), "in", j))
    var out = Array.tabulate(v, dim)((i, j) => Sgns.initComponent(nodes(i), "out", j))
    // per-node example mass, mirroring fit's normalizer
    val massIn = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val massOut = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((c, x, wt) <- pairs; k <- 0 to NegK) {
      val t = if (k == 0) x
        else nodes((PortableHash.digest60(s"$c:$x:$k") % v).toInt)
      massIn(c) += wt
      massOut(t) += wt
    }
    for (_ <- 1 to iters) {
      val gIn = scala.collection.mutable.Map.empty[(Int, Int), JBig]
        .withDefaultValue(JBig.ZERO)
      val gOut = scala.collection.mutable.Map.empty[(Int, Int), JBig]
        .withDefaultValue(JBig.ZERO)
      for ((c, x, wt) <- pairs; k <- 0 to NegK) {
        val t =
          if (k == 0) x
          else nodes((PortableHash.digest60(s"$c:$x:$k") % v).toInt)
        val y = if (k == 0) 1.0 else 0.0
        val (ci, ti) = (nodeIdx(c), nodeIdx(t))
        var m = 0.0
        for (j <- 0 until dim) m += in(ci)(j) * out(ti)(j) // l->r, like the kernel
        val p = 1.0 / (1.0 + math.exp(-m))
        val e = new JBig(java.lang.Double.toString(p - y)).setScale(6, RoundingMode.HALF_UP) // Spark round() is toString-based for doubles
        val w = new JBig(wt)
        for (j <- 0 until dim) {
          gIn((ci, j)) = gIn((ci, j)).add(
            e.multiply(new JBig(out(ti)(j).toString).setScale(6)).multiply(w))
          gOut((ti, j)) = gOut((ti, j)).add(
            e.multiply(new JBig(in(ci)(j).toString).setScale(6)).multiply(w))
        }
      }
      in = Array.tabulate(v, dim)((i, j) =>
        Sgns.round6(in(i)(j) - Lr * gIn((i, j)).doubleValue / massIn(nodes(i))))
      out = Array.tabulate(v, dim)((i, j) =>
        Sgns.round6(out(i)(j) - Lr * gOut((i, j)).doubleValue / massOut(nodes(i))))
    }
    (nodes, in, out)
  }

  private val toyPairs: Seq[(Long, Long, Long)] = Seq(
    (1L, 2L, 3L), (2L, 1L, 3L), (1L, 3L, 1L), (3L, 1L, 1L),
    (4L, 5L, 2L), (5L, 4L, 2L), (4L, 6L, 1L), (6L, 4L, 1L),
    (2L, 3L, 2L), (3L, 2L, 2L), (5L, 6L, 2L), (6L, 5L, 2L))

  test("fit equals the sequential reference bit-for-bit") {
    val (model, losses) = Sgns.fit(
      toyPairs.toDF("center", "context", "wt"), dim = Dim, iters = 4,
      negK = NegK, lr = Lr)
    val (nodes, in, out) = reference(toyPairs, Dim, iters = 4)
    assert(model.nodes.sameElements(nodes))
    for (i <- nodes.indices) {
      assert(model.in(i).sameElements(in(i)), s"in-vector of node ${nodes(i)}")
      assert(model.out(i).sameElements(out(i)), s"out-vector of node ${nodes(i)}")
    }
    assert(losses.size == 4)
  }

  test("a past-MaxVocab pair table fails loudly BEFORE any model " +
      "allocation or broadcast") {
    // MaxVocab+1 distinct nodes in a chain pair table: the vocabulary
    // collect (8 MB of longs — harmless) happens first, then the
    // guard must fire before the V×dim weight arrays exist
    val v = Sgns.MaxVocab + 1
    val pairs = spark.range(v - 1L)
      .select(col("id").as("center"), (col("id") + 1L).as("context"),
        lit(1L).as("wt"))
    val e = intercept[IllegalArgumentException] {
      Sgns.fit(pairs, dim = Dim, iters = 1, negK = NegK, lr = Lr)
    }
    assert(e.getMessage.contains("MaxVocab"), e.getMessage)
  }

  test("an empty pair table fails with the named vocabulary error " +
      "before any training job") {
    val e = intercept[IllegalArgumentException] {
      Sgns.fit(Seq.empty[(Long, Long, Long)].toDF("center", "context", "wt"),
        dim = Dim, iters = 1, negK = NegK, lr = Lr)
    }
    assert(e.getMessage.contains("need at least 2 nodes, got 0"), e.getMessage)
  }

  test("a pairs frame whose rows change between fit's scans fails with " +
      "the named determinism error, not a raw NullPointerException") {
    // every row's context reads true on the vocabulary scan and null on
    // every later scan (the skeleton build)
    SgnsFlakyContext.calls.set(0L)
    val n = toyPairs.size.toLong
    val flaky = udf { (c: Long) =>
      if (SgnsFlakyContext.calls.incrementAndGet() > n) null
      else java.lang.Long.valueOf(c)
    }.asNondeterministic()
    val pairs = toyPairs.toDF("center", "ctx", "wt")
      .select(col("center"), flaky(col("ctx")).as("context"), col("wt"))
    val e = intercept[Exception] {
      Sgns.fit(pairs, dim = Dim, iters = 1, negK = NegK, lr = Lr)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").toSeq
    assert(msgs.exists(_.contains("fit requires a deterministic pairs frame")),
      msgs.mkString("\n"))
  }

  test("training loss decreases") {
    val (_, losses) = Sgns.fit(
      toyPairs.toDF("center", "context", "wt"), dim = Dim, iters = 6,
      negK = NegK, lr = Lr)
    assert(losses.last < losses.head,
      s"loss did not improve: ${losses.head} -> ${losses.last}")
  }

  test("walk-corpus embeddings: co-occurring nodes beat hash-random pairs " +
      "at q_graph_embed's SHIPPED operating point") {
    import graft.queries.GraphQueries
    val pairs = SparkEntry.queries("q_graph_walk_pairs")(spark, TestSpark.Sf)
      .groupBy(col("center"), col("context"))
      .agg(sum(col("n_pairs")).as("wt"))
    // the query's own knobs — spec and query cannot drift
    val (model, _) = Sgns.fit(pairs, dim = GraphQueries.EmbedDim,
      iters = GraphQueries.EmbedIters, negK = GraphQueries.EmbedNegK,
      lr = GraphQueries.EmbedLr)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (j <- a.indices) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j) }
      d / math.sqrt(na * nb)
    }
    val co = pairs.select(col("center"), col("context"))
      .as[(Long, Long)].collect()
    val coMean = co.map { case (a, b) =>
      cos(model.vector(a).get, model.vector(b).get) }.sum / co.length
    val v = model.nodes.length
    val rndMean = model.nodes.zipWithIndex.map { case (n, i) =>
      // hash-random partner, self excluded (a self-pair is cos 1)
      val m = model.nodes(((i + 1 + PortableHash.digest60(s"rnd:$n") % (v - 1)) % v).toInt)
      cos(model.vector(n).get, model.vector(m).get)
    }.sum / v
    assert(coMean > rndMean,
      s"no separation: co-occur mean $coMean vs random mean $rndMean")
  }

  test("BIASED-corpus embeddings separate at the same shipped operating " +
      "point (q_graph_embed_biased — the closed node2vec loop, r15)") {
    import graft.queries.GraphQueries
    // sf0.01, NOT TestSpark.Sf: the sf0.001 walk corpus has vocab 4
    // (one seed's neighborhood), where the hash-random partner is
    // almost surely also a co-occurring neighbor — co≈rnd by
    // construction and the verdict's sign is sampling luck (measured:
    // first-order +, biased − at sf0.001; BOTH separate cleanly at
    // sf0.01 (+0.13 / +0.29) and sf0.1 (+0.22 / +0.20)). sf0.01 is
    // also the SF the driver's oracle gate actually checks embed_ok at.
    val pairs = GraphQueries.biasedWalkPairsOf(spark, "/root/testdata/sf0.01")
      .groupBy(col("center"), col("context"))
      .agg(sum(col("n_pairs")).as("wt"))
    val (model, _) = Sgns.fit(pairs, dim = GraphQueries.EmbedDim,
      iters = GraphQueries.EmbedIters, negK = GraphQueries.EmbedNegK,
      lr = GraphQueries.EmbedLr)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (j <- a.indices) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j) }
      d / math.sqrt(na * nb)
    }
    val co = pairs.select(col("center"), col("context"))
      .as[(Long, Long)].collect()
    val coMean = co.map { case (a, b) =>
      cos(model.vector(a).get, model.vector(b).get) }.sum / co.length
    val v = model.nodes.length
    val rndMean = model.nodes.zipWithIndex.map { case (n, i) =>
      val m = model.nodes(((i + 1 + PortableHash.digest60(s"rnd:$n") % (v - 1)) % v).toInt)
      cos(model.vector(n).get, model.vector(m).get)
    }.sum / v
    assert(coMean > rndMean,
      s"no separation on the biased corpus: co-occur mean $coMean vs random mean $rndMean")
  }
}

/** Driver-JVM call counter for the nondeterministic-pairs spec (an
  * object, so local-mode tasks share it instead of a serialized copy). */
object SgnsFlakyContext {
  val calls = new java.util.concurrent.atomic.AtomicLong
}
