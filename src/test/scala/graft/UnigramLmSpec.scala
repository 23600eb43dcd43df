package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.UnigramLm
import graft.queries.TextQueries

/** The distributed unigram-LM tokenizer trainer pinned EXACTLY
  * against a sequential in-memory reference running the same
  * grid/micros arithmetic and the same EM schedule — plus the
  * tie-break contract, the closure property, and losslessness of the
  * corpus-wide apply. */
class UnigramLmSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Independent Viterbi: explicit candidate list per position,
    * chosen by the documented total order (score desc, piece count
    * asc, last-piece length desc). */
  private def refViterbi(w: String, micros: Map[String, Long],
      maxLen: Int, unk: Long): Seq[String] = {
    if (w.isEmpty) return Seq.empty
    val n = w.length
    // best(i) = (score, count, cut list)
    val best = new Array[(Long, Int, List[Int])](n + 1)
    best(0) = (0L, 0, List(0))
    for (i <- 1 to n) {
      val cands = (math.max(0, i - maxLen) until i).flatMap { j =>
        if (best(j) == null) None
        else {
          val piece = w.substring(j, i)
          val lp = micros.get(piece)
            .orElse(if (i - j == 1) Some(unk) else None)
          lp.map { v =>
            val (s, c, cuts) = best(j)
            // sort key: score DESC, count ASC, last-piece length DESC
            ((-(s + v), c + 1, -(i - j)), (s + v, c + 1, i :: cuts))
          }
        }
      }
      if (cands.nonEmpty) best(i) = cands.minBy(_._1)._2
    }
    val cuts = best(n)._3.reverse
    cuts.zip(cuts.tail).map { case (a, b) => w.substring(a, b) }
  }

  /** INDEPENDENT loss-based prune (Kudo §3.2 — the r17 exact shrink
    * rule): alternative decompositions by exhaustive enumeration
    * (candidate pieces are ≤ maxLen chars, so enumeration is cheap
    * and shares no code with the operator's DP), loss on the same
    * integer-micros grid, keep top (loss desc, piece asc), chars
    * never prune. */
  private def refPruneByLoss(t: Seq[(String, Long)], v: Int)
      : Seq[(String, Long)] = {
    val (chars, multi) = t.partition(_._1.length == 1)
    val keep = math.max(0, v - chars.length)
    if (multi.length <= keep) return chars ++ multi
    val total = t.map(_._2).sum.toDouble
    val micros = t.map { case (p, c) =>
      p -> math.round(UnigramLm.round6(StrictMath.log(c / total)) * 1e6)
    }.toMap
    val unk = micros.values.min - 1000000L
    def best(s: String, excludeWhole: Boolean): Option[Long] =
      if (s.isEmpty) Some(0L)
      else {
        val opts = (1 to s.length).flatMap { l =>
          if (excludeWhole && l == s.length) None
          else micros.get(s.substring(0, l))
            .orElse(if (l == 1) Some(unk) else None)
            .flatMap(lp => best(s.substring(l), excludeWhole = false)
              .map(lp + _))
        }
        opts.reduceOption(_ max _)
      }
    val loss = multi.map { case (p, c) =>
      p -> (BigInt(c) * BigInt(micros(p) - best(p, excludeWhole = true).get))
    }.toMap
    chars ++ multi.sortBy { case (p, _) => (-loss(p), p) }.take(keep)
  }

  /** Sequential reference trainer: same seed rule, same EM schedule,
    * same grid — built over collected word counts with plain
    * collections. */
  private def refFit(wf: Seq[(String, Long)], targetV: Int, iters: Int,
      maxLen: Int, seedSize: Int): (Seq[String], Seq[Double]) = {
    val words = wf.filter(_._1.nonEmpty)
    def subCounts: Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- words; i <- 0 until w.length;
           l <- 1 to math.min(maxLen, w.length - i)) {
        val p = w.substring(i, i + l)
        m(p) = m.getOrElse(p, 0L) + f
      }
      m.toMap
    }
    val all = subCounts
    val top = all.toSeq.sortBy { case (p, c) => (-c, p) }.take(seedSize)
    val chars = all.toSeq.filter(_._1.length == 1)
    var table: Seq[(String, Long)] = (top ++ chars).groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).max }.toSeq.sortBy(_._1)
    def micros(t: Seq[(String, Long)]): (Map[String, Long], Long) = {
      val total = t.map(_._2).sum.toDouble
      val m = t.map { case (p, c) =>
        p -> math.round(UnigramLm.round6(StrictMath.log(c / total)) * 1e6) }.toMap
      (m, m.values.min - 1000000L)
    }
    def estep(t: Seq[(String, Long)]): Map[String, Long] = {
      val (m, unk) = micros(t)
      val counts = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- words; p <- refViterbi(w, m, maxLen, unk))
        counts(p) = counts.getOrElse(p, 0L) + f
      counts.toMap
    }
    def mstep(t: Seq[(String, Long)], c: Map[String, Long]) =
      t.flatMap { case (p, _) =>
        val n = c.getOrElse(p, 0L)
        if (n > 0L) Some(p -> n)
        else if (p.length == 1) Some(p -> 1L) else None
      }
    for (_ <- 1 to iters) {
      table = mstep(table, estep(table))
      table = refPruneByLoss(table, math.max(targetV, table.length * 3 / 4))
    }
    table = refPruneByLoss(table, targetV)
    table = mstep(table, estep(table))
    val total = table.map(_._2).sum.toDouble
    val sorted = table.sortBy(_._1)
    (sorted.map(_._1),
      sorted.map { case (_, c) => UnigramLm.round6(StrictMath.log(c / total)) })
  }

  private def corpusWf: Seq[(String, Long)] =
    TextQueries.wordFreqOf(spark, TestSpark.Sf)
      .as[(String, Long)].collect().toSeq

  test("distributed fit equals the sequential reference EXACTLY at the " +
      "shipped operating point (pieces and grid log-probs)") {
    val model = UnigramLm.fit(
      TextQueries.wordFreqOf(spark, TestSpark.Sf),
      targetV = TextQueries.UniTargetV, iters = TextQueries.UniIters,
      maxLen = TextQueries.UniMaxLen, seedSize = TextQueries.UniSeed)
    val (refPieces, refLogp) = refFit(corpusWf,
      TextQueries.UniTargetV, TextQueries.UniIters,
      TextQueries.UniMaxLen, TextQueries.UniSeed)
    assert(model.pieces.toSeq == refPieces)
    assert(model.logp.toSeq == refLogp)
    // the trained vocabulary is multi-piece, not a char-only collapse
    assert(model.pieces.count(_.length > 1) > 10,
      s"only ${model.pieces.count(_.length > 1)} multi-char pieces survived")
  }

  /** Sequential soft-EM reference: the SHARED per-word lattice
    * function (bit-portable by construction — fixed evaluation order,
    * StrictMath kernels) with a plain sequential integer-micros
    * aggregation; what the distributed path must reproduce EXACTLY is
    * the cross-row arithmetic, which is order-free integer sums. */
  private def refSoftFit(wf: Seq[(String, Long)], targetV: Int, iters: Int,
      maxLen: Int, seedSize: Int): (Seq[String], Seq[Double]) = {
    val words = wf.filter(_._1.nonEmpty)
    val all = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- words; i <- 0 until w.length;
           l <- 1 to math.min(maxLen, w.length - i)) {
        val p = w.substring(i, i + l)
        m(p) = m.getOrElse(p, 0L) + f
      }
      m.toMap
    }
    val top = all.toSeq.sortBy { case (p, c) => (-c, p) }.take(seedSize)
    val chars = all.toSeq.filter(_._1.length == 1)
    var table: Seq[(String, Long)] = (top ++ chars).groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).max }.toSeq.sortBy(_._1)
    def estep(t: Seq[(String, Long)]): Map[String, Long] = {
      val m = UnigramLm.toModel(t)
      val counts = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- words; (p, um) <- UnigramLm.expectedCounts(w, m))
        counts(p) = counts.getOrElse(p, 0L) + Math.multiplyExact(um, f)
      counts.toMap
    }
    def mstep(t: Seq[(String, Long)], c: Map[String, Long]) =
      t.flatMap { case (p, _) =>
        val n = c.getOrElse(p, 0L)
        if (n > 0L) Some(p -> n)
        else if (p.length == 1) Some(p -> 1L) else None
      }
    for (_ <- 1 to iters) {
      table = mstep(table, estep(table))
      table = refPruneByLoss(table,
        math.max(targetV, table.length * 3 / 4))
    }
    table = refPruneByLoss(table, targetV)
    val m = UnigramLm.toModel(mstep(table, estep(table)))
    (m.pieces.toSeq, m.logp.toSeq)
  }

  test("distributed softFit equals the sequential soft-EM reference " +
      "EXACTLY, and the soft model differs from the hard model " +
      "(expected counts actually flowed)") {
    val model = UnigramLm.softFit(
      TextQueries.wordFreqOf(spark, TestSpark.Sf),
      targetV = TextQueries.UniTargetV, iters = TextQueries.UniIters,
      maxLen = TextQueries.UniMaxLen, seedSize = TextQueries.UniSeed)
    val (refPieces, refLogp) = refSoftFit(corpusWf,
      TextQueries.UniTargetV, TextQueries.UniIters,
      TextQueries.UniMaxLen, TextQueries.UniSeed)
    assert(model.pieces.toSeq == refPieces)
    assert(model.logp.toSeq == refLogp)
    assert(model.pieces.count(_.length > 1) > 10,
      s"only ${model.pieces.count(_.length > 1)} multi-char pieces survived")
    val hard = UnigramLm.fit(
      TextQueries.wordFreqOf(spark, TestSpark.Sf),
      targetV = TextQueries.UniTargetV, iters = TextQueries.UniIters,
      maxLen = TextQueries.UniMaxLen, seedSize = TextQueries.UniSeed)
    assert(model.pieces.toSeq != hard.pieces.toSeq ||
        model.logp.toSeq != hard.logp.toSeq,
      "soft and hard EM produced bit-identical models — the soft " +
        "E-step is not actually soft")
  }

  test("per-word expected counts: posterior mass conserves and orders " +
      "by path probability (independent of the lattice code path)") {
    def m(entries: (String, Double)*) = UnigramLm.Model(
      entries.map(_._1).sorted.toArray,
      entries.sortBy(_._1).map(_._2).toArray)
    // 'ab' has two segmentations: [ab] and [a][b]. The posterior is a
    // 2-way softmax; expected counts must satisfy, up to the 1-micro
    // grid: gamma(a) == gamma(b) (they ride the same path) and
    // gamma(ab) + gamma(a) == 1 (the word is fully covered).
    val counts = UnigramLm.expectedCounts("ab",
      m("a" -> -1.0, "b" -> -1.5, "ab" -> -2.0)).toMap
    assert(counts.keySet == Set("a", "b", "ab"))
    assert(counts("a") == counts("b"))
    assert(math.abs(counts("ab") + counts("a") - 1000000L) <= 1L)
    // log P([ab]) = -2.0 vs log P([a][b]) = -2.5 → the one-piece path
    // carries more posterior mass
    assert(counts("ab") > counts("a"))
    // flipping the balance flips the ordering
    val c2 = UnigramLm.expectedCounts("ab",
      m("a" -> -0.5, "b" -> -0.5, "ab" -> -2.0)).toMap
    assert(c2("ab") < c2("a"))
    // a Viterbi-invisible piece still accrues soft mass: every lattice
    // edge with nonzero posterior appears
    assert(counts.values.forall(_ > 0L))
  }

  test("loss-based pruning (Kudo §3.2 exact) disagrees with the count " +
      "proxy where it should: a low-count piece with no cheap " +
      "alternative outranks a high-count piece that decomposes freely") {
    // counts: a,b frequent → 'ab' (count 10) has a CHEAP alternative
    // [a][b], so removing it barely costs likelihood; 'zz' (count 8)
    // decomposes only as [z][z] with z rare → removing it is
    // expensive. Count-ranking keeps ab; loss-ranking keeps zz.
    val t = Seq("a" -> 100L, "b" -> 100L, "z" -> 1L, "zz" -> 8L, "ab" -> 10L)
    val byCount = UnigramLm.pruneTo(t, 4).map(_._1).toSet
    val byLoss = UnigramLm.pruneByLoss(t, 4).map(_._1).toSet
    assert(byCount == Set("a", "b", "z", "ab"),
      s"count proxy picked $byCount — the contrast fixture drifted")
    assert(byLoss == Set("a", "b", "z", "zz"),
      s"loss rule picked $byLoss — expected the expensive-to-remove zz")
    // the independent enumeration reference agrees with the operator's
    // DP on the same fixture
    assert(refPruneByLoss(t, 4).map(_._1).toSet == byLoss)
    // chars never prune even under a brutal target (closure floor)
    assert(UnigramLm.pruneByLoss(t, 1).map(_._1).toSet == Set("a", "b", "z"))
    // no-op when everything fits
    assert(UnigramLm.pruneByLoss(t, 5).toSet == t.toSet)
  }

  test("tie-break contract: equal scores fall to fewer pieces, then to " +
      "the longer last piece") {
    def m(entries: (String, Double)*) = UnigramLm.Model(
      entries.map(_._1).sorted.toArray,
      entries.sortBy(_._1).map(_._2).toArray)
    // ab+cd ties abcd on score (-2.0) → fewer pieces wins
    assert(UnigramLm.viterbi("abcd",
      m("ab" -> -1.0, "cd" -> -1.0, "abcd" -> -2.0,
        "a" -> -9.0, "b" -> -9.0, "c" -> -9.0, "d" -> -9.0)) == Seq("abcd"))
    // score dominates: make the split strictly better
    assert(UnigramLm.viterbi("abcd",
      m("ab" -> -0.5, "cd" -> -0.5, "abcd" -> -2.0,
        "a" -> -9.0, "b" -> -9.0, "c" -> -9.0, "d" -> -9.0)) ==
      Seq("ab", "cd"))
    // a|bc ties ab|c on score AND count → longer LAST piece wins
    assert(UnigramLm.viterbi("abc",
      m("a" -> -1.0, "bc" -> -1.0, "ab" -> -1.0, "c" -> -1.0,
        "b" -> -9.0)) == Seq("a", "bc"))
    // unseen character: UNK-as-char fallback keeps the word encodable
    assert(UnigramLm.viterbi("axb",
      m("a" -> -1.0, "b" -> -1.0)) == Seq("a", "x", "b"))
  }

  test("closure: single characters survive any prune pressure " +
      "(targetV below the alphabet size)") {
    val wf = Seq(("abab", 10L), ("cd", 3L)).toDF("w", "f")
    val model = UnigramLm.fit(wf, targetV = 1, iters = 1,
      maxLen = 4, seedSize = 16)
    assert(Set("a", "b", "c", "d").subsetOf(model.pieces.toSet),
      s"alphabet pruned: ${model.pieces.toSeq}")
  }

  test("corpus-wide apply is lossless and in-vocabulary on the real " +
      "corpus (the q_unigram_encode verdicts, re-derived)") {
    val docs = Tables(spark, TestSpark.Sf, "documents")
    val model = UnigramLm.fit(
      TextQueries.wordFreqOf(spark, TestSpark.Sf),
      targetV = TextQueries.UniTargetV, iters = TextQueries.UniIters,
      maxLen = TextQueries.UniMaxLen, seedSize = TextQueries.UniSeed)
    val vocab = model.pieces.toSet
    val enc = UnigramLm.encode(docs, "text", model)
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        translate(lower(col("text")), " ", "").as("flat")), "doc_id")
      .select(col("doc_id"), col("pieces"), col("flat"))
      .as[(Long, Seq[String], String)].collect()
    assert(enc.nonEmpty)
    for ((id, pieces, flat) <- enc) {
      assert(pieces.mkString("") == flat, s"doc $id not lossless")
      // same train/apply corpus → closure means zero UNK fallbacks
      val oov = pieces.filterNot(vocab.contains)
      assert(oov.isEmpty, s"doc $id out-of-vocabulary pieces: $oov")
    }
    // compression: the EM vocabulary beats char-splitting
    val nPieces = enc.iterator.map(_._2.length.toLong).sum
    val nChars = enc.iterator.map(_._3.length.toLong).sum
    assert(nPieces < nChars,
      s"no compression: $nPieces pieces over $nChars chars")
  }

  test("E-steps over a zero-partition word table merge to empty counts " +
      "instead of failing with \"empty collection\"") {
    val wf = Seq.empty[(String, Long)].toDF("w", "f")
    assert(wf.rdd.getNumPartitions == 0, "fixture must have no partitions")
    val prep = UnigramLm.Prepared(wf, Seq("a" -> 3L, "ab" -> 2L, "b" -> 1L))
    // no piece is counted, so only the single-character closure floor
    // survives both trainers
    for (m <- Seq(UnigramLm.fitPrepared(prep, targetV = 2, iters = 1),
        UnigramLm.softFitPrepared(prep, targetV = 2, iters = 1)))
      assert(m.pieces.toSeq == Seq("a", "b"))
  }

  test("STREAMED apply equals the batch encode across micro-batch " +
      "splits — a fixed model makes tokenization a stateless mark " +
      "(the StreamingLogreg stance, no new stream operator)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val model = UnigramLm.fit(
      TextQueries.wordFreqOf(spark, TestSpark.Sf),
      targetV = TextQueries.UniTargetV, iters = TextQueries.UniIters,
      maxLen = TextQueries.UniMaxLen, seedSize = TextQueries.UniSeed)
    val docs = Tables(spark, TestSpark.Sf, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val q = UnigramLm.encode(mem.toDF.toDF("doc_id", "text"), "text", model)
      .writeStream.format("memory").queryName("suni")
      .outputMode("append").start()
    try {
      val groups = docs.grouped(docs.length / 3 + 1).toSeq
      assert(groups.size >= 3, "need several splits or the test is vacuous")
      groups.foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      val streamed = spark.table("suni")
        .as[(Long, Seq[String], Long)].collect().toSeq.sortBy(_._1)
      val batch = UnigramLm.encode(
          Tables(spark, TestSpark.Sf, "documents"), "text", model)
        .as[(Long, Seq[String], Long)].collect().toSeq.sortBy(_._1)
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }
}
