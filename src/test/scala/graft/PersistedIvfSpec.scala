package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ivf
import graft.operators.Ivf.Codec
import graft.queries.SimilarityQueries

/** The persisted IVF index: durable partitioned posting lists whose
  * serving scan reads ONLY the probed cells, returning the identical
  * rows to the in-memory trained-IVF plan. */
class PersistedIvfSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("persisted-index serving equals the in-memory trained-IVF plan " +
      "row-for-row (same model, same probe rule, same rerank)") {
    val persisted = SimilarityQueries.knnIvfPersisted(spark, TestSpark.Sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val inMemory = SimilarityQueries.knnIvfTrained(spark, TestSpark.Sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(persisted.nonEmpty)
    assert(persisted == inMemory)
  }

  test("the serving scan partition-prunes to the probed cells: a " +
      "nonempty PartitionFilters on the store scan, and the store " +
      "layout is one directory per cell") {
    val df = SimilarityQueries.knnIvfPersisted(spark, TestSpark.Sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the store scan must carry the literal cell filter as a PARTITION
    // filter (pruned at file listing), not only a data filter
    assert(plan.contains("PartitionFilters: ["),
      "no PartitionFilters on any scan — the store is not partitioned")
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      "no nonempty PartitionFilters — the cell filter did not prune")
    // layout: the newest store version has one list=<cell> directory
    // per trained cell
    val root = new java.io.File(
      graft.operators.DedupManifest.path(spark, "ivf", TestSpark.Sf))
    val newest = root.listFiles().filter(_.isDirectory)
      .filter(_.getName.matches("v\\d+"))
      .maxBy(_.getName.drop(1).toLong)
    val cellDirs = newest.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("list=")).toSeq
    assert(cellDirs.nonEmpty && cellDirs.size <= 16,
      s"unexpected cell layout: $cellDirs")
  }

  test("incremental base+delta: the stores partition the corpus (base = " +
      "prior ids, delta = new ids on frozen centroids), BOTH serving " +
      "scans prune, and a rebuild serves identically") {
    import graft.operators.DedupManifest
    val r1 = SimilarityQueries.knnIvfIncremental(spark, TestSpark.Sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val df2 = SimilarityQueries.knnIvfIncremental(spark, TestSpark.Sf)
    val r2 = df2.as[(Long, Long, Int, Double)].collect().toSeq
    assert(r1.nonEmpty && r1 == r2,
      "a rebuild (fresh store versions) changed the served answers")
    // both the base and the delta scan carry a nonempty partition filter
    val plan = df2.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]".r.findAllIn(plan).size
    assert(pruned >= 2, s"expected both stores pruned, found $pruned:\n$plan")
    // store contents: base holds exactly the prior ids, delta exactly
    // the new batch, disjoint, covering the corpus
    val all = Tables(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id")).as[Long].collect().toSet
    val split = (4L * all.size + 4L) / 5L
    val baseIds = DedupManifest.read(spark,
        DedupManifest.path(spark, "ivfbase", TestSpark.Sf))
      .select(col("vec_id")).as[Long].collect().toSet
    val deltaIds = DedupManifest.read(spark,
        DedupManifest.path(spark, "ivfdelta", TestSpark.Sf))
      .select(col("vec_id")).as[Long].collect().toSet
    assert(baseIds == all.filter(_ < split), "base != prior corpus")
    assert(deltaIds == all.filter(_ >= split), "delta != new batch")
    // new vectors are actually retrievable through the incremental
    // index: serving with the delta REMOVED must lose at least one
    // answer (the index didn't silently ignore the new batch)
    assert(r1.exists { case (_, nId, _, _) => deltaIds.contains(nId) },
      "no served neighbor comes from the delta — the new batch is " +
        "invisible to queries (weak corpus? widen the check)")
  }

  test("compaction is invisible to serving: base ∪ delta re-persisted " +
      "as ONE store answers identically to the live base+delta union") {
    import graft.operators.DedupManifest
    val live = SimilarityQueries.knnIvfIncremental(spark, TestSpark.Sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    // cell membership is final at assignment time, so compaction is
    // the same persist call over the union — file movement only
    def cells(tag: String) = DedupManifest.read(spark,
        DedupManifest.path(spark, tag, TestSpark.Sf))
      .select(col("list").cast("int").as("list"), col("vec_id"), col("v"))
    val compacted = DedupManifest.persistPartitioned(
        cells("ivfbase").union(cells("ivfdelta")),
        DedupManifest.path(spark, "ivfcompact", TestSpark.Sf), Seq("list"))
      .select(col("list").cast("int").as("list"), col("vec_id"), col("v"))
    // frozen centroids: re-derive the prior-trained model exactly as
    // the incremental build does (KMeans is deterministic)
    val split = (4L * Tables(spark, TestSpark.Sf, "embeddings").count() + 4L) / 5L
    val prior = Ivf.vectors(spark, TestSpark.Sf)
      .where(col("vec_id") < split)
    val (_, cents, _) = graft.operators.KMeans.fit(
      prior.select(col("vec_id"), col("v")),
      k = Ivf.IvfC, maxIter = 5)
    val served = Ivf.serve(Ivf.Index(Codec.Full, Ivf.Trained, compacted,
        Ivf.centroids(cents), Nil, TestSpark.Sf),
        Ivf.queries(spark, TestSpark.Sf))
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(live.nonEmpty && served == live,
      "compaction changed served answers")
  }

  test("maintenance policy: the planner's rewrite set from the REAL " +
      "base/delta manifest, executed, serves answer-identically (the " +
      "decision half of the compaction pin)") {
    import graft.operators.DedupManifest
    val live = SimilarityQueries.knnIvfIncremental(spark, TestSpark.Sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    def store(tag: String) = DedupManifest.read(spark,
        DedupManifest.path(spark, tag, TestSpark.Sf))
      .select(col("list").cast("int").as("list"), col("vec_id"), col("v"))
    val base = store("ivfbase")
    val delta = store("ivfdelta")
    // the REAL manifest: per-cell posting rows + the stores' actual
    // per-cell parquet file counts (newest version)
    def filesPerCell(tag: String): Map[Int, Long] = {
      val root = new java.io.File(
        DedupManifest.path(spark, tag, TestSpark.Sf))
      val newest = root.listFiles().filter(_.isDirectory)
        .filter(_.getName.matches("v\\d+")).maxBy(_.getName.drop(1).toLong)
      newest.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("list=")).map { d0 =>
          d0.getName.stripPrefix("list=").toInt ->
            d0.listFiles().count(_.getName.endsWith(".parquet")).toLong
        }.toMap
    }
    val (fb, fd) = (filesPerCell("ivfbase"), filesPerCell("ivfdelta"))
    def counts(st: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      st.groupBy(col("list")).agg(count(lit(1)).as("n"))
        .as[(Int, Long)].collect().toMap
    val (nb, nd) = (counts(base), counts(delta))
    val manifest = (nb.keySet ++ nd.keySet).toSeq.sorted.map { c =>
      (c, nb.getOrElse(c, 0L), nd.getOrElse(c, 0L),
        fb.getOrElse(c, 0L), fd.getOrElse(c, 0L))
    }.toDF("list", "n_base", "n_delta", "files_base", "files_delta")
    val plan = SimilarityQueries.ivfCompactPlan(manifest)
      .as[(Int, Long, Long, Long, Long, Double, String)].collect().toSeq
    assert(plan.map(_._1).toSet == (nb.keySet ++ nd.keySet),
      "the plan dropped or invented cells")
    val rewrite = plan.filter(_._7 == "rewrite").map(_._1).toSet
    assert(rewrite.nonEmpty,
      "no cell flagged — the execution pin would be vacuous (at spec " +
        "scale every delta cell fragments past the file trigger)")
    // EXECUTE the rewrite set: flagged cells merge base+delta into
    // the next base version; unflagged delta files stay where they are
    val flagged = (c: org.apache.spark.sql.Column) =>
      c.isin(rewrite.toSeq: _*)
    val newBase = DedupManifest.persistPartitioned(
        base.where(flagged(col("list")))
          .union(delta.where(flagged(col("list"))))
          .union(base.where(!flagged(col("list")))),
        DedupManifest.path(spark, "ivfpolicy", TestSpark.Sf), Seq("list"))
      .select(col("list").cast("int").as("list"), col("vec_id"), col("v"))
    val split =
      (4L * Tables(spark, TestSpark.Sf, "embeddings").count() + 4L) / 5L
    val prior = Ivf.vectors(spark, TestSpark.Sf)
      .where(col("vec_id") < split)
    val (_, cents, _) = graft.operators.KMeans.fit(
      prior.select(col("vec_id"), col("v")),
      k = Ivf.IvfC, maxIter = 5)
    val served = Ivf.serve(Ivf.Index(Codec.Full, Ivf.Trained,
        newBase.union(delta.where(!flagged(col("list")))),
        Ivf.centroids(cents), Nil, TestSpark.Sf),
        Ivf.queries(spark, TestSpark.Sf))
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(live.nonEmpty && served == live,
      "executing the maintenance plan changed served answers")
  }

  test("STREAMED serving over the persisted index equals the batch " +
      "query across micro-batch splits (per-query independence — the " +
      "StreamingRerank stance)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch = SimilarityQueries.knnIvfPersisted(spark, TestSpark.Sf)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val qs = Ivf.queries(spark, TestSpark.Sf)
    assert(qs.size >= 3, "need several queries or the split is vacuous")
    val mem = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sivf").toString
    val q = graft.streaming.StreamingIvf.start(spark,
        mem.toDF.toDF("vec_id", "v"), TestSpark.Sf, ckpt) { out =>
      got ++= out.as[(Long, Long, Int, Double)].collect()
    }
    try {
      qs.grouped(qs.size / 3 + 1).foreach { g =>
        mem.addData(g: _*)
        q.processAllAvailable()
      }
      assert(got.sortBy(r => (r._1, r._3)).toSeq ==
        batch.sortBy(r => (r._1, r._3)),
        "streamed serving diverged from the batch index answers")
      // STORE-LIFETIME (r15 advice): the stream pinned its own store
      // generation at build time; rebuilding the SHARED query-path
      // store twice (two persists of the 'ivf' path — exactly the
      // DedupManifest retention window) must not reclaim files under
      // the running stream
      got.clear()
      SimilarityQueries.knnIvfPersisted(spark, TestSpark.Sf).count()
      SimilarityQueries.knnIvfPersisted(spark, TestSpark.Sf).count()
      mem.addData(qs.head)
      q.processAllAvailable() // would die FileNotFoundException pre-fix
      assert(q.exception.isEmpty,
        s"stream died after shared-store rebuilds: ${q.exception}")
      assert(got.sortBy(r => (r._1, r._3)).toSeq ==
        batch.filter(_._1 == qs.head._1).sortBy(r => (r._1, r._3)),
        "post-rebuild serving diverged")
    } finally q.stop()
    // STORE-RECLAMATION (r16 advice): the stream's own single-persist
    // generation is invisible to DedupManifest retention, so the
    // stream must delete it at termination — otherwise repeated
    // stream starts in one session accumulate orphaned stores until
    // JVM exit. Termination listeners fire async: poll briefly.
    def liveGens(): Seq[String] = {
      val root = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft-manifest/" +
          spark.sparkContext.applicationId)
      Option(root.listFiles()).toSeq.flatten.map(_.getName)
        .filter(_.startsWith("ivfserve"))
    }
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (liveGens().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(liveGens().isEmpty,
      s"stopped stream left orphaned store generations: ${liveGens()}")
  }

  test("QUANTIZED posting store (r17 verdict item 1): codes round-trip " +
      "the tinyint store bit-exactly, the driver query codec matches " +
      "the in-plan codec, serving reads no double vectors and prunes, " +
      "and store serving equals in-plan quantized answers row-for-row") {
    import graft.operators.Ivf._
    val ix = build(spark, TestSpark.Sf, Codec.Q8, "ivfq8spec")
    val store = ix.store
    // 1. store contents ≡ the in-plan codec applied to the raw vectors
    val raw = Ivf.vectors(spark, TestSpark.Sf)
      .withColumn("sq", quantizeScale(col("v")))
      .select(col("vec_id"), quantizeCodes(col("v"), col("sq")).as("cexp"))
      .withColumn("qn2exp", intDot(col("cexp"), col("cexp")))
    val joined = store
      .select(col("vec_id"), col("c").cast("array<long>").as("cgot"),
        col("qn2").as("qn2got"))
      .join(raw, "vec_id")
      .as[(Long, Seq[Long], Long, Seq[Long], Long)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (id, cgot, qn2got, cexp, qn2exp) =>
      assert(cgot == cexp && qn2got == qn2exp,
        s"store codes for vec $id diverge from the in-plan codec")
    }
    // 2. driver-side query quantization ≡ in-plan codec (the HALF_UP pin)
    val qs = Ivf.queries(spark, TestSpark.Sf)
    val inPlan = raw.where(col("vec_id") < 10)
      .as[(Long, Seq[Long], Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    qs.foreach { case (id, qv) =>
      assert(quantizeLocal(qv) == inPlan(id),
        s"driver codec for query $id diverges from the in-plan codec")
    }
    // 3. serving: prunes to probed cells, reads only (codes, norm)
    val served = serve(ix, qs)
    val got = served.as[(Long, Long, Int, Double)].collect().toSeq
    assert(got.nonEmpty && got.map(_._1).distinct.size == qs.length)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      "quantized store scan did not partition-prune")
    assert(plan.contains("tinyint"),
      "store scan does not read the int8 codes column")
    assert(!plan.contains("array<double>"),
      "a double-vector column leaked into the quantized serving plan " +
        "— the 8x read cut is not real:\n" + plan)
    // 4. store serving ≡ in-plan quantized answers (same cells, codes
    // recomputed from raw vectors — catches any write/read drift)
    val inPlanStore = Ivf.vectors(spark, TestSpark.Sf)
      .join(store.select(col("list"), col("vec_id")), "vec_id")
      .withColumn("sq", quantizeScale(col("v")))
      .withColumn("cl", quantizeCodes(col("v"), col("sq")))
      .select(col("list"), col("vec_id"), col("cl").as("c"),
        intDot(col("cl"), col("cl")).as("qn2"))
    val inPlanServed = serve(ix.copy(store = inPlanStore), qs)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(got == inPlanServed,
      "quantized-store serving diverged from in-plan quantized answers")
  }

  test("PERSISTED PQ store: serving equals the in-plan IVFPQ answer " +
      "row-for-row, the candidate scan is partition-pruned and reads " +
      "4 tinyint codes + a norm (never vectors), and the rerank is a " +
      "pushed point-read") {
    val inPlan = SparkEntry.queries("q_knn_ivf_pq")(spark, TestSpark.Sf)
      .as[(Long, Long, Int, Double, Boolean)].collect().toSeq
    val ix = Ivf.build(spark, TestSpark.Sf, Codec.Pq, "ivfpqspec")
    val store = ix.store
    val qs = Ivf.queries(spark, TestSpark.Sf)
    val served = Ivf.gradeRows(Ivf.serve(ix, qs),
      SparkEntry.queries("q_knn_brute")(spark, TestSpark.Sf)
        .select(col("q_id"), col("n_id")))
    val got = served.as[(Long, Long, Int, Double, Boolean)].collect().toSeq
    assert(inPlan.nonEmpty && got == inPlan,
      "PQ-store serving diverged from the in-plan IVFPQ answers")
    // the ADC shortlist frame holds the store scan: pruned to probed
    // cells, reading tinyint codes, never a vector column
    val shortFrame = Ivf.shortlist(Ivf.scored(ix, qs))
    shortFrame.count()
    val shortPlan = shortFrame.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(shortPlan).isDefined,
      "PQ store scan did not partition-prune to the probed cells")
    assert(shortPlan.contains("tinyint"),
      "candidate scan does not read the tinyint code columns")
    assert(!shortPlan.contains("array<double>"),
      "a vector column leaked into the ADC candidate path:\n" + shortPlan)
    // the rerank's corpus access carries a pushed vec_id filter (the
    // point-read), so no unfiltered full-vector scan exists
    val plan = served.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*vec_id".r.findFirstIn(plan).isDefined ||
      plan.contains("dynamicpruning") || plan.contains("In(vec_id"),
      s"rerank corpus read carries no pushed vec_id filter:\n$plan")
    // store schema: codes are 1 byte each — 4 bytes of payload per
    // posting row vs 512 for full vectors
    val codeFields = store.schema.fields
      .filter(_.name.startsWith("c"))
      .filter(_.dataType == org.apache.spark.sql.types.ByteType)
    assert(codeFields.length == 4, s"expected 4 tinyint code columns, " +
      s"got: ${store.schema.simpleString}")
  }

  test("STREAMED PQ serving equals the batch store query across " +
      "micro-batch splits (the serving-mode matrix's third mode " +
      "through the one stream contract), on the grade-free 4-column " +
      "schema every mode now shares (r18 advice)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch = SparkEntry.queries("q_knn_ivf_pq_store")(spark, TestSpark.Sf)
      .select(col("q_id"), col("n_id"), col("rn"), col("sim"))
      .as[(Long, Long, Int, Double)].collect().toSeq
      .sortBy(r => (r._1, r._3))
    val qs = Ivf.queries(spark, TestSpark.Sf)
    val mem = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Int, Double)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sivfpq").toString
    val q = graft.streaming.StreamingIvf.start(spark,
        mem.toDF.toDF("vec_id", "v"), TestSpark.Sf, ckpt, codec = Codec.Pq) { out =>
      // the sink schema must MATCH full/q8's — exactly 4 columns,
      // no grading column (r18 advice: pq used to emit 5)
      assert(out.columns.toSeq == Seq("q_id", "n_id", "rn", "sim"),
        s"pq sink schema diverged: ${out.columns.toSeq}")
      got ++= out.as[(Long, Long, Int, Double)].collect()
    }
    try {
      qs.grouped(qs.size / 3 + 1).foreach { g =>
        mem.addData(g: _*)
        q.processAllAvailable()
      }
      assert(got.sortBy(r => (r._1, r._3)).toSeq == batch,
        "streamed PQ serving diverged from the batch store answers")
    } finally q.stop()
  }

  test("PERSISTED RESIDUAL-PQ store (r18 verdict item 1): store " +
      "serving equals the in-plan q_knn_ivf_pq_r answers row-for-row, " +
      "the candidate scan partition-prunes and reads tinyint codes " +
      "only, and the driver residual model matches the in-plan " +
      "codebook bit-for-bit") {
    val inPlan = SparkEntry.queries("q_knn_ivf_pq_r")(spark, TestSpark.Sf)
      .select(col("q_id"), col("n_id"), col("rn"), col("sim"))
      .as[(Long, Long, Int, Double)].collect().toSeq
    val ix = Ivf.build(spark, TestSpark.Sf, Codec.PqR, "ivfpqrspec")
    val qs = Ivf.queries(spark, TestSpark.Sf)
    val served = Ivf.serve(ix, qs)
    val got = served.as[(Long, Long, Int, Double)].collect().toSeq
    assert(inPlan.nonEmpty && got == inPlan,
      "residual-PQ store serving diverged from the in-plan " +
        "q_knn_ivf_pq_r answers")
    // shortlist plan: pruned cells, tinyint codes, no vector columns
    val shortFrame = Ivf.shortlist(Ivf.scored(ix, qs))
    shortFrame.count()
    val shortPlan = shortFrame.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(shortPlan).isDefined,
      "residual-PQ store scan did not partition-prune to probed cells")
    assert(shortPlan.contains("tinyint"),
      "candidate scan does not read the tinyint code columns")
    assert(!shortPlan.contains("array<double>"),
      "a vector column leaked into the residual ADC path:\n" + shortPlan)
  }

  test("STREAMED RESIDUAL-PQ serving (mode pq_r — the mode the " +
      "q_ann_mode_compare report recommends) equals the batch " +
      "q_knn_ivf_pq_r rows across micro-batch splits on the shared " +
      "4-column schema") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch = SparkEntry.queries("q_knn_ivf_pq_r")(spark, TestSpark.Sf)
      .select(col("q_id"), col("n_id"), col("rn"), col("sim"))
      .as[(Long, Long, Int, Double)].collect().toSeq
      .sortBy(r => (r._1, r._3))
    val qs = Ivf.queries(spark, TestSpark.Sf)
    val mem = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Int, Double)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sivfpqr").toString
    val q = graft.streaming.StreamingIvf.start(spark,
        mem.toDF.toDF("vec_id", "v"), TestSpark.Sf, ckpt, codec = Codec.PqR) { out =>
      assert(out.columns.toSeq == Seq("q_id", "n_id", "rn", "sim"),
        s"pq_r sink schema diverged: ${out.columns.toSeq}")
      got ++= out.as[(Long, Long, Int, Double)].collect()
    }
    try {
      qs.grouped(qs.size / 3 + 1).foreach { g =>
        mem.addData(g: _*)
        q.processAllAvailable()
      }
      assert(got.sortBy(r => (r._1, r._3)).toSeq == batch,
        "streamed residual-PQ serving diverged from the batch " +
          "q_knn_ivf_pq_r answers")
    } finally q.stop()
  }

  /** Each codec's batch twin, as served (q_id, n_id, rn, sim) rows. */
  private val batchTwins: Seq[(Codec, () => org.apache.spark.sql.DataFrame)] = Seq(
    Codec.Full -> (() => SimilarityQueries.knnIvfPersisted(spark, TestSpark.Sf)),
    Codec.Q8 -> (() => SimilarityQueries.knnIvfQ8(spark, TestSpark.Sf)),
    Codec.Pq -> (() => SparkEntry.queries("q_knn_ivf_pq_store")(spark, TestSpark.Sf)),
    Codec.PqR -> (() => SparkEntry.queries("q_knn_ivf_pq_r")(spark, TestSpark.Sf)))

  for ((codec, batchOf) <- batchTwins)
    test(s"STREAMED ${codec.name} serving equals its batch query and " +
        "recovers exactly-once through a mid-stream kill + checkpoint " +
        "restart, on the shared 4-column sink schema") {
      import java.nio.file.Files
      val batch = batchOf()
        .select(col("q_id"), col("n_id"), col("rn"), col("sim"))
        .as[(Long, Long, Int, Double)].collect().toSeq
        .sortBy(r => (r._1, r._3))
      val qs = Ivf.queries(spark, TestSpark.Sf)
      assert(qs.length >= 5, "need several queries for a mid-stream kill")
      // replayable source: one query vector per file, one file per
      // trigger — many batch boundaries for the kill to land between
      val srcDir = Files.createTempDirectory(s"ivf${codec.name}src").toString
      spark.createDataset(qs).toDF("vec_id", "v")
        .repartition(qs.length).write.mode("overwrite").parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      def src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val ckpt = Files.createTempDirectory(s"ivf${codec.name}ckpt").toString
      val got = scala.collection.mutable
        .ArrayBuffer.empty[(Long, Long, Int, Double)]
      def start() = graft.streaming.StreamingIvf.start(spark, src,
          TestSpark.Sf, ckpt, codec = codec) { out =>
        assert(out.columns.toSeq == Seq("q_id", "n_id", "rn", "sim"),
          s"${codec.name} sink schema diverged: ${out.columns.toSeq}")
        got.synchronized {
          got ++= out.as[(Long, Long, Int, Double)].collect(): Unit
        }
      }
      val q1 = start()
      StreamKill.afterCommit(spark, q1,
        () => got.synchronized(got.map(_._1).distinct.size) >= 2)
      val afterKill = got.synchronized(got.map(_._1).distinct.size)
      assert(afterKill >= 1 && afterKill < qs.length,
        s"kill landed outside mid-stream ($afterKill of ${qs.length} queries)")
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      // foreachBatch is at-least-once: a replayed boundary batch
      // re-emits IDENTICAL rows (serving is deterministic), so
      // distinct = exactly-once
      val streamed = got.synchronized(got.distinct.toSeq).sortBy(r => (r._1, r._3))
      assert(streamed == batch,
        s"kill+restart ${codec.name} serving diverged from the batch answers")
    }

  for (codec <- Codec.all)
    test(s"${codec.name} serving answers a batch that repeats a query " +
        "once, and fails by name when one vec_id carries two vectors") {
      val ix = Ivf.build(spark, TestSpark.Sf, codec, s"ivfdup${codec.name}")
      val qs = Ivf.queries(spark, TestSpark.Sf)
      def rows(batch: Seq[(Long, Seq[Double])]) =
        Ivf.serve(ix, batch).as[(Long, Long, Int, Double)].collect().toSeq
      val once = rows(qs.take(2))
      assert(once.map(_._1).distinct.size == 2 && once.size == 10)
      assert(rows(Seq(qs.head, qs.head, qs(1), qs.head)) == once,
        "a repeated query id corrupted the served top-5")
      val e = intercept[IllegalArgumentException] {
        rows(Seq(qs.head, (qs.head._1, qs(1)._2)))
      }
      assert(e.getMessage.contains(s"query vec_id ${qs.head._1} carries two " +
        "different vectors"), e.getMessage)
    }

  test("driver-batch guard: a query micro-batch past the cap fails " +
      "LOUDLY naming MaxBatchQueries (serving stream, not a corpus " +
      "channel)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val qs = Ivf.queries(spark, TestSpark.Sf)
    assert(qs.size >= 4, "need enough queries to trip a small cap")
    val mem = MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-sivf-guard").toString
    val q = graft.streaming.StreamingIvf.start(spark,
        mem.toDF.toDF("vec_id", "v"), TestSpark.Sf, ckpt,
        maxBatchQueries = 3) { _ => () }
    try {
      mem.addData(qs: _*) // one batch of > 3 vectors
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
      assert(msg != null && msg.contains("MaxBatchQueries"),
        s"guard error does not name the knob: $msg")
    } finally q.stop()
  }
}
