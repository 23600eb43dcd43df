package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConnectedComponents, DedupManifest}
import graft.queries.{DedupQueries, SimilarityQueries}

/** The persisted-manifest contract end to end: run 1 writes the dedup
  * manifest to its parquet store, run 2 READS the store (never the
  * run-1 plan), and two chained ingests reproduce the one-shot batch
  * answer hash-exactly — the daily-ingest loop the incremental
  * queries (`q_dedup_cc_incremental`, `q_dedup_embed_incremental`)
  * model, driven here across real write→read boundaries. */
class ManifestRoundTripSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("store").toString

  /** Chain `batches` ingests over an edge list whose nodes are
    * pre-assigned to batches: batch 0 is the original corpus build,
    * each later batch's edges (those whose LATEST endpoint joins in
    * that batch) go through persist → read → ccDelta → apply →
    * persist. Returns the final manifest read back from its store. */
  private def chainCc(edges: Seq[(Long, Long)], batchOf: Long => Int,
      batches: Int): DataFrame = {
    val edf = edges.toDF("ai", "bi")
    def batchExpr(c: String) = {
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val pairs = ids.map(i => (i, batchOf(i)))
      // map literal — spec-sized node set
      element_at(map(pairs.flatMap { case (i, b) => Seq(lit(i), lit(b)) }: _*),
        col(c))
    }
    val tagged = edf
      .withColumn("ba", batchExpr("ai"))
      .withColumn("bb", batchExpr("bi"))
      .withColumn("ingest", greatest(col("ba"), col("bb")))
    var store = tmp("manifest-cc")
    DedupManifest.persist(
      ConnectedComponents.resolve(
        tagged.where(col("ingest") === 0).select(col("ai"), col("bi"))),
      store)
    for (k <- 1 until batches) {
      val manifest = DedupManifest.read(spark, store) // run k reads run k-1's store
      val ingestEdges = tagged.where(col("ingest") === k)
        .select(col("ai"), col("bi"),
          (col("ba") < k).as("pa"), (col("bb") < k).as("pb"))
      val delta = DedupManifest.ccDelta(manifest, ingestEdges)
      store = tmp("manifest-cc")
      DedupManifest.persist(DedupManifest.apply(manifest, delta), store)
    }
    DedupManifest.read(spark, store)
  }

  test("cc: two chained ingests through the parquet store equal one-shot CC " +
      "(synthetic graph covering merge, member-relabel, singleton draw-in)") {
    // batch 0: ids 0-9, batch 1: 10-19, batch 2: 20-29
    val edges = Seq[(Long, Long)](
      (0L, 1L), (2L, 3L), (5L, 6L), // corpus build
      (10L, 11L), (1L, 12L), (3L, 10L), // ingest 1: new×new, prior×new, merge
      (4L, 20L), // ingest 2: manifest-absent prior singleton drawn in
      (6L, 21L), (21L, 1L)) // ingest 2: merges two PRIOR components via a new node
    val got = chainCc(edges, id => (id / 10).toInt, batches = 3)
      .as[(Long, Long)].collect().sorted
    val want = ConnectedComponents.resolve(edges.toDF("ai", "bi"))
      .as[(Long, Long)].collect().sorted
    assert(got.sameElements(want))
  }

  test("cc: chained ingests over the real verified pair graph equal q_dedup_cc") {
    val sf = "/root/testdata/sf0.01" // sf0.001's pair graph is too sparse to split
    val vp = DedupQueries.verifiedPairs(spark, sf).select(col("ai"), col("bi"))
    val ids = vp.select(explode(array(col("ai"), col("bi"))).as("id"))
      .distinct().as[Long].collect().sorted
    assert(ids.length >= 9, s"need a splittable pair graph, got ${ids.length} nodes")
    val (t1, t2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val edges = vp.as[(Long, Long)].collect().toSeq
    val got = chainCc(edges,
      id => if (id < t1) 0 else if (id < t2) 1 else 2, batches = 3)
      .as[(Long, Long)].collect().sorted
    val want = SparkEntry.queries("q_dedup_cc")(spark, sf)
      .as[(Long, Long)].collect().sorted
    assert(got.sameElements(want))
  }

  test("embed: chained band-manifest ingests equal q_dedup_embed_lsh's pair set") {
    val e = graft.operators.Ivf.vectors(spark, Sf)
    val n = e.count()
    val (s1, s2) = ((3L * n) / 5L, (4L * n) / 5L)
    val bands = SimilarityQueries.bandRows(e)
    def pairsOf(df: DataFrame) = df
      .select(col("ai"), col("bi"), round(col("sim"), 4).as("sim"))
      .as[(Long, Long, Double)].collect().toSet

    // corpus build: band the prior corpus, persist the band manifest,
    // and keep its within-corpus verified pairs
    val store0 = tmp("manifest-embed")
    DedupManifest.persist(bands.where(col("vec_id") < s1), store0)
    val m0 = DedupManifest.read(spark, store0)
    val pairs0 = pairsOf(SimilarityQueries.embedVerifiedPairsBetween(m0, m0, e))

    // ingest 1: new batch bands itself, joins the READ manifest for
    // cross pairs + itself for within-batch pairs, then APPENDS its
    // band rows to the store
    val nb1 = bands.where(col("vec_id") >= s1 && col("vec_id") < s2)
    val pairs1 =
      pairsOf(SimilarityQueries.embedVerifiedPairsBetween(m0, nb1, e)) ++
        pairsOf(SimilarityQueries.embedVerifiedPairsBetween(nb1, nb1, e))
    val store1 = tmp("manifest-embed")
    DedupManifest.persist(m0.union(nb1), store1)

    // ingest 2 against the appended store
    val m1 = DedupManifest.read(spark, store1)
    val nb2 = bands.where(col("vec_id") >= s2)
    val pairs2 =
      pairsOf(SimilarityQueries.embedVerifiedPairsBetween(m1, nb2, e)) ++
        pairsOf(SimilarityQueries.embedVerifiedPairsBetween(nb2, nb2, e))

    val want = SparkEntry.queries("q_dedup_embed_lsh")(spark, Sf)
      .as[(Long, Long, Double)].collect().toSet
    assert((pairs0 ++ pairs1 ++ pairs2) == want)
    assert(pairs1.nonEmpty && pairs2.nonEmpty,
      "chained ingests must each contribute pairs or the chain proves nothing")
  }

  test("bucketed manifest APPEND: an ingest's band rows add to the store " +
      "bucket-aligned, and the grown manifest answers the next ingest " +
      "identically to a rebuilt one") {
    import graft.operators.Bucketing
    val e = graft.operators.Ivf.vectors(spark, Sf)
    val n = e.count()
    val (s1, s2) = ((3L * n) / 5L, (4L * n) / 5L)
    val bands = SimilarityQueries.bandRows(e)
    val keys = Seq("label", "band", "bv")
    // corpus build: bucketed store of the prior bands…
    val (table, m0) = DedupManifest.persistBucketed(
      bands.where(col("vec_id") < s1), "graft_spec_append_bands", keys, 8)
    assert(m0.count() == bands.where(col("vec_id") < s1).count())
    // …ingest 1 APPENDS its band rows (no table rewrite — the
    // incremental growth path writeBucketedMulti documents)…
    Bucketing.writeBucketedMulti(
      bands.where(col("vec_id") >= s1 && col("vec_id") < s2),
      table, keys, 8, append = true)
    val grown = spark.table(table)
    // …and ingest 2's pairs against the grown store equal the pairs
    // against a from-scratch rebuild of the same manifest
    val nb2 = bands.where(col("vec_id") >= s2)
    def pairsOf(m: org.apache.spark.sql.DataFrame) =
      SimilarityQueries.embedVerifiedPairsBetween(m, nb2, e)
        .select(col("ai"), col("bi"), round(col("sim"), 4).as("sim"))
        .as[(Long, Long, Double)].collect().toSet
    val (_, rebuilt) = DedupManifest.persistBucketed(
      bands.where(col("vec_id") < s2), "graft_spec_append_ref", keys, 8)
    assert(pairsOf(grown) == pairsOf(rebuilt))
    assert(pairsOf(grown).nonEmpty)
    // the appended store kept its bucket spec (still a bucketed read)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = SimilarityQueries.embedVerifiedPairsBetween(grown, nb2, e)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"appended table lost its bucketed read:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed band manifest: the ingest candidate join reads the store " +
      "with ZERO exchange on the manifest side, pairs unchanged") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

    val e = graft.operators.Ivf.vectors(spark, Sf)
    val n = e.count()
    val split = (3L * n) / 5L
    val bands = SimilarityQueries.bandRows(e)
    val (_, manifest) = DedupManifest.persistBucketed(
      bands.where(col("vec_id") < split),
      "graft_spec_embed_bands", Seq("label", "band", "bv"), buckets = 8)
    val newBands = bands.where(col("vec_id") >= split)

    // pairs identical to the plain-parquet manifest path
    val wantPairs = SimilarityQueries.embedVerifiedPairsBetween(
      DedupManifest.persist(bands.where(col("vec_id") < split),
        tmp("manifest-bucketed-ref")),
      newBands, e)
      .select(col("ai"), col("bi"), round(col("sim"), 4).as("sim"))
      .as[(Long, Long, Double)].collect().toSet

    // force the shuffled-join regime a corpus-scale manifest reaches
    // (a broadcast pick would make the zero-exchange claim vacuous);
    // AQE off so the executed plan is inspectable as one tree
    val savedB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = SimilarityQueries.embedVerifiedPairsBetween(manifest, newBands, e)
      val gotPairs = joined
        .select(col("ai"), col("bi"), round(col("sim"), 4).as("sim"))
        .as[(Long, Long, Double)].collect().toSet
      assert(gotPairs == wantPairs)

      // the band candidate join is the INNERMOST join whose left
      // (manifest) side holds the bucketed-table scan: that subtree
      // must contain no exchange — the bucketing replaced it. (One
      // partition-local Sort remains by design: stock Spark no longer
      // trusts bucket sort order — legacy bucketedTableScan
      // outputOrdering is off — so zero-EXCHANGE is the scale claim.)
      def isJoin(p: SparkPlan) = p.isInstanceOf[BaseJoinExec]
      val plan = joined.queryExecution.executedPlan
      val bandSides = plan.collect {
        case j: SortMergeJoinExec
            if j.left.toString.contains("graft_spec_embed_bands") &&
              !j.left.exists(isJoin) => j.left
        case j: ShuffledHashJoinExec
            if j.left.toString.contains("graft_spec_embed_bands") &&
              !j.left.exists(isJoin) => j.left
      }
      assert(bandSides.nonEmpty,
        s"no shuffled band join over the bucketed manifest found in:\n$plan")
      for (side <- bandSides) {
        assert(side.toString.contains("Bucketed: true"),
          s"manifest scan is not a bucketed read:\n$side")
        assert(side.collect { case x: ShuffleExchangeExec => x }.isEmpty,
          s"manifest side of the ingest join re-shuffled despite bucketing:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedB)
      spark.conf.set("spark.sql.adaptive.enabled", savedA)
    }
  }

  test("version retention: a store keeps only the newest KeepVersions, " +
      "the newest prior frame stays readable, read() resolves latest (r15)") {
    // parquet store: three persists → exactly 2 version dirs remain
    val store = tmp("manifest-retention")
    val d1 = Seq((1L, 1L)).toDF("id", "lbl")
    val f1 = DedupManifest.persist(d1, store)
    val f2 = DedupManifest.persist(Seq((2L, 2L)).toDF("id", "lbl"), store)
    // the newest PRIOR frame must survive its successor's persist —
    // the chained-ingest shape (run k writes while reading run k-1)
    assert(f1.count() == 1)
    val f3 = DedupManifest.persist(Seq((3L, 3L)).toDF("id", "lbl"), store)
    assert(f2.count() == 1 && f3.count() == 1)
    val dirs = new java.io.File(store).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(dirs.size == DedupManifest.KeepVersions,
      s"retention window violated: $dirs")
    // read() resolves the latest surviving version
    assert(DedupManifest.read(spark, store).as[(Long, Long)].collect()
      .toSeq == Seq((3L, 3L)))
    // bucketed store: three persists → exactly 2 catalog tables remain
    val bdf = Seq((1L, "a", 0, 7L)).toDF("vec_id", "label", "band", "bv")
    val (t1, _) = DedupManifest.persistBucketed(
      bdf, "graft_spec_retention", Seq("label", "band", "bv"), 2)
    val (t2, b2) = DedupManifest.persistBucketed(
      bdf, "graft_spec_retention", Seq("label", "band", "bv"), 2)
    val (t3, b3) = DedupManifest.persistBucketed(
      bdf, "graft_spec_retention", Seq("label", "band", "bv"), 2)
    assert(b2.count() == 1 && b3.count() == 1) // prior + current readable
    val live = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_spec_retention")).toSet
    assert(live == Set(t2, t3), s"expected {$t2, $t3}, catalog has $live")
    assert(!live.contains(t1), s"superseded $t1 still in the warehouse")
  }
}
