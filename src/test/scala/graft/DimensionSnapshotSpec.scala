package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Flagship
import graft.streaming.{DimensionSnapshot, StreamingFlagship}
import graft.streaming.DimensionSnapshot.InvalidDimensionKey

/** T5 — the pinned-snapshot consistency guarantee (`wbdb.clj:51-67`):
  * a version is materialized before publication (no lazy re-read of
  * the mutable source), the swap is atomic, every streaming
  * micro-batch enriches against exactly one dimension version, and
  * it does so through the version's one broadcast lookup with the
  * broadcast join's rows. */
class DimensionSnapshotSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** The rows of `df` as sorted strings: equal multisets, equal lists. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def join(requests: DataFrame, dim: DataFrame): DataFrame =
    requests.join(broadcast(dim), Seq("lemma"), "left_outer")

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The published version's lookup broadcast. */
  private def lookup(snap: DimensionSnapshot): Broadcast[_] =
    DimensionSnapshot.versionOf(snap.pinned).get.lookup

  /** A destroyed broadcast refuses `value`. */
  private def valid(b: Broadcast[_]): Boolean = scala.util.Try(b.value).isSuccess

  /** A dimension with a nullable value column and a null lemma. */
  private def dim(freq: Long): DataFrame =
    Seq[(String, java.lang.Long, Option[String])](
      ("Haus", freq, Some("h")), ("Baum", freq + 1, None), (null, -1L, Some("n")))
      .toDF("lemma", "freq", "note")

  private val requests: Seq[(String, Int)] =
    Seq(("Haus", 1), ("Baum", 2), ("anderes", 3), (null, 4), ("Haus", 5))

  test("a published version is immune to source mutation until refresh") {
    var source = Seq(("a", 1L), ("b", 2L))
    val snap = new DimensionSnapshot(() => source.toDF("lemma", "freq"))
    val v0 = snap.pinned
    source = Seq(("a", 10L), ("b", 20L), ("c", 30L))
    // v0 was materialized with truncated lineage: still the old rows
    assert(v0.select("lemma", "freq").as[(String, Long)].collect().toSet ==
      Set(("a", 1L), ("b", 2L)))
    assert(snap.version == 0L)
    assert(snap.refresh() == 1L)
    assert(snap.pinned.count() == 3)
    assert(snap.pinned.select(max(col("dim_version"))).head().getLong(0) == 1L)
    // the superseded version stays usable through the grace window
    assert(v0.count() == 2)
  }

  test("superseded versions release their blocks (not just a CacheManager no-op)") {
    var n = 1L
    val snap = new DimensionSnapshot(() => {
      n += 1; Seq(("a", n)).toDF("lemma", "freq")
    })
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach(_ => snap.refresh())
    // live = current + one grace-window version; everything older must
    // have been unpersisted through the bridge (Dataset.unpersist
    // alone would leave all 6 versions pinned)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2, s"leaked checkpoint blocks: $before -> $after")
  }

  test("load failure during refresh keeps the working version") {
    var fail = false
    var rows = Seq(("a", 1L))
    val snap = new DimensionSnapshot(() => {
      if (fail) sys.error("dimension db down")
      rows.toDF("lemma", "freq")
    })
    fail = true
    intercept[RuntimeException](snap.refresh())
    assert(snap.version == 0L && snap.pinned.count() == 1) // old version intact
    fail = false; rows = Seq(("a", 1L), ("b", 2L))
    assert(snap.refresh() == 1L && snap.pinned.count() == 2)
  }

  test("streaming: each micro-batch joins exactly one dimension version") {
    implicit val sqlCtx = spark.sqlContext
    var freq = 1L
    val snap = new DimensionSnapshot(() =>
      Seq(("Haus", freq), ("Baum", freq + 1)).toDF("lemma", "freq"))
    val base = java.nio.file.Files.createTempDirectory("dimsnap").toString
    val mem = MemoryStream[String]
    val q = snap.enrichTo(mem.toDF.toDF("lemma"), s"$base/out", s"$base/ckpt")
    try {
      mem.addData("Haus", "Baum", "Haus")
      q.processAllAvailable()
      freq = 100L
      snap.refresh() // swap BETWEEN batches
      mem.addData("Baum", "anderes")
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
      // no epoch mixes versions
      val perEpoch = out.groupBy(col("epoch"))
        .agg(countDistinct(col("dim_version")).as("nv"),
          max(col("dim_version")).as("v"))
        .collect().map(r => (r.getAs[Long]("nv"), r.getAs[Long]("v"))).toSeq
      assert(perEpoch.forall(_._1 == 1L))
      assert(perEpoch.map(_._2).toSet == Set(0L, 1L))
      // and the enrichment values come from the pinned version
      assert(out.where(col("dim_version") === 0 && col("lemma") === "Haus")
        .select("freq").as[Long].collect().forall(_ == 1L))
      assert(out.where(col("dim_version") === 1 && col("lemma") === "Baum")
        .select("freq").as[Long].collect().forall(_ == 101L))
      // left join: the unknown lemma survives with null enrichment
      assert(out.where(col("lemma") === "anderes").count() == 1)
    } finally q.stop()
  }

  test("a pinned version enriches like the broadcast join: hits, misses, null lemma, across a refresh") {
    var freq = 1L
    val snap = new DimensionSnapshot(() => dim(freq))
    try {
      val req = requests.toDF("lemma", "seq")
      def same(d: DataFrame): Unit = {
        val got = Flagship.enrich(req, d)
        assert(got.schema == join(req, d).schema)
        assert(rows(got) == rows(join(req, d)))
        assert(!plan(got).contains("BroadcastHashJoin"))
      }
      val v0 = snap.pinned
      same(v0)
      freq = 100L
      snap.refresh()
      same(snap.pinned)
      same(v0) // the grace-window version still enriches
      assert(rows(Flagship.enrich(req, snap.pinned).select("lemma", "seq", "freq"))
        .contains(Row("Haus", 1, 100L).toString))
      // a key of another type is cast to the map's string key
      val numbered = new DimensionSnapshot(() => Seq(("7", 70L)).toDF("lemma", "freq"))
      try assert(Flagship.enrich(Seq(7, 8).toDF("lemma"), numbered.pinned)
          .select("freq").as[Option[Long]].collect().toSeq.sorted == Seq(None, Some(70L)))
      finally numbered.close()

      // the livestream shape: lines → cascade → enrich, half the
      // lemmata in the dimension
      val events = Tables(spark, TestSpark.Sf, "events")
      val lines = Flagship.synthLog(events)
      val half = new DimensionSnapshot(() =>
        Flagship.dimension(events).where(pmod(hash(col("lemma")), lit(2)) === 0))
      try {
        val got = StreamingFlagship.enriched(lines, half.pinned)
        val want = join(Flagship.logToRequests(lines), half.pinned)
        assert(got.schema == want.schema)
        val r = rows(got)
        assert(r == rows(want))
        assert(got.where(col("freq").isNull).count() > 0 && got.where(col("freq").isNotNull).count() > 0)
      } finally half.close()
    } finally snap.close()
  }

  test("enrichTo writes the join's rows per epoch, across a refresh") {
    implicit val sqlCtx = spark.sqlContext
    var freq = 1L
    val snap = new DimensionSnapshot(() => dim(freq))
    val base = java.nio.file.Files.createTempDirectory("dimsnap").toString
    val mem = MemoryStream[(String, Int)]
    val q = snap.enrichTo(mem.toDF.toDF("lemma", "seq"), s"$base/out", s"$base/ckpt")
    try {
      mem.addData(requests.take(3))
      q.processAllAvailable()
      val v0 = snap.pinned
      freq = 100L
      snap.refresh()
      mem.addData(requests.drop(3))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
      def epoch(e: Int) = rows(out.where(col("epoch") === e).drop("epoch"))
      assert(epoch(0) == rows(join(requests.take(3).toDF("lemma", "seq"), v0)))
      assert(epoch(1) == rows(join(requests.drop(3).toDF("lemma", "seq"), snap.pinned)))
      assert(out.drop("epoch").schema.map(f => (f.name, f.dataType)) ==
        join(requests.toDF("lemma", "seq"), v0).schema.map(f => (f.name, f.dataType)))
    } finally { q.stop(); snap.close() }
  }

  test("a pinned batch plans no broadcast exchange and runs one job fewer than the join") {
    val snap = new DimensionSnapshot(() => dim(1L))
    val base = java.nio.file.Files.createTempDirectory("dimsnap-jobs").toString
    try {
      requests.toDF("lemma", "seq").write.parquet(s"$base/in")
      val batch = spark.read.parquet(s"$base/in")
      val probed = Flagship.enrich(batch, snap.pinned)
      val (_, lookupJobs) = TestSpark.jobs(probed.write.parquet(s"$base/lookup"))
      val (_, joinJobs) = TestSpark.jobs(join(batch, snap.pinned).write.parquet(s"$base/join"))
      assert(lookupJobs == joinJobs - 1, s"lookup $lookupJobs jobs, join $joinJobs")
      assert(rows(spark.read.parquet(s"$base/lookup")) == rows(spark.read.parquet(s"$base/join")))
      probed.collect()
      assert(!plan(probed).contains("BroadcastExchange"), plan(probed))
      // the probe fuses into the batch's codegen stage
      assert(plan(probed).contains("*(1) Project"), plan(probed))

      // a streaming query over the pinned frame (the livestream shape)
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Int)]
      val q = Flagship.enrich(mem.toDF.toDF("lemma", "seq"), snap.pinned)
        .writeStream.format("memory").queryName("dimsnap_probe").start()
      try {
        mem.addData(requests)
        q.processAllAvailable()
        val explained = new java.io.ByteArrayOutputStream
        Console.withOut(explained)(q.explain())
        assert(explained.size > 0 && !explained.toString.contains("BroadcastExchange"),
          explained.toString)
        assert(rows(spark.table("dimsnap_probe")) == rows(join(requests.toDF("lemma", "seq"), snap.pinned)))
      } finally q.stop()
    } finally snap.close()
  }

  test("q_flagship keeps its BroadcastHashJoin while a snapshot version is live") {
    val snap = new DimensionSnapshot(() => dim(1L))
    try {
      val q = Flagship(spark, TestSpark.Sf)
      q.collect()
      assert(plan(q).contains("BroadcastHashJoin"), plan(q))
    } finally snap.close()
  }

  test("after five refreshes only the current and grace versions' broadcasts are valid") {
    var n = 1L
    val snap = new DimensionSnapshot(() => { n += 1; Seq(("a", n)).toDF("lemma", "freq") })
    val bcs = lookup(snap) +: (1 to 5).map { _ => snap.refresh(); lookup(snap) }
    assert(bcs.map(valid) == Seq(false, false, false, false, true, true))
    snap.close()
    assert(!bcs.exists(valid))
  }

  test("concurrent refreshes publish versions 1 and 2 with at most two versions live") {
    val before = persistentRdds
    val start = new CountDownLatch(1)
    val snap = new DimensionSnapshot(() => {
      Thread.sleep(50) // widen the read-then-publish window
      Seq(("a", 1L)).toDF("lemma", "freq")
    })
    val v0 = snap.pinned
    val v0bc = lookup(snap)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val both = Seq.fill(2)(Future { start.await(); snap.refresh() })
      start.countDown()
      assert(Await.result(Future.sequence(both), 2.minutes).sorted == Seq(1L, 2L))
      assert(snap.version == 2L)
      assert(persistentRdds - before == 2, s"$before -> $persistentRdds")
      assert(DimensionSnapshot.versionOf(v0).isEmpty && !valid(v0bc))
      assert(DimensionSnapshot.versionOf(snap.pinned).exists(_.number == 2L))
    } finally {
      pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
      snap.close()
    }
  }

  test("a lemma held twice or a non-string lemma fails the load with a named error") {
    val before = persistentRdds
    val dup = intercept[InvalidDimensionKey](
      new DimensionSnapshot(() => Seq(("a", 1L), ("a", 2L)).toDF("lemma", "freq")))
    assert(dup.getMessage.contains("Dimension.dedupBy"))
    assert(persistentRdds == before) // the failed version's blocks are freed
    intercept[InvalidDimensionKey](
      new DimensionSnapshot(() => Seq((1, 1L)).toDF("lemma", "freq")))

    var rowsNow = Seq(("a", 1L), ("b", 2L))
    val snap = new DimensionSnapshot(() => rowsNow.toDF("lemma", "freq"))
    try {
      rowsNow = Seq(("a", 1L), ("b", 2L), ("b", 3L))
      intercept[InvalidDimensionKey](snap.refresh())
      assert(snap.version == 0L && snap.pinned.count() == 2) // old version intact
      assert(valid(lookup(snap)))
      rowsNow = Seq(("a", 1L))
      assert(snap.refresh() == 1L)
    } finally snap.close()
  }

  test("close frees the current and the grace-window version") {
    val before = persistentRdds
    var n = 0L
    val snap = new DimensionSnapshot(() => { n += 1; Seq(("a", n)).toDF("lemma", "freq") })
    val v0bc = lookup(snap)
    snap.refresh()
    val v1 = snap.pinned
    val v1bc = lookup(snap)
    assert(persistentRdds - before == 2)
    snap.close()
    assert(persistentRdds == before)
    assert(!valid(v0bc) && !valid(v1bc))
    assert(DimensionSnapshot.versionOf(v1).isEmpty)
    snap.close() // idempotent
    intercept[IllegalArgumentException](snap.refresh())
  }
}
