package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[SmallRootSort]]: a small final ORDER BY runs in one partition,
  * without the range exchange and its sampling job; a large one, a
  * streaming one and any sort below the root keep their plans. */
class RootSortSpec extends AnyFunSuite {
  import TestSpark.{jobs, spark, Sf}

  private val Q = "q_filter_like"

  /** Every operator of the executed plan, through AQE's wrappers and
    * query stages (read after the action, so AQE's final plan). */
  private def operators(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case o => o +: o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def rangeExchanges(df: DataFrame): Int = operators(df).count {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def onePartitionRewrites(p: LogicalPlan): Int =
    p.collect { case r @ Repartition(1, false, _) => r }.size

  /** A session of its own with `spark.sql.autoBroadcastJoinThreshold`. */
  private def withThreshold(bytes: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
    s
  }

  test("q_filter_like runs its ordered result in one job") {
    val df = SparkEntry.queries(Q)(spark, Sf) // schema resolution outside the count
    val (rows, n) = jobs(df.collect())
    assert(n == 1)
    assert(rows.nonEmpty && rangeExchanges(df) == 0)
    assert(operators(df).exists(_.isInstanceOf[CoalesceExec]))
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
  }

  test("a threshold of -1, or one below the input's estimate, keeps the range exchange") {
    val want = SparkEntry.queries(Q)(spark, Sf).collect().toSeq
    val off = SparkEntry.queries(Q)(withThreshold(-1), Sf)
    assert(off.collect().toSeq == want)
    assert(rangeExchanges(off) == 1)
    assert(onePartitionRewrites(off.queryExecution.optimizedPlan) == 0)

    val estimate = off.queryExecution.optimizedPlan.children.head.stats.sizeInBytes.toLong
    assert(estimate > 1)
    val below = SparkEntry.queries(Q)(withThreshold(estimate - 1), Sf)
    assert(below.collect().toSeq == want)
    assert(rangeExchanges(below) == 1)
    // nor is one partition put on top once the range exchange has run
    assert(!operators(below).exists(_.isInstanceOf[CoalesceExec]))
    val at = SparkEntry.queries(Q)(withThreshold(estimate), Sf)
    assert(at.collect().toSeq == want)
    assert(rangeExchanges(at) == 0)
  }

  test("a join estimated above the threshold is rewritten at run time, once its stages measured it") {
    // the optimizer estimates an inner join as the product of its
    // sides: 8 KB x 8 KB = 64 MB, over the 10 MB default; the
    // aggregate's shuffle stage measures a few hundred bytes
    val a = spark.range(1000).select(col("id").as("k"))
    val b = spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("g"))
    val df = a.join(b, "k").groupBy(col("g")).agg(count(lit(1)).as("n")).orderBy(col("g"))
    assert(onePartitionRewrites(df.queryExecution.optimizedPlan) == 0)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == (0L until 7L).map(g => g -> (0L until 1000L).count(_ % 7 == g).toLong))
    assert(rangeExchanges(df) == 0)
    assert(operators(df).exists(_.isInstanceOf[CoalesceExec]))
  }

  test("only a root global sort of a batch plan is rewritten") {
    val t = spark.range(10).select(col("id"), (col("id") % 3).as("m"))
    val rewritten = t.orderBy(col("m"), col("id")).queryExecution.optimizedPlan
    assert(onePartitionRewrites(rewritten) == 1)
    assert(onePartitionRewrites(t.orderBy(col("m")).select(col("id")).queryExecution.optimizedPlan) == 1)
    for (kept <- Seq(
        t.orderBy(col("m"), col("id")).limit(3),
        t.sortWithinPartitions(col("m")),
        t.orderBy(col("m")).groupBy(col("m")).count()))
      assert(onePartitionRewrites(kept.queryExecution.optimizedPlan) == 0, kept.queryExecution.optimizedPlan)
    // applying the rule again adds nothing
    assert(SmallRootSort(rewritten) eq rewritten)
  }

  test("a streaming plan is untouched") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Int]
    val sorted = mem.toDF().groupBy(col("value") % 3 as "m").count().orderBy(col("m"))
    val plan = sorted.queryExecution.analyzed
    assert(plan.isStreaming)
    assert(SmallRootSort(plan) eq plan)
    val q = sorted.writeStream.format("memory").queryName("root_sort_stream")
      .outputMode("complete").start()
    try {
      mem.addData(1 to 10: _*)
      q.processAllAvailable()
      val batch = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(onePartitionRewrites(batch.optimizedPlan) == 0, batch.optimizedPlan)
      assert(spark.table("root_sort_stream").as[(Int, Long)].collect().toSeq ==
        Seq(0 -> 3L, 1 -> 4L, 2 -> 3L))
    } finally q.stop()
  }

  test("a root sort over zero rows returns an empty result") {
    val dir = Files.createTempDirectory("graft-root-sort").toString
    spark.range(0).select(col("id"), col("id").cast("string").as("s"))
      .write.mode("overwrite").parquet(dir)
    val empty = spark.read.parquet(dir).orderBy(col("id"))
    assert(onePartitionRewrites(empty.queryExecution.optimizedPlan) == 1)
    assert(empty.collect().isEmpty)
    val none = Tables(spark, Sf, "documents").where(col("doc_id") < 0).orderBy(col("doc_id"))
    assert(none.collect().isEmpty)
  }
}
