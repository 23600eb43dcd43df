package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityQueries

/** Attribute-filtered ANN over the persisted IVF store
  * (q_knn_filtered): the PREFILTER leg must compose BOTH prunings —
  * cell partition pruning from the probe selection AND the attribute
  * predicate pushed to the posting scan — and the report's
  * pre-vs-post comparison must show the containment invariant
  * (post ⊆ pre ⇒ pre_wins everywhere) plus the starvation the naive
  * post-filter form suffers at 10% selectivity. */
class FilteredAnnSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("prefilter leg: the store scan carries a nonempty " +
      "PartitionFilters (probed cells) AND a pushed label predicate " +
      "(PushedFilters) — the predicate evaluates at the scan, not " +
      "after the join") {
    val ix = SimilarityQueries.fltIndex(spark, TestSpark.Sf, "ivffltspec")
    val pre = SimilarityQueries.fltCandidates(ix,
        graft.operators.Ivf.queries(spark, TestSpark.Sf))
      .where(col("label") === SimilarityQueries.FltLabel)
    pre.count()
    val plan = pre.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      "filtered-store scan did not partition-prune to the probed cells:\n" +
        plan)
    assert(("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined ||
        "PushedFilters: \\[[^\\]]*EqualTo\\(label".r.findFirstIn(plan)
          .isDefined),
      s"label predicate not pushed to the posting scan:\n$plan")
  }

  test("report invariants: 10 query rows; pre_wins on every row " +
      "(post ⊆ pre by construction); the post leg visibly starves " +
      "(some query returns fewer post survivors than pre answers); " +
      "pre fills to 5 whenever the probed cells hold 5 qualifying rows") {
    val rows = SparkEntry.queries("q_knn_filtered")(spark, TestSpark.Sf)
      .as[(Long, Int, Int, Int, Int, Boolean)].collect().toSeq
    assert(rows.size == 10, s"expected 10 query rows, got ${rows.size}")
    assert(rows.forall(_._6), s"pre_wins violated: $rows")
    rows.foreach { case (q, nPre, preHit, nPost, postHit, _) =>
      assert(preHit <= nPre && postHit <= nPost,
        s"hits exceed returned answers for query $q")
      assert(nPost <= nPre,
        s"post survivors exceed pre answers for query $q (containment)")
    }
    assert(rows.exists { case (_, nPre, _, nPost, _, _) => nPost < nPre },
      "no starvation visible — at ~10% selectivity the naive " +
        "post-filter should lose answers on some query; widen the check")
  }
}
