package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RLike}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.filters.BotPatterns
import graft.functions.GraftExpressions._

/** Session extension point (`spark.sql.extensions=graft.GraftExtensions`):
  *
  *  1. registers the native graft expressions as SQL functions, so
  *     `spark.sql("SELECT clf_parse(line) ...")` works without the
  *     Scala DSL — the surface a SQL-only consumer of the library
  *     uses;
  *  2. injects [[MemoizeBotRlike]], an optimizer rule upgrading a
  *     plain `rlike` against the full 173-pattern bot alternation to
  *     the memoizing [[MemoRLike]] form — a user writing the obvious
  *     `col("ua").rlike(BotPatterns.Joined)` silently gets the
  *     per-distinct-value cached evaluation the flagship uses
  *     (identical semantics, pinned by GraftExtensionsSpec);
  *  3. injects [[SmallRootSort]] twice: as an optimizer rule (the
  *     static size estimate) and as an AQE runtime optimizer rule (the
  *     same check once the sort's input stages have materialized). It
  *     runs a small final ORDER BY in one partition, so the sort plans
  *     without the range exchange and its bound-sampling job
  *     (RootSortSpec).
  *
  * These two rules are the whole logical-plan footprint: every graft
  * operator is expressible through the declarative DataFrame API plus
  * these scalar expressions, so there is no custom LogicalPlan node or
  * Strategy to inject — Catalyst's own planning covers the operator
  * semantics (SURVEY §7.1 design stance). The rules only choose
  * between plans Catalyst could build from the same query, and leave
  * its results unchanged. The one remaining hook is the
  * session-construction check below.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(ext: SparkSessionExtensions, name: String,
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name), build))

  override def apply(ext: SparkSessionExtensions): Unit = {
    fn(ext, "clf_parse", args => ClfParse(args.head))
    fn(ext, "uri_lemma", args => UriLemma(args.head))
    fn(ext, "nfc_normalize", args => NfcNormalize(args.head))
    fn(ext, "strip_accents", args => StripAccents(args.head))
    fn(ext, "cosine_sim", args => CosineSim(args(0), args(1)))
    fn(ext, "logreg_margin", {
      case Seq(text, dim, mult) if dim.foldable && mult.foldable =>
        LogregMargin(text,
          dim.eval().asInstanceOf[Number].longValue(),
          mult.eval().asInstanceOf[Number].longValue())
      case _ => throw new IllegalArgumentException(
        "logreg_margin(text, dim, mult) requires literal dim/mult")
    })
    fn(ext, "shingles", {
      case Seq(text) => Shingles(text, 3, dedup = true)
      case Seq(text, n) if n.foldable =>
        Shingles(text, n.eval().asInstanceOf[Number].intValue(), dedup = true)
      case Seq(text, n, dedup) if n.foldable && dedup.foldable =>
        Shingles(text, n.eval().asInstanceOf[Number].intValue(),
          dedup.eval().asInstanceOf[Boolean])
      case args => throw new IllegalArgumentException(
        s"shingles(text[, n[, dedup]]) with literal n/dedup; got ${args.length} args")
    })
    fn(ext, "heavy_hitters", {
      case Seq(key, m) if m.foldable =>
        graft.functions.HeavyHitters.HeavyHittersAgg(key,
          m.eval().asInstanceOf[Number].intValue())
      case _ => throw new IllegalArgumentException(
        "heavy_hitters(key, m) requires a literal capacity m")
    })
    fn(ext, "memo_rlike", {
      case Seq(s, p) if p.foldable =>
        MemoRLike(s, p.eval().toString)
      case _ => throw new IllegalArgumentException(
        "memo_rlike(str, pattern) requires a literal pattern")
    })
    ext.injectOptimizerRule(_ => MemoizeBotRlike)
    ext.injectOptimizerRule(_ => SmallRootSort)
    ext.injectRuntimeOptimizerRule(_ => SmallRootSort)
    // Huge-codegen guard for sessions WE don't build (a user's
    // cluster spark-submit that installs this extension): the
    // flagship's fused stage generates a ~8.2 KB method, past
    // HotSpot's DontCompileHugeMethods cutoff. If this JVM lacks
    // -XX:-DontCompileHugeMethods, lower hugeMethodLimit so Spark
    // falls back to the per-expression-codegen Volcano path for just
    // that stage instead of running a never-JIT'd monolith. The
    // check-rule builder runs once per session — used purely as a
    // session-construction hook; the returned check is a no-op.
    ext.injectCheckRule { session =>
      // only when still at Spark's default — an explicit user setting
      // (including Sessions.local's own) wins. The default is read
      // from SQLConf's own entry, not a hard-coded literal, so a
      // changed Spark default can't silently disable the guard.
      val entry = org.apache.spark.sql.internal.SQLConf.WHOLESTAGE_HUGE_METHOD_LIMIT
      if (!Sessions.jitCompilesHugeMethods &&
          session.conf.get(entry.key) == entry.defaultValueString)
        session.conf.set(entry.key, "8000")
      _ => ()
    }
  }
}

/** Rewrite `rlike(<the full bot alternation>)` to the memoizing form.
  * Scoped to the exact BotPatterns literal: memoization pays off when
  * the pattern is expensive and the column is low-cardinality — true
  * of user-agent strings against 173 alternates, not of arbitrary
  * regexes — so the rule upgrades only the pattern it can vouch for. */
object MemoizeBotRlike extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case RLike(child, Literal(p: UTF8String, StringType))
          if p.toString == BotPatterns.Joined =>
        MemoRLike(child, p.toString)
    }
}

/** Run a small final ORDER BY in one partition. A global `Sort` at the
  * plan root (or under the root `Project`) whose input is estimated at
  * most `spark.sql.autoBroadcastJoinThreshold` bytes gets the input
  * `Repartition(1, shuffle = false)`. That plans as `CoalesceExec(1)`,
  * whose single partition already satisfies the sort's ordered
  * distribution, so no range exchange is planned. Under AQE a range
  * exchange costs three jobs: the RangePartitioner's sampling job,
  * which re-runs the whole pre-sort pipeline, the shuffle-map stage and
  * the result stage. One partition costs one.
  *
  * "Small" reuses the broadcast threshold: an input that size is
  * already shipped whole to every executor of a join, so sorting it in
  * one task is in scale; a threshold of 0 or less turns the rewrite off.
  * The optimizer's estimate of a join is often far too high (the
  * product of its sides), so the same rule also runs in AQE's runtime
  * optimizer, where materialized stages carry their measured sizes.
  *
  * Never rewritten: streaming plans, sorts below the root (a write's
  * query, `sortWithinPartitions`, `orderBy(...).limit(n)`, which plans
  * as TakeOrderedAndProject) and large inputs, which keep range
  * partitioning across the cluster. */
object SmallRootSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _ if plan.isStreaming => plan
    case s: Sort => onePartition(s).getOrElse(plan)
    case p @ Project(_, s: Sort) => onePartition(s).fold(plan)(o => p.copy(child = o))
    case _ => plan
  }

  private def onePartition(s: Sort): Option[Sort] = s.child match {
    case Repartition(1, _, _) => None
    case c if s.global && small(c) && !rangeShuffled(c) =>
      Some(s.copy(child = Repartition(1, shuffle = false, c)))
    case _ => None
  }

  /** Under AQE, the sort's own range exchange has already run: its
    * input's estimate stayed large until that stage measured it (a join
    * is estimated as the product of its sides), and one partition now
    * would save no job. */
  private def rangeShuffled(p: LogicalPlan): Boolean = p.exists {
    case q: LogicalQueryStage => q.physicalPlan.exists {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case _ => false
  }

  private def small(p: LogicalPlan): Boolean = {
    val threshold = conf.autoBroadcastJoinThreshold
    threshold > 0 && p.stats.sizeInBytes <= threshold
  }
}
