package graft

import org.apache.spark.sql.functions.{concat, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.filters.BotPatterns
import graft.functions.GraftExpressions.MemoRLike

/** The SparkSessionExtensions surface: SQL function registration, the
  * bot-rlike memoization rule and the two injections of the small
  * root sort rule (its behaviour is RootSortSpec's). */
class GraftExtensionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("native expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT nfc_normalize('é') AS nfc,
        |  strip_accents('Çélèbre') AS plain,
        |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
        |  uri_lemma('/wb/Stra%C3%9Fe').lemma AS lemma,
        |  size(shingles('a b c d', 2)) AS n2
        |""".stripMargin).head()
    assert(r.getString(0).length == 1) // NFC composes to one codepoint
    assert(r.getString(1) == "Celebre")
    assert(r.getDouble(2) == 1.0)
    assert(r.getString(3) == "Straße")
    assert(r.getInt(4) == 3)
  }

  test("heavy_hitters aggregate is callable from SQL") {
    val r = spark.sql(
      """SELECT hh.items['a'] AS a_est, hh.err AS err FROM (
        |  SELECT heavy_hitters(k, 4) AS hh
        |  FROM VALUES ('a'),('a'),('a'),('b'),('c') AS t(k))
        |""".stripMargin).head()
    // 5 items, 3 distinct, capacity 4: exact, zero error
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L)
  }

  test("clf_parse works from SQL on a valid CLF line") {
    val line = "1.2.3.4 - - [01/Jan/2024:00:00:00 +0000] " +
      "\"GET /wb/test HTTP/1.1\" 200 123 \"-\" \"UA\""
    val r = spark.sql(s"""SELECT clf_parse('$line').status AS st""").head()
    assert(r.getString(0) == "200")
  }

  test("memo_rlike SQL function requires a literal pattern and matches rlike") {
    val got = spark.sql("SELECT memo_rlike('Googlebot/2.1', 'bot') AS m").head()
    assert(got.getBoolean(0))
  }

  test("plain rlike on the full bot alternation is rewritten to MemoRLike") {
    // the UA must be genuinely non-foldable (concat with the range
    // id): Catalyst constant-folds rlike over any literal branches,
    // erasing the expression before the rewrite could be observed
    val df = spark.range(2).select(
      when($"id" === 0,
        concat(lit("Mozilla/5.0 (compatible; Googlebot/2."), $"id".cast("string"), lit(")")))
        .otherwise(concat(lit("Mozilla/5.0 X"), $"id".cast("string"))).as("ua"))
    val filtered = df.where($"ua".rlike(BotPatterns.Joined))
    val optimized = filtered.queryExecution.optimizedPlan
    val memoized = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[MemoRLike])) => p
    }
    assert(memoized.nonEmpty, s"expected MemoRLike in:\n$optimized")
    // semantics unchanged vs the unrewritten classifier
    assert(filtered.as[String].collect().toSeq ==
      Seq("Mozilla/5.0 (compatible; Googlebot/2.0)"))
  }

  test("arbitrary rlike patterns are NOT rewritten") {
    val df = Seq("abc").toDF("s")
    val optimized = df.where($"s".rlike("a.c")).queryExecution.optimizedPlan
    val memoized = optimized.collect {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[MemoRLike])) => p
    }
    assert(memoized.isEmpty)
  }

  test("SmallRootSort is injected as an optimizer and an AQE runtime optimizer rule") {
    val state = spark.sessionState
    assert(state.optimizer.extendedOperatorOptimizationRules.contains(SmallRootSort))
    assert(state.adaptiveRulesHolder.runtimeOptimizerRules.contains(SmallRootSort))
  }
}
