package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions
import graft.pipeline.Flagship

class LogGenSpec extends AnyFunSuite {

  private def sample(seed: Long, n: Int) = {
    val g = new LogGen(seed)
    (g, g.take(n))
  }

  test("the same seed gives the same log and dimension; another seed does not") {
    val (g1, a) = sample(7, 5000)
    val (g2, b) = sample(7, 5000)
    val (g3, c) = sample(8, 5000)
    assert(a.toSeq == b.toSeq)
    assert(g1.dimensionRows == g2.dimensionRows)
    assert(a.map(_.text).toSeq != c.map(_.text).toSeq)
    assert(g1.dimensionRows != g3.dimensionRows)
  }

  test("the vocabulary holds distinct lemmata that are no sub-dictionary names") {
    val g = new LogGen(3)
    assert(g.vocab.distinct.length == g.vocab.length)
    assert(!g.vocab.exists(LogGen.SubDictionaries.contains))
    assert(g.vocab.exists(_.exists(_ >= 128)), "some lemmata need percent-encoding")
  }

  test("labels agree with the engine's batch parse, filter cascade and enrichment") {
    val spark = Sessions.local(threads = "2", logLevel = "ERROR")
    try {
      import spark.implicits._
      val (g, lines) = sample(11, 20000)
      // every kind of line occurs, so every branch of the cascade runs
      assert(lines.count(_.kept).toDouble / lines.length > 0.5)
      assert(lines.exists(l => l.kept && l.text.contains("%")))
      assert(lines.exists(l => !l.kept && l.text.contains("/wb/typeahead")))
      assert(lines.exists(l => !l.kept && l.text.contains("bot")))
      val dim = g.dimensionRows.toDF("lemma", "freq", "first_user")
      val got = Flagship.enrich(Flagship.logToRequests(lines.map(_.text).toSeq.toDF("line")), dim)
        .select(col("lemma"), unix_seconds(col("ts")), col("freq").isNotNull)
        .as[(String, Long, Boolean)].collect().toSeq
      val want = lines.filter(_.kept).map(l => (l.lemma, l.tsSec, l.hit)).toSeq
      assert(got.size == want.size)
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
        want.groupBy(identity).view.mapValues(_.size).toMap)
      assert(want.exists(_._3) && want.exists(!_._3), "some lemmata hit the dimension, some miss")
    } finally spark.stop()
  }
}
