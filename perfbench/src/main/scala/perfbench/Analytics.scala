package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.queries._

/** The analyst's path: registry queries, each built by its query
  * function and materialized whole (`collect`, never `count`), so no
  * operator can be optimized away. */
object Analytics {

  /** Each registry object by name, and the `Flagship` family: the three
    * flagship queries SparkEntry defines itself. */
  val families: Seq[(String, Seq[String])] = ("Flagship" ->
    Seq("q_flagship", "q_flagship_hourly_top", "q_flagship_hidx")) +: Seq(
    "RelationalQueries" -> RelationalQueries.all,
    "ExtendedQueries" -> ExtendedQueries.all,
    "TpchQueries" -> TpchQueries.all,
    "SketchQueries" -> SketchQueries.all,
    "StatsQueries" -> StatsQueries.all,
    "TimeQueries" -> TimeQueries.all,
    "TextQueries" -> TextQueries.all,
    "DedupQueries" -> DedupQueries.all,
    "SimilarityQueries" -> SimilarityQueries.all,
    "MultimodalQueries" -> MultimodalQueries.all,
    "PipelineQueries" -> PipelineQueries.all,
    "MaintenanceQueries" -> MaintenanceQueries.all,
    "EntityQueries" -> EntityQueries.all,
    "GraphQueries" -> GraphQueries.all,
    "ItemsetQueries" -> ItemsetQueries.all,
    "EventQueries" -> EventQueries.all).map { case (f, qs) => f -> qs.map(_.name) }

  /** The family of every registry query; fails on a registry query no
    * family above lists, so a new registry object cannot go uncounted. */
  lazy val familyOf: Map[String, String] = {
    val named = families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    SparkEntry.all.map(q => q.name -> named.getOrElse(q.name,
      sys.error(s"registry query ${q.name} belongs to no family in Analytics.families"))).toMap
  }

  /** Row count plus an order-sensitive hash of the rendered rows. */
  final case class Fingerprint(rows: Long, hash: String)

  def fingerprint(rows: Array[Row]): Fingerprint = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    Fingerprint(rows.length.toLong, md.digest().take(12).map(b => f"$b%02x").mkString)
  }

  def readFingerprints(path: Path): Map[String, Fingerprint] =
    Files.readAllLines(path).asScala.iterator
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split('\t'))
      .map(a => a(0) -> Fingerprint(a(1).toLong, a(2)))
      .toMap

  /** Outcome of one query: construction and materialization times (ms),
    * and the fingerprint, or the error. */
  final case class Run(name: String, startMs: Long, constructMs: Double,
      wallMs: Double, result: Either[String, Fingerprint])

  /** Runs one query: the timer covers construction plus collect; the
    * fingerprint and the release of storage the query left behind run
    * after it. */
  def runOne(spark: SparkSession, dir: String, q: Q, tracer: Tracer): Run = {
    val sc = spark.sparkContext
    val prior = sc.getPersistentRDDs.keySet
    if (tracer.enabled) sc.setJobGroup(q.name, q.name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val out = tracer.span(q.name, "query", q.name) {
      try {
        val df = tracer.span("construct", "queries.construct", q.name)(q.fn(spark, dir))
        t1 = System.nanoTime()
        Right(tracer.span("collect", "action", q.name)(df.collect()))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val t2 = System.nanoTime()
    if (tracer.enabled) sc.clearJobGroup()
    sc.getPersistentRDDs.filterNot { case (id, _) => prior.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
    Run(q.name, startMs, (t1 - t0) / 1e6, (t2 - t0) / 1e6, out.map(fingerprint))
  }

  /** One pass over `qs` in the given order. */
  def pass(spark: SparkSession, dir: String, qs: Seq[Q], tracer: Tracer): Seq[Run] =
    qs.map(runOne(spark, dir, _, tracer))

  def check(r: Run, want: Map[String, Fingerprint]): Option[String] = r.result match {
    case Left(err) => Some(s"${r.name} failed: $err")
    case Right(fp) if !want.get(r.name).contains(fp) =>
      Some(s"${r.name} fingerprint $fp, recorded ${want.get(r.name)}")
    case _ => None
  }
}
