package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: Path, work: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("data")), Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    if (argv.headOption.contains("--record-fingerprints")) return recordFingerprints(argv)
    val a = parse(argv)
    val spark = Sessions.local(threads = Runtime.getRuntime.availableProcessors.toString,
      logLevel = "ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, a, sessionS)
    val out = a.workload match {
      case "analytics" => AnalyticsWorkload(ctx)
      case "backfill" => Backfill(ctx)
      case "livestream" => Livestream(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    finish(spark, out)
  }

  /** Everything a workload needs. `sessionS` is the session start,
    * the first part of every workload's set-up time. */
  final case class Ctx(spark: SparkSession, args: Args, sessionS: Double) {
    def seconds: Double = args.seconds.toDouble
  }

  /** What a workload reports: operations attempted and failed, the
    * failed checks, the metrics for the result line, and a per-layer
    * table of everything else it measured. */
  final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
      metrics: Seq[(String, Double, String)], table: Seq[(String, Double, String)])

  private def finish(spark: SparkSession, o: Outcome): Unit = {
    o.problems.take(20).foreach(p => println(s"[check] $p"))
    o.table.foreach { case (n, v, u) => println(f"[layer] $n%-36s ${Json.num(v)} $u") }
    val correct = o.failed == 0 && o.problems.isEmpty
    val metrics = o.metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val line = s"""{"correct":$correct,"attempted":${o.attempted},"failed":${o.failed},"metrics":$metrics}"""
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
    println(line)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Maintenance mode: fingerprints the result sets that `graft.Verify`
    * wrote to `verifyDir`, after `tools/check_oracle.py` passed on them.
    * Usage: --record-fingerprints <verifyDir> <out.tsv> */
  private def recordFingerprints(argv: Array[String]): Unit = {
    val spark = Sessions.local(threads = "1", logLevel = "ERROR")
    val lines = SparkEntry.all.map { q =>
      val dir = Paths.get(argv(1), q.name)
      if (!Files.isDirectory(dir)) s"# ${q.name}: no result in ${argv(1)}"
      else {
        val fp = Analytics.fingerprint(spark.read.parquet(dir.toString).collect())
        s"${q.name}\t${fp.rows}\t${fp.hash}"
      }
    }
    Files.write(Paths.get(argv(2)), ("# query\trows\thash" +: lines).asJava)
    spark.stop()
  }
}
