package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.Dev` subcommand runs once on one cheap query at
  * sf0.001, so a dev tool that stops working fails here instead of on
  * the next hand run. */
class DevSpec extends AnyFunSuite {
  import TestSpark.{spark, Sf}

  private val Q = "q_filter_like"
  private lazy val rows = SparkEntry.queries(Q)(spark, Sf).count()

  private def out(cmd: SparkSession => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(cmd(spark))
    buf.toString(StandardCharsets.UTF_8).linesIterator.toSeq
  }

  private def dev(args: String*): Seq[String] = out(Dev.command(args))

  private def line(lines: Seq[String], prefix: String): String =
    lines.find(_.startsWith(prefix)).getOrElse(fail(lines.mkString("\n")))

  test("time: min of two passes with its job breakdown, calibration-bracketed") {
    val lines = dev("time", Sf, Q)
    assert(lines.head.startsWith("CALIB pre cpu="), lines.head)
    assert(lines.last.startsWith("CALIB post cpu="), lines.last)
    val t = line(lines, s"TIME $Q")
    assert(raw"min=\s*[\d.]+ s \(p1=[\d.]+ p2=[\d.]+\) jobs=\s*[1-9]\d* construct=\s*\d+ stages=\s*\d+ tasks=\s*[1-9]\d* execRun=\s*[\d.]+ s rows=$rows$$".r
      .findFirstIn(t).nonEmpty, t)
    assert(lines.exists(_.trim.startsWith("job=")), lines.mkString("\n"))
  }

  test("plan: formatted explain per query") {
    val lines = dev("plan", Q, Sf)
    assert(lines.head == s"===== $Q =====")
    assert(lines.contains("== Physical Plan =="), lines.mkString("\n"))
  }

  test("audit: one line of plan-shape counts") {
    val lines = dev("audit", Sf, Q)
    assert(lines.size == 1)
    assert(raw"AUDIT $Q\s+scans=1 pushedScans=\d+ shuffles=\d+ broadcasts=0".r
      .matches(lines.head), lines.head)
  }

  test("exec: the executed AQE tree with operator metrics and codegen sizes") {
    val lines = dev("exec", Sf, Q)
    assert(raw"EXEC $Q wall=[\d.]+s rows=$rows".r.matches(lines.head), lines.head)
    assert(lines.exists(raw"\s*WholeStageCodegen \(\d+\) maxMethodCodeSize=[1-9]\d*.*".r.matches),
      lines.mkString("\n"))
    // the walk reaches below the query stages down to the scan
    assert(lines.exists(l => l.trim.startsWith("Scan parquet") && l.contains("numOutputRows=")),
      lines.mkString("\n"))
  }

  test("run: prints the result rows") {
    val lines = dev("run", Sf, Q, "3")
    assert(lines.exists(l => l.startsWith("|doc_id") && l.contains("n_chars")),
      lines.mkString("\n"))
  }

  test("throughput: streaming steady state") {
    val t = line(dev("throughput", Sf, "0", "1"), "[throughput]")
    assert(raw"\[throughput\] median=[1-9]\d* min=\d+ max=\d+ windows=[1-9]\d* series=\[.*\]".r
      .matches(t), t)
  }

  test("serving: serving-hop eps free vs stalled") {
    // one-second phases: the command line's defaults (4 s warm-up,
    // 10 s measured, twice) exceed this suite's time budget
    val s = line(out(Dev.serving(_, Sf, warmupSec = 1, measureSec = 1)), "SERVING")
    assert(raw"SERVING free=\d+ eps stalled=\d+ eps ratio=[\d.]+ p50=-?[\d.]+ ms p99=-?[\d.]+ ms".r
      .matches(s), s)
  }

  test("an unknown or malformed command fails with the usage listing every command") {
    for (args <- Seq(Seq("bogus"), Seq.empty, Seq("exec", Sf), Seq("time", Sf))) {
      val e = intercept[IllegalArgumentException](Dev.command(args))
      for (c <- Seq("time", "plan", "audit", "exec", "run", "throughput", "serving"))
        assert(e.getMessage.contains(s"\n  $c "), e.getMessage)
    }
  }
}
