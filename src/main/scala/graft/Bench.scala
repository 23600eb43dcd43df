package graft

/** The per-round driver metric: every registry query at sf0.1, min of
  * two timed passes, plus the streaming and serving probes, printed as
  * one JSON line last (`SPARK_GRAFT_SF_DIR` picks the tables). A query
  * is timed as its construction plus `count()`.
  *
  * Blind spot: `count()` plans away each query's final ORDER BY (and
  * every column a count does not need), so neither this total nor
  * BenchGate's per-query gate sees the cost of the final sort — not the
  * range-sampling job [[SmallRootSort]] removes, nor a later regression
  * there. The whole ordered result is timed by `graft.Dev time`
  * (`collect()`) and by perfbench's `analytics` workload. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ERROR-level logging: the driver parses the final stdout line as
    // JSON, so nothing may print after it (shutdown WARNs included).
    val spark = Sessions.local(logLevel = "ERROR")
    // Independent host-load signal, measured before AND after the
    // timed work (min of the two): a single-threaded fixed spin whose
    // cost depends only on host contention, never on engine code —
    // what lets BenchGate corroborate (or refuse) its uniform-
    // inflation contention diagnosis instead of inferring contention
    // from the victim measurements alone.
    val calibStart = CalibProbe.ms()
    // Parallel (cores-wide) spin — the scalar BenchGate's contention
    // corroboration actually keys on (round 15): a lone spin thread
    // reads quiet under partial-core competitor load (it still gets a
    // full core — the r14 live miss), while a cores-wide section
    // inflates with the same runnable/cores ratio as the bench.
    val calibParStart = CalibProbe.msParallel()
    // Memory-bandwidth streamers (round 16): the domain the ALU spins
    // cannot see — the r15 driver run carried a real disturbance
    // (query median 1.148x, stall 0.87) with calib_par reading 1.007;
    // BenchGate corroborates on max(cpu, mem) when both sides carry
    // the scalars.
    val calibMemStart = CalibProbe.msMem()
    // Warm-up pass at the smallest SF: absorbs JIT + codegen compile
    // so the timed pass measures steady-state throughput.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1") {
      val warmDir = "/root/testdata/sf0.001"
      SparkEntry.queries.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count(): Unit } catch { case _: Throwable => }
      }
    }
    // Two timed passes, min per query: this machine shows ~40%
    // run-to-run noise (scheduler/cache interference), and the min of
    // two runs is a far better estimate of the engine's actual cost
    // than any single sample. A pass records (seconds, succeeded) so a
    // fast FAILURE can never undercut a genuine success measurement —
    // the min is taken over successful passes when any exist.
    def pass(): Map[String, (Double, Boolean)] =
      SparkEntry.queries.map { case (name, fn) =>
        // Snapshot persistent storage BEFORE the query so the
        // post-query cleanup can be scoped to blocks THIS query
        // created — intentionally shared cached state (if the harness
        // ever adds any) survives between queries.
        val priorRdds = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val t = (System.nanoTime() - t0) / 1e9
        // Outside the timer: drop storage the query left behind.
        // Several queries localCheckpoint at construction (the
        // lineage fence) and nothing frees those blocks after the
        // count — across ~380 query executions per bench JVM the
        // leaked blocks build GC pressure that inflates late
        // queries by multiples (q_pagerank measured 3 s isolated vs
        // 16 s late in a dirty run). Only blocks NEW since the
        // pre-query snapshot are evicted.
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => priorRdds.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
        name -> (t, ok)
      }
    val p1 = pass()
    val p2 = pass()
    // a query with no successful pass has NO valid timing — it goes to
    // "errors" only and contributes nothing to "queries"/"total"
    val results = p1.flatMap { case (k, (t1, ok1)) =>
      val (t2, ok2) = p2.getOrElse(k, (t1, ok1))
      (ok1, ok2) match {
        case (true, false)  => Some(k -> t1)
        case (false, true)  => Some(k -> t2)
        case (true, true)   => Some(k -> math.min(t1, t2))
        case (false, false) => None
      }
    }
    // "errors" means produced-no-valid-timing (failed BOTH passes);
    // a query that failed one pass but succeeded the other keeps its
    // success timing and is listed under "flaky" instead, so the two
    // lists never overlap with "queries" semantics.
    def oks(p: Map[String, (Double, Boolean)]) = p.collect { case (k, (_, true)) => k }.toSet
    val anyOk = oks(p1) ++ oks(p2)
    val ran = p1.keySet ++ p2.keySet
    val errors = (ran -- anyOk).toSeq.sorted
    val flaky = (anyOk -- (oks(p1) & oks(p2))).toSeq.sorted
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Measured streaming throughput (lines/s through the full flagship
    // stream plan; see streaming.ThroughputProbe). streaming_eps is the
    // MEDIAN per-window rate over a fixed-duration warmed run; min/max
    // and the full window series ride along so a contended measurement
    // environment is visible in the artifact itself instead of
    // producing an unexplained scalar swing (round-6 lesson: driver
    // 74.7k vs builder 328.8k from the same code).
    val streaming =
      try graft.streaming.ThroughputProbe.steadyState(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] streaming probe failed: ${e.getMessage}")
        graft.streaming.ThroughputProbe.Result(0.0, 0.0, 0.0, Nil)
      }
    // Serving-path fidelity: pipeline eps THROUGH the K1 HTTP hub
    // (EventServer foreachBatch sink) with no subscribers vs with a
    // stalled subscriber — the drop-oldest guarantee at pipeline
    // level; ratio ≈ 1 means subscriber stalls don't leak
    // backpressure into the stream (see streaming.ServingProbe).
    val serving =
      try graft.streaming.ServingProbe.run(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] serving probe failed: ${e.getMessage}")
        graft.streaming.ServingProbe.Result(0.0, 0.0)
      }
    val calibMs = math.min(calibStart, CalibProbe.ms())
    val calibParMs = math.min(calibParStart, CalibProbe.msParallel())
    val calibMemMs = math.min(calibMemStart, CalibProbe.msMem())
    val streamingJson =
      f""""streaming_eps":${streaming.eps}%.0f,"streaming_eps_min":${streaming.epsMin}%.0f,"streaming_eps_max":${streaming.epsMax}%.0f,"streaming_eps_windows":${streaming.seriesJson},"serving_eps_free":${serving.freeEps}%.0f,"serving_eps_stalled":${serving.stalledEps}%.0f,"serving_stall_ratio":${serving.ratio}%.2f,"serving_latency_p50_ms":${serving.p50Ms}%.2f,"serving_latency_p99_ms":${serving.p99Ms}%.2f,"calib_ms":$calibMs%.1f,"calib_par_ms":$calibParMs%.1f,"calib_mem_ms":$calibMemMs%.1f"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":${arr(errors)},"flaky":${arr(flaky)},$streamingJson,"sf":"$sfDir"}"""
    // Persist the FULL per-query table in-repo: the driver's
    // BENCH_r0N.json keeps only a truncated stdout tail, which loses
    // ~25 queries — a committed full table keeps regressions diffable.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/BENCH_full_latest.json")
    try {
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent): Unit
      java.nio.file.Files.write(p,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    } catch { case e: Throwable => System.err.println(s"[bench] persist failed: $e") }
    // The driver parses the FINAL stdout line as JSON, and the round-8
    // artifact was unparseable because a shutdown-race stack trace
    // (executor-pool RejectedExecutionException) printed around the
    // metric line. Defense in depth: mute System.out/err (covers raw
    // printStackTrace and anything resolving the streams dynamically
    // — NOT writers that captured the original stream at init, e.g.
    // scala.Console or a follow=false log4j appender), stop Spark
    // inline (DiskBlockManager frees its shuffle dirs during stop),
    // then emit the JSON on the real stdout and halt — halt is the
    // hard guarantee: after it nothing in this forked JVM can print.
    // (The skipped JVM shutdown hooks only delete the small driver
    // temp dir; the bulk disk was already freed by stop().)
    val realOut = System.out
    val sink = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
    System.setOut(sink)
    System.setErr(sink)
    try spark.stop() catch { case _: Throwable => () }
    realOut.println(json)
    realOut.flush()
    Runtime.getRuntime().halt(0)
  }
}
