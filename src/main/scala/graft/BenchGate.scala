package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Per-query bench regression gate — the guard the round-10 drift
  * showed was missing: `q_tpch_q2` (1.7→4.6 s) and
  * `q_sample_importance` (1.3→4.7 s) sailed through the median-ratio
  * discipline precisely because medians hide two-query tails.
  *
  * Compares the fresh full-bench table against the committed
  * canonical per-query times and FAILS LOUDLY (exit 1) on any query
  * slower than [[RatioGate]]× canonical with an absolute slowdown
  * above [[AbsFloorSec]] (the floor keeps 100 ms queries' scheduler
  * jitter out of the report; the ratio keeps genuinely slow queries
  * honest).
  *
  * Protocol:
  *  - `runMain graft.BenchGate` after every full bench (the verify
  *    recipe runs it; see `.claude/skills/verify/SKILL.md`);
  *  - a flagged query is either a real regression (fix it) or a
  *    contended measurement (re-measure isolated — the round-10 q2
  *    incident was exactly this) or a deliberate cost change (a new
  *    in-plan verification, say) — in the last case re-record the
  *    canonical with `runMain graft.BenchGate -- --record` and say
  *    why in the commit;
  *  - queries new since the canonical are listed informationally and
  *    auto-added on `--record`.
  *
  * The table it gates times `count()` per query, which plans away the
  * final ORDER BY, so a regression in a query's final sort passes this
  * gate unseen (see [[Bench]]); `graft.Dev time` measures it.
  *
  * Usage: `runMain graft.BenchGate [latest [canonical]]`, default
  * `bench/BENCH_full_latest.json` vs `bench/BENCH_canonical.json`;
  * pass `--record` (alone or after paths) to overwrite the canonical
  * with the latest table instead of gating. */
object BenchGate {

  val RatioGate = 1.5
  val AbsFloorSec = 0.3

  /** Absolute floors for the bench's streaming/serving scalars —
    * round-12 addition: the per-query gate covered batch times only,
    * so a real streaming regression (eps collapse) or a broken
    * drop-oldest guarantee (stall ratio sinking) would have sailed
    * through. Floors sit well under the committed canonical
    * (448k eps / 1.00 ratio) but far above any plausible
    * contention artifact's floor (the r11 driver-window sample read
    * 370k / 0.88 under uniform contention): a breach means re-measure
    * isolated; if it reproduces, it is a real regression — fix it
    * (floors are absolute, so there is nothing to re-record). */
  val StreamingEpsFloor = 300000.0
  val StallRatioFloor = 0.9

  /** Floor for the serving hub's free-running fan-out throughput —
    * round 15 (r14 verdict stretch 7): `serving_eps_free` swung 25k →
    * 9k between a quiet and a contended run with no gate watching, so
    * a real serving regression could hide in host noise. Floor at
    * half the canonical (29.5k). The serving hop is a thread-bound
    * HTTP loop, far MORE contention-sensitive than the batch queries
    * (r14: serving 3.2× down while query median read 1.099×), so its
    * contention rescale keys on the cores-wide CALIBRATION ratio (the
    * scheduler-pressure signal), not the query median — see
    * [[normalizedFloorBreaches]]. */
  val ServingEpsFreeFloor = 15000.0

  /** Contention normalization (round-13): every driver-window sample
    * in round 12 breached the eps floor while every quiet canonical
    * re-measure passed — a gate that only ever passes on quiet
    * machines guards nothing. The repo's own diagnosis rule
    * (BASELINE.md): UNIFORM median per-query inflation vs canonical
    * across unrelated queries is host contention, not a plan change.
    * So on an eps floor breach the gate now computes the common-query
    * median ratio; when it shows uniform inflation
    * (≥ [[ContentionMinRatio]], over ≥ [[MinCommonForMedian]] common
    * queries) the breach is re-judged at eps × medianRatio — the
    * throughput the same run would have posted on the quiet host. A
    * breach that SURVIVES normalization is a real regression and
    * still fails. Stall ratio and p99 stay absolute: the 1-slot hub's
    * drop-oldest guarantee and sub-ms publish are load-shape
    * properties, not linearly time-scaled ones. */
  val ContentionMinRatio = 1.1
  val MinCommonForMedian = 20

  /** Calibration corroboration (round 14 — the r13 advice): a uniform
    * 1.1–1.5× inflation signature is produced both by host contention
    * AND by a real global code regression, so the victim measurements
    * alone cannot authorize the eps rescale. [[graft.CalibProbe]]
    * gives the independent signal: a single-threaded fixed spin whose
    * cost moves only with host load (engine code never touches it).
    * Normalization now engages only when the run's calibration ALSO
    * inflated ≥ this ratio vs canonical; a uniform query inflation on
    * a calibration-quiet host is treated as the regression it is, and
    * a run missing calibration data (either side) FAILS CLOSED
    * (round 15, the r14 advice: the old PROVISIONAL rescale let a
    * real regression benched against a pre-calibration canonical
    * pass) — re-measure on a quiet host or re-bench against a
    * calibration-carrying canonical.
    *
    * Round 15: the decision keys on the PARALLEL (cores-wide)
    * `calib_par_ms` scalar when both artifacts carry it — the r14
    * live miss was a driver run at query-median 1.099× whose
    * single-thread calib read 1.01× (a lone spin still gets a full
    * core under partial-core competitor load); a cores-wide section
    * inflates with the same runnable/cores ratio as the 32-way bench
    * itself. `calib_ms` (1-thread) remains the fallback against
    * pre-r15 canonicals. */
  val CalibCorroborationMin = 1.1

  /** The calibration ratio (latest / canonical) the normalization
    * decision keys on, with the scalar it came from.
    *
    * Round 16: the decision takes the MAX over the two PRIMARY
    * scalars both artifacts carry — `calib_par_ms` (cores-wide ALU,
    * CPU-scheduling pressure) and `calib_mem_ms` (DRAM streamers,
    * memory-bandwidth pressure) — because host disturbance lives in
    * either domain and the r15 driver run proved they are disjoint
    * observables: query median 1.148× + stall 0.87 with calib_par
    * 1.007 (the ALU spins CANNOT see a bandwidth/IO disturbance), so
    * a gate keyed on the CPU spin alone fails a healthy build. A
    * disturbance seen by EITHER probe corroborates; max also picks
    * the rescale magnitude from the domain that actually moved.
    * `calib_ms` (1-thread ALU) remains the fallback against pre-r15
    * canonicals; None when either side lacks every scalar (→ fail
    * closed downstream). */
  def pickCalibRatio(canonical: Map[String, Double],
      latest: Map[String, Double]): Option[(Double, String)] = {
    val primary = Seq("calib_par_ms", "calib_mem_ms").flatMap { k =>
      for { c <- canonical.get(k).filter(_ > 0); l <- latest.get(k) }
        yield (l / c, k)
    }
    if (primary.nonEmpty) Some(primary.maxBy(_._1))
    else for { c <- canonical.get("calib_ms").filter(_ > 0)
               l <- latest.get("calib_ms") } yield (l / c, "calib_ms")
  }

  /** The CPU-domain (cores-wide ALU) calibration ratio alone — the
    * scalar the serving-throughput rescale keys on (round 17, the r16
    * advice): the serving hop is a THREAD-bound HTTP loop, so its
    * throughput tracks scheduler pressure specifically; rescaling it
    * by [[pickCalibRatio]]'s max(par, mem) would let a memory-domain
    * disturbance (which barely touches a thread-bound loop) rescale
    * the serving metric by the wrong domain's magnitude and clear a
    * real serving regression. max stays the CORROBORATION signal;
    * this is the rescale MAGNITUDE for the CPU-bound metric. */
  def parCalibRatio(canonical: Map[String, Double],
      latest: Map[String, Double]): Option[Double] =
    for { c <- canonical.get("calib_par_ms").filter(_ > 0)
          l <- latest.get("calib_par_ms") } yield l / c

  /** Ceiling for the serving hop's p99 publish→write latency — the
    * symmetric guard for the round-12 latency percentiles: canonical
    * reads 0.01–0.02 ms (the 1-slot hub adds no measurable delay), so
    * a 10 ms p99 means delivery started BLOCKING (a lock on the write
    * path, a sleeping writer, an unbounded queue) — three orders of
    * magnitude of headroom over canonical, far under anything a
    * subscriber would call healthy. -1 (probe recorded no samples)
    * breaches too: the drain-subscriber path failing must not read
    * as green. */
  val ServingP99CeilingMs = 10.0

  private def queryTable(path: String): Map[String, Double] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))
    val q = root.get("queries")
    require(q != null, s"$path has no \"queries\" field")
    val it = q.properties().iterator()
    val b = Map.newBuilder[String, Double]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
    b.result()
  }

  private def scalarFields(path: String): Map[String, Double] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))
    Seq("streaming_eps", "serving_eps_free", "serving_stall_ratio",
      "serving_latency_p99_ms")
      .flatMap { k => Option(root.get(k)).map(k -> _.asDouble()) }.toMap
  }

  /** Pure floor/ceiling check (spec-tested): breach messages, empty =
    * green. A bench JSON missing a gated scalar is itself a breach —
    * the probe failing to run must not read as green. */
  def floorBreaches(scalars: Map[String, Double]): Seq[String] = {
    val floors = Seq(
      ("streaming_eps", StreamingEpsFloor, f"$StreamingEpsFloor%.0f"),
      ("serving_eps_free", ServingEpsFreeFloor, f"$ServingEpsFreeFloor%.0f"),
      ("serving_stall_ratio", StallRatioFloor, f"$StallRatioFloor%.2f"),
    ).flatMap { case (k, floor, floorStr) =>
      scalars.get(k) match {
        case None => Some(s"$k missing from latest bench (probe did not run?)")
        case Some(v) if v < floor =>
          Some(f"$k $v%.2f below floor $floorStr")
        case _ => None
      }
    }
    val ceilings = Seq(
      ("serving_latency_p99_ms", ServingP99CeilingMs),
    ).flatMap { case (k, ceil) =>
      scalars.get(k) match {
        case None => Some(s"$k missing from latest bench (probe did not run?)")
        case Some(v) if v < 0 =>
          Some(s"$k unmeasured (-1): serving probe recorded no latency samples")
        case Some(v) if v > ceil =>
          Some(f"$k $v%.2f ms above ceiling $ceil%.0f ms")
        case _ => None
      }
    }
    floors ++ ceilings
  }

  /** Interquartile-range ceiling for the contention index: the
    * BASELINE diagnosis rule is UNIFORM inflation, and a median alone
    * cannot see dispersion — a broad code regression hitting half the
    * queries at 1.6× while the rest sit at 1.0× has a high median too
    * but is NOT contention. Normalization only engages when the
    * ratios move together (IQR ≤ this). */
  val UniformIqrMax = 0.25

  /** Median latest/canonical ratio over the common query set — the
    * contention index — with its UNIFORMITY verdict (IQR ≤
    * [[UniformIqrMax]]). None when the common set is too small for
    * either statistic to mean anything. */
  def medianRatio(canonical: Map[String, Double],
      latest: Map[String, Double]): Option[(Double, Boolean)] = {
    val rs = latest.toSeq
      .flatMap { case (k, v) => canonical.get(k).filter(_ > 0).map(v / _) }
      .sorted
    if (rs.size < MinCommonForMedian) None
    else Some((rs(rs.size / 2),
      rs(3 * rs.size / 4) - rs(rs.size / 4) <= UniformIqrMax))
  }

  /** [[floorBreaches]] with the contention diagnosis applied: an eps
    * floor breach on a run whose median ratio shows uniform inflation
    * is re-judged at eps × medianRatio (see [[ContentionMinRatio]]) —
    * but only when the independent calibration signal corroborates
    * the contention reading (see [[CalibCorroborationMin]]); with
    * calibration data missing the breach STANDS (fail closed), and
    * with a quiet calibration the rescale is refused outright.
    * @param calibRatio latest/canonical calibration ratio from
    *   [[pickCalibRatio]] (max over par/mem — the CORROBORATION
    *   signal), when both artifacts carry a calibration scalar
    * @param parRatio the CPU-domain ratio from [[parCalibRatio]] —
    *   the serving rescale MAGNITUDE (r16 advice: the thread-bound
    *   serving hop must not be rescaled by a memory-domain
    *   disturbance's magnitude); falls back to `calibRatio` against
    *   pre-r15 canonicals that lack the parallel scalar
    * @return (surviving breaches, contention notes) — a normalized-
    *   away breach moves to the notes so the run log still records it */
  def normalizedFloorBreaches(scalars: Map[String, Double],
      mr: Option[(Double, Boolean)],
      calibRatio: Option[Double] = None,
      parRatio: Option[Double] = None): (Seq[String], Seq[String]) = {
    val raw = floorBreaches(scalars)
    val epsLow = scalars.get("streaming_eps").exists(_ < StreamingEpsFloor)
    val servLow =
      scalars.get("serving_eps_free").exists(_ < ServingEpsFreeFloor)
    mr match {
      case Some((m, uniform))
          if (epsLow || servLow) && uniform && m >= ContentionMinRatio =>
        calibRatio match {
          case Some(c) if c >= CalibCorroborationMin =>
            var out = raw
            val notes = Seq.newBuilder[String]
            // streaming_eps rescales by the QUERY median (the stream
            // is the same Spark work the queries are)
            for (eps <- scalars.get("streaming_eps")
                if epsLow && eps * m >= StreamingEpsFloor) {
              out = out.filterNot(_.startsWith("streaming_eps"))
              notes += f"streaming_eps $eps%.0f below floor " +
                f"$StreamingEpsFloor%.0f under uniform inflation (median " +
                f"query ratio $m%.2f, IQR within $UniformIqrMax%.2f); " +
                f"normalized ${eps * m}%.0f clears the floor — contention " +
                f"CORROBORATED by calibration (${c}%.2fx)"
            }
            // serving_eps_free rescales by the CPU-DOMAIN calibration
            // ratio specifically: the serving hop is a thread-bound
            // loop whose throughput tracks scheduler pressure (the
            // cores-wide spin), not the batch-query median (r14:
            // serving 3.2× down, query median 1.099×) and not the
            // memory-domain streamers (r16 advice: a high mem ratio
            // must not clear a real serving regression). The max
            // scalar `c` only CORROBORATES; against a pre-r15
            // canonical with no parallel scalar it is also the only
            // available magnitude.
            val servScale = parRatio.getOrElse(c)
            for (se <- scalars.get("serving_eps_free")
                if servLow && se * servScale >= ServingEpsFreeFloor) {
              out = out.filterNot(_.startsWith("serving_eps_free"))
              notes += f"serving_eps_free $se%.0f below floor " +
                f"$ServingEpsFreeFloor%.0f under CORROBORATED contention; " +
                f"normalized by the CPU-domain calibration ratio " +
                f"(${servScale}%.2fx) to ${se * servScale}%.0f — clears the floor"
            }
            (out, notes.result())
          case Some(c) =>
            // quiet calibration: the uniform inflation is code, not
            // host — the breach stands
            (raw, Seq(f"uniform inflation (median $m%.2f) NOT corroborated " +
              f"by calibration (${c}%.2fx < $CalibCorroborationMin%.2fx): " +
              "treating the eps breach as a real regression"))
          case None =>
            // fail CLOSED (r15): without the independent signal the
            // uniform inflation could as well be a real global
            // regression — the breach stands
            (raw, Seq(f"uniform inflation (median $m%.2f) suggests " +
              "contention but NO calibration scalar on one side — " +
              "failing closed: re-measure on a quiet host or re-bench " +
              "against a calibration-carrying canonical"))
        }
      case _ => (raw, Nil)
    }
  }

  /** The calibration scalars of a bench artifact (whichever of
    * calib_ms / calib_par_ms / calib_mem_ms are present). */
  def calibScalarsOf(path: String): Map[String, Double] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))
    Seq("calib_ms", "calib_par_ms", "calib_mem_ms")
      .flatMap(k => Option(root.get(k)).map(k -> _.asDouble()))
      .filter(_._2 > 0).toMap
  }

  final case class Flag(name: String, canonical: Double, latest: Double) {
    def ratio: Double = latest / canonical
    override def toString: String =
      f"$name%-28s canonical ${canonical}%6.2f s → latest ${latest}%6.2f s (${ratio}%4.2fx)"
  }

  /** Pure comparison (spec-tested): flagged regressions, sorted worst
    * first. */
  def regressions(canonical: Map[String, Double],
      latest: Map[String, Double]): Seq[Flag] =
    latest.toSeq
      .flatMap { case (name, t) =>
        canonical.get(name) match {
          case Some(c) if t > c * RatioGate && t - c > AbsFloorSec =>
            Some(Flag(name, c, t))
          case _ => None
        }
      }
      .sortBy(-_.ratio)

  /** Minimum simultaneous flags that read as a contention CLUSTER
    * (the r16 incident shape) for [[adjudicatedRegressions]]. */
  val MinClusterFlags = 3

  /** [[regressions]] with the calibration-corroborated contention
    * adjudication applied (round 17, the r16 verdict's item 1): the
    * r16 driver run carried a 3-query outlier cluster
    * (q_graph_walk_pairs 3.6×, q_dedup_substring 4.6×,
    * q_knn_ivf_trained 3.3×) on paths no commit touched, with the
    * memory-bandwidth calibration inflated 1.17× (calib_mem 47→55)
    * while the CPU spin improved — a memory-domain host disturbance
    * hitting exactly the shuffle/explode-heaviest queries. The total
    * and eps floors already consult [[pickCalibRatio]]; the per-query
    * rule did not, so the cluster had to be judge-adjudicated (a
    * quiet re-measure at round-17 open read 3.87/1.24/2.04 s —
    * canonical parity).
    *
    * Rule: when the independent calibration signal (max over the
    * par/mem domains — either domain's disturbance corrupts the
    * 32-way bench) reads ≥ [[CalibCorroborationMin]], flagged
    * queries are demoted to NOTES (machine-adjudicated as host
    * contention, quiet re-measure still mandated by the note); with a
    * quiet or missing calibration every flag STANDS — a real
    * regression on a quiet host can never hide, and a disturbed run
    * can never certify a regression as fixed either (the demotion
    * note says re-measure, not pass). Unlike the eps rescale there is
    * no magnitude check: contention inflation of individual queries
    * is not linear in the calibration ratio (r16: calib_mem 1.17×,
    * victim queries 3.3–4.6× — bandwidth starvation multiplies
    * shuffle-heavy wall time far past the probe's own slowdown), so
    * the calibration corroborates the DISTURBANCE, the magnitude
    * stays unjudgeable until a quiet window.
    *
    * Round 18 (the r17 advice): calibration corroboration ALONE no
    * longer demotes — a 1.1× probe reading is common on a busy host,
    * so a SINGLE real code regression coinciding with mild noise
    * would be permanently silenced on a chronically loaded machine.
    * Demotion now additionally requires the flags to carry a
    * contention SHAPE: either a multi-query cluster
    * (≥ [[MinClusterFlags]] — the r16 incident shape: unrelated
    * paths hit together, which a single-commit regression rarely
    * produces) or the uniform median-inflation signature
    * ([[medianRatio]] uniform ≥ [[ContentionMinRatio]] — the whole
    * registry moved together). A lone flag with a parity median
    * STANDS even on a disturbed host. And demotion is no longer
    * silent-green: [[main]] exits with status 2 on a demoted run (a
    * distinct non-ok), and `--record` refuses a disturbed sample
    * outright — an adjudicated run can mandate a quiet re-measure
    * but can never certify itself or become the canonical.
    *
    * @return (surviving flags, adjudication notes) */
  def adjudicatedRegressions(canonical: Map[String, Double],
      latest: Map[String, Double],
      calibRatio: Option[(Double, String)],
      mr: Option[(Double, Boolean)] = None): (Seq[Flag], Seq[String]) = {
    val flags = regressions(canonical, latest)
    if (flags.isEmpty) (flags, Nil)
    else calibRatio match {
      case Some((c, scalar)) if c >= CalibCorroborationMin =>
        val medianSig =
          mr.exists { case (m, uniform) => uniform && m >= ContentionMinRatio }
        val cluster = flags.size >= MinClusterFlags
        if (cluster || medianSig)
          (Nil, flags.map { f =>
            f"per-query flag DEMOTED (contention, machine-adjudicated): $f — " +
              f"host disturbance corroborated by $scalar ${c}%.2fx ≥ " +
              f"$CalibCorroborationMin%.2fx and " +
              (if (cluster) s"a ${flags.size}-query cluster"
               else "uniform median inflation") +
              "; re-measure at the next quiet " +
              "window (runMain graft.Dev time) before trusting " +
              "this sample"
          })
        else
          (flags, Seq(f"calibration disturbed ($scalar ${c}%.2fx) but the " +
            s"${flags.size} flag(s) carry no contention shape (cluster < " +
            s"$MinClusterFlags, no uniform median signature) — " +
            "indistinguishable from a real regression under mild noise: " +
            "flags STAND (r17 advice)"))
      case _ => (flags, Nil)
    }
  }

  def main(args: Array[String]): Unit = {
    val record = args.contains("--record")
    val paths = args.filterNot(_.startsWith("--"))
    val latestPath = paths.headOption.getOrElse("bench/BENCH_full_latest.json")
    val canonicalPath =
      if (paths.length > 1) paths(1) else "bench/BENCH_canonical.json"
    if (record) {
      // A disturbed sample can never become the canonical (r17
      // advice): if the outgoing canonical exists and the fresh run's
      // calibration reads disturbed against it, recording is refused
      // — re-measure on a quiet window first. (A missing canonical —
      // first record, or a deliberately retired one — records freely.)
      if (Files.exists(Paths.get(canonicalPath))) {
        pickCalibRatio(calibScalarsOf(canonicalPath),
            calibScalarsOf(latestPath)) match {
          case Some((r, k)) if r >= CalibCorroborationMin =>
            println(f"BENCHGATE record REFUSED: $latestPath reads " +
              f"$k ${r}%.2fx ≥ $CalibCorroborationMin%.2fx vs the " +
              "outgoing canonical — a disturbed sample must not become " +
              "the canonical; re-bench on a quiet window. (If the host " +
              "epoch itself shifted, document it and retire the old " +
              "canonical first.)")
            sys.exit(1)
          case _ => ()
        }
      }
      Files.copy(Paths.get(latestPath), Paths.get(canonicalPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      println(s"BENCHGATE recorded $latestPath as canonical $canonicalPath")
      return
    }
    val canonical = queryTable(canonicalPath)
    val latest = queryTable(latestPath)
    val newcomers = (latest.keySet -- canonical.keySet).toSeq.sorted
    val departed = (canonical.keySet -- latest.keySet).toSeq.sorted
    if (newcomers.nonEmpty)
      println(s"BENCHGATE new queries (no canonical yet): ${newcomers.mkString(", ")}")
    if (departed.nonEmpty)
      println(s"BENCHGATE queries gone from latest: ${departed.mkString(", ")}")
    val mr = medianRatio(canonical, latest)
    val canonCalib = calibScalarsOf(canonicalPath)
    val latestCalib = calibScalarsOf(latestPath)
    val picked = pickCalibRatio(canonCalib, latestCalib)
    picked.foreach { case (r, k) =>
      println(f"BENCHGATE calibration: $k ratio $r%.2fx" +
        (if (k == "calib_ms") " (1-thread fallback — canonical lacks calib_par_ms)" else ""))
    }
    val (flags, flagNotes) =
      adjudicatedRegressions(canonical, latest, picked, mr)
    flagNotes.foreach(n => println(s"BENCHGATE note: $n"))
    val demoted = flagNotes.exists(_.contains("DEMOTED"))
    val (breaches, contentionNotes) =
      normalizedFloorBreaches(scalarFields(latestPath), mr, picked.map(_._1),
        parCalibRatio(canonCalib, latestCalib))
    contentionNotes.foreach(n => println(s"BENCHGATE note: $n"))
    if (flags.isEmpty && breaches.isEmpty && demoted) {
      // distinct NON-ok (r17 advice): a machine-adjudicated run is
      // not a pass — it mandates a quiet re-measure and must never be
      // mistaken for (or recorded as) a clean sample
      println(s"BENCHGATE ADJUDICATED (not ok): per-query flags demoted as " +
        "host contention — re-measure on a quiet window " +
        "(runMain graft.Dev time); this sample is not canonical-grade")
      sys.exit(2)
    } else if (flags.isEmpty && breaches.isEmpty) {
      println(f"BENCHGATE ok: ${latest.size} queries within ${RatioGate}x of canonical " +
        f"(${canonical.size} canonical entries); streaming/serving floors green")
    } else {
      if (flags.nonEmpty) {
        println(s"BENCHGATE FAIL: ${flags.size} quer${if (flags.size == 1) "y" else "ies"} " +
          f"regressed beyond ${RatioGate}x (+${AbsFloorSec}%.1f s):")
        flags.foreach(f => println(s"  $f"))
        println("  → re-measure isolated, fix, or re-record canonical " +
          "(runMain graft.BenchGate -- --record) with justification")
      }
      if (breaches.nonEmpty) {
        println(s"BENCHGATE FAIL: streaming/serving floor breach:")
        breaches.foreach(b => println(s"  $b"))
        println("  → re-measure isolated; a reproducing breach is a real " +
          "regression (floors are absolute — nothing to re-record)")
      }
      sys.exit(1)
    }
  }
}
