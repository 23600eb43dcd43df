package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pigeonhole segmentation of a fixed-width bit signature for
  * Hamming-banded candidate generation (public technique: Manku/Jain/
  * Das Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07
  * §3): split a `bits`-wide signature into `segments` contiguous
  * segments (default `maxHamming`+1) — a pair at Hamming distance ≤
  * `maxHamming` has its differing bits in at most `maxHamming`
  * segments, so AT LEAST `segments − maxHamming` segments are
  * bit-identical. Candidate generation is therefore an exact-recall
  * equi-join on (segment index, segment value): linear-ish in true
  * near-dup density, never all-pairs.
  *
  * The SEGMENT-WIDTH KNOB (Manku §3's block/table trade): at the
  * default `segments = maxHamming+1` the join key is one ~bits/(h+1)-
  * wide segment, and unrelated signatures collide on a key with
  * probability ~2^(−bits/(h+1)) — the random collision-mass term a
  * verify stage must reject. Raising `segments` to s > h+1 and keying
  * on [[combos]] — every (s−h)-subset of segments, concatenated —
  * widens the effective key to (s−h)·bits/s bits at C(s, s−h)-fold
  * banding fanout: recall stays EXACT (≥ s−h clean segments ⇒ at
  * least one clean (s−h)-subset), while collision mass drops
  * exponentially in the added key width. PLANS.md "Round-10:
  * pigeonhole segment-width knob — measured" records the trade on the
  * real signature corpus.
  *
  * Shared by `q_dedup_simhash_pairs` (32-bit text simhash) and
  * `q_dedup_phash` (64-bit image dHash) — the segmentation is pure
  * arithmetic on the signature column, so both stay inside whole-stage
  * codegen.
  */
final case class Pigeonhole(bits: Int, maxHamming: Int, segmentsOverride: Int = 0) {
  val segments: Int =
    if (segmentsOverride == 0) maxHamming + 1 else segmentsOverride
  require(segments >= maxHamming + 1,
    s"exact recall needs >= ${maxHamming + 1} segments, got $segments")
  require(segments <= bits, s"$segments segments over $bits bits")

  /** (bit offset, width) per segment; first `bits % segments` segments
    * get one extra bit. */
  val segBounds: Seq[(Int, Int)] = {
    val base = bits / segments
    val extra = bits % segments
    val widths = (0 until segments).map(j => base + (if (j < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).init.zip(widths)
  }

  /** Segment `j` of the signature as an unsigned value. Unsigned
    * shift so a 64-bit signature's sign bit never sign-extends into
    * the mask; the mask itself is safe for every width < 64 (and a
    * single 64-wide segment needs no mask). */
  def segmentValue(sig: Column, j: Int): Column = {
    val (off, w) = segBounds(j)
    val shifted = shiftrightunsigned(sig, off)
    if (w == 64) shifted
    else shifted.bitwiseAND(lit((1L << w) - 1))
  }

  /** JVM twin of [[segmentValue]] — bit-identical to the Column form
    * by construction (same bounds, same unsigned shift); for JVM-side
    * probes and references that must agree with the SQL banding. */
  def segmentValueLong(sig: Long, j: Int): Long = {
    val (off, w) = segBounds(j)
    val shifted = sig >>> off
    if (w == 64) shifted else shifted & ((1L << w) - 1)
  }

  /** The (segments − maxHamming)-subsets of segment indices — the
    * banding keys of the widened construction. At the default
    * segments = maxHamming+1 these are the singletons, i.e. exactly
    * the classic per-segment banding. */
  val combos: Seq[Seq[Int]] =
    (0 until segments).combinations(segments - maxHamming).map(_.toSeq).toSeq

  /** Combo `ix`'s segments concatenated into one ≤ 64-bit join key
    * (disjoint segments of a ≤ 64-bit signature always fit). */
  def comboValue(sig: Column, ix: Int): Column =
    combos(ix).foldLeft(lit(0L): Column) { (acc, j) =>
      shiftleft(acc, segBounds(j)._2) + segmentValue(sig, j)
    }

  /** JVM twin of [[comboValue]]. */
  def comboValueLong(sig: Long, ix: Int): Long =
    combos(ix).foldLeft(0L) { (acc, j) =>
      (acc << segBounds(j)._2) + segmentValueLong(sig, j)
    }
}
