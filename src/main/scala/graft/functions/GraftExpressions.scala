package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot paths.
  *
  * Preference order per SURVEY.md §7: compose built-ins first; drop to
  * a custom `Expression` only where the built-ins are structurally
  * slow. Two such spots exist:
  *
  *  - vector math over `array<double>`: the higher-order-function
  *    formulation (`aggregate(zip_with(...))`) evaluates a lambda
  *    interpreter per element; [[CosineSim]] runs a primitive loop
  *    inside whole-stage codegen, with the SAME left-to-right
  *    accumulation order, so results stay bit-identical to the HOF
  *    form and the DuckDB oracle;
  *
  *  - CLF parsing: 8 independent `regexp_extract` calls re-match the
  *    same regex per field; [[ClfParse]] matches once and returns the
  *    whole struct (null on non-match — F10 semantics preserved).
  *
  * EVERY expression here implements `doGenCode` — none is a
  * `CodegenFallback`. A fallback inside the flagship's fused
  * scan→parse→filter stage forces per-row interpreted dispatch (and
  * an InternalRow materialization) exactly where the engine spends
  * its time; measured on the flagship at sf0.1, moving these into
  * codegen is worth ~25% of the whole pipeline. The generated code
  * calls the SAME static kernels `nullSafeEval` uses, so the two
  * paths cannot drift; per-instance state (compiled patterns, the
  * memoization map) lives in codegen mutable state, initialized once
  * per generated-class instance — the same once-per-task cost as the
  * `@transient lazy val` it replaces.
  */
object GraftExpressions {

  /** cosine(a, b) — one-pass dot/(√na·√nb), left-to-right. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // freshName for every local: two CosineSim calls in one
        // codegen stage otherwise redeclare `i`/`n` and the whole
        // stage falls back to interpreted mode.
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = $a.getDouble($i);
           |  double $yv = $b.getDouble($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // ------------------------------------------------- static kernels
  // Shared by nullSafeEval AND the generated code (called as
  // graft.functions.GraftExpressions.<name> via the companion's
  // static forwarders), so interpreted and codegen paths are one
  // implementation.

  /** CLF line → 8-field struct row, null on grammar reject. */
  def clfParseRow(p: Pattern, v: UTF8String): InternalRow = {
    val m = p.matcher(v.toString)
    if (!m.matches()) null
    else {
      val out = new Array[Any](8)
      var i = 0
      while (i < 8) {
        val g = m.group(i + 1)
        out(i) = if (g == null) null else UTF8String.fromString(g)
        i += 1
      }
      InternalRow.fromSeq(out.toIndexedSeq)
    }
  }

  /** `/wb/<path>` URI → struct(nseg, lemma); see [[UriLemma]]. */
  def uriLemmaRow(v: UTF8String): InternalRow = {
    val uri = v.toString
    // the reference parses the URI and takes only its :path
    // (access_log.clj:84) — query string and fragment never reach
    // the lemma
    val qMark = {
      val q = uri.indexOf('?'); val h = uri.indexOf('#')
      if (q < 0) h else if (h < 0) q else math.min(q, h)
    }
    val pathOnly = if (qMark < 0) uri else uri.substring(0, qMark)
    var rest = if (pathOnly.length >= 4) pathOnly.substring(4) else ""
    // clojure's str/split drops trailing empty segments — a
    // trailing '/' must not count as an extra path segment
    var end = rest.length
    while (end > 0 && rest.charAt(end - 1) == '/') end -= 1
    rest = rest.substring(0, end)
    var nseg = 1
    var i = 0
    var firstEnd = -1
    while (i < rest.length) {
      if (rest.charAt(i) == '/') {
        if (firstEnd < 0) firstEnd = i
        nseg += 1
      }
      i += 1
    }
    val head = if (firstEnd < 0) rest else rest.substring(0, firstEnd)
    val lemma =
      // percent-decode ONLY (%XX): the reference's decode leaves '+'
      // intact, unlike URLDecoder's form-encoding rules
      try UTF8String.fromString(java.net.URLDecoder.decode(
        head.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: IllegalArgumentException => null }
    InternalRow(nseg, lemma)
  }

  /** Memoized unanchored regex find; see [[MemoRLike]]. */
  def memoRlikeMatch(p: Pattern,
      cache: java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean],
      v: UTF8String): Boolean = {
    val s = v.toString
    val hit = cache.get(s)
    if (hit != null) hit.booleanValue()
    // computeIfAbsent keeps the check-then-insert atomic under task
    // concurrency (overshoot bounded to in-flight threads); memory
    // worst case stays MemoMaxEntries × UA length per cache instance
    else if (cache.size < MemoMaxEntries)
      cache.computeIfAbsent(s,
        k => java.lang.Boolean.valueOf(p.matcher(k).find())).booleanValue()
    else p.matcher(s).find()
  }

  private val MemoMaxEntries = 1 << 16

  /** Word n-gram shingle array; see [[Shingles]]. */
  def shinglesArray(v: UTF8String, n: Int, dedup: Boolean): ArrayData = {
    val s = v.toString
    // split on ' ' keeping all (also trailing) empty fields
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        words += s.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    val m = words.length - (n - 1)
    if (m <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val seen = if (dedup) new java.util.LinkedHashSet[String](m * 2) else null
      val plain = if (dedup) null else new Array[Any](m)
      val sb = new java.lang.StringBuilder(64)
      var j = 0
      while (j < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(words(j + k))
          k += 1
        }
        if (dedup) seen.add(sb.toString): Unit
        else plain(j) = UTF8String.fromString(sb.toString)
        j += 1
      }
      if (!dedup) new GenericArrayData(plain)
      else {
        val arr = new Array[Any](seen.size)
        val it = seen.iterator()
        var x = 0
        while (it.hasNext) { arr(x) = UTF8String.fromString(it.next()); x += 1 }
        new GenericArrayData(arr)
      }
    }
  }

  /** NFC-normalize; see [[NfcNormalize]]. */
  def nfcNormalized(v: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      v.toString, java.text.Normalizer.Form.NFC))

  /** NFD + combining-mark strip + NFC; see [[StripAccents]]. */
  def accentsStripped(v: UTF8String): UTF8String = {
    val nfd = java.text.Normalizer.normalize(
      v.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c): Unit
      i += 1
    }
    UTF8String.fromString(java.text.Normalizer.normalize(
      sb.toString, java.text.Normalizer.Form.NFC))
  }

  private val Self = "graft.functions.GraftExpressions"
  private val PatternCls = classOf[Pattern].getName

  /** Codegen mutable state holding a Pattern compiled once per
    * generated-class instance from a driver-shipped regex string
    * (the string rides the serializable `references` array — the
    * compiled Pattern itself is not serializable). */
  private def compiledPatternState(ctx: CodegenContext, regex: String): String = {
    val ref = ctx.addReferenceObj("graftRegex", regex, "java.lang.String")
    ctx.addMutableState(PatternCls, "graftPattern",
      v => s"$v = $PatternCls.compile($ref);")
  }

  /** One-pass combined-log-format parse: string → struct of the 8
    * captured fields (all strings; null struct on non-match). The
    * compiled pattern is instantiated once per task, not per row.
    * Regex semantics identical to graft.parse.Clf.Pattern (shared
    * constant), so the DuckDB oracle twin is unchanged. */
  case class ClfParse(child: Expression) extends UnaryExpression {

    // Returns null for grammar-rejected lines even when the input
    // column is non-nullable — without this override the optimizer
    // constant-folds isNull checks away and garbage rows survive.
    override def nullable: Boolean = true

    // PURE function, deliberately flagged nondeterministic: this is an
    // optimizer fence (the ScalaUDF.asNondeterministic technique), not
    // a semantics statement. Without it, predicate pushdown through
    // the parse projection substitutes the alias into every downstream
    // filter — the flagship plan evaluated this regex 9× per row.
    // With the fence, filters stay above the projection and the line
    // is matched exactly once.
    override lazy val deterministic: Boolean = false

    override val dataType: DataType = StructType(
      Seq("ip", "ts_raw", "method", "uri", "status", "size_raw", "referrer",
        "user_agent").map(StructField(_, StringType, nullable = true)))

    @transient private lazy val pattern: Pattern =
      Pattern.compile(graft.parse.Clf.Pattern)

    override def nullSafeEval(v: Any): Any =
      clfParseRow(pattern, v.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val p = compiledPatternState(ctx, graft.parse.Clf.Pattern)
      nullSafeCodeGen(ctx, ev, c => s"""
        |${ev.value} = $Self.clfParseRow($p, $c);
        |${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word n-gram shingles: string → array<string>. Single pass,
    * no per-element lambda interpretation (the
    * `transform(sequence(...))` HOF formulation costs ~15µs/shingle
    * interpreted; this is ~100ns). Splitting keeps empty fields like
    * Spark's `split(col, " ")` / DuckDB's `string_split`, so results
    * are identical to the declarative form the oracle uses.
    * `dedup=true` de-duplicates within the document (order-preserving,
    * ≙ `array_distinct`). */
  case class Shingles(child: Expression, n: Int, dedup: Boolean)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(v: Any): Any =
      shinglesArray(v.asInstanceOf[UTF8String], n, dedup)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $Self.shinglesArray($c, $n, $dedup);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** F5 in one pass: `/wb/<path>` → struct(nseg, lemma) where lemma
    * is the percent-decoded head segment. Split happens BEFORE decode
    * (reference order, `access_log.clj:84-86`), so an encoded `%2F`
    * cannot create segments. Decode matches Spark's `url_decode`
    * (java.net.URLDecoder, UTF-8). Null lemma on decode failure — F10. */
  case class UriLemma(child: Expression) extends UnaryExpression {

    // Same optimizer fence as ClfParse — the flagship plan held 6
    // inlined copies of this expression before it.
    override lazy val deterministic: Boolean = false

    override val dataType: DataType = StructType(Seq(
      StructField("nseg", IntegerType, nullable = false),
      StructField("lemma", StringType, nullable = true)))

    override def nullSafeEval(v: Any): Any =
      uriLemmaRow(v.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $Self.uriLemmaRow($c);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `rlike` with per-task memoization over the INPUT VALUE — for
    * low-cardinality string columns matched against expensive
    * patterns (the F8 bot filter: a large alternation over a
    * user-agent column whose distinct count is thousands while row
    * count is billions). Each executor evaluates the regex once per
    * distinct value and answers the rest from a bounded concurrent
    * map; semantics are identical to `rlike(pattern)` (unanchored
    * find), which the flagship oracle and ExpressionsSpec both pin.
    * Cache is capped — past the cap it degrades gracefully to plain
    * matching (no eviction churn, no unbounded memory). */
  case class MemoRLike(child: Expression, pattern: String)
      extends UnaryExpression {

    override def dataType: DataType = BooleanType

    @transient private lazy val compiled: Pattern = Pattern.compile(pattern)
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

    override def nullSafeEval(v: Any): Any =
      memoRlikeMatch(compiled, cache, v.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val p = compiledPatternState(ctx, pattern)
      val mapCls = "java.util.concurrent.ConcurrentHashMap"
      val cacheRef = ctx.addMutableState(mapCls, "graftMemoCache",
        v => s"$v = new $mapCls();")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $Self.memoRlikeMatch($p, $cacheRef, $c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Unicode NFC normalization — the canonical-form step of a text
    * cleaning pipeline (DuckDB twin: `nfc_normalize`). */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      nfcNormalized(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $Self.nfcNormalized($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** One-pass hashed-logreg margin numerator over a text column:
    * tokenize on single spaces (EXACTLY `split(lower(text), " ")`
    * semantics — empty tokens from runs of spaces and the trailing
    * split included), hash each token into a `dim`-bucket feature
    * space via the portable 60-bit md5 digest, weight
    * `bucket·mult mod 1024 − 512`, sum. Integer-exact twin of the
    * `aggregate(split(...), 0L, (acc, w) => acc + wnum(w))` HOF form
    * it replaces: the HOF evaluates its lambda through the
    * interpreter per token; this kernel runs one primitive loop per
    * row inside whole-stage codegen and hashes straight from the
    * lowered bytes — no per-token UTF8String allocation, no lambda
    * dispatch. */
  def logregMarginOf(v: UTF8String, dim: Long, mult: Long): Long = {
    // Spark's lower() is UTF8String.toLowerCase — use the same call
    // so locale/unicode edge cases cannot diverge from the HOF form.
    val b = v.toLowerCase.getBytes
    var margin = 0L
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' '.toByte) {
        // token = bytes [start, i): 0x20 never occurs inside a
        // multi-byte UTF-8 sequence, so byte-splitting == char-splitting
        val h = PortableHash.digest60Bytes(b, start, i - start)
        margin += h % dim * mult % 1024L - 512L
        start = i + 1
      }
      i += 1
    }
    margin
  }

  /** Accent stripping via NFD + combining-mark removal (DuckDB twin:
    * `strip_accents`). */
  case class StripAccents(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      accentsStripped(v.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $Self.accentsStripped($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Hashed-logreg margin numerator (see [[logregMarginOf]]): the
    * serving-path scorer of the learned quality filter as ONE codegen
    * expression — replaces an `aggregate` HOF whose lambda evaluated
    * interpreted per token in the gate's hottest loop. */
  case class LogregMargin(child: Expression, dim: Long, mult: Long)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      logregMarginOf(v.asInstanceOf[UTF8String], dim, mult)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $Self.logregMarginOf($c, ${dim}L, ${mult}L);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** |A ∩ B| for two SORTED strictly-increasing int arrays — the
    * similarity-join verify kernel (`q_sim_ppjoin` token-rank
    * arrays): a single O(n+m) merge walk, zero allocation, vs the
    * built-in `array_intersect`'s per-row hash-set build + result
    * array that is immediately reduced to its size. Caller contract:
    * both inputs sorted ascending with distinct elements (what
    * `sort_array ∘ collect_list` over distinct ranks produces);
    * on unsorted input the count is undefined, not an error. */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = IntegerType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements(); val m = y.numElements()
      var i = 0; var j = 0; var c = 0
      while (i < n && j < m) {
        val xv = x.getInt(i); val yv = y.getInt(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      c
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val m = ctx.freshName("m")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $n = $a.numElements(); int $m = $b.numElements();
           |int $i = 0, $j = 0, $c = 0;
           |while ($i < $n && $j < $m) {
           |  int $xv = $a.getInt($i); int $yv = $b.getInt($j);
           |  if ($xv == $yv) { $c++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** dot(a, b) — plain left-to-right double dot product; the
    * codegen'd form of `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
    * (≙ DuckDB `list_dot_product`), same accumulation order, so
    * values stay bit-identical to both. [[CosineSim]]'s loop minus
    * the norms — for the raw-dot sites (PQ LUTs, norms).
    *
    * Length/null stance (= [[CosineSim]]'s, the established one):
    * the loop runs to min(|a|, |b|) and null ELEMENTS read as 0.0 —
    * callers contract fixed-width non-null vectors (the HOF form
    * instead returned NULL for a mismatched/null-element row; both
    * behaviors are silent on malformed data, so the precondition is
    * the real guarantee — [[PlaneBits]] is the strict one because a
    * wrong BUCKET is a wrong dedup decision, while a wrong distance
    * only perturbs a ranking). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
      dot
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $dot;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ (aᵢ − bᵢ)² — squared euclidean distance, left-to-right; the
    * codegen'd form of `aggregate(zip_with(a, b, (x,y) => (x−y)·(x−y)),
    * 0.0, _+_)` with the identical accumulation order, so k-means
    * assignments (the hot loop of every trained-quantizer query)
    * stay bit-identical to the HOF form they replace. */
  case class SqDist(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = x.getDouble(i) - y.getDouble(i)
        s += d * d
        i += 1
      }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val d = ctx.freshName("d")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = $a.getDouble($i) - $b.getDouble($i);
           |  $s += $d * $d;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Packed hyperplane-sign bits of a double vector against a LITERAL
    * plane matrix: Σⱼ (dot(v, planeⱼ) ≥ 0 ? weightⱼ : 0) — the one
    * loop every LSH bucket/band computation in the engine runs
    * (q_knn_lsh, q_dedup_embed_lsh, q_knn_lsh_multi, q_embed_cluster
    * all previously composed it from `aggregate(zip_with(...))` per
    * plane: an interpreted lambda per ELEMENT, ×planes×rows). Each
    * per-plane dot is the identical left-to-right double
    * accumulation as the HOF form and DuckDB's `list_dot_product`,
    * so buckets stay bit-identical to the oracle; the weighted sum
    * is exact integer addition. The plane matrix rides along as a
    * codegen reference object — no per-row materialization.
    *
    * Strictness: a NULL vector yields a NULL bucket (standard SQL
    * null propagation; the HOF composition silently produced bucket
    * 0), and a vector whose width differs from the planes' THROWS —
    * a partial dot would silently set wrong sign bits and mis-route
    * the row, a wrong dedup/clustering decision with no error. */
  case class PlaneBits(child: Expression,
      planes: Array[Array[Double]], weights: Array[Long])
      extends UnaryExpression {
    require(planes.length == weights.length, "one weight per plane")
    require(planes.isEmpty || planes.forall(_.length == planes(0).length),
      "ragged plane matrix: all planes must share one dimension")

    override def dataType: DataType = LongType

    private lazy val flat: Array[Double] = planes.flatten
    private lazy val dim: Int = if (planes.isEmpty) 0 else planes(0).length

    override def nullSafeEval(v: Any): Any =
      planeBitsKernel(flat, weights, dim, v.asInstanceOf[ArrayData])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val flatRef = ctx.addReferenceObj("planesFlat", flat, "double[]")
      val wRef = ctx.addReferenceObj("planeWeights", weights, "long[]")
      nullSafeCodeGen(ctx, ev, v =>
        s"""
           |${ev.value} = graft.functions.GraftExpressions.planeBitsKernel(
           |  $flatRef, $wRef, $dim, $v);
         """.stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared kernel of [[PlaneBits]] (interpreted AND generated
    * paths): per plane, a left-to-right double dot, then the ≥ 0
    * sign gates the exact integer weight. */
  def planeBitsKernel(flat: Array[Double], weights: Array[Long],
      dim: Int, v: ArrayData): Long = {
    // fail LOUDLY on a malformed vector (the q_chunk_dedup
    // assert_true stance): a partial dot would silently set wrong
    // sign bits and route the row to the wrong bucket — a wrong
    // dedup/clustering decision with no error anywhere. (The HOF
    // composition this replaces was itself silently wrong here: a
    // short vector nulled every plane dot into bucket 0.)
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"plane_bits: vector has ${v.numElements()} dims, planes have $dim")
    var bits = 0L
    var j = 0
    while (j < weights.length) {
      val off = j * dim
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += v.getDouble(i) * flat(off + i); i += 1 }
      if (acc >= 0) bits += weights(j)
      j += 1
    }
    bits
  }

  /** Jaro–Winkler similarity — the record-linkage scoring kernel
    * (Winkler 1990): Jaro with the common-prefix bonus, prefix capped
    * at 4, scaling 0.1, bonus applied only above 0.7. The variant is
    * pinned EMPIRICALLY to DuckDB's `jaro_winkler_similarity`
    * (rapidfuzz lineage): 0 mismatches over 25k random +
    * transposition-planted pairs, including the one deviation from
    * the textbook definition — either string empty ⇒ 0.0 (the
    * textbook says two empties are similarity 1). Operates on
    * codepoints, not UTF-16 units, for the same reason.
    *
    * O(l1·l2) worst case over the match window — callers run it as a
    * VERIFY stage on blocked candidate pairs (bounded fields: names,
    * addresses, phones), never as a corpus self-join. */
  def jaroWinklerOf(a: UTF8String, b: UTF8String): Double = {
    if (a.numBytes == 0 || b.numBytes == 0) return 0.0
    // identical-string shortcut BEFORE the window walk: for strings of
    // length ≤ 2 the match window max(l1,l2)/2 − 1 is ≤ 0 wide, so the
    // walk alone scores jw('K','K') = 0 — DuckDB (rapidfuzz lineage)
    // shortcuts equality to 1.0 instead, and the property spec's
    // identity law caught the difference the 25k random sweep missed
    // (its reference implementation carried the same shortcut)
    if (a.equals(b)) return 1.0
    val s1 = a.toString.codePoints.toArray
    val s2 = b.toString.codePoints.toArray
    val l1 = s1.length; val l2 = s2.length
    val window = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var trans = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val t = trans / 2
    val jaro = (matches.toDouble / l1 + matches.toDouble / l2 +
      (matches - t).toDouble / matches) / 3.0
    if (jaro > 0.7) {
      var pref = 0
      while (pref < 4 && pref < l1 && pref < l2 && s1(pref) == s2(pref)) pref += 1
      jaro + pref * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** jaro_winkler(a, b) — see [[jaroWinklerOf]]. */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      jaroWinklerOf(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $Self.jaroWinklerOf($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // ------------------------------------------------------- Column wrappers

  def cosine_sim(a: Column, b: Column): Column =
    bridge.column(CosineSim(bridge.expression(a), bridge.expression(b)))

  def sorted_intersect_count(a: Column, b: Column): Column =
    bridge.column(SortedIntersectCount(bridge.expression(a), bridge.expression(b)))

  def clf_parse(line: Column): Column =
    bridge.column(ClfParse(bridge.expression(line)))

  def shingles(text: Column, n: Int, dedup: Boolean): Column =
    bridge.column(Shingles(bridge.expression(text), n, dedup))

  def uri_lemma(uri: Column): Column =
    bridge.column(UriLemma(bridge.expression(uri)))

  def memo_rlike(s: Column, pattern: String): Column =
    bridge.column(MemoRLike(bridge.expression(s), pattern))

  def nfc_normalize(s: Column): Column =
    bridge.column(NfcNormalize(bridge.expression(s)))

  def strip_accents(s: Column): Column =
    bridge.column(StripAccents(bridge.expression(s)))

  def logreg_margin(text: Column, dim: Long, mult: Long): Column =
    bridge.column(LogregMargin(bridge.expression(text), dim, mult))

  def plane_bits(v: Column, planes: Array[Array[Double]],
      weights: Array[Long]): Column =
    bridge.column(PlaneBits(bridge.expression(v), planes, weights))

  def jaro_winkler(a: Column, b: Column): Column =
    bridge.column(JaroWinkler(bridge.expression(a), bridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    bridge.column(DotProduct(bridge.expression(a), bridge.expression(b)))

  def sq_dist(a: Column, b: Column): Column =
    bridge.column(SqDist(bridge.expression(a), bridge.expression(b)))

  /** vec_lookup(key) — model-vector fetch from a BROADCAST variable
    * (r19, the SGNS per-iteration model side). The model table used
    * to reach the examples through a broadcast JOIN, which costs one
    * broadcast-exchange build JOB per iteration plus the join
    * machinery; a `SparkContext.broadcast` handle ships with the task
    * binary for free (no job — executors fetch blocks once), and the
    * lookup is one hash probe per row, whole-stage-codegen'd. The
    * broadcast (not a plan-embedded literal/reference array) is what
    * keeps this scale-safe: a 2²⁰-node model is ~130 MB that must NOT
    * ride every task closure.
    *
    * The expression reads the broadcast through a mutable
    * [[VecBcHolder]] (r19 third cut) so ONE planned-and-codegen'd
    * plan serves every training iteration: the holder rides the
    * codegen references array, which the scheduler re-serializes into
    * the task binary at every job submission, so re-executing the
    * same RDD picks up the handle the driver swapped in — no
    * per-iteration Catalyst re-plan, no plan-embedded model copy.
    *
    * Total-lookup contract (= the inner join it replaces, where every
    * key is in the vocabulary by construction): a missing key THROWS
    * — a silent null would train on a zero vector and corrupt the
    * model with no error anywhere (the PlaneBits strictness stance).
    * The caller owns the broadcast lifecycle (destroy after the
    * iteration's action, re-point the holder before the next). */
  case class BcVecLookup(child: Expression, holder: VecBcHolder)
      extends UnaryExpression {

    // NEVER foldable, even over a literal key (UnaryExpression
    // delegates foldable to the child): ConstantFolding would
    // otherwise evaluate the lookup at OPTIMIZATION time — against a
    // not-yet-set (or iteration-stale) holder — and freeze the model
    // vector into the plan. KMeans probes centroids by literal index.
    override def foldable: Boolean = false

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def nullSafeEval(k: Any): Any =
      vecLookupKernel(holder.bc.value, k.asInstanceOf[java.lang.Long])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val hRef = ctx.addReferenceObj("vecHolder", holder,
        "graft.functions.VecBcHolder")
      val mapVar = ctx.addMutableState("java.util.HashMap", "vecMap",
        v => s"$v = (java.util.HashMap) $hRef.bc().value();")
      nullSafeCodeGen(ctx, ev, k =>
        s"""
           |${ev.value} = graft.functions.GraftExpressions.vecLookupKernel(
           |  $mapVar, $k);
         """.stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Shared kernel of [[BcVecLookup]] (interpreted AND generated). */
  def vecLookupKernel(map: java.util.HashMap[java.lang.Long, Array[Double]],
      k: Long): ArrayData = {
    val arr = map.get(k)
    if (arr == null)
      throw new IllegalArgumentException(s"vec_lookup: key $k not in model")
    new GenericArrayData(arr)
  }

  def vec_lookup(key: Column, holder: VecBcHolder): Column =
    bridge.column(BcVecLookup(bridge.expression(key), holder))

  /** A dimension version's lookup: string key → the row of its
    * remaining columns, built and broadcast once per version
    * (`streaming.DimensionSnapshot`). */
  type DimMap = java.util.HashMap[UTF8String, InternalRow]

  /** dim_lookup(key) — the probe side of a left-outer equi-join on a
    * string key against a broadcast map, as one codegen'd hash probe
    * per row: the key must be a string (the map holds UTF8String
    * keys); `dataType` is the struct of the dimension's non-key
    * columns, null on a miss or a null key (the join's unmatched
    * row). It holds the version's `Broadcast` itself, not a
    * [[VecBcHolder]]: a dimension version never changes, so there is
    * nothing to swap, and a batch enriched through it plans no
    * broadcast exchange — the map ships with the task binary as a
    * broadcast stub, once per executor. The caller destroys the
    * broadcast when the version retires. */
  case class BcDimLookup(child: Expression,
      bc: org.apache.spark.broadcast.Broadcast[DimMap], dataType: StructType)
      extends UnaryExpression {

    // never foldable, like BcVecLookup: a literal key must not freeze
    // one version's row into the plan at optimization time
    override def foldable: Boolean = false

    override def nullable: Boolean = true

    // the plan shows the key and the broadcast, not the whole row type
    override protected def stringArgs: Iterator[Any] = Iterator(child, bc)

    override def nullSafeEval(k: Any): Any = bc.value.get(k)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bRef = ctx.addReferenceObj("dimBc", bc,
        "org.apache.spark.broadcast.Broadcast")
      val mapVar = ctx.addMutableState("java.util.HashMap", "dimMap",
        v => s"$v = (java.util.HashMap) $bRef.value();")
      nullSafeCodeGen(ctx, ev, k => s"""
        |${ev.value} = (InternalRow) $mapVar.get($k);
        |${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def dim_lookup(key: Column, bc: org.apache.spark.broadcast.Broadcast[DimMap],
      valueType: StructType): Column =
    bridge.column(BcDimLookup(bridge.expression(key), bc, valueType))
}

/** Mutable broadcast slot for [[GraftExpressions.BcVecLookup]] — the
  * driver re-points `bc` between jobs (each SGNS iteration) and the
  * per-job task-binary re-serialization carries the new stub to the
  * executors. Top-level class so generated Java can name its type. */
final class VecBcHolder extends Serializable {
  @volatile var bc: org.apache.spark.broadcast.Broadcast[
    java.util.HashMap[java.lang.Long, Array[Double]]] = null
}
