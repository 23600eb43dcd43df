package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.{Bpe, UnigramLm}
import graft.queries.Q.t
import graft.Fence.FenceOps

/** Training-data text analysis over the `documents` table: language
  * ID (word-gram marker heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex classes), document fingerprinting.
  *
  * All pure per-row column expressions — at 100 TB these fuse into the
  * scan stage with zero shuffles (the final orderBy exists only for
  * oracle hashing).
  */
object TextQueries {

  private def words(c: Column): Column = split(lower(c), " ")

  private def countIn(ws: Column, set: Seq[String]): Column =
    size(filter(ws, w => w.isin(set.map(lit(_)): _*)))

  private val EnMarkers = Seq("the", "a", "of", "and")
  private val DeMarkers = Seq("der", "die", "das", "und")

  private val qLangid = Q("q_text_langid",
    """WITH w AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
      |           FROM documents)
      |SELECT doc_id, lang,
      |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS INT) AS en_score,
      |  CAST(len(list_filter(ws, x -> x IN ('der','die','das','und'))) AS INT) AS de_score,
      |  CASE WHEN len(list_filter(ws, x -> x IN ('der','die','das','und')))
      |            > len(list_filter(ws, x -> x IN ('the','a','of','and'))) THEN 'de'
      |       WHEN len(list_filter(ws, x -> x IN ('the','a','of','and'))) > 0 THEN 'en'
      |       ELSE 'und' END AS predicted
      |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ws = words(col("text"))
    val en = countIn(ws, EnMarkers)
    val de = countIn(ws, DeMarkers)
    t(s, d, "documents").select(
      col("doc_id"), col("lang"),
      en.as("en_score"), de.as("de_score"),
      when(de > en, "de").when(en > 0, "en").otherwise("und").as("predicted"))
      .orderBy(col("doc_id"))
  }

  private val qQuality = Q("q_text_quality",
    """WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws
      |           FROM documents)
      |SELECT doc_id,
      |  CAST(len(ws) AS INT) AS n_words,
      |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |        / CAST(len(ws) AS DOUBLE), 4) AS avg_word_len,
      |  round(CAST(len(list_filter(ws, x -> x IN ('the','a','of','and')))
      |             AS DOUBLE) / CAST(len(ws) AS DOUBLE), 4) AS stop_ratio,
      |  CASE WHEN len(ws) BETWEEN 20 AND 500
      |        AND len(list_filter(ws, x -> x IN ('the','a','of','and'))) > 0
      |       THEN 'good' ELSE 'poor' END AS quality
      |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ws = words(col("text"))
    val nw = size(ws)
    val stops = countIn(ws, EnMarkers)
    t(s, d, "documents").select(
      col("doc_id"),
      nw.as("n_words"),
      round(length(regexp_replace(col("text"), " ", "")).cast("double")
        / nw.cast("double"), 4).as("avg_word_len"),
      round(stops.cast("double") / nw.cast("double"), 4).as("stop_ratio"),
      when(nw.between(20, 500) && stops > 0, "good").otherwise("poor").as("quality"))
      .orderBy(col("doc_id"))
  }

  private val qTokens = Q("q_text_tokens",
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT)
      |    AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    t(s, d, "documents").select(
      col("doc_id"),
      size(split(col("text"), "\\s+")).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("re_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Portable fingerprint: md5 over whitespace-normalized text — the
    * exact-dedup key that survives reformatting. */
  private val qFingerprint = Q("q_text_fingerprint",
    """SELECT doc_id,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    t(s, d, "documents").select(
      col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Unicode cleaning: NFC canonicalization + accent stripping over a
    * text sample with genuine combining characters (the corpus is
    * ASCII, so an accented suffix is appended to exercise the
    * semantics on every row). */
  private val qNormalize = Q("q_text_normalize",
    """SELECT doc_id,
      |  nfc_normalize(substr(text, 1, 20) || ' Ba' || chr(776) || 'ume') AS norm,
      |  strip_accents(substr(text, 1, 20) || ' Bäume café') AS plain
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.GraftExpressions.{nfc_normalize, strip_accents}
    t(s, d, "documents").select(
      col("doc_id"),
      nfc_normalize(concat(substring(col("text"), 1, 20),
        lit(" Bäume"))).as("norm"),
      strip_accents(concat(substring(col("text"), 1, 20),
        lit(" Bäume café"))).as("plain"))
      .orderBy(col("doc_id"))
  }

  /** Language-model-style n-gram frequency table: top bigrams with
    * counts and corpus share. Shuffle shape at 100 TB: the bigram
    * string never leaves the scan stage un-aggregated — explode feeds
    * a map-side partial count, and only (bigram, partial_n) pairs hit
    * the exchange. Top-k is TakeOrdered, not a full sort. */
  private val qBigrams = Q("q_text_bigrams",
    """WITH w AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
      |b AS (SELECT unnest(CASE WHEN len(ws) >= 2
      |        THEN list_transform(generate_series(1, len(ws) - 1),
      |             i -> ws[i] || ' ' || ws[i+1])
      |        ELSE [] END) AS bigram
      |      FROM w),
      |c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bigram),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
      |SELECT bigram, n, CAST(n AS DOUBLE) / total AS share
      |FROM c CROSS JOIN t
      |ORDER BY n DESC, bigram LIMIT 25""".stripMargin) { (s, d) =>
    val bigrams = t(s, d, "documents")
      .select(explode(graft.functions.GraftExpressions.shingles(
        lower(col("text")), 2, dedup = false)).as("bigram"))
    // materialize the (vocabulary-sized) count table once — total is
    // derived from it AND it feeds the crossJoin, so without the
    // checkpoint the corpus scan + explode + groupBy would run twice
    val counts = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .fenced()
    val total = counts.agg(sum(col("n")).cast("long").as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("bigram"), col("n"),
        (col("n").cast("double") / col("total")).as("share"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(25)
  }

  /** Repetition-based quality rules (the Gopher repetition filters,
    * public: Rae et al. 2021 §A1.1, adapted to an unpunctuated
    * corpus): distinct-word ratio, most-frequent-word share, and
    * duplicate-bigram ratio. All pure per-row array expressions — the
    * per-row cost is O(distinct·words) with the tiny vocabularies
    * typical of boilerplate (that being the point of the filter), and
    * nothing shuffles except the oracle sort. */
  private val qRepetition = Q("q_text_repetition",
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, ws,
      |        CASE WHEN len(ws) >= 2
      |          THEN list_transform(generate_series(1, len(ws) - 1),
      |               i -> ws[i] || ' ' || ws[i+1])
      |          ELSE [] END AS bs
      |      FROM w)
      |SELECT doc_id,
      |  CAST(len(ws) AS INT) AS n_words,
      |  round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS distinct_ratio,
      |  round(CAST(list_max(list_transform(list_distinct(ws),
      |          w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws), 4)
      |    AS top_word_share,
      |  CASE WHEN len(bs) > 0
      |       THEN round(1.0 - CAST(len(list_distinct(bs)) AS DOUBLE) / len(bs), 4)
      |       END AS dup_bigram_ratio,
      |  CASE WHEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) < 0.45 THEN 'repetitive'
      |       ELSE 'ok' END AS verdict
      |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ws = words(col("text"))
    val bs = graft.functions.GraftExpressions.shingles(lower(col("text")), 2, dedup = false)
    t(s, d, "documents")
      .select(col("doc_id"), ws.as("ws"), bs.as("bs"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        round(size(array_distinct(col("ws"))).cast("double") / nWsOf("ws"), 4)
          .as("distinct_ratio"),
        round(array_max(transform(array_distinct(col("ws")),
          w => size(filter(col("ws"), x => x === w)))).cast("double") / nWsOf("ws"), 4)
          .as("top_word_share"),
        // guard the empty-bigram case explicitly: Spark's non-ANSI
        // divide yields NULL on /0 while DuckDB yields NaN — a
        // one-word doc would hash-diverge without the shared CASE
        when(size(col("bs")) > 0,
          round(lit(1.0) - size(array_distinct(col("bs"))).cast("double")
            / size(col("bs")), 4)).as("dup_bigram_ratio"),
        when(size(array_distinct(col("ws"))).cast("double") / nWsOf("ws") < 0.45,
          "repetitive").otherwise("ok").as("verdict"))
      .orderBy(col("doc_id"))
  }

  private def nWsOf(c: String): Column = size(col(c)).cast("double")

  /** The classic double-decode artifacts (UTF-8 bytes re-read as
    * cp1252) and their repairs — the top of every real mojibake
    * table: é→Ã©, ’→â€™, ü→Ã¼. */
  private val Mojibake: Seq[(String, String)] = {
    val m = Seq("Ã©" -> "é", "â€™" -> "’", "Ã¼" -> "ü")
    // both engines use LITERAL replace, so regex metacharacters in an
    // artifact are fine — but the table is spliced into oracle SQL
    // string literals, where a single quote would break the generated
    // SQL: fail at class init, not with a downstream parse error
    require(m.forall { case (b, g) => !b.contains("'") && !g.contains("'") },
      "mojibake artifacts must not contain single quotes (oracle SQL splice)")
    m
  }

  /** The deterministic mojibake-injection CTE shared by
    * [[qMojibake]] and [[qBpeByte]] (the corpus fixture is pure
    * ASCII, so multi-byte artifact text is injected per doc_id
    * residue — identically on both engines, the [[qPii]] stance). */
  private val MojibakePCte: String =
    // NOTE: the `||` concatenations sit at line ENDS — this fragment
    // interpolates into oracles that apply .stripMargin AFTER the
    // splice, and a line-leading `||` would lose its first `|` there
    """p AS (
      |  SELECT doc_id, substr(text, 1, 40) ||
      |    CASE WHEN doc_id % 6 = 1 THEN ' visit the cafÃ© today' ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 3 THEN ' donâ€™t stop' ELSE '' END ||
      |    CASE WHEN doc_id % 9 = 4 THEN ' Ã¼ber alles Ã¼brig' ELSE '' END
      |    AS t
      |  FROM documents)""".stripMargin

  /** Engine twin of [[MojibakePCte]]'s injected `t`. */
  private def mojibakeInjected: Column = concat(
    substring(col("text"), 1, 40),
    when(pmod(col("doc_id"), lit(6)) === 1, " visit the cafÃ© today")
      .otherwise(""),
    when(pmod(col("doc_id"), lit(6)) === 3, " donâ€™t stop").otherwise(""),
    when(pmod(col("doc_id"), lit(9)) === 4, " Ã¼ber alles Ã¼brig")
      .otherwise(""))

  /** ENCODING-ARTIFACT (mojibake) detection + repair — the curation
    * pass every web-corpus build runs before tokenization (CCNet/
    * C4-class pipelines): text that went through a UTF-8→cp1252
    * double decode carries characteristic artifact sequences; a
    * tokenizer trained on them fragments, and the artifacts leak into
    * generations. The corpus is synthetic, so artifacts are injected
    * deterministically per doc_id residue — identically on both
    * engines (the [[qPii]] stance) — then counted (per-artifact
    * occurrence count via exact length arithmetic: (len −
    * len(removed)) / len(artifact), pure integers) and repaired by
    * chained literal replacement. Only flagged documents are emitted:
    * the overwhelming clean mass never leaves the scan stage.
    *
    * Scale shape: per-row expressions and a final filter — zero
    * shuffles at any corpus size (the oracle's ORDER BY is the only
    * sort). */
  private val qMojibake = Q("q_text_mojibake",
    s"""WITH $MojibakePCte,
       |n AS (SELECT doc_id, t,
       |${Mojibake.zipWithIndex.map { case ((bad, _), i) =>
           s"    (length(t) - length(replace(t, '$bad', ''))) // ${bad.length} AS c$i"
         }.mkString(",\n")}
       |  FROM p)
       |SELECT doc_id, CAST(${Mojibake.indices.map("c" + _).mkString(" + ")} AS INT) AS n_bad,
       |  ${Mojibake.foldLeft("t") { case (acc, (bad, good)) =>
           s"replace($acc, '$bad', '$good')" }} AS repaired
       |FROM n WHERE ${Mojibake.indices.map("c" + _).mkString(" + ")} > 0
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val id = col("doc_id")
    val injected = mojibakeInjected
    // LITERAL replace on both engines (Spark `replace` ≙ DuckDB
    // `replace`) — regexp_replace would diverge from the oracle the
    // moment an artifact contains a regex metacharacter
    val counts = Mojibake.map { case (bad, _) =>
      ((length(col("t")) - length(replace(col("t"), lit(bad), lit(""))))
        / bad.length).cast("long")
    }
    val nBad = counts.reduce(_ + _)
    val repaired = Mojibake.foldLeft(col("t")) { case (acc, (bad, good)) =>
      replace(acc, lit(bad), lit(good))
    }
    t(s, d, "documents")
      .select(id, injected.as("t"))
      .select(id, nBad.cast("int").as("n_bad"), repaired.as("repaired"))
      .where(col("n_bad") > 0)
      .orderBy(id)
  }

  /** FLESCH READING-EASE readability scoring (Flesch 1948; the
    * formula-based sibling of the classifier quality gates — corpus
    * builds band documents by audience level before mixing):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * with the standard computable proxies — syllables ≈ vowel-group
    * runs, sentences ≈ terminal-punctuation runs (floored at 1 so a
    * fragment without punctuation still scores). All three inputs
    * are EXACT integers from identical regex counts on both engines
    * (Spark `regexp_count` ≙ DuckDB `len(regexp_extract_all(...))`
    * on these alternation-free patterns); the score is one double
    * formula over identical longs, the band CASE compares the
    * UNROUNDED score so the label can never disagree with the
    * rounded display value's provenance.
    *
    * Scale shape: pure per-row expressions over one scan — zero
    * shuffles before the presentation sort. */
  private val qReadability = Q("q_text_readability",
    """WITH m AS (SELECT doc_id, lower(text) AS t FROM documents),
      |s AS (SELECT doc_id,
      |    CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
      |    GREATEST(CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT), 1)
      |      AS n_sentences,
      |    CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT) AS n_syllables
      |  FROM m),
      |f AS (SELECT doc_id, n_words, n_sentences, n_syllables,
      |    206.835 - 1.015 * (n_words * 1.0 / n_sentences)
      |      - 84.6 * (n_syllables * 1.0 / n_words) AS fre
      |  FROM s WHERE n_words > 0)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  round(fre, 4) AS flesch,
      |  CASE WHEN fre >= 80 THEN 'easy' WHEN fre >= 60 THEN 'standard'
      |       WHEN fre >= 30 THEN 'difficult' ELSE 'very_difficult' END AS band
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t0 = lower(col("text"))
    val sDf = t(s, d, "documents")
      .select(col("doc_id"),
        size(split(t0, " ")).cast("long").as("n_words"),
        greatest(regexp_count(t0, lit("[.!?]+")).cast("long"), lit(1L))
          .as("n_sentences"),
        regexp_count(t0, lit("[aeiouy]+")).cast("long").as("n_syllables"))
      .where(col("n_words") > 0)
    val fre = lit(206.835) -
      lit(1.015) * (col("n_words") * lit(1.0) / col("n_sentences")) -
      lit(84.6) * (col("n_syllables") * lit(1.0) / col("n_words"))
    sDf.select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), round(fre, 4).as("flesch"),
        when(fre >= 80, "easy").when(fre >= 60, "standard")
          .when(fre >= 30, "difficult").otherwise("very_difficult").as("band"))
      .orderBy(col("doc_id"))
  }

  /** PII detection + redaction. The corpus is synthetic, so PII-like
    * spans (email, IPv4, phone) are injected deterministically per
    * doc_id residue — identically on both sides — then detected and
    * redacted with RE2-safe patterns (shared verbatim by engine and
    * oracle). Pure per-row expressions: at 100 TB this is a
    * scan-stage rewrite with zero shuffles. */
  private val EmailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val PhoneRe = """\+\d[\d-]{7,}"""

  private val qPii = Q("q_text_pii",
    s"""WITH p AS (
      |  SELECT doc_id, substr(text, 1, 40)
      |    || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@example.com' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || doc_id % 256 || '.7' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-01' || doc_id % 90 + 10 ELSE '' END
      |    AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(regexp_matches(t, '$EmailRe') AS INT) AS has_email,
      |  CAST(regexp_matches(t, '$Ipv4Re') AS INT) AS has_ip,
      |  CAST(regexp_matches(t, '$PhoneRe') AS INT) AS has_phone,
      |  regexp_replace(regexp_replace(regexp_replace(t,
      |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
      |    '$PhoneRe', '<PHONE>', 'g') AS redacted
      |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    val id = col("doc_id")
    val injected = concat(
      substring(col("text"), 1, 40),
      when(pmod(id, lit(3)) === 0,
        concat(lit(" contact u"), id.cast("string"), lit("@example.com")))
        .otherwise(""),
      when(pmod(id, lit(4)) === 0,
        concat(lit(" from 10.0."), pmod(id, lit(256)).cast("string"), lit(".7")))
        .otherwise(""),
      when(pmod(id, lit(5)) === 0,
        concat(lit(" call +1-555-01"), (pmod(id, lit(90)) + 10).cast("string")))
        .otherwise(""))
    t(s, d, "documents")
      .select(id, injected.as("t"))
      .select(id,
        col("t").rlike(EmailRe).cast("int").as("has_email"),
        col("t").rlike(Ipv4Re).cast("int").as("has_ip"),
        col("t").rlike(PhoneRe).cast("int").as("has_phone"),
        regexp_replace(regexp_replace(regexp_replace(col("t"),
          lit(EmailRe), lit("<EMAIL>")), lit(Ipv4Re), lit("<IP>")),
          lit(PhoneRe), lit("<PHONE>")).as("redacted"))
      .orderBy(id)
  }

  /** tf-idf with per-doc top terms. Shuffle shape at 100 TB: tokens
    * aggregate map-side into (doc, term, n) — the only big exchange;
    * document frequency is a vocabulary-sized aggregate of THAT table
    * (no second corpus scan); the corpus size joins in as a broadcast
    * scalar; and the per-doc top-3 plans as a WindowGroupLimit
    * shortlist. The (doc, term, n) table is checkpointed because
    * three downstream branches reuse it. */
  private val qTfidf = Q("q_text_tfidf",
    """WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |            FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS len FROM tf GROUP BY 1),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq FROM tf GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |sc AS (SELECT t.doc_id, t.term, t.n, d.dfreq,
      |         round((CAST(t.n AS DOUBLE) / l.len)
      |               * ln(CAST(nd.nd AS DOUBLE) / d.dfreq), 4) AS tfidf
      |       FROM tf t JOIN dl l USING (doc_id) JOIN dfq d USING (term) CROSS JOIN nd
      |       WHERE t.doc_id < 50),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |         ORDER BY tfidf DESC, term) AS rn FROM sc)
      |SELECT doc_id, term, n, dfreq, tfidf, CAST(rn AS INT) AS rn
      |FROM rk WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tf = t(s, d, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("n"))
      .fenced() // reused by dl, dfq, and the score join
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("n")).cast("long").as("len"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("dfreq"))
    val nd = t(s, d, "documents").agg(count(lit(1)).cast("long").as("nd"))
    val sc = tf.where(col("doc_id") < 50)
      .join(dl, "doc_id")
      .join(dfq, "term")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"), col("n"), col("dfreq"),
        round((col("n").cast("double") / col("len"))
          * log(col("nd").cast("double") / col("dfreq")), 4).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    sc.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("n"), col("dfreq"), col("tfidf"),
        col("rn").cast("int").as("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Unigram language-model quality scoring — the CCNet-style
    * perplexity filter: train token frequencies on the trusted slice
    * (`lang = 'en'`), score EVERY document by its mean Laplace-smoothed
    * log-probability, and bucket keep/cut. Out-of-vocabulary tokens get
    * the smoothed floor ln(1/(N+V)) ≈ -9.4. (This synthetic corpus
    * shares one 31-word vocabulary across languages, so the OOV floor
    * never fires here and the filter splits on frequency mix instead —
    * per-doc scores span -3.68..-3.36; the -3.41 threshold is the
    * corpus's ~P10, cutting the rare-word-heavy tail.)
    *
    * Determinism: each token's logp is rounded to 6 dp and cast to
    * DECIMAL(18,6) BEFORE the per-doc sum, so the aggregation is exact
    * and order-independent (the [[graft-portable-hash]] pattern); the
    * final mean is one double division of identical inputs.
    *
    * Scale shape (100 TB): the vocabulary is a token-level groupBy of
    * the TRAINING slice only (filter pushed to the scan), then joins
    * back as a broadcast (a natural-language unigram vocab is ~1e6
    * rows; if it outgrows broadcast, truncate to top-V by count — the
    * standard LM cut — or let AQE fall back to shuffle join). The
    * scoring pass is one scan + one broadcast join + one per-doc agg:
    * a single shuffle carrying (doc_id, decimal) pairs. */
  private val qUnigramLm = Q("q_text_unigram_lm",
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |             FROM documents),
      |tr AS (SELECT w FROM tok WHERE lang = 'en'),
      |vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY w),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |               CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr),
      |scored AS (
      |  SELECT t.doc_id, t.lang,
      |    CAST(round(ln(CAST(COALESCE(vb.cnt, 0) + 1 AS DOUBLE)
      |                  / CAST(tot.n + tot.v AS DOUBLE)), 6)
      |         AS DECIMAL(18,6)) AS logp
      |  FROM tok t LEFT JOIN vocab vb ON t.w = vb.w CROSS JOIN tot)
      |SELECT doc_id, lang, CAST(count(*) AS INT) AS n_tokens,
      |  round(CAST(sum(logp) AS DOUBLE) / count(*), 4) AS avg_logp,
      |  CASE WHEN CAST(sum(logp) AS DOUBLE) / count(*) >= -3.41
      |       THEN 'keep' ELSE 'cut' END AS verdict
      |FROM scored GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tok = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
    val tr = tok.where(col("lang") === "en").select(col("w"))
    val vocab = tr.groupBy(col("w")).agg(count(lit(1)).cast("long").as("cnt"))
    val tot = tr.agg(count(lit(1)).cast("long").as("n"),
      countDistinct(col("w")).cast("long").as("v"))
    val logp = round(
      log((coalesce(col("cnt"), lit(0L)) + 1).cast("double")
        / (col("n") + col("v")).cast("double")), 6).cast("decimal(18,6)")
    val scored = tok
      .join(broadcast(vocab), Seq("w"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), logp.as("logp"))
    val avg = col("sum_logp").cast("double") / col("n_tokens_l")
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens_l"), sum(col("logp")).as("sum_logp"))
      .select(col("doc_id"), col("lang"),
        col("n_tokens_l").cast("int").as("n_tokens"),
        round(avg, 4).as("avg_logp"),
        when(avg >= -3.41, "keep").otherwise("cut").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Collocation extraction by pointwise mutual information — the
    * statistic behind a dictionary platform's word-profile feature
    * (which word pairs co-occur far above chance). PMI(a,b) =
    * ln(p(ab) / (p(a)·p(b))), computed from EXACT integer counts:
    * the log's argument is one integer product divided by another
    * (nab·N1² / (N2·na·nb) — headroom: < 10¹⁶ ≪ 2⁶³ at sf0.1; a
    * corpus where the products approach 2⁶³ moves the ratio to
    * double first), so both engines take ln of the identical double
    * and the 4-decimal rounding is stable. Ordering is (rounded pmi
    * desc, bigram) — never by a full-precision float. Min support
    * n ≥ 5 applies AFTER the totals, as the statistic requires.
    * Scale shape: unigram and bigram counts are map-side partial
    * aggs (the exchange carries (token, partial_n), never text
    * rows); attaching the two unigram counts is a token-keyed
    * equi-join against the vocabulary-sized count table; top-25 is
    * TakeOrdered. */
  private val qPmi = Q("q_text_pmi",
    """WITH w AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
      |u AS (SELECT unnest(ws) AS tok FROM w),
      |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS nu FROM u GROUP BY tok),
      |n1 AS (SELECT CAST(sum(nu) AS BIGINT) AS total1 FROM uc),
      |b AS (SELECT unnest(CASE WHEN len(ws) >= 2
      |        THEN list_transform(generate_series(1, len(ws) - 1),
      |             i -> ws[i] || ' ' || ws[i+1])
      |        ELSE [] END) AS bigram
      |      FROM w),
      |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS nab FROM b GROUP BY bigram),
      |n2 AS (SELECT CAST(sum(nab) AS BIGINT) AS total2 FROM bc),
      |j AS (SELECT bc.bigram, bc.nab, a.nu AS na, z.nu AS nb, total1, total2
      |      FROM bc
      |      JOIN uc a ON a.tok = string_split(bc.bigram, ' ')[1]
      |      JOIN uc z ON z.tok = string_split(bc.bigram, ' ')[2]
      |      CROSS JOIN n1 CROSS JOIN n2
      |      WHERE bc.nab >= 5)
      |SELECT bigram, nab,
      |  round(ln((nab * total1 * total1)::DOUBLE / (total2 * na * nb)), 4) AS pmi
      |FROM j ORDER BY pmi DESC, bigram LIMIT 25""".stripMargin) { (s, d) =>
    val ws = t(s, d, "documents").select(split(lower(col("text")), " ").as("ws"))
    // both count tables are reused (join sides + their totals): fence
    // off the corpus scan + explode so each runs once
    val uc = ws.select(explode(col("ws")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("nu"))
      .fenced()
    val total1 = uc.agg(sum(col("nu")).cast("long").as("total1"))
    val bc = t(s, d, "documents")
      .select(explode(graft.functions.GraftExpressions.shingles(
        lower(col("text")), 2, dedup = false)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("nab"))
      .fenced()
    val total2 = bc.agg(sum(col("nab")).cast("long").as("total2"))
    bc.where(col("nab") >= 5)
      .withColumn("ta", split(col("bigram"), " ")(0))
      .withColumn("tb", split(col("bigram"), " ")(1))
      .join(uc.select(col("tok").as("ta"), col("nu").as("na")), "ta")
      .join(uc.select(col("tok").as("tb"), col("nu").as("nb")), "tb")
      .crossJoin(broadcast(total1))
      .crossJoin(broadcast(total2))
      .select(col("bigram"), col("nab"),
        round(log((col("nab") * col("total1") * col("total1")).cast("double")
          / (col("total2") * col("na") * col("nb"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(25)
  }

  /** Keyness by Dunning log-likelihood (G², Dunning 1993): which
    * words are over-represented in a focus subcorpus (`src0`) against
    * the rest — the corpus-comparison statistic behind "keywords of
    * this text collection" features. Same float-portability stance as
    * [[qPmi]]: every log argument is a ratio of exact integer
    * products, the zero-count terms vanish by definition, the
    * over-representation filter `a·d > b·c` is pure integer
    * comparison, and ordering uses the rounded statistic. Scale
    * shape: ONE corpus scan → map-side partial (token, a, b) counts;
    * the 2-value totals row broadcasts back over the vocabulary-sized
    * count table. */
  private val qKeyness = Q("q_text_keyness",
    """WITH w AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      |           FROM documents),
      |cts AS (SELECT tok,
      |    CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS a,
      |    CAST(count(*) FILTER (WHERE source <> 'src0') AS BIGINT) AS b
      |  FROM w GROUP BY tok),
      |tot AS (SELECT CAST(sum(a) AS BIGINT) AS c, CAST(sum(b) AS BIGINT) AS d
      |        FROM cts),
      |g AS (SELECT tok, a, b,
      |    round(2 * (CASE WHEN a > 0
      |          THEN a * ln((a * (c + d))::DOUBLE / (c * (a + b))) ELSE 0 END
      |        + CASE WHEN b > 0
      |          THEN b * ln((b * (c + d))::DOUBLE / (d * (a + b))) ELSE 0 END),
      |      4) AS g2
      |  FROM cts CROSS JOIN tot
      |  WHERE a + b >= 10 AND a * d > b * c)
      |SELECT tok, a AS n_focus, b AS n_rest, g2 FROM g
      |ORDER BY g2 DESC, tok LIMIT 25""".stripMargin) { (s, d) =>
    val cts = t(s, d, "documents")
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(when(col("source") === "src0", lit(1))).as("a"),
        count(when(col("source") =!= "src0", lit(1))).as("b"))
      .fenced() // reused: totals + the statistic below
    val tot = cts.agg(sum(col("a")).cast("long").as("c"),
      sum(col("b")).cast("long").as("d"))
    val term = (n: String, m: String) =>
      when(col(n) > 0,
        col(n) * log((col(n) * (col("c") + col("d"))).cast("double")
          / (col(m) * (col("a") + col("b"))))).otherwise(lit(0.0))
    cts.crossJoin(broadcast(tot))
      .where(col("a") + col("b") >= 10 && col("a") * col("d") > col("b") * col("c"))
      .select(col("tok"), col("a").as("n_focus"), col("b").as("n_rest"),
        round(lit(2) * (term("a", "c") + term("b", "d")), 4).as("g2"))
      .orderBy(col("g2").desc, col("tok"))
      .limit(25)
  }

  /** BM25 retrieval scoring (k₁ = 1.2, b = 0.75) for a fixed query
    * term set — the ranking function behind corpus search and
    * retrieval-based quality scoring. idf is the BM25+ form
    * ln(1 + (N−df+0.5)/(df+0.5)), so it is never negative.
    *
    * Determinism: each term's contribution is computed with the
    * IDENTICAL double expression tree on both engines (every operand
    * explicitly cast, `len·N / Σlen` written as one integer product
    * divided once), rounded to 6 dp and summed as DECIMAL(18,6) —
    * the per-doc sum is exact and order-free (unigram-LM pattern);
    * only the final display rounds to 4.
    *
    * Scale shape (100 TB): tf is the one fact-sized exchange
    * ((doc, term, n) map-side combined); the query-term df table is
    * 3 rows (broadcast); doc lengths join on doc_id; corpus stats are
    * a broadcast scalar; top-20 is TakeOrdered, never a global sort. */
  private val qBm25 = Q("q_text_bm25",
    """WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |            FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS n
      |       FROM tk GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS len FROM tf GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS nd,
      |              CAST(sum(len) AS BIGINT) AS toklen FROM dl),
      |qdf AS (SELECT term, CAST(count(*) AS BIGINT) AS dfreq
      |        FROM tf WHERE term IN ('spark', 'table', 'hash') GROUP BY 1),
      |contrib AS (
      |  SELECT t.doc_id,
      |    CAST(round(
      |      ln(1 + (CAST(st.nd - q.dfreq AS DOUBLE) + 0.5)
      |             / (CAST(q.dfreq AS DOUBLE) + 0.5))
      |      * (CAST(t.n AS DOUBLE) * 2.2)
      |      / (CAST(t.n AS DOUBLE)
      |         + 1.2 * (0.25 + 0.75 * (CAST(l.len * st.nd AS DOUBLE)
      |                                 / CAST(st.toklen AS DOUBLE)))), 6)
      |    AS DECIMAL(18,6)) AS c
      |  FROM tf t
      |  JOIN qdf q ON t.term = q.term
      |  JOIN dl l ON t.doc_id = l.doc_id
      |  CROSS JOIN st)
      |SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS bm25
      |FROM contrib GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    val tf = t(s, d, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("n"))
      .fenced() // reused: doc lengths + query-term df + scoring
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("n")).cast("long").as("len"))
    val st = dl.agg(count(lit(1)).cast("long").as("nd"),
      sum(col("len")).cast("long").as("toklen"))
    val qdf = tf.where(col("term").isin("spark", "table", "hash"))
      .groupBy(col("term")).agg(count(lit(1)).cast("long").as("dfreq"))
    val idf = log(lit(1) + ((col("nd") - col("dfreq")).cast("double") + 0.5)
      / (col("dfreq").cast("double") + 0.5))
    val contrib = round(
      idf * (col("n").cast("double") * 2.2)
        / (col("n").cast("double")
          + lit(1.2) * (lit(0.25) + lit(0.75) * ((col("len") * col("nd")).cast("double")
            / col("toklen").cast("double")))), 6).cast("decimal(18,6)")
    tf.join(broadcast(qdf), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("c")).cast("double"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** Corpus-law statistics: Zipf rank-frequency slope (least-squares
    * fit of ln f against ln r over the top-100 vocabulary) plus the
    * Heaps inputs (vocabulary size, token mass) — the diagnostic a
    * corpus build runs to detect synthetic/templated text, whose
    * slope diverges from the ≈ −1 of natural language. (This
    * generator's 31-word shared vocabulary fits at −0.18: flat ≙
    * artificial, exactly what the statistic is for.)
    *
    * Determinism: x, y, xy, x² are each rounded to 6 dp into
    * DECIMAL(18,6) per point BEFORE the sums (exact, order-free);
    * the closed-form slope is then pure double arithmetic over
    * identical inputs in identical order. Ranking is count-desc with
    * term tiebreak over the top-100 shortlist (TakeOrdered), so the
    * window never sees more than 100 rows — the full-vocabulary
    * global sort a naive rank would need does not exist in the plan.
    *
    * Scale shape (100 TB): one token-level map-side-combined agg (the
    * only fact-sized exchange), a 100-row shortlist, a 100-row
    * window, two scalar aggregates. */
  private val qZipf = Q("q_text_zipf",
    """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS w
      |             FROM documents),
      |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY w),
      |top AS (SELECT w, n FROM cnt ORDER BY n DESC, w LIMIT 100),
      |rk AS (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS r
      |       FROM top),
      |pts AS (SELECT
      |    CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
      |    CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y,
      |    CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE)), 6)
      |         AS DECIMAL(18,6)) AS xy,
      |    CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 6)
      |         AS DECIMAL(18,6)) AS xx
      |  FROM rk),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |        CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
      |      FROM pts),
      |heaps AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
      |                 CAST(sum(n) AS BIGINT) AS tokens FROM cnt)
      |SELECT heaps.vocab AS n_vocab, heaps.tokens AS n_tokens, s.k AS n_fit,
      |  round((CAST(s.k AS DOUBLE) * s.sxy - s.sx * s.sy)
      |        / (CAST(s.k AS DOUBLE) * s.sxx - s.sx * s.sx), 4) AS zipf_slope
      |FROM s CROSS JOIN heaps""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cnt = t(s, d, "documents")
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("n"))
      .fenced() // reused: top-100 shortlist + Heaps totals
    val top = cnt.orderBy(col("n").desc, col("w")).limit(100)
    // unpartitioned-window bound (r20 audit): runs over `top` — a
    // LIMIT 100 frame at any corpus size. Never corpus-scale.
    val rk = top.withColumn("r",
      row_number().over(Window.orderBy(col("n").desc, col("w"))).cast("long"))
    def pt(c: org.apache.spark.sql.Column) = round(c, 6).cast("decimal(18,6)")
    val lr = log(col("r").cast("double"))
    val ln = log(col("n").cast("double"))
    val pts = rk.select(pt(lr).as("x"), pt(ln).as("y"),
      pt(lr * ln).as("xy"), pt(lr * lr).as("xx"))
    val sAgg = pts.agg(count(lit(1)).cast("long").as("k"),
      sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
      sum(col("xy")).cast("double").as("sxy"), sum(col("xx")).cast("double").as("sxx"))
    val heaps = cnt.agg(count(lit(1)).cast("long").as("n_vocab"),
      sum(col("n")).cast("long").as("n_tokens"))
    val slope = (col("k").cast("double") * col("sxy") - col("sx") * col("sy")) /
      (col("k").cast("double") * col("sxx") - col("sx") * col("sx"))
    sAgg.crossJoin(broadcast(heaps))
      .select(col("n_vocab"), col("n_tokens"), col("k").as("n_fit"),
        round(slope, 4).as("zipf_slope"))
  }

  /** Vocabulary cutoffs to evaluate (≤ VocabMax, ascending). */
  private[graft] val VocabCutoffs = Seq(5, 10, 20, 30)
  private[graft] val VocabMax = 30

  /** The coverage plan from a (lang, term, n) counts frame, used by
    * `q_vocab_coverage` (VocabMax = 30, oracle-checked). The same plan
    * at VocabMax = 32k on a synthesized vocabulary still broadcasts
    * its shortlist and never sorts the full vocabulary globally
    * (PLANS.md "Vocab-coverage at a realistic vocabulary (round 6)").
    */
  private[graft] def coveragePlan(lt: DataFrame, vocabMax: Int,
      cutoffs: Seq[Int]): DataFrame = {
    val session = lt.sparkSession
    import session.implicits._
    val tot = lt.groupBy(col("lang")).agg(sum(col("n")).cast("long").as("total"))
    // top-vocabMax shortlist: orderBy+limit plans as TakeOrdered —
    // the full-vocabulary global sort never exists; the row_number
    // window then runs over the ≤ vocabMax-row shortlist only
    val rk = lt.groupBy(col("term")).agg(sum(col("n")).as("gn"))
      .orderBy(col("gn").desc, col("term")).limit(vocabMax)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("gn").desc, col("term"))))
      .select(col("term"), col("r"))
    val cut = cutoffs.toDF("cutoff")
    val cov = lt.join(broadcast(rk), "term")
      .crossJoin(broadcast(cut))
      .where(col("r") <= col("cutoff"))
      .groupBy(col("lang"), col("cutoff"))
      .agg(sum(col("n")).cast("long").as("covered"))
    // langs × cutoffs scaffold: zero-coverage cells survive as
    // covered = 0 instead of silently vanishing from the report
    tot.crossJoin(broadcast(cut))
      .join(cov, Seq("lang", "cutoff"), "left_outer")
      .select(col("lang"), col("cutoff").cast("int").as("cutoff"),
        coalesce(col("covered"), lit(0L)).as("covered"), col("total"),
        round(coalesce(col("covered"), lit(0L)).cast("double")
          / col("total").cast("double"), 6).as("coverage"))
      .orderBy(col("lang"), col("cutoff"))
  }

  /** Tokenizer-vocabulary coverage parity — the multilingual-fairness
    * measurement of a shared-vocab tokenizer build: rank the GLOBAL
    * corpus vocabulary by frequency, then for each cutoff N report
    * each language's covered token mass and coverage ratio. A
    * language whose coverage lags at a given budget is the one a
    * shared vocab under-serves (the parity gap public tokenizer
    * studies measure); the OOV rate is 1 − coverage. Every
    * (language, cutoff) cell is reported — a language sharing NO term
    * with the global vocabulary shows covered = 0, coverage = 0
    * (the worst-case row the parity report exists for), never a
    * silently missing row: the output scaffold is langs × cutoffs
    * left-joined to the covered masses.
    *
    * Scale shape (100 TB): ONE fact-sized exchange (the per-(lang,
    * term) count, map-side combined); the global ranking only ever
    * materializes the top-`VocabMax` shortlist (TakeOrdered — the
    * full-vocabulary global sort never exists, the q_text_zipf
    * pattern), which then broadcasts, as do the |langs|-row totals
    * and the |cutoffs|-row frame. Coverage sums are exact integers;
    * the single division rounds at the end. */
  private val qVocabCoverage = Q("q_vocab_coverage",
    s"""WITH tok AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS term
       |             FROM documents),
       |lt AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS n
       |       FROM tok GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM lt GROUP BY 1),
       |rk AS (SELECT term, row_number() OVER
       |         (ORDER BY sum(n) DESC, term) AS r
       |       FROM lt GROUP BY term
       |       ORDER BY sum(n) DESC, term LIMIT $VocabMax),
       |cut AS (SELECT unnest([${VocabCutoffs.mkString(", ")}]) AS cutoff),
       |cov AS (SELECT l.lang, c.cutoff, CAST(sum(l.n) AS BIGINT) AS covered
       |        FROM lt l JOIN rk ON l.term = rk.term CROSS JOIN cut c
       |        WHERE rk.r <= c.cutoff GROUP BY 1, 2)
       |SELECT t.lang, CAST(c.cutoff AS INT) AS cutoff,
       |  CAST(coalesce(v.covered, 0) AS BIGINT) AS covered, t.total,
       |  round(CAST(coalesce(v.covered, 0) AS DOUBLE)
       |    / CAST(t.total AS DOUBLE), 6) AS coverage
       |FROM tot t CROSS JOIN cut c
       |LEFT JOIN cov v ON v.lang = t.lang AND v.cutoff = c.cutoff
       |ORDER BY t.lang, cutoff""".stripMargin) { (s, d) =>
    val lt = t(s, d, "documents")
      .select(col("lang"), explode(words(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
      .fenced() // reused: totals + global ranking + coverage
    coveragePlan(lt, VocabMax, VocabCutoffs)
  }

  /** One BPE merge-selection step — the distributed core of tokenizer
    * training (Sennrich et al. ACL'16): over the initial character
    * vocabulary, count adjacent symbol pairs weighted by word
    * frequency and rank the merge candidates. A full BPE build is
    * this op iterated with a driver-held merge table; the per-
    * iteration cost is ALL here.
    *
    * Scale shape — the one that matters for tokenizer builds on
    * 100 TB: the corpus collapses to the word-frequency table FIRST
    * (one map-side-combined group-by, the only corpus-scale
    * exchange), and pair extraction runs over the VOCABULARY
    * (|V| × avg word length rows, millions not trillions), so every
    * later iteration of a real BPE loop is corpus-free. The pair
    * group-by is symbol-pair-cardinality; the top-20 is a TakeOrdered
    * shortlist, never a full sort. */
  private val qBpeMerge = Q("q_bpe_merge",
    """WITH wf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      |  WHERE length(w) >= 2 GROUP BY w),
      |pairs AS (
      |  SELECT substr(w, i, 2) AS pair, f
      |  FROM wf, unnest(range(1, length(w))) AS t(i))
      |SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
      |FROM pairs GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
    val wf = t(s, d, "documents")
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    wf
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("f"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  /** Tokenizer APPLY at corpus scale — the serving half of the BPE
    * story (`q_bpe_merge` oracle-checks the distributed training
    * statistic; `operators.Bpe.fit` trains; THIS runs the trained
    * model over every document, the step an LLM data pipeline
    * executes on all 100 TB).
    *
    * Scale shape: `Bpe.fit`'s corpus-scale work is one map-side
    * combined word-frequency collapse + top-V TakeOrdered (the only
    * exchange); the merge loop is driver-side over the V-bounded
    * shortlist (the KMeans-centroid pattern); `Bpe.encode` is then an
    * embarrassingly parallel per-row pass, zero shuffle — the model
    * rides to each task once. The verification join back to the text
    * projection exists for the ORACLE only (a doc_id equi-join, AQE
    * decides broadcast vs shuffle); production output is
    * `Bpe.encode` alone.
    *
    * Oracle stance (the `q_profile_approx` guarantee pattern): token
    * boundaries aren't SQL-expressible, so the entry emits the
    * DuckDB-recomputable invariant quantities plus Spark-computed
    * verdicts the oracle asserts as literals —
    *  - `n_chars` is derived from the TOKENS (length of their
    *    concatenation) and must equal DuckDB's space-stripped text
    *    length: tokenization is lossless in total mass;
    *  - `lossless_ok`: the token concatenation IS the space-stripped
    *    lowercased text, per document;
    *  - `vocab_ok`: every token is a single character or a trained
    *    merge product — the closed-vocabulary contract of BPE apply;
    *  - `compress_ok`: 1 ≤ n_tokens ≤ n_chars for non-empty docs.
    * The raw token stream/compression ratio is spec-pinned (BpeSpec). */
  private val qBpeEncode = Q("q_bpe_encode",
    """SELECT doc_id,
      |  CAST(length(replace(lower(text), ' ', '')) AS BIGINT) AS n_chars,
      |  true AS lossless_ok, true AS vocab_ok, true AS compress_ok
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val model = Bpe.fit(docs, "text", numMerges = 200, topV = 4096)
    val products = model.merges.map { case (a, b) => a + b }.distinct
    val prodArr = array(products.map(lit(_)): _*)
    val joined = concat_ws("", col("tokens"))
    val nChars = length(joined)
    Bpe.encode(docs, "text", model)
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        translate(lower(col("text")), " ", "").as("flat")), "doc_id")
      .select(col("doc_id"),
        nChars.cast("long").as("n_chars"),
        (joined === col("flat")).as("lossless_ok"),
        forall(col("tokens"),
          tk => length(tk) === 1 || array_contains(prodArr, tk)).as("vocab_ok"),
        ((nChars === 0 && col("n_tokens") === 0) ||
          (col("n_tokens") >= 1 && col("n_tokens") <= nChars)).as("compress_ok"))
      .orderBy(col("doc_id"))
  }

  /** BYTE-LEVEL BPE apply (round 19 — the GPT-2/Llama-lineage
    * tokenizer family member the char-level [[qBpeEncode]] is not):
    * `operators.Bpe.fitBytes` trains merges over byte symbols under
    * the printable-byte remap (`Bpe.ByteToChar`, the public
    * `bytes_to_unicode` construction), `Bpe.encodeBytes` applies
    * them corpus-wide. No OOV exists by construction — every input
    * decomposes to single-byte symbols — so LOSSLESSNESS IS PROVABLE
    * FOR ARBITRARY INPUT, and the query proves it on arbitrary
    * input: it runs over the MOJIBAKE-INJECTED corpus (the
    * [[qMojibake]] fixture — the raw corpus is pure ASCII, where
    * bytes = chars and the byte-level claim would be vacuous), whose
    * artifact sequences are multi-byte non-ASCII.
    *
    * Oracle stance = [[qBpeEncode]]'s guarantee pattern: token
    * boundaries aren't SQL-expressible, so the entry emits the
    * DuckDB-recomputable invariant — `n_bytes` derived from the
    * TOKENS (symbol-count of their concatenation; the remap is
    * char-per-byte, so symbols ARE bytes) must equal DuckDB's
    * `strlen` of the space-stripped injected text — plus the three
    * engine verdicts the oracle asserts as literals:
    * `lossless_ok` (token concatenation ≡ remapped space-stripped
    * input — a bijection, so remapped equality is byte equality),
    * `vocab_ok` (closed vocabulary: single byte symbols + trained
    * merge products), `compress_ok` (1 ≤ n_tokens ≤ n_bytes).
    *
    * Scale shape = the BPE family's: one map-side-combined
    * word-frequency collapse + top-V TakeOrdered for training, a
    * zero-shuffle per-row pass for encode. */
  private val qBpeByte = Q("q_bpe_byte",
    s"""WITH $MojibakePCte
       |SELECT doc_id,
       |  CAST(strlen(replace(t, ' ', '')) AS BIGINT) AS n_bytes,
       |  true AS lossless_ok, true AS vocab_ok, true AS compress_ok
       |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
      .select(col("doc_id"), mojibakeInjected.as("t"))
    val model = Bpe.fitBytes(docs, "t", numMerges = 200, topV = 4096)
    val products = model.merges.map { case (a, b) => a + b }.distinct
    val prodArr = array(products.map(lit(_)): _*)
    val joined = concat_ws("", col("tokens"))
    val nBytes = length(joined)
    Bpe.encodeBytes(docs, "t", model)
      .select(col("doc_id"),
        nBytes.cast("long").as("n_bytes"),
        (joined === col("flat")).as("lossless_ok"),
        forall(col("tokens"),
          tk => length(tk) === 1 || array_contains(prodArr, tk))
          .as("vocab_ok"),
        ((nBytes === 0 && col("n_tokens") === 0) ||
          (col("n_tokens") >= 1 && col("n_tokens") <= nBytes))
          .as("compress_ok"))
      .orderBy(col("doc_id"))
  }

  /** The WordPiece operating point (q_wordpiece_merge /
    * q_wordpiece_encode) — `private[graft]` so WordPieceSpec trains
    * the identical point (the SGNS constants stance). */
  private[graft] val WpMerges = 200
  private[graft] val WpTopV = 4096

  /** One WORDPIECE merge-selection step — the distributed core of
    * the third tokenizer family (Schuster & Nakajima 2012, the BERT
    * tokenizer; `operators.WordPiece`): over BERT's
    * continuation-marked symbol split (first char bare, the rest
    * `##`-prefixed), count symbols and adjacent pairs weighted by
    * word frequency and rank merge candidates by the LIKELIHOOD
    * score cnt(ab)/(cnt(a)·cnt(b)) — the statistic that separates
    * WordPiece from BPE's raw pair count (q_bpe_merge).
    *
    * Determinism/bounds: the emitted columns are exact BIGINTs
    * (pair count + each side's symbol count — never their product,
    * which would overflow BIGINT at 100 TB symbol counts); the
    * ranking division runs on doubles built from those integers
    * through one fixed expression, bit-identical on both engines.
    * Scale shape = q_bpe_merge's: corpus collapses to the word-
    * frequency table first (the only corpus-scale exchange), symbol
    * and pair statistics are vocabulary-sized, the symbol-count
    * join broadcasts (alphabet-cardinality build side), top-20 is a
    * TakeOrdered. */
  private val qWordpieceMerge = Q("q_wordpiece_merge",
    """WITH wf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      |  WHERE length(w) >= 1 GROUP BY w),
      |sym AS (
      |  SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
      |              ELSE '##' || substr(w, i, 1) END AS s, f
      |  FROM wf, unnest(range(1, length(w) + 1)) AS t(i)),
      |scnt AS (SELECT s, CAST(sum(f) AS BIGINT) AS c FROM sym GROUP BY s),
      |pairs AS (
      |  SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
      |              ELSE '##' || substr(w, i, 1) END AS l,
      |         '##' || substr(w, i + 1, 1) AS r, f
      |  FROM wf, unnest(range(1, length(w))) AS t(i)),
      |pcnt AS (SELECT l, r, CAST(sum(f) AS BIGINT) AS cnt
      |         FROM pairs GROUP BY l, r)
      |SELECT p.l || ' ' || p.r AS pair, p.cnt,
      |  sl.c AS c_left, sr.c AS c_right
      |FROM pcnt p JOIN scnt sl ON p.l = sl.s JOIN scnt sr ON p.r = sr.s
      |ORDER BY CAST(p.cnt AS DOUBLE) /
      |  (CAST(sl.c AS DOUBLE) * CAST(sr.c AS DOUBLE)) DESC, pair
      |LIMIT 20""".stripMargin) { (s, d) =>
    val wf = wordFreqOf(s, d)
    def symAt(i: Column): Column =
      when(i === 1, col("w").substr(lit(1), lit(1)))
        .otherwise(concat(lit("##"), col("w").substr(i, lit(1))))
    val sym = wf
      .select(explode(transform(sequence(lit(1), length(col("w"))),
        symAt(_))).as("s"), col("f"))
      .groupBy(col("s")).agg(sum(col("f")).as("c"))
    // length >= 2 keeps Spark's sequence ascending (sequence(1, 0)
    // DESCENDS — the len-1 word trap); DuckDB's range(1, 1) is
    // simply empty, so the SQL needs no filter
    val pairs = wf.where(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => struct(symAt(i).as("l"),
          concat(lit("##"), col("w").substr(i + 1, lit(1))).as("r"))))
        .as("p"), col("f"))
      .select(col("p.l").as("l"), col("p.r").as("r"), col("f"))
      .groupBy(col("l"), col("r")).agg(sum(col("f")).as("cnt"))
    pairs
      .join(broadcast(sym.select(col("s").as("l"), col("c").as("c_left"))), "l")
      .join(broadcast(sym.select(col("s").as("r"), col("c").as("c_right"))), "r")
      .select(concat_ws(" ", col("l"), col("r")).as("pair"),
        col("cnt"), col("c_left"), col("c_right"))
      .orderBy((col("cnt").cast("double") /
        (col("c_left").cast("double") * col("c_right").cast("double"))).desc,
        col("pair"))
      .limit(20)
  }

  /** WordPiece APPLY at corpus scale — the serving half
    * (q_wordpiece_merge oracle-checks the distributed training
    * statistic; `operators.WordPiece.fit` trains; THIS runs BERT's
    * greedy longest-match over every document). Oracle stance =
    * [[qBpeEncode]]'s: MaxMatch boundaries aren't SQL-expressible,
    * so the entry emits DuckDB-recomputable invariants plus
    * Spark-computed verdicts — lossless (the `##`-stripped piece
    * concatenation IS the space-stripped text; also proves no
    * `[UNK]` fired, since `[UNK]` destroys the word's characters),
    * vocab-closed, and compressive. The full-corpus alphabet floor
    * in `WordPiece.fit` is what makes lossless a guarantee rather
    * than an observation. */
  private val qWordpieceEncode = Q("q_wordpiece_encode",
    """SELECT doc_id,
      |  CAST(length(replace(lower(text), ' ', '')) AS BIGINT) AS n_chars,
      |  true AS lossless_ok, true AS vocab_ok, true AS compress_ok
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.operators.WordPiece
    val docs = t(s, d, "documents")
    val model = WordPiece.fit(docs, "text", numMerges = WpMerges, topV = WpTopV)
    val vocabArr = array(model.vocab.toSeq.sorted.map(lit(_)): _*)
    val joined = concat_ws("",
      transform(col("pieces"), p => regexp_replace(p, "^##", "")))
    val nChars = length(joined)
    WordPiece.encode(docs, "text", model)
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        translate(lower(col("text")), " ", "").as("flat")), "doc_id")
      .select(col("doc_id"),
        nChars.cast("long").as("n_chars"),
        (joined === col("flat")).as("lossless_ok"),
        forall(col("pieces"), p => array_contains(vocabArr, p)).as("vocab_ok"),
        ((nChars === 0 && col("n_pieces") === 0) ||
          (col("n_pieces") >= 1 && col("n_pieces") <= nChars)).as("compress_ok"))
      .orderBy(col("doc_id"))
  }

  /** The per-tokenizer corpus report behind [[qTokenizerCompare]] —
    * (tokenizer, vocab_size, n_pieces, n_chars, chars_per_piece,
    * verdicts), shared with TokenizerCompareSpec so the spec pins the
    * SAME frame the ○ query projects. All four families train at
    * their shipped operating points and encode the whole corpus in
    * one plan. */
  private[graft] def tokenizerReport(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Bpe, WordPiece}
    val docs = t(s, d, "documents")
    val corpus = docs.agg(
      sum(length(translate(lower(col("text")), " ", ""))).cast("long")
        .as("corpus_chars"),
      sum(size(words(col("text")))).cast("long").as("corpus_words"))
    def row(name: String, vocabSize: Long, encoded: DataFrame,
        pieceCol: String, nCol: String): DataFrame =
      encoded.agg(
          sum(col(nCol)).cast("long").as("n_pieces"),
          sum(length(concat_ws("",
            transform(col(pieceCol), p => regexp_replace(p, "^##", "")))))
            .cast("long").as("n_chars"))
        .crossJoin(broadcast(corpus))
        .select(lit(name).as("tokenizer"),
          lit(vocabSize).as("vocab_size"),
          col("n_pieces"), col("n_chars"),
          round(col("n_chars").cast("double") / col("n_pieces"), 4)
            .as("chars_per_piece"),
          (col("n_chars") === col("corpus_chars")).as("lossless_ok"),
          (col("n_pieces") >= col("corpus_words") &&
            col("n_pieces") <= col("corpus_chars")).as("bounds_ok"))
    // the byte-level row grades against BYTE mass (its symbols are
    // bytes, not lowercased chars) with raw-split word counts — and
    // skips the `##`-strip of `row` ('#' = 0x23 maps to itself, so a
    // byte token may legitimately START with "##")
    val corpusB = docs.agg(
      sum(octet_length(translate(col("text"), " ", ""))).cast("long")
        .as("corpus_bytes"),
      sum(size(filter(split(col("text"), " "), w => length(w) >= 1)))
        .cast("long").as("corpus_words"))
    def rowByte(name: String, vocabSize: Long, encoded: DataFrame)
        : DataFrame =
      encoded.agg(
          sum(col("n_tokens")).cast("long").as("n_pieces"),
          sum(length(concat_ws("", col("tokens")))).cast("long")
            .as("n_chars"))
        .crossJoin(broadcast(corpusB))
        .select(lit(name).as("tokenizer"),
          lit(vocabSize).as("vocab_size"),
          col("n_pieces"), col("n_chars"),
          round(col("n_chars").cast("double") / col("n_pieces"), 4)
            .as("chars_per_piece"),
          (col("n_chars") === col("corpus_bytes")).as("lossless_ok"),
          (col("n_pieces") >= col("corpus_words") &&
            col("n_pieces") <= col("corpus_bytes")).as("bounds_ok"))
    // Shared corpus statistics (r19 optimization round, guide §1.2 —
    // don't compute identical collapses per family): BPE and
    // WordPiece train at the SAME (textCol, topV) point, so ONE
    // wordFreq collapse feeds both (fit ≡ trainMerges∘wordFreq /
    // fitWf∘wordFreq by construction); the two unigram variants seed
    // identically (total deterministic cut), so ONE prepare() — wf
    // fence + substring-explode seed — feeds both EM loops. Models
    // are bit-identical to the per-family trainings.
    val wfTop = Bpe.wordFreq(docs, "text", topV = 4096)
    val bpe = Bpe.Model(Bpe.trainMerges(wfTop, numMerges = 200))
    val bb = Bpe.fitBytes(docs, "text", numMerges = 200, topV = 4096)
    val prep = UnigramLm.prepare(wordFreqOf(s, d), UniMaxLen, UniSeed)
    val uni = UnigramLm.fitPrepared(prep, UniTargetV, UniIters)
    val soft = UnigramLm.softFitPrepared(prep, UniTargetV, UniIters)
    val wp = WordPiece.fitWf(wfTop, WordPiece.alphabet(docs, "text"),
      WpMerges)
    row("bpe", bpe.merges.map { case (a, b) => a + b }.distinct.size.toLong,
        Bpe.encode(docs, "text", bpe), "tokens", "n_tokens")
      .union(rowByte("bpe_byte",
        bb.merges.map { case (a, b) => a + b }.distinct.size.toLong,
        Bpe.encodeBytes(docs, "text", bb)))
      .union(row("unigram", uni.pieces.length.toLong,
        UnigramLm.encode(docs, "text", uni), "pieces", "n_pieces"))
      .union(row("unigram_soft", soft.pieces.length.toLong,
        UnigramLm.encode(docs, "text", soft), "pieces", "n_pieces"))
      .union(row("wordpiece", wp.vocab.size.toLong,
        WordPiece.encode(docs, "text", wp), "pieces", "n_pieces"))
  }

  /** TOKENIZER SELECTION REPORT — the comparison a data pipeline runs
    * before committing 100 TB to one tokenization: all four shipped
    * trainers (BPE, unigram hard-EM, unigram soft-EM, WordPiece) at
    * their operating points, encoded corpus-wide in ONE plan, graded
    * on the shared contract every family must satisfy — total
    * character mass conserved (lossless: the `##`-stripped piece
    * concatenation carries exactly the corpus' space-stripped
    * characters) and piece counts bounded by [words, chars].
    *
    * Oracle stance: the model-dependent numbers (vocab sizes, piece
    * counts, compression) are spec-pinned (TokenizerCompareSpec over
    * the SAME shared frame); the ○ projection emits what DuckDB can
    * re-derive — `n_chars` equals the corpus character mass COMPUTED
    * INDEPENDENTLY by the oracle (a data-level equality per
    * tokenizer, the strongest cross-engine claim available: an
    * engine-side lossy encode changes n_chars and breaks the hash) —
    * plus the two engine verdicts.
    *
    * Scale shape: the four trainings share the corpus statistics
    * collapse class (word-frequency / alphabet aggregations — the
    * only corpus-scale exchanges); the four encodes are zero-shuffle
    * memoized scans; each report row is ONE map-side-combined
    * aggregate. */
  private val qTokenizerCompare = Q("q_tokenizer_compare",
    """WITH c AS (
      |  SELECT CAST(sum(length(replace(lower(text), ' ', ''))) AS BIGINT) AS n
      |  FROM documents),
      |cb AS (
      |  SELECT CAST(sum(strlen(replace(text, ' ', ''))) AS BIGINT) AS n
      |  FROM documents)
      |SELECT t.tokenizer,
      |  CASE WHEN t.tokenizer = 'bpe_byte' THEN cb.n ELSE c.n END AS n_chars,
      |  true AS lossless_ok, true AS bounds_ok
      |FROM (VALUES ('bpe'), ('bpe_byte'), ('unigram'), ('unigram_soft'),
      |      ('wordpiece'))
      |  t(tokenizer), c, cb
      |ORDER BY t.tokenizer""".stripMargin) { (s, d) =>
    tokenizerReport(s, d)
      .select(col("tokenizer"), col("n_chars"),
        col("lossless_ok"), col("bounds_ok"))
      .orderBy(col("tokenizer"))
  }

  /** The unigram tokenizer's operating point (q_unigram_seed /
    * q_unigram_encode) — `private[graft]` so UnigramLmSpec trains the
    * identical point (the SGNS constants stance). */
  private[graft] val UniMaxLen = 6
  private[graft] val UniTargetV = 512
  private[graft] val UniIters = 2
  private[graft] val UniSeed = 2048

  /** The aggregated distinct-word table (w, f) the unigram trainer
    * consumes — corpus-scale, stays distributed (see
    * [[graft.operators.UnigramLm]]'s split). */
  private[graft] def wordFreqOf(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("f"))

  /** UNIGRAM-LM tokenizer SEED statistic (Kudo ACL'18 §3.2's candidate
    * inventory): substring counts of length 1..[[UniMaxLen]] over the
    * distinct-word table, occurrence multiplicity × word frequency —
    * the distributively-computable training input `q_bpe_merge`
    * oracle-checks for the BPE family, checked here for the unigram
    * family. Top 30 by (cnt DESC, piece) — a TakeOrdered, never a
    * full-vocabulary sort. */
  private val qUnigramSeed = Q("q_unigram_seed",
    s"""WITH wf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      |  WHERE length(w) >= 1 GROUP BY w),
      |subs AS (
      |  SELECT substr(w, i, l) AS piece, f
      |  FROM wf,
      |       unnest(generate_series(1, length(w))) AS t(i),
      |       unnest(generate_series(1, $UniMaxLen)) AS u(l)
      |  WHERE i + l - 1 <= length(w))
      |SELECT piece, CAST(sum(f) AS BIGINT) AS cnt
      |FROM subs GROUP BY piece
      |ORDER BY cnt DESC, piece LIMIT 30""".stripMargin) { (s, d) =>
    UnigramLm.substringCounts(wordFreqOf(s, d), UniMaxLen)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(30)
  }

  /** UNIGRAM-LM tokenizer APPLY at corpus scale — the EM-trained
    * (SentencePiece-style) counterpart of [[qBpeEncode]]:
    * `operators.UnigramLm.fit` trains by distributed hard-EM (the
    * distinct-word table never leaves the cluster — a STRONGER split
    * than BPE's top-V driver shortlist; see the operator scaladoc),
    * THIS runs the trained model over every document.
    *
    * Oracle stance = [[qBpeEncode]]'s: piece boundaries are an EM
    * fixpoint, not SQL-expressible, so the entry emits the
    * DuckDB-recomputable invariants plus Spark-computed verdicts —
    *  - `n_chars` derived from the PIECES (length of their
    *    concatenation) must equal the space-stripped text length:
    *    segmentation is lossless in total mass;
    *  - `lossless_ok`: the piece concatenation IS the space-stripped
    *    lowercased text, per document;
    *  - `vocab_ok`: every piece is in the trained vocabulary or is a
    *    single character (the UNK-as-char fallback — closure makes it
    *    unreachable when train and apply corpora coincide, as here);
    *  - `compress_ok`: 1 ≤ n_pieces ≤ n_chars for non-empty docs.
    * The raw piece stream and the EM math are spec-pinned
    * (UnigramLmSpec: `fit` ≡ a sequential reference EXACTLY). */
  private val qUnigramEncode = Q("q_unigram_encode",
    """SELECT doc_id,
      |  CAST(length(replace(lower(text), ' ', '')) AS BIGINT) AS n_chars,
      |  true AS lossless_ok, true AS vocab_ok, true AS compress_ok
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val model = UnigramLm.fit(wordFreqOf(s, d), targetV = UniTargetV,
      iters = UniIters, maxLen = UniMaxLen, seedSize = UniSeed)
    val vocabArr = array(model.pieces.map(lit(_)).toSeq: _*)
    val joined = concat_ws("", col("pieces"))
    val nChars = length(joined)
    UnigramLm.encode(docs, "text", model)
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        translate(lower(col("text")), " ", "").as("flat")), "doc_id")
      .select(col("doc_id"),
        nChars.cast("long").as("n_chars"),
        (joined === col("flat")).as("lossless_ok"),
        forall(col("pieces"),
          p => array_contains(vocabArr, p) || length(p) === 1).as("vocab_ok"),
        ((nChars === 0 && col("n_pieces") === 0) ||
          (col("n_pieces") >= 1 && col("n_pieces") <= nChars)).as("compress_ok"))
      .orderBy(col("doc_id"))
  }

  /** SOFT-EM unigram-LM apply (r15 verdict item 4 — Kudo ACL'18
    * §3.1's expected-count E-step next to the shipped hard-EM
    * variant): `operators.UnigramLm.softFit` trains by distributed
    * forward-backward EM — per-word lattice posteriors computed in a
    * fixed evaluation order through StrictMath-only kernels
    * (bit-portable), quantized to integer micros BEFORE the
    * corpus-scale sum (order-free) — then the trained model segments
    * every document via the same Viterbi `encode` (SentencePiece's
    * own train-soft/segment-Viterbi stance).
    *
    * Oracle stance = [[qUnigramEncode]]'s: the EM fixpoint is not
    * SQL-expressible, so the entry emits the DuckDB-recomputable
    * invariants plus Spark-computed verdicts; the soft-EM math is
    * spec-pinned (UnigramLmSpec: `softFit` ≡ a sequential in-memory
    * reference EXACTLY, and the soft model measurably differs from
    * the hard model so the variant is not vacuous). */
  private val qUnigramSoft = Q("q_unigram_soft",
    """SELECT doc_id,
      |  CAST(length(replace(lower(text), ' ', '')) AS BIGINT) AS n_chars,
      |  true AS lossless_ok, true AS vocab_ok, true AS compress_ok
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val model = UnigramLm.softFit(wordFreqOf(s, d), targetV = UniTargetV,
      iters = UniIters, maxLen = UniMaxLen, seedSize = UniSeed)
    val vocabArr = array(model.pieces.map(lit(_)).toSeq: _*)
    val joined = concat_ws("", col("pieces"))
    val nChars = length(joined)
    UnigramLm.encode(docs, "text", model)
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        translate(lower(col("text")), " ", "").as("flat")), "doc_id")
      .select(col("doc_id"),
        nChars.cast("long").as("n_chars"),
        (joined === col("flat")).as("lossless_ok"),
        forall(col("pieces"),
          p => array_contains(vocabArr, p) || length(p) === 1).as("vocab_ok"),
        ((nChars === 0 && col("n_pieces") === 0) ||
          (col("n_pieces") >= 1 && col("n_pieces") <= nChars)).as("compress_ok"))
      .orderBy(col("doc_id"))
  }

  /** Hashed feature space for the learned quality filter: 256
    * buckets via the portable md5 digest. */
  private val LrDim = 256L

  /** Knuth multiplicative constant scattering bucket → weight. */
  private val LrMult = 2654435761L

  /** Learned quality-filter APPLY — the serving shape of a
    * fasttext-style hashed linear classifier (CCNet/RefinedWeb-class
    * quality gates): each token hashes into a [[LrDim]]-bucket
    * feature space, the per-bucket weight is a fixed deterministic
    * function of the bucket id (integer-exact on both engines — a
    * stand-in for a trained table, which `operators.HashedLogReg`
    * produces; the plumbing under test is identical), and a document
    * keeps iff its summed margin is non-negative.
    *
    * Scale shape: scoring is a PURE PER-ROW expression — the margin
    * is an `aggregate` HOF over the token array, so there is NO
    * explode and NO shuffle before the presentation sort; at 100 TB
    * this is a single-scan, shuffle-free filter pass like the
    * hash-split and temperature-thin predicates (the HOF lambda
    * itself evaluates interpreted — the per-token md5 dominates
    * either way). The margin numerator is an exact
    * integer sum (weights are rationals k/1024 scaled to integers),
    * so cross-engine equality is bit-level; only the final reported
    * score divides, through the shared round(…,4) discipline. */
  /** Exact-integer logreg margin numerator over the token stream —
    * shared by the standalone apply query and the fused gate. Native
    * codegen expression ([[graft.functions.GraftExpressions
    * .LogregMargin]]): one primitive loop per row, token-for-token
    * identical to the `aggregate(words(text), 0L, (acc, w) => acc +
    * md5Long(w) % LrDim * LrMult % 1024 - 512)` HOF form it replaced
    * (the HOF's lambda evaluated interpreted per token —
    * ExpressionsSpec pins the two forms equal). */
  private def logregMarginNum(text: Column): Column =
    graft.functions.GraftExpressions.logreg_margin(text, LrDim, LrMult)

  /** The scoring transform itself — a stateless per-row projection,
    * shared verbatim by the batch query and the streaming gate
    * (StreamingLogregSpec runs THIS function under readStream). */
  private[graft] def logregScore(docs: DataFrame): DataFrame = {
    val toks = words(col("text"))
    docs
      .select(col("doc_id"), col("lang"),
        logregMarginNum(col("text")).as("margin_num"),
        size(toks).cast("long").as("n_tok"))
      // + 0.0 normalizes the signed zero: a tiny negative margin
      // rounds to -0.0 in DuckDB but to 0.0 through Spark's
      // BigDecimal-based round (BigDecimal has no -0) — a strict
      // string-repr hash would split on the sign bit; IEEE
      // -0.0 + 0.0 = +0.0 and every other value is unchanged
      .withColumn("score",
        round(col("margin_num") / (col("n_tok") * lit(1024.0)), 4) + lit(0.0))
      .withColumn("keep", col("margin_num") >= 0L)
  }

  private val qQualityLogreg = Q("q_quality_logreg",
    """WITH tk AS (
      |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, lang,
      |    CAST(sum((('0x'||substr(md5(w),1,15))::BIGINT % 256) * 2654435761 % 1024 - 512) AS BIGINT) AS margin_num,
      |    CAST(count(*) AS BIGINT) AS n_tok
      |  FROM tk GROUP BY doc_id, lang)
      |SELECT doc_id, lang, margin_num, n_tok,
      |  round(margin_num / (n_tok * 1024.0), 4) + 0.0 AS score,
      |  margin_num >= 0 AS keep
      |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
    logregScore(t(s, d, "documents")).orderBy(col("doc_id"))
  }

  /** The FUSED production quality cascade — every per-row quality
    * signal this family ships (length window, language markers,
    * Gopher distinct-word repetition, PII detection on the
    * deterministic injected spans, the learned logreg margin)
    * evaluated in ONE pass with a failure-reason bitmask: the
    * corpus-pipeline analog of the flagship's filter cascade, and the
    * shape a real 100 TB filter job runs (decide once per document,
    * not one job per signal).
    *
    * Scale shape: every signal is a per-row expression over the SAME
    * tokenization, so the whole gate is a single scan with ZERO
    * shuffles before the presentation sort — five filter jobs' worth
    * of signals for one corpus read. The reason bitmask (1=length,
    * 2=markers, 4=repetition, 8=PII, 16=classifier) is what the
    * pipeline's drop-audit aggregations consume downstream. */
  /** Shared CTE fragment: the per-row gate signals, with `source`
    * carried for the audit aggregation. Also the gate stage of the
    * composed `q_loader_pipeline` oracle (PipelineQueries). */
  private[graft] def gateSignalsCtes(rel: String): String =
    s"""w AS (
      |  SELECT doc_id, source,
      |    substr(text, 1, 40)
      |      || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@example.com' ELSE '' END
      |      || CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || doc_id % 256 || '.7' ELSE '' END
      |      || CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-01' || doc_id % 90 + 10 ELSE '' END AS piit,
      |    string_split(lower(text), ' ') AS ws
      |  FROM $rel),
      |s AS (
      |  SELECT doc_id, source,
      |    CAST(len(ws) AS INT) AS n_words,
      |    len(ws) BETWEEN 20 AND 500 AS len_ok,
      |    len(list_filter(ws, x -> x IN ('the','a','of','and','der','die','das','und'))) > 0 AS marker_ok,
      |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.45 AS rep_ok,
      |    NOT (regexp_matches(piit, '$EmailRe') OR regexp_matches(piit, '$Ipv4Re')
      |         OR regexp_matches(piit, '$PhoneRe')) AS pii_ok,
      |    list_sum(list_transform(ws,
      |      w -> ((('0x'||substr(md5(w),1,15))::BIGINT % 256) * 2654435761 % 1024 - 512))) >= 0 AS lr_ok
      |  FROM w)""" // NO stripMargin: embedded in templates that strip once

  /** The fragment over `documents` with its WITH prefix — the original
    * embedding shape (q_quality_gate / q_quality_audit / the loader
    * pipeline oracle all strip the margin once). */
  private[graft] val GateSignalsSql = "WITH " + gateSignalsCtes("documents")

  /** Spark twin of [[GateSignalsSql]]: one shared tokenization, all
    * five per-row signals. `carry` names input columns threaded
    * through unchanged (the loader pipeline carries its own token
    * count so the gate→shuffle→pack composition stays one scan). */
  private[graft] def gateSignals(docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val cs = carry.map(col)
    val id = col("doc_id")
    val piit = concat(
      substring(col("text"), 1, 40),
      when(pmod(id, lit(3)) === 0,
        concat(lit(" contact u"), id.cast("string"), lit("@example.com")))
        .otherwise(""),
      when(pmod(id, lit(4)) === 0,
        concat(lit(" from 10.0."), pmod(id, lit(256)).cast("string"), lit(".7")))
        .otherwise(""),
      when(pmod(id, lit(5)) === 0,
        concat(lit(" call +1-555-01"), (pmod(id, lit(90)) + 10).cast("string")))
        .otherwise(""))
    docs
      .select(Seq(id, col("source"), piit.as("piit"),
        words(col("text")).as("ws"),
        logregMarginNum(col("text")).as("margin_num")) ++ cs: _*)
      .select(Seq(id, col("source"), col("piit"), col("margin_num"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("distinct_n"),
        countIn(col("ws"), EnMarkers ++ DeMarkers).as("markers")) ++ cs: _*)
      .select(Seq(id, col("source"), col("n_words"),
        col("n_words").between(20, 500).as("len_ok"),
        (col("markers") > 0).as("marker_ok"),
        (col("distinct_n").cast("double") / col("n_words").cast("double")
          >= 0.45).as("rep_ok"),
        (!(col("piit").rlike(EmailRe) || col("piit").rlike(Ipv4Re) ||
          col("piit").rlike(PhoneRe))).as("pii_ok"),
        (col("margin_num") >= 0L).as("lr_ok")) ++ cs: _*)
  }

  /** The gate's (doc_id, n_words, reasons, keep) projection over
    * [[gateSignals]] — pure stateless per-row work, shared verbatim by
    * the batch query and the streaming twin (StreamingGateSpec pins
    * stream ≡ batch across micro-batch splits). */
  private[graft] def gateBitmask(docs: DataFrame): DataFrame = {
    val lenOk = col("len_ok")
    val markerOk = col("marker_ok")
    val repOk = col("rep_ok")
    val piiOk = col("pii_ok")
    val lrOk = col("lr_ok")
    def bit(ok: Column, v: Int): Column = when(ok, 0).otherwise(v)
    gateSignals(docs)
      .select(col("doc_id"), col("n_words"),
        (bit(lenOk, 1) + bit(markerOk, 2) + bit(repOk, 4) + bit(piiOk, 8) +
          bit(lrOk, 16)).cast("int").as("reasons"),
        (lenOk && markerOk && repOk && piiOk && lrOk).as("keep"))
  }

  private val qQualityGate = Q("q_quality_gate",
    s"""$GateSignalsSql
      |SELECT doc_id, n_words,
      |  CAST(CASE WHEN len_ok THEN 0 ELSE 1 END + CASE WHEN marker_ok THEN 0 ELSE 2 END
      |     + CASE WHEN rep_ok THEN 0 ELSE 4 END + CASE WHEN pii_ok THEN 0 ELSE 8 END
      |     + CASE WHEN lr_ok THEN 0 ELSE 16 END AS INT) AS reasons,
      |  (len_ok AND marker_ok AND rep_ok AND pii_ok AND lr_ok) AS keep
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    gateBitmask(t(s, d, "documents")).orderBy(col("doc_id"))
  }

  /** The gate's drop-audit — what a pipeline operator actually reads
    * after a filter run: per-source document counts, kept count and
    * rate, and the NON-exclusive per-signal drop counts (a doc
    * failing two checks counts in both columns — the bitmask
    * decomposed back into signals).
    *
    * Scale shape: the same single-scan signals feed ONE
    * map-side-combined groupBy on `source` — the exchange carries a
    * handful of partial-count rows per upstream partition, nothing
    * corpus-scaled anywhere. */
  private val qQualityAudit = Q("q_quality_audit",
    s"""$GateSignalsSql
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN len_ok AND marker_ok AND rep_ok AND pii_ok AND lr_ok
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  round(sum(CASE WHEN len_ok AND marker_ok AND rep_ok AND pii_ok AND lr_ok
      |        THEN 1 ELSE 0 END) / (count(*) * 1.0), 4) AS keep_rate,
      |  CAST(sum(CASE WHEN len_ok THEN 0 ELSE 1 END) AS BIGINT) AS drop_len,
      |  CAST(sum(CASE WHEN marker_ok THEN 0 ELSE 1 END) AS BIGINT) AS drop_marker,
      |  CAST(sum(CASE WHEN rep_ok THEN 0 ELSE 1 END) AS BIGINT) AS drop_rep,
      |  CAST(sum(CASE WHEN pii_ok THEN 0 ELSE 1 END) AS BIGINT) AS drop_pii,
      |  CAST(sum(CASE WHEN lr_ok THEN 0 ELSE 1 END) AS BIGINT) AS drop_lr
      |FROM s GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val keepAll = col("len_ok") && col("marker_ok") && col("rep_ok") &&
      col("pii_ok") && col("lr_ok")
    def drops(ok: String): Column =
      sum(when(col(ok), 0L).otherwise(1L)).as("drop_" + ok.stripSuffix("_ok"))
    gateSignals(t(s, d, "documents"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(keepAll, 1L).otherwise(0L)).as("n_keep"),
        round(sum(when(keepAll, 1L).otherwise(0L)) /
          (count(lit(1)) * lit(1.0)), 4).as("keep_rate"),
        drops("len_ok"), drops("marker_ok"), drops("rep_ok"),
        drops("pii_ok"), drops("lr_ok"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------ boilerplate removal

  private[graft] val BoilerWords = 4
  private[graft] val BoilerMinDocs = 3

  /** The document's "paragraphs": its words in fixed non-overlapping
    * [[BoilerWords]]-word windows, ragged tail dropped — the shared
    * line decomposition both passes derive, so the frequency pass and
    * the removal pass can never disagree on a boundary. */
  private[graft] def boilerLines(ws: Column): Column = {
    val n = BoilerWords
    transform(
      filter(
        transform(
          sequence(lit(0),
            greatest(floor((size(ws) - 1) / lit(n)).cast("int"), lit(0))),
          k => slice(ws, k * lit(n) + 1, lit(n))),
        a => size(a) === n),
      a => array_join(a, " "))
  }

  /** CCNet-style repeated-paragraph ("boilerplate") removal — the
    * corpus-frequency line filter every web-scale curation pipeline
    * runs (Wenzek et al. 2020 dedup paragraphs by hash before any
    * model-based step): a line occurring in ≥ [[BoilerMinDocs]]
    * distinct documents is navigation/footer-class content and is
    * struck from every document; output is the per-document removal
    * audit plus the cleaned text itself.
    *
    * Two-pass shape, exactly CCNet's: pass 1 builds the repeated-line
    * hash set (explode → 60-bit digest → count-distinct-docs — only
    * (digest, doc_id) longs reach the exchange, line text never
    * leaves the scan stage); pass 2 re-derives the same lines per row
    * with array HOFs against the BROADCAST digest set, so the removal
    * pass touches the corpus with ZERO data shuffle — at 100 TB the
    * rewrite streams map-side, which is the entire point of the
    * hash-set formulation. The set is collected to one row bounded by
    * |distinct repeated lines| (boilerplate repeats by definition);
    * at trillion-line scale the same pass swaps the in-array
    * membership probe for a bloom filter without changing either
    * derivation. */
  /** The boilerplate derivation as CTEs over `rel` (must expose
    * doc_id, text): bw/bl (lines), bf (corpus line frequency), bfl
    * (per-line strike flag), bcl (per-doc cleaned text) — shared by
    * `q_text_boilerplate` and the composed `q_web_pipeline` so the
    * funnel can never drift from the standalone pass. Documents with
    * no complete line have no bl rows and are absent downstream (the
    * membership the Spark side mirrors). NO stripMargin: embedded in
    * templates that strip once. */
  private[graft] def boilerCtes(rel: String): String =
    s"""bw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel),
       |bl AS (SELECT bw.doc_id, CAST(t.k AS INT) AS line_ix,
       |        array_to_string(ws[t.k*$BoilerWords+1 : t.k*$BoilerWords+$BoilerWords], ' ') AS line
       |      FROM bw, unnest(generate_series(0,
       |        greatest(CAST(floor((len(ws) - 1) / $BoilerWords) AS INT), 0))) AS t(k)
       |      WHERE len(ws[t.k*$BoilerWords+1 : t.k*$BoilerWords+$BoilerWords]) = $BoilerWords),
       |bf AS (SELECT ${PortableHash.md5LongSql("line")} AS dg,
       |        count(DISTINCT doc_id) AS nd
       |      FROM bl GROUP BY 1),
       |bfl AS (SELECT bl.doc_id, bl.line_ix, bl.line,
       |         (${PortableHash.md5LongSql("bl.line")} IN
       |            (SELECT dg FROM bf WHERE nd >= $BoilerMinDocs)) AS is_b
       |       FROM bl),
       |bcl AS (SELECT doc_id,
       |         coalesce(string_agg(line, ' ' ORDER BY line_ix)
       |                    FILTER (WHERE NOT is_b), '') AS cleaned
       |       FROM bfl GROUP BY doc_id)"""

  /** Spark twin, stage 1 of 2: (doc_id, <carry…>, lines), documents
    * with no complete line dropped — the oracle's bl membership. */
  private[graft] def boilerLined(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs.select(Seq(col("doc_id")) ++ carry.map(col) :+
        boilerLines(split(col("text"), " ")).as("lines"): _*)
      .where(size(col("lines")) > 0)

  /** Stage 2: the 1-row broadcastable repeated-digest set. */
  private[graft] def boilerSet(lined: DataFrame): DataFrame =
    lined.select(col("doc_id"), explode(col("lines")).as("line"))
      .select(col("doc_id"), PortableHash.md5Long(col("line")).as("dgv"))
      .groupBy(col("dgv")).agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= BoilerMinDocs)
      .agg(sort_array(collect_set(col("dgv"))).as("bset"))

  /** Per-line strike predicate against the joined `bset` column. */
  private[graft] def boilerIsB(l: Column): Column =
    array_contains(col("bset"), PortableHash.md5Long(l))

  /** Cleaned-text expression over the `lines` column. */
  private[graft] def boilerCleaned: Column =
    array_join(filter(col("lines"), l => !boilerIsB(l)), " ")

  private val qBoilerplate = Q("q_text_boilerplate",
    s"""WITH ${boilerCtes("documents")}
       |SELECT doc_id,
       |  CAST(count(*) AS INT) AS n_lines,
       |  CAST(count(*) FILTER (WHERE is_b) AS INT) AS n_boiler,
       |  round((count(*) - count(*) FILTER (WHERE is_b))
       |        / CAST(count(*) AS DOUBLE), 4) AS retained_ratio,
       |  coalesce(string_agg(line, ' ' ORDER BY line_ix)
       |             FILTER (WHERE NOT is_b), '') AS cleaned
       |FROM bfl GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val lined = boilerLined(t(s, d, "documents"))
    val nLines = size(col("lines"))
    val nBoiler = size(filter(col("lines"), l => boilerIsB(l)))
    lined.crossJoin(broadcast(boilerSet(lined)))
      .select(col("doc_id"),
        nLines.as("n_lines"),
        nBoiler.as("n_boiler"),
        round((nLines - nBoiler) / nLines.cast("double"), 4).as("retained_ratio"),
        boilerCleaned.as("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** Bigram LM with STUPID BACKOFF (Brants et al. EMNLP'07, "Large
    * Language Models in Machine Translation") — the web-scale LM
    * perplexity filter: score(wᵢ | wᵢ₋₁) = nbc/ncc when the bigram was
    * seen in training, else 0.4 · p_add1(wᵢ) — chosen over Kneser-Ney
    * precisely because its statistics are raw mergeable COUNTS (the
    * 100 TB property: map-side-combinable aggregates, no discount
    * renormalization pass), which is also what makes it bit-exact
    * cross-engine. Train slice = the `en` stream (as
    * q_text_unigram_lm); per-token log-score rounded to 6 dp into
    * DECIMAL before the per-doc mean (the shared discipline), verdict
    * on the unrounded mean.
    *
    * Scale shape: bigram/context/unigram count tables are
    * vocabulary²-/vocabulary-scaled map-side-combined aggregates; the
    * scoring pass left-joins the corpus bigram stream against them —
    * AQE broadcasts at bench scale, flips to shuffled equi-joins when
    * the bigram table outgrows the threshold (exactly the LM-scoring
    * join a web corpus pays); totals are a broadcast scalar. */
  /** Shared CTE chain of the bigram-LM family: trains the stupid-
    * backoff LM on the `en` stream, scores every document's bigrams,
    * and exposes `perdoc` (doc_id, lang, nb, um = unrounded mean
    * log-score) — consumed by [[qBigramLm]] (threshold verdict) and
    * [[qPplBand]] (CCNet perplexity terciles). */
  private val bigramLmCtes: String =
    """w AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
      |           FROM documents),
      |bg AS (SELECT doc_id, lang, ws[t.i] AS p, ws[t.i+1] AS c
      |       FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
      |trb AS (SELECT p, c FROM bg WHERE lang = 'en'),
      |bc AS (SELECT p, c, CAST(count(*) AS BIGINT) AS nbc FROM trb GROUP BY 1, 2),
      |cc AS (SELECT p, CAST(count(*) AS BIGINT) AS ncc FROM trb GROUP BY 1),
      |tru AS (SELECT unnest(ws) AS tok FROM w WHERE lang = 'en'),
      |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS nu FROM tru GROUP BY tok),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |               CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tru),
      |scored AS (
      |  SELECT bg.doc_id, bg.lang,
      |    CAST(round(CASE WHEN bc.nbc IS NOT NULL
      |      THEN ln(CAST(bc.nbc AS DOUBLE) / CAST(cc.ncc AS DOUBLE))
      |      ELSE ln(0.4 * (CAST(COALESCE(uc.nu, 0) + 1 AS DOUBLE)
      |                     / CAST(tot.n + tot.v AS DOUBLE))) END, 6)
      |      AS DECIMAL(18,6)) AS logp
      |  FROM bg LEFT JOIN bc ON bc.p = bg.p AND bc.c = bg.c
      |          LEFT JOIN cc ON cc.p = bg.p
      |          LEFT JOIN uc ON uc.tok = bg.c
      |          CROSS JOIN tot),
      |perdoc AS (
      |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS nb,
      |    CAST(sum(logp) AS DOUBLE) / count(*) AS um
      |  FROM scored GROUP BY doc_id, lang)""".stripMargin

  private val qBigramLm = Q("q_text_bigram_lm",
    s"""WITH $bigramLmCtes
      |SELECT doc_id, lang, CAST(nb AS INT) AS n_bigrams,
      |  round(um, 4) AS avg_logp,
      |  CASE WHEN um >= -3.40 THEN 'keep' ELSE 'cut' END AS verdict
      |FROM perdoc ORDER BY doc_id""".stripMargin) { (s, d) =>
    bigramDocScores(s, d)
      .select(col("doc_id"), col("lang"), col("nb").cast("int").as("n_bigrams"),
        round(col("um"), 4).as("avg_logp"),
        when(col("um") >= -3.40, "keep").otherwise("cut").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** The stupid-backoff training counts over the `en` sub-corpus:
    * (bc bigram counts, cc context counts, uc unigram counts, tot
    * (n, v) scalars) — shared by [[bigramDocScores]] and the
    * streaming twin's collected reference model so the two cannot
    * train apart. */
  private def lmCounts(w: DataFrame, bg: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val trb = bg.where(col("lang") === "en").select(col("p"), col("c"))
    val bc = trb.groupBy(col("p"), col("c")).agg(count(lit(1)).cast("long").as("nbc"))
    val cc = trb.groupBy(col("p")).agg(count(lit(1)).cast("long").as("ncc"))
    val tru = w.where(col("lang") === "en")
      .select(explode(col("ws")).as("tok"))
    val uc = tru.groupBy(col("tok")).agg(count(lit(1)).cast("long").as("nu"))
    val tot = tru.agg(count(lit(1)).cast("long").as("n"),
      countDistinct(col("tok")).cast("long").as("v"))
    (bc, cc, uc, tot)
  }

  private def docWords(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), words(col("text")).as("ws"))

  /** Per-document bigrams of every ≥2-word document. Guard: sequence
    * (1, 0) is DESCENDING in Spark, so a 1-word doc would evaluate
    * element_at(ws, 0) and throw; DuckDB's series is empty — the
    * filter keeps both engines at "no bigrams, doc absent". */
  private def docBigrams(w: DataFrame): DataFrame =
    w.where(size(col("ws")) >= 2)
      .select(col("doc_id"), col("lang"),
      explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("p"),
          element_at(col("ws"), i + 1).as("c")))).as("b"))
      .select(col("doc_id"), col("lang"), col("b.p").as("p"), col("b.c").as("c"))

  /** The trained LM as driver maps — the FIXED reference model the
    * streaming ppl-band twin scores against (the StreamingBitext
    * collected-quantizer stance; CCNet's own LM is likewise an
    * offline prior-corpus artifact the scorer consumes). Returns
    * (bc, cc, uc, n, v). Model-bounded driver state: bigram/unigram
    * TYPE counts, guarded by the Sgns.MaxVocab rationale — a corpus
    * whose type inventory outgrows the driver needs count-pruning
    * upstream (CCNet prunes its KenLM the same way), loudly, before
    * any allocation. */
  private[graft] def bigramLmModelOf(s: SparkSession, d: String)
      : (Map[(String, String), Long], Map[String, Long], Map[String, Long],
        Long, Long) = {
    val w = docWords(s, d)
    val (bc, cc, uc, tot) = lmCounts(w, docBigrams(w))
    val maxTypes = 1 << 21
    val nBc = bc.count()
    require(nBc <= maxTypes,
      s"bigram LM model: $nBc bigram types exceed $maxTypes — count-prune " +
        "the reference corpus before collecting a driver-side model")
    val bcM = bc.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ccM = cc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ucM = uc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totR = tot.collect().head
    (bcM, ccM, ucM, totR.getLong(0), totR.getLong(1))
  }

  /** Per-document bigram-LM scores (doc_id, lang, nb, um) — the Spark
    * twin of [[bigramLmCtes]]'s `perdoc`. */
  private def bigramDocScores(s: SparkSession, d: String): DataFrame = {
    val w = docWords(s, d)
    val bg = docBigrams(w)
    val (bc, cc, uc, tot) = lmCounts(w, bg)
    val logp = round(
      when(col("nbc").isNotNull,
        log(col("nbc").cast("double") / col("ncc").cast("double")))
        .otherwise(log(lit(0.4) * ((coalesce(col("nu"), lit(0L)) + 1).cast("double")
          / (col("n") + col("v")).cast("double")))), 6).cast("decimal(18,6)")
    val scored = bg
      .join(bc, Seq("p", "c"), "left_outer")
      .join(cc, Seq("p"), "left_outer")
      .join(uc, col("tok") === col("c"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), logp.as("logp"))
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).cast("long").as("nb"), sum(col("logp")).as("sum_logp"))
      .select(col("doc_id"), col("lang"), col("nb"),
        (col("sum_logp").cast("double") / col("nb")).as("um"))
  }

  /** CCNET PERPLEXITY BUCKETS (Wenzek et al., LREC 2020 — the
    * head/middle/tail split every CommonCrawl-derived training corpus
    * inherits): per LANGUAGE, documents rank by LM quality (here the
    * bigram stupid-backoff mean log-score, best first) and split into
    * equal-count terciles — `head` is the cleanest third a curriculum
    * trains on first, `tail` the candidate for dropping. Banding is
    * integer math over an exact rank: band = ⌊3·(rank−1)/n_lang⌋ on
    * the (round(um,4) DESC, doc_id) total order, so both engines
    * agree on every boundary document.
    *
    * Scale shape: scoring is [[bigramDocScores]]'s contract; the
    * per-language rank is [[graft.operators.PrefixSum.cumsumBy]]'s
    * two-phase range scan over (lang, −avg, doc_id) — NEVER a
    * corpus-wide window (a row_number partitioned by lang would
    * funnel each language, i.e. most of a monolingual crawl, through
    * one task) — and the per-language offsets/totals that turn the
    * global running count into within-language ranks are a
    * |languages|-sized driver table (a domain constant, the KMeans
    * bound stance). */
  /** The tercile-banding TAIL over a scored frame (doc_id, lang,
    * avg_logp) — extracted (r15) so the streaming twin's sweep IS
    * this code (the `StreamingBitext.sweep ≡ bitextSweep` stance:
    * stream and batch cannot fork in the banding math). Rank is the
    * distributed two-phase scan, never a per-language window. */
  private[graft] def pplBandTail(s: SparkSession, scored: DataFrame): DataFrame = {
    val perdoc = scored
      .select(col("doc_id"), col("lang"), col("avg_logp"))
      .withColumn("neg", -col("avg_logp"))
      .fenced() // ranked by the two-phase scan + banded
    // global running count over the (lang, −avg, doc_id) total order…
    val ranked = graft.operators.PrefixSum.cumsumBy(
      perdoc.withColumn("one", lit(1L)),
      Seq("lang", "neg", "doc_id"), "one", 8, "gcum")
    // …minus each language's start offset = the within-language rank.
    // |languages| rows — a domain constant, broadcast back.
    val langCounts = perdoc.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val offsets = langCounts.map(_._1)
      .zip(langCounts.map(_._2).scanLeft(0L)(_ + _).init)
    import s.implicits._
    val offDf = broadcast(offsets.zip(langCounts.map(_._2)).map {
      case ((lang, off), nl) => (lang, off, nl)
    }.toSeq.toDF("lang", "off", "nl"))
    val band = ((col("gcum") - col("off") - 1) * 3 / col("nl")).cast("int")
    ranked.join(offDf, "lang")
      .select(col("doc_id"), col("lang"), col("avg_logp"),
        when(band === 0, "head").when(band === 1, "middle")
          .otherwise("tail").as("band"))
      .orderBy(col("doc_id"))
  }

  private val qPplBand = Q("q_text_ppl_band",
    s"""WITH $bigramLmCtes,
      |ranked AS (
      |  SELECT doc_id, lang, round(um, 4) AS avg_logp,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY round(um, 4) DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS nl
      |  FROM perdoc)
      |SELECT doc_id, lang, avg_logp,
      |  CASE CAST(3 * (rn - 1) // nl AS INT)
      |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS band
      |FROM ranked ORDER BY doc_id""".stripMargin) { (s, d) =>
    pplBandTail(s, bigramDocScores(s, d)
      .select(col("doc_id"), col("lang"), round(col("um"), 4).as("avg_logp")))
  }

  /** Corpus NOVELTY decay — the diversity diagnostic a data-collection
    * effort tracks as it scales (does the next slice of crawl still
    * contribute unseen content, or has the source saturated?): in
    * ingestion order (doc_id), each document's 3-gram shingles split
    * into SEEN (some earlier document already contains them) and NEW
    * (this document is their first occurrence — ties on simultaneous
    * arrival resolve to the smallest doc_id, the same keep-first rule
    * as the dedup family), reported as the per-decade novelty curve.
    *
    * Scale shape: "first occurrence" is a min-aggregate over the
    * shingle key — map-side combinable, ONE corpus exchange carrying
    * (64-bit digest, doc_id) longs (the engine side hashes; the
    * oracle joins on the string — identical counts, the q_dedup_ngram
    * argument); the per-doc split is a digest-keyed join back, the
    * decade rollup is 10 rows. No window over anything corpus-scaled. */
  private val qNovelty = Q("q_text_novelty",
    """WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w
      |        FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest(CASE WHEN len(w) >= 3
      |                THEN list_transform(generate_series(1, len(w) - 2),
      |                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |                ELSE [] END) AS sh
      |       FROM ws),
      |first AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh),
      |per AS (SELECT s.doc_id,
      |          CAST(count(*) AS BIGINT) AS n_sh,
      |          CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT) AS n_new
      |        FROM sh s JOIN first f ON s.sh = f.sh GROUP BY 1),
      |mx AS (SELECT max(doc_id) + 1 AS m FROM documents)
      |SELECT CAST((per.doc_id * 10) // mx.m AS INT) AS decade,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_sh) AS BIGINT) AS n_shingles,
      |  CAST(sum(n_new) AS BIGINT) AS n_new,
      |  round(sum(n_new) / CAST(sum(n_sh) AS DOUBLE), 4) AS novelty
      |FROM per CROSS JOIN mx GROUP BY 1 ORDER BY decade""".stripMargin) { (s, d) =>
    val sh = t(s, d, "documents")
      .select(col("doc_id"),
        explode(graft.functions.GraftExpressions.shingles(
          lower(col("text")), 3, dedup = true)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .fenced() // reused: first-occurrence agg + the join back
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val per = sh.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
    val mx = t(s, d, "documents").agg((max(col("doc_id")) + 1).as("m"))
    per.crossJoin(broadcast(mx))
      .groupBy(expr("(doc_id * 10) div m").cast("int").as("decade"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("n_shingles"),
        sum(col("n_new")).as("n_new"),
        round(sum(col("n_new")) / sum(col("n_sh")).cast("double"), 4).as("novelty"))
      .orderBy(col("decade"))
  }

  /** CLASSIFIER EVALUATION — per-language ROC-AUC of the learned
    * quality filter against the rule-based label, closing the
    * train→apply→EVALUATE loop a production quality classifier lives
    * in (the FineWeb/DCLM workflow: a cheap learned filter is
    * accepted or retrained on how well it reproduces the reference
    * labeling): score = the hashed-logreg integer margin (AUC is
    * invariant under its monotone scaling, so ranking the EXACT
    * integer numerator makes tie handling bit-portable), label =
    * `q_text_quality`'s rule verdict. AUC is the tie-aware
    * Mann-Whitney form (mid-ranks): with per-(lang, margin) group
    * counts nt/np and cb = count of strictly-lower margins,
    * 2·R₁ = Σ np·(2·cb + nt + 1) and
    * AUC = (2R₁ − n₁(n₁+1)) / (2·n₁·n₀) — all-integer until the one
    * final division (exact to ~10⁹ docs/language in 64-bit; the
    * decimal upgrade is mechanical).
    *
    * Scale shape: ONE document scan computes (lang, margin, label);
    * one map-side-combined groupBy to (lang, margin) group stats; the
    * strictly-below count is [[graft.operators.PrefixSum.cumsumBy]]'s
    * two-phase scan over the (lang, margin) total order — NEVER a
    * per-language window (a monolingual crawl would funnel through
    * one task); per-language offsets are a |languages|-sized driver
    * table (the ppl-band stance); the finale is a |languages|-row
    * aggregate. */
  /** The shared evaluation GRAIN: one row per document with the
    * exact-integer classifier margin and the rule label — the
    * projection BOTH eval queries and the streaming twin's mark
    * stage run (StreamingQualityEvalSpec pins the twin through this
    * function, so the scorer cannot fork). Stateless per-row
    * expressions only — streamable as-is. */
  private[graft] def qualityScored(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val stops = countIn(ws, EnMarkers)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("lang"),
      logregMarginNum(col("text")).as("margin_num"),
      (size(ws).between(20, 500) && stops > 0).cast("long").as("p"))
  }

  private val qQualityAuc = Q("q_quality_auc",
    """WITH tk AS (
      |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, lang,
      |    CAST(sum((('0x'||substr(md5(w),1,15))::BIGINT % 256) * 2654435761 % 1024 - 512) AS BIGINT) AS margin_num
      |  FROM tk GROUP BY doc_id, lang),
      |lbl AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(lower(text), ' ')) BETWEEN 20 AND 500
      |      AND len(list_filter(string_split(lower(text), ' '),
      |                          x -> x IN ('the','a','of','and'))) > 0
      |    THEN 1 ELSE 0 END AS p
      |  FROM documents),
      |g AS (
      |  SELECT m.lang, m.margin_num, CAST(count(*) AS BIGINT) AS nt,
      |    CAST(sum(l.p) AS BIGINT) AS np
      |  FROM m JOIN lbl l ON l.doc_id = m.doc_id GROUP BY 1, 2),
      |c AS (
      |  SELECT lang, nt, np,
      |    CAST(coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY margin_num
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |  FROM g),
      |s AS (
      |  SELECT lang, CAST(sum(np * (2*cb + nt + 1)) AS BIGINT) AS r2,
      |    CAST(sum(np) AS BIGINT) AS n1, CAST(sum(nt - np) AS BIGINT) AS n0
      |  FROM c GROUP BY lang)
      |SELECT lang, n1 AS n_pos, n0 AS n_neg,
      |  round(CAST(r2 - n1*(n1+1) AS DOUBLE) / CAST(2*n1*n0 AS DOUBLE), 6) AS auc
      |FROM s WHERE n1 > 0 AND n0 > 0 ORDER BY lang""".stripMargin) { (s, d) =>
    aucByLang(s, qualityScored(t(s, d, "documents"))
      .select(col("lang"), col("margin_num"), col("p")))
  }

  /** The tie-aware rank AUC over a (lang, margin_num, p) frame —
    * extracted so QualityEvalSpec can drive a synthetic TIED frame
    * through the identical plan (the real corpus carries no
    * cross-class margin tie at spec scale, so the mid-rank half-
    * credit branch would otherwise go unexercised). */
  private[graft] def aucByLang(s: SparkSession, scored: DataFrame): DataFrame =
    aucFromHistogram(s, scored.groupBy(col("lang"), col("margin_num"))
      .agg(count(lit(1)).as("nt"), sum(col("p")).as("np")))

  /** The AUC sweep over the (lang, margin_num, nt, np) HISTOGRAM —
    * the grain the STREAMING twin maintains as state (tie-aware
    * Mann-Whitney needs only per-(lang, margin) group counts, never
    * per-doc ranks, so a live monitor carries domain-bounded state
    * and this sweep is exact, not approximate). One function, three
    * consumers: the ○ batch query, QualityEvalSpec's synthetic tied
    * frame, and StreamingQualityEval's sweep. */
  private[graft] def aucFromHistogram(s: SparkSession, g0: DataFrame): DataFrame = {
    val g = g0
    // strictly-below count via the two-phase scan over the composite
    // (lang, margin) total order…
    val ranked = graft.operators.PrefixSum.cumsumBy(
      g, Seq("lang", "margin_num"), "nt", 8, "gcum")
    // …minus per-language start offsets (|languages| driver rows)
    val langCounts = g.groupBy(col("lang")).agg(sum(col("nt")).as("nl"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val offsets = langCounts.map(_._1)
      .zip(langCounts.map(_._2).scanLeft(0L)(_ + _).init)
    import s.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("lang", "off"))
    val cb = col("gcum") - col("off") - col("nt")
    ranked.join(offDf, "lang")
      .groupBy(col("lang"))
      .agg(sum(col("np") * (cb * 2L + col("nt") + 1L)).as("r2"),
        sum(col("np")).as("n1"), sum(col("nt") - col("np")).as("n0"))
      .where(col("n1") > 0L && col("n0") > 0L)
      .select(col("lang"), col("n1").as("n_pos"), col("n0").as("n_neg"),
        round((col("r2") - col("n1") * (col("n1") + 1L)).cast("double")
          / (col("n1") * col("n0") * 2L).cast("double"), 6).as("auc"))
      .orderBy(col("lang"))
  }

  /** CLASSIFIER CALIBRATION — the reliability table next to the AUC:
    * documents bin into score DECILES (rank-based over the exact
    * integer margin, ties broken by doc_id — both engines agree on
    * every boundary) and each bin reports its observed positive rate
    * under the rule label. A well-calibrated filter's rate climbs
    * with the decile; a flat column at the top is the "confidently
    * wrong" signature that sends a filter back to training.
    *
    * Scale shape: the global rank is the same two-phase scan as the
    * AUC (corpus-total order (margin, doc_id) — no single-task
    * window anywhere); the bin aggregate is 10 rows. */
  private val qQualityCalib = Q("q_quality_calibration",
    """WITH tk AS (
      |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, lang,
      |    CAST(sum((('0x'||substr(md5(w),1,15))::BIGINT % 256) * 2654435761 % 1024 - 512) AS BIGINT) AS margin_num
      |  FROM tk GROUP BY doc_id, lang),
      |lbl AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(lower(text), ' ')) BETWEEN 20 AND 500
      |      AND len(list_filter(string_split(lower(text), ' '),
      |                          x -> x IN ('the','a','of','and'))) > 0
      |    THEN 1 ELSE 0 END AS p
      |  FROM documents),
      |r AS (
      |  SELECT m.doc_id, m.margin_num, l.p,
      |    row_number() OVER (ORDER BY m.margin_num, m.doc_id) AS rn,
      |    count(*) OVER () AS n
      |  FROM m JOIN lbl l ON l.doc_id = m.doc_id)
      |SELECT CAST(10 * (rn - 1) // n AS INT) AS decile,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(p) AS BIGINT) AS n_pos,
      |  round(sum(p) / (count(*) * 1.0), 6) AS pos_rate
      |FROM r GROUP BY 1 ORDER BY decile""".stripMargin) { (s, d) =>
    calibTail(s, qualityScored(t(s, d, "documents"))
      .select(col("doc_id"), col("margin_num"), col("p")))
  }

  /** The reliability-decile sweep over a per-document
    * (doc_id, margin_num, p) frame — the batch tail of
    * `q_quality_calibration`, shared with the streaming twin's sweep
    * (deciles need the (margin, doc_id) total order, which a
    * (lang, margin) histogram cannot carry — the twin therefore
    * keeps the PplBand-style marked store for THIS sweep and the
    * histogram for the AUC). */
  private[graft] def calibTail(s: SparkSession, perDoc: DataFrame): DataFrame = {
    val scored = perDoc
      .withColumn("one", lit(1L))
      .fenced() // ranked + counted
    val n = scored.count()
    val ranked = graft.operators.PrefixSum.cumsumBy(
      scored, Seq("margin_num", "doc_id"), "one", 8, "rn")
    ranked
      .groupBy(((col("rn") - 1L) * 10L / n).cast("int").as("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("p")).as("n_pos"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        round(col("n_pos") / (col("n_docs") * lit(1.0)), 6).as("pos_rate"))
      .orderBy(col("decile"))
  }

  val all: Seq[Q] = Seq(qLangid, qQuality, qTokens, qFingerprint, qNormalize,
    qRepetition, qPii, qMojibake, qReadability, qTfidf,
    qBigrams, qUnigramLm, qPmi, qKeyness, qBm25, qZipf, qVocabCoverage,
    qBpeMerge, qBpeEncode, qBpeByte, qQualityLogreg, qQualityGate,
    qQualityAudit,
    qBoilerplate, qBigramLm, qPplBand, qNovelty, qQualityAuc, qQualityCalib,
    qUnigramSeed, qUnigramEncode, qUnigramSoft,
    qWordpieceMerge, qWordpieceEncode, qTokenizerCompare)
}
