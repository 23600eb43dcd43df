package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.parse.Clf
import graft.filters.LogFilters
import graft.streaming.DimensionSnapshot

/** The flagship query — the reference's whole batch pipeline
  * (`server.clj:37-48` `log->edn`): scan → filter cascade → project →
  * left-broadcast-join dimension → emit enriched events.
  *
  * Input is a deterministic access-log synthesized from the `events`
  * testdata table (TESTDATA.md) so the DuckDB oracle can build the
  * *identical* lines and re-derive the identical result. Every filter
  * branch of the cascade (F1–F9, F11) is exercised by a distinct
  * residue class of `event_id`.
  *
  * Physical shape at scale: one WholeStageCodegen stage over the fact
  * scan (synth + parse + filters fuse), plus a BroadcastHashJoin
  * against the pre-aggregated dimension — zero shuffles on the fact
  * side regardless of input size; the only exchange is the final
  * orderBy (required for oracle hashing only, not by the semantics).
  */
object Flagship {

  /** Deterministically render CLF lines from the events table. */
  def synthLog(events: DataFrame): DataFrame = {
    val id = col("event_id")
    val uri = when(pmod(id, lit(11)) === 0, concat(lit("/wb/typeahead/"), col("event_type")))
      .when(pmod(id, lit(13)) === 0, concat(lit("/other/"), col("event_type")))
      .when(pmod(id, lit(19)) === 0, concat(lit("/wb/dwb/"), col("event_type")))
      .when(pmod(id, lit(23)) === 0, lit("/wb/wdg"))
      .when(pmod(id, lit(31)) === 0, lit("/wb/%5Bbroken"))
      .when(pmod(id, lit(37)) === 0, lit("/wb/"))
      .when(pmod(id, lit(5)) === 0, concat(lit("/wb/"), col("event_type"), lit("%C3%A4")))
      .otherwise(concat(lit("/wb/"), col("event_type")))
    val method = when(pmod(id, lit(41)) === 0, lit("POST")).otherwise(lit("GET"))
    val status = when(col("event_type") === "error", lit("500")).otherwise(lit("200"))
    val referrer = when(pmod(id, lit(3)) === 0, lit("-")).otherwise(lit("https://www.dwds.de/"))
    val ua = when(pmod(id, lit(17)) === 0, lit("Googlebot/2.1 (+http://www.google.com/bot.html)"))
      .when(pmod(id, lit(29)) === 0, lit("curl/8.4.0"))
      .otherwise(lit("Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/120.0"))
    val ip = format_string("10.0.%d.%d", pmod(col("user_id"), lit(256)), pmod(id, lit(256)))
    val tsStr = concat(date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000"))
    events.select(format_string(
      "%s - - [%s] \"%s %s HTTP/1.1\" %s %d \"%s\" \"%s\"",
      ip, tsStr, method, uri, status, pmod(id, lit(1000)) + 1, referrer, ua).as("line"))
  }

  /** Lines → `{ts, lemma}` page-request events: the reference's
    * parse + filter cascade (`access_log.clj:78-93`), authored
    * cheap-first so codegen short-circuits exactly like the manual
    * fusion in the reference. Pure `DataFrame => DataFrame` — works
    * unchanged under `readStream` (graft.streaming). */
  def logToRequests(lines: DataFrame): DataFrame = {
    import LogFilters._
    lines
      .where(Clf.prefilter(col("line")))
      .transform(Clf.parse(_))
      .where(ok(col("status")))
      // F5 via the native one-pass UriLemma expression (split before
      // decode, like the declarative pathSegments form it replaces)
      .withColumn("_u", graft.functions.GraftExpressions.uri_lemma(col("uri")))
      .withColumn("lemma", col("_u.lemma"))
      .where(validLemma(col("lemma")))
      .where(col("_u.nseg") === 1 && !col("lemma").isin(SubDictionaries: _*))
      .where(!isBot(col("user_agent")))
      .where(fitsDb(col("lemma")))
      .where(col("ts").isNotNull) // F10: malformed rows drop, never fail
      .select(col("ts"), col("lemma"))
  }

  /** F10 side output — the lines the cascade REJECTED (parse failures
    * and filtered rows), for a quarantine sink. The reference logs
    * these at debug and drops them (`access_log.clj:92-93`); at scale
    * you want them queryable. The keep-predicate is one boolean
    * expression over the raw line (null-safe: unparseable ⇒ rejected),
    * so this is a single scan with no join. */
  def rejectedLines(lines: DataFrame): DataFrame = {
    import LogFilters._
    import graft.functions.GraftExpressions.{clf_parse, uri_lemma}
    // Parse and decompose in projections (each fenced expression
    // evaluates once per row); the keep-predicate then tests plain
    // attributes. Same single-scan no-join shape as before.
    val p = lines
      .select(col("line"), clf_parse(col("line")).as("_p"))
      .select(col("line"), col("_p"), uri_lemma(col("_p.uri")).as("_u"))
    val lemma = col("_u.lemma")
    val keep = Clf.prefilter(col("line")) &&
      ok(col("_p.status")) &&
      to_timestamp(col("_p.ts_raw"), Clf.TsFormat).isNotNull &&
      validLemma(lemma) &&
      col("_u.nseg") === 1 && !lemma.isin(SubDictionaries: _*) &&
      !isBot(col("_p.user_agent")) &&
      fitsDb(lemma)
    p.where(!coalesce(keep, lit(false))).select(col("line"))
  }

  /** The lemma dimension, pre-aggregated build-side (A1 analog) —
    * kept small by construction, always broadcastable. */
  def dimension(events: DataFrame): DataFrame =
    events.groupBy(col("event_type").as("lemma")).agg(
      count(lit(1)).cast("long").as("freq"),
      min_by(col("user_id"), col("event_id")).cast("long").as("first_user"))

  /** J1 — stream–static left-outer enrichment join, dimension
    * broadcast (`server.clj:12-14` + `wbdb.clj:30-40`). A live
    * `DimensionSnapshot` version (its `pinned` frame) is probed
    * through the lookup it broadcast once, with the join's output;
    * any other frame is broadcast into the join on every execution. */
  def enrich(requests: DataFrame, dim: DataFrame): DataFrame =
    DimensionSnapshot.versionOf(dim) match {
      case Some(v) => v.enrich(requests)
      case None => requests.join(broadcast(dim), Seq("lemma"), "left_outer")
    }

  def apply(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir, "events")
    enrich(logToRequests(synthLog(events)), dimension(events))
      .select(col("lemma"), col("ts"), col("freq"), col("first_user"))
      .orderBy(col("lemma"), col("ts"))
  }

  /** DuckDB twin of the whole pipeline, built from the SAME pattern /
    * bot / sub-dictionary constants so the two sides cannot drift.
    * (`url_decode` is absent in DuckDB 1.0 — the oracle decodes the
    * two escape sequences the synthesizer injects via `replace`.) */
  val oracle: String = {
    val subdict = LogFilters.SubDictionaries.map(s => s"'$s'").mkString(", ")
    s"""WITH lines AS (
  SELECT format('{} - - [{}] "{} {} HTTP/1.1" {} {} "{}" "{}"',
    format('10.0.{}.{}', user_id % 256, event_id % 256),
    strftime(ts::TIMESTAMP, '%d/%b/%Y:%H:%M:%S +0000'),
    CASE WHEN event_id % 41 = 0 THEN 'POST' ELSE 'GET' END,
    CASE WHEN event_id % 11 = 0 THEN '/wb/typeahead/' || event_type
         WHEN event_id % 13 = 0 THEN '/other/' || event_type
         WHEN event_id % 19 = 0 THEN '/wb/dwb/' || event_type
         WHEN event_id % 23 = 0 THEN '/wb/wdg'
         WHEN event_id % 31 = 0 THEN '/wb/%5Bbroken'
         WHEN event_id % 37 = 0 THEN '/wb/'
         WHEN event_id % 5 = 0 THEN '/wb/' || event_type || '%C3%A4'
         ELSE '/wb/' || event_type END,
    CASE WHEN event_type = 'error' THEN '500' ELSE '200' END,
    event_id % 1000 + 1,
    CASE WHEN event_id % 3 = 0 THEN '-' ELSE 'https://www.dwds.de/' END,
    CASE WHEN event_id % 17 = 0 THEN 'Googlebot/2.1 (+http://www.google.com/bot.html)'
         WHEN event_id % 29 = 0 THEN 'curl/8.4.0'
         ELSE 'Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/120.0' END
  ) AS line FROM events),
kept AS (
  SELECT line FROM lines
  WHERE contains(line, 'GET /wb/') AND NOT contains(line, 'GET /wb/typeahead')),
parsed AS (
  SELECT
    regexp_extract(line, '${Clf.Pattern}', 2) AS ts_raw,
    regexp_extract(line, '${Clf.Pattern}', 4) AS uri,
    regexp_extract(line, '${Clf.Pattern}', 5) AS status,
    regexp_extract(line, '${Clf.Pattern}', 8) AS user_agent
  FROM kept),
decoded AS (
  SELECT
    strptime(ts_raw, '%d/%b/%Y:%H:%M:%S %z')::TIMESTAMP AS ts,
    status, user_agent,
    len(string_split(rtrim(regexp_replace(substr(uri, 5), '[?#].*', ''), '/'), '/')) AS nseg,
    replace(replace(string_split(rtrim(regexp_replace(substr(uri, 5), '[?#].*', ''), '/'), '/')[1],
                    '%C3%A4', 'ä'), '%5B', '[') AS lemma
  FROM parsed),
wpr AS (
  SELECT ts, lemma FROM decoded
  WHERE status = '200'
    AND length(lemma) > 0 AND NOT starts_with(lemma, '[')
    AND nseg = 1 AND lemma NOT IN ($subdict)
    AND NOT regexp_matches(user_agent, '${LogFilters.BotPattern}')
    AND length(lemma) < 128),
dim AS (
  SELECT event_type AS lemma, CAST(count(*) AS BIGINT) AS freq,
         CAST(min_by(user_id, event_id) AS BIGINT) AS first_user
  FROM events GROUP BY event_type)
SELECT w.lemma, w.ts, d.freq, d.first_user
FROM wpr w LEFT JOIN dim d USING (lemma)
ORDER BY w.lemma, w.ts"""
  }
}
