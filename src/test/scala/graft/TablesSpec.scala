package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The engine must not depend on the parquet writer's physical
  * timestamp annotation: the round-8 testdata switch from
  * TIMESTAMP(NANOS) to naive TIMESTAMP(MICROS) surfaced `ts` as
  * TIMESTAMP_NTZ and broke every `unix_micros` call site. Pins the
  * Tables-level normalization that makes all queries insensitive to
  * the annotation, and the resolve-once schema cache: a table's schema
  * is inferred once per session and again only when its files change. */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{jobs, spark}

  test("TIMESTAMP_NTZ columns normalize to session-TZ TimestampType with identical micros") {
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.sql(
      """SELECT id AS event_id,
        |  TIMESTAMP_NTZ '2024-01-02 03:04:05.678901' + make_interval(0,0,0,0,0,0,id) AS ts
        |FROM range(5)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // raw read surfaces NTZ (the round-8 shape)...
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType)
    // ...Tables normalizes, and unix_micros analyzes + matches the
    // wall-clock value (session TZ is UTC, so the cast is annotation-only)
    val t = Tables(spark, dir, "events")
    assert(t.schema("ts").dataType == TimestampType)
    val us = t.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    val base = java.time.LocalDateTime.parse("2024-01-02T03:04:05.678901")
      .toInstant(java.time.ZoneOffset.UTC)
    val expect = (0 until 5)
      .map(i => base.getEpochSecond * 1000000L + base.getNano / 1000L + i * 1000000L)
    assert(us.toSeq == expect)
  }

  test("tables without NTZ columns load unchanged") {
    val docs = Tables(spark, TestSpark.Sf, "documents")
    assert(!docs.schema.exists(_.dataType == TimestampNTZType))
    assert(docs.count() > 0)
  }

  /** A parquet file written without Spark: only `message`'s types. */
  private def writeParquet(at: String, message: String)(rows: (() => Group) => Seq[Group]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new Path(at)).withType(schema).build()
    try rows(() => new SimpleGroupFactory(schema).newGroup()).foreach(w.write)
    finally w.close()
  }

  private def micros(df: DataFrame): Seq[Long] =
    df.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq

  test("a second resolution of every table starts no job and returns the first schema") {
    val s = spark.newSession() // an empty cache: the first pass infers
    val (first, inferJobs) = jobs(Tables.All.map(n => Tables(s, TestSpark.Sf, n).schema))
    assert(inferJobs >= Tables.All.size, "each first resolution reads a footer")
    val (second, cachedJobs) = jobs(Tables.All.map(n => Tables(s, TestSpark.Sf, n).schema))
    assert(cachedJobs == 0)
    assert(second == first)
    // a self-join of two reads still analyzes: each read is its own frame
    val nation = Tables(s, TestSpark.Sf, "nation")
    assert(nation.as("a").join(Tables(s, TestSpark.Sf, "nation").as("b"),
      col("a.n_regionkey") === col("b.n_regionkey")).count() > 0)
  }

  test("events read through the cache give the first read's unix_micros") {
    val s = spark.newSession()
    val (uncached, n1) = jobs(micros(Tables(s, TestSpark.Sf, "events")))
    val (cached, n2) = jobs(Tables(s, TestSpark.Sf, "events"))
    assert(n1 > n2 && n2 == 0)
    assert(uncached.nonEmpty && micros(cached) == uncached)
  }

  test("a table rewritten in place is resolved again, as a directory or as one file") {
    val dir = Files.createTempDirectory("graft-tables").toString
    def write(df: DataFrame, at: String): Unit = df.write.mode("overwrite").parquet(at)
    val v1 = spark.sql("SELECT id AS event_id, TIMESTAMP '2024-01-02 03:04:05' AS ts FROM range(3)")
    val v2 = spark.sql(
      """SELECT id AS event_id, TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ts, id * 2 AS extra
        |FROM range(5)""".stripMargin)
    write(v1, s"$dir/events.parquet")
    assert(Tables(spark, dir, "events").columns.toSeq == Seq("event_id", "ts"))
    write(v2, s"$dir/events.parquet")
    val t2 = Tables(spark, dir, "events")
    assert(t2.columns.toSeq == Seq("event_id", "ts", "extra"))
    assert(t2.schema("ts").dataType == TimestampType)
    assert(t2.orderBy("event_id").select("extra").collect().map(_.getLong(0)).toSeq == Seq(0L, 2, 4, 6, 8))

    // the same for a single parquet file replaced by another
    def single(df: DataFrame): Unit = {
      val at = s"$dir/stage-${UUID.randomUUID()}"
      write(df.coalesce(1), at)
      val part = Files.list(Paths.get(at)).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, Paths.get(s"$dir/region.parquet"), StandardCopyOption.REPLACE_EXISTING): Unit
    }
    single(spark.sql("SELECT id AS r_regionkey FROM range(2)"))
    assert(Tables(spark, dir, "region").count() == 2)
    single(spark.sql("SELECT id AS r_regionkey, 'x' AS r_name FROM range(4)"))
    val r2 = Tables(spark, dir, "region")
    assert(r2.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(r2.count() == 4)
  }

  test("schemas are cached per session: another session's parquet settings are honored") {
    val dir = Files.createTempDirectory("graft-tables").toString
    // no Spark schema in the footer, so binaryAsString decides the type
    writeParquet(s"$dir/documents.parquet", "message m { required binary d_bytes; }") { g =>
      Seq(g().append("d_bytes", "ab"))
    }
    assert(Tables(spark, dir, "documents").schema("d_bytes").dataType == BinaryType)
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables(s, dir, "documents").schema("d_bytes").dataType == StringType)
    assert(Tables(spark, dir, "documents").schema("d_bytes").dataType == BinaryType)
  }

  test("TIMESTAMP(NANOS) events: nanosAsLong is set on the first resolution only, rebase unchanged") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val nanos = Seq(1704164645678901234L, -1500L, 999L)
    writeParquet(s"$dir/events.parquet",
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }") { g =>
      nanos.zipWithIndex.map { case (ns, i) => g().append("event_id", i.toLong).append("ts", ns) }
    }
    val s: SparkSession = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(s.conf.get(key) == "false")
    val t1 = Tables(s, dir, "events")
    assert(s.conf.get(key) == "true")
    assert(t1.schema("ts").dataType == TimestampType)
    // truncation toward zero, as DuckDB's ns -> us cast
    assert(micros(t1) == nanos.map(_ / 1000L))
    // a cached read neither needs the setting nor writes it back
    s.conf.set(key, "false")
    val (t2, n) = jobs(Tables(s, dir, "events"))
    assert(n == 0 && s.conf.get(key) == "false")
    assert(micros(t2) == micros(t1))
  }
}
