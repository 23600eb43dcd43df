package graft

import java.io.FileNotFoundException
import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All engine queries take a scale-factor directory and read parquet
  * from it — scans are vectorized, column-pruned and filter-pushed by
  * Catalyst, so the same code path works unchanged from sf0.001 to a
  * 100 TB lake (partition count follows file splits via
  * `spark.sql.files.maxPartitionBytes`).
  *
  * Resolve once: a table's parquet schema is inferred (one footer-
  * reading Spark job) the first time a session reads it, and every
  * later read declares it (`spark.read.schema(s)`, no job). The cache
  * is per [[SparkSession]], so a session with other parquet inference
  * settings never sees another session's schema, and its key is the
  * table's files as the Hadoop `FileSystem` lists them (path, length,
  * modification time): a table rewritten in place, as one file or as
  * a Spark-written directory, is resolved again. The schema is cached
  * rather than the DataFrame because two reads sharing one DataFrame
  * instance would carry the same attribute ids: a self-join (nation ×
  * nation) would then trip Spark's ambiguous-self-join checks and
  * could plan differently.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTimestamps(load(spark, dir, name))

  /** The engine must not depend on the parquet writer's physical
    * timestamp annotation (isAdjustedToUTC true/false, µs/ns unit):
    * the same logical testdata has shipped as TIMESTAMP(NANOS),
    * TIMESTAMP(MICROS, adjusted) and TIMESTAMP(MICROS, naive) across
    * generator versions. Every query computes on session-TZ
    * TimestampType, so cast any TIMESTAMP_NTZ column — including ones
    * nested in struct/array/map — up front. The NTZ→TZ cast is
    * instant-preserving ONLY when the session TZ is UTC (it
    * reinterprets the naive micros in the session zone), so that
    * precondition is asserted, not assumed. */
  private def normalizeTimestamps(df: DataFrame): DataFrame = {
    def stripNtz(dt: DataType): DataType = dt match {
      case TimestampNTZType => TimestampType
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = stripNtz(f.dataType))))
      case a: ArrayType => a.copy(elementType = stripNtz(a.elementType))
      case m: MapType =>
        m.copy(keyType = stripNtz(m.keyType), valueType = stripNtz(m.valueType))
      case other => other
    }
    if (df.schema.fields.forall(f => stripNtz(f.dataType) == f.dataType)) df
    else {
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"TIMESTAMP_NTZ normalization requires session TZ UTC (got $tz): " +
          "the NTZ->TZ cast would shift instants in any other zone")
      df.select(df.schema.fields.map { f =>
        val target = stripNtz(f.dataType)
        if (target == f.dataType) col(f.name)
        else col(f.name).cast(target).as(f.name)
      }.toIndexedSeq: _*)
    }
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schema(spark, path, name == "events")).parquet(path)
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 refuses to
    // read as a timestamp. Read the raw int64 nanos and rebase to a
    // µs TimestampType — integer division truncating toward zero,
    // bit-identical to DuckDB's `ts::TIMESTAMP` that every oracle
    // uses (-1500 ns is -1 µs on both). (Guarded on the actual type
    // so µs-timestamp replicas load unchanged.)
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A table's files and the schema inferred from them. */
  private final case class Resolved(files: Seq[(String, Long, Long)], schema: StructType)

  private val resolved = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]())

  /** The schema of the parquet at `path`, inferred from its files on
    * the session's first read and again whenever they change. Two
    * threads missing at once both infer; the later entry wins. */
  private def schema(spark: SparkSession, path: String, nanos: Boolean): StructType = {
    val cache = resolved.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Resolved]())
    val now = files(spark, path)
    cache.get(path) match {
      case Resolved(`now`, s) => s
      case _ =>
        // only inference needs nanosAsLong (a declared LongType reads the
        // int64 nanos without it); it is set once and left on, because
        // restoring it could pull it from under another thread's inference
        if (nanos && !spark.conf.get(NanosAsLong).toBoolean)
          spark.conf.set(NanosAsLong, "true")
        val s = spark.read.parquet(path).schema
        cache.put(path, Resolved(now, s))
        s
    }
  }

  /** (path, length, modification time) of every file under `path` (the
    * file itself when it is one); empty when nothing is there, so the
    * read reports the missing path as before. */
  private def files(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    try {
      val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val s = it.next()
        b += ((s.getPath.toString, s.getLen, s.getModificationTime))
      }
      b.result()
    } catch { case _: FileNotFoundException => Nil }
  }
}
