package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Declared schemas for the reference's data model (SURVEY.md §1).
  *
  * The reference (`/root/reference/src/pro.py:38-44`) never declares a schema —
  * column names come from the Excel header row at runtime and Elasticsearch
  * dynamic mapping infers types on ingest. We declare the schema the reference
  * leaves implicit: one row per student-course-enrollment record, every grade
  * field nullable (rows may omit fields; `pro.py:76` deletes None/'' keys).
  */
object Schemas {

  /** The enrollment record (reference `con.py` / `app.py` field usage). */
  val enrollment: StructType = StructType(Seq(
    StructField("@timestamp", TimestampType, nullable = true),
    StructField("F_MASV", StringType, nullable = true),     // student id
    StructField("F_MAMH", StringType, nullable = true),     // course code
    StructField("F_TENMHVN", StringType, nullable = true),  // course name; '*' = non-GPA
    StructField("F_TENLOP", StringType, nullable = true),   // class; DI->MMT, FL->NNA
    StructField("F_KHOAHOC", StringType, nullable = true),  // intake cohort
    StructField("NHHK", IntegerType, nullable = true),      // YYYYS year+semester
    StructField("F_DIEM2", StringType, nullable = true),    // grade, string at ingest (con.py:39)
    StructField("F_DVHT", DoubleType, nullable = true),     // credits
    StructField("F_TCDTTL", DoubleType, nullable = true)    // registrar cumulative credits
  ))

  /** Enrollment after consumer-side enrichment (reference `con.py:35-63`). */
  val enrichedEnrollment: StructType = StructType(enrollment.fields.map {
    case StructField("F_DIEM2", _, _, m) => StructField("F_DIEM2", DoubleType, nullable = true, m)
    case f => f
  } ++ Seq(
    StructField("NNA", StringType, nullable = true),
    StructField("DIEM_NNA", DoubleType, nullable = true),
    StructField("MMT", StringType, nullable = true),
    StructField("DIEM_MMT", DoubleType, nullable = true),
    StructField("doc_id", StringType, nullable = true),
    StructField("ingest_date", DateType, nullable = true)
  ))
}

/** The constant lookup dicts compiled into the reference app
  * (`app.py:15-36`), kept as Scala maps: the program's one copy of the
  * reference constants (the oracle SQL keeps its own). `Progress.report` reads them as map literals inside its
  * projection, so the lookup costs no join and no broadcast job. */
object Dims {

  /** student-id prefix -> cohort number (app.py:15-21). */
  val cohort: Map[String, Int] =
    Map("B20" -> 46, "B21" -> 47, "B22" -> 48, "B23" -> 49, "B24" -> 50)

  /** major -> cohort -> total credits required (app.py:24-27). */
  val creditReq: Map[String, Map[Int, Int]] = Map(
    "MMT" -> Map(46 -> 156, 47 -> 156, 48 -> 161, 49 -> 161, 50 -> 161),
    "NNA" -> (46 to 50).map(_ -> 141).toMap)

  /** major -> cohort -> program duration in semesters (app.py:33-36). */
  val duration: Map[String, Map[Int, Int]] = Map(
    "MMT" -> (46 to 50).map(_ -> 13).toMap,
    "NNA" -> (46 to 50).map(_ -> 12).toMap)
}

/** Loader for the driver's parquet tables (TESTDATA.md).
  *
  * Timestamp storage has changed under us twice, so this loader is the single
  * normalization point for `ts` (LoaderContractSpec pins it):
  *   - TIMESTAMP(NANOS): Spark 4 rejects it by default; read nanos as long
  *     and truncate to a micros timestamp — exactly what DuckDB does.
  *   - TIMESTAMP_MICROS with isAdjustedToUTC=0: Spark 4 infers TIMESTAMP_NTZ,
  *     which `unix_millis`/`unix_micros` reject at analysis. Disable NTZ
  *     inference so it reads as plain TimestampType; the session timezone is
  *     UTC everywhere (Verify/Bench/tests), so the wall-clock values are
  *     identical to DuckDB's naive-timestamp reading and oracle hashes agree.
  *     A cast branch below catches any NTZ column that still slips through
  *     (e.g. a future explicitly-annotated NTZ logical type).
  */
object Tables {

  /** Static (builder-time) conf every graft measurement/driver session
    * applies: the bypass-merge shuffle writer keeps one buffered stream PER
    * REDUCE PARTITION open in every map task, and the lexical family's
    * volume-derived pair/agg exchanges routinely land in the 65–199
    * partition band where that is 3× slower than the sort-based writer
    * (×100 probe, plans/r20: the 183-wide pair stage read 313 s of task
    * time under bypass, 110 s under sort, same records/bytes). 64 keeps
    * the session-width (≤ core count) exchanges — the common case — on the
    * bypass fast path and puts every derived-width exchange on the sort
    * writer, which is also Spark's own default regime past 200. Must be
    * set at session BUILD time (core conf, not runtime-settable). */
  val ShuffleWriterThreshold: (String, String) =
    "spark.shuffle.sort.bypassMergeThreshold" -> "64"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Spark 4's ICU-backed lower()/upper() triggers
      // CollationAwareUTF8String.<clinit>, which builds a full ICU titlecase
      // table on first use — measured ~60 s of CPU once per JVM, blocking
      // every concurrent task (profiled via jstack: all 32 tasks parked on
      // the class-init monitor). Our corpora are ASCII; JVM case mapping is
      // identical there (and matches DuckDB), so opt out of ICU.
      spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    } catch { case _: Exception => }
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    val fixed = df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // TIMESTAMP(NANOS) via nanosAsLong shim
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
    // Cast EVERY explicitly-NTZ-annotated column (inference is off above, but
    // an explicit TIMESTAMP_NTZ logical type still reads as NTZ) — the naive
    // columns are not just `ts`: orders.o_orderdate and lineitem.l_shipdate
    // share the storage convention. Value-preserving under the UTC session tz.
    df.schema.fields.filter(_.dataType == TimestampNTZType).map(_.name)
      .foldLeft(fixed)((d, c) => d.withColumn(c, d.col(c).cast(TimestampType)))
  }

  /** Spread a frame to the session's parallelism when its scan would produce
    * fewer tasks than cores. Parquet splits only at row-group boundaries, so
    * a small single-file table scans as ONE task and serializes any CPU-heavy
    * pipeline above it (shingling/minhash ran 1-of-32 cores). Hash-partition
    * on `key` (deterministic — no sort-before-repartition pass, unlike
    * round-robin). At 100 TB inputs arrive with thousands of natural splits
    * and this is a no-op; callers are the CPU-bound text operators, not every
    * scan — a blanket repartition taxes cheap queries with a full-row
    * shuffle. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    if (df.isStreaming) return df // .rdd is illegal on a streaming frame
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, key) else df
  }
}
