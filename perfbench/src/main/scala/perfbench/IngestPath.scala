package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.etl.{Enrich, Upsert}
import graft.query.{EventsAdapter, Progress}
import graft.streaming.Pipeline

/** The paper's write path as the benchmark drives it: workbooks land in a
  * watched directory, `readStream.format("xlsx")` picks them up,
  * `Pipeline.dedupStream` drops re-sent rows, and the harness's own
  * foreachBatch runs `Pipeline.consumerTransform` and `Upsert.mergeBatch`
  * on key (doc_id, ingest_date). */
object IngestPath {
  val StringSchema: StructType =
    StructType(Gen.Columns.map(StructField(_, StringType, nullable = true)))
  val Key = Seq("doc_id", "ingest_date")
  /** Dedup horizon: longer than the term, so no re-send ever falls outside
    * the watermark and T1 dedup is exact. */
  val Horizon = "45 days"

  /** Workbook cells are strings; type them as the enrollment schema. */
  def typed(df: DataFrame): DataFrame = df.select(
    col("`@timestamp`").cast("timestamp").as("@timestamp"),
    col("F_MASV"), col("F_MAMH"), col("F_TENMHVN"), col("F_TENLOP"), col("F_KHOAHOC"),
    col("NHHK").cast("int").as("NHHK"), col("F_DIEM2"),
    col("F_DVHT").cast("double").as("F_DVHT"), col("F_TCDTTL").cast("double").as("F_TCDTTL"),
    col("row_stamp").cast("long").as("row_stamp"))

  /** The one-shot batch reference for a term: every row version ever sent,
    * content-deduplicated, enriched, and arbitrated latest-per-key. */
  def reference(spark: SparkSession, sends: Seq[Gen.Send]): DataFrame = {
    val rows = sends.flatMap(_.rows).map(r => Row.fromSeq(r.toSeq))
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), StringSchema)
    val enriched = Enrich.consumerPipeline(graft.etl.Ingest.dedupByContent(typed(raw)))
    Upsert.latestByKey(enriched, Key, "@timestamp", "row_stamp")
  }

  /** Write a workbook into the watched directory the way a producer should:
    * to a hidden temp name first, then an atomic rename, so the source never
    * admits a half-written file. */
  def land(dir: String, s: Gen.Send, bytes: Array[Byte]): Unit = {
    val tmp = Paths.get(dir, s".${s.file}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, Paths.get(dir, s.file), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** (file name, mtime, length) of an offset entry `path#mtime#len`. */
  def entryKey(e: String): (String, Long, Long) = {
    val parts = e.split('#')
    val len = parts(parts.length - 1).toLong
    val mtime = parts(parts.length - 2).toLong
    val path = parts.dropRight(2).mkString("#")
    (path.substring(path.lastIndexOf('/') + 1), mtime, len)
  }

  /** Per-merge observations the traced run takes around `mergeBatch`. */
  final case class MergeObs(partitionsRewritten: Int, bytesWritten: Long)

  /** One running ingest: the streaming query plus what the harness's
    * foreachBatch saw. */
  final class Run(spark: SparkSession, val root: String, trace: Option[Trace]) {
    val watch = s"$root/watch"
    val store = s"$root/store"
    private val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(watch))
    val merges = new java.util.concurrent.ConcurrentLinkedQueue[MergeObs]()
    val rowsIn, rowsEnriched = new java.util.concurrent.atomic.LongAdder
    private val schema = new AtomicReference[Option[StructType]](None)
    def storeSchema: StructType = schema.get().get

    private def storeFiles(): Map[String, Long] = {
      val p = Paths.get(store)
      if (!Files.exists(p)) Map.empty
      else Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
    }

    private def sink(batch: DataFrame, id: Long): Unit = Trace.span(trace, "stream.foreachBatch") {
      val in = trace.map(_ => batch.persist())
      val enriched = Trace.span(trace, "enrich.consumerTransform") {
        Pipeline.consumerTransform(in.getOrElse(batch))
      }
      if (trace.isDefined) {
        rowsIn.add(in.get.count())
        rowsEnriched.add(enriched.count())
      }
      val before = if (trace.isDefined) storeFiles() else Map.empty[String, Long]
      val sc = Trace.span(trace, "upsert.mergeBatch") {
        Upsert.mergeBatch(batch.sparkSession, enriched, store, Key, "@timestamp", "row_stamp",
          "ingest_date", knownSchema = schema.get())
      }
      schema.set(Some(sc))
      if (trace.isDefined) {
        val after = storeFiles()
        val fresh = after.filter { case (f, _) => !before.contains(f) }
        val partitions = fresh.keys.map(f => Paths.get(f).getParent).toSet.size
        merges.add(MergeObs(partitions, fresh.values.sum))
        in.get.unpersist()
      }
    }

    /** Drain every landed workbook, in one micro-batch, and stop. Returns
      * the committed batches. */
    def drain(): Seq[Batch] = {
      val raw = spark.readStream.format("xlsx").schema(StringSchema).load(watch)
      val q = Pipeline.dedupStream(typed(raw), "@timestamp", Horizon)
        .writeStream
        .foreachBatch(sink _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        require(q.awaitTermination(150000L), "ingest drain did not finish in 150 s")
        q.exception.foreach(e => throw e)
      } finally q.stop()
      batches(q)
    }

    def read(session: SparkSession): DataFrame = session.read.schema(storeSchema).parquet(store)
    def storeFileCount: Int = storeFiles().size
  }

  /** A committed micro-batch: the workbook versions it admitted, as
    * (file, mtime, length), and its progress report. */
  final case class Batch(files: Seq[(String, Long, Long)], progress: StreamingQueryProgress)

  /** The query's committed batches, in order, read from the progress the
    * query keeps (not from the listener bus). */
  def batches(q: StreamingQuery): Seq[Batch] = {
    def entries(p: StreamingQueryProgress) = Option(p.sources.head.startOffset)
      .map(j => graft.sources.xlsx.XlsxOffset.fromJson(j).entries.toSet).getOrElse(Set.empty[String])
    q.recentProgress.toSeq.flatMap { p =>
      val end = Option(p.sources.head.endOffset)
        .map(j => graft.sources.xlsx.XlsxOffset.fromJson(j).entries).getOrElse(Nil)
      val fresh = end.filterNot(entries(p)).map(entryKey)
      if (fresh.isEmpty) None else Some(Batch(fresh, p))
    }
  }

  // ----------------------------------------------------------- advisor reads

  val Params = Progress.Params(excludedSemester = EventsAdapter.ExcludedSemester)

  /** The advisor's per-student request (`app.py`): transcript plus the
    * one-student progress report. The caller collects both. */
  def lookup(spark: SparkSession, store: DataFrame, masv: String): (DataFrame, DataFrame) =
    (Progress.transcript(store, masv),
      Progress.report(spark, store.filter(col("F_MASV") === masv), Params))

  def collect(req: (DataFrame, DataFrame)): (Array[Row], Array[Row]) =
    (req._1.collect(), req._2.collect())

  /** The cohort dashboard: the whole-store report. */
  def cohort(spark: SparkSession, store: DataFrame): Array[Row] =
    Progress.report(spark, store, Params).collect()

  def masv(u: Int): String = s"B2${u % 5}-$u"

  /** A seeded, skewed request sequence over the students: Zipf with s = 1
    * over a seeded permutation. The exponent is an assumption; nothing in
    * the paper or the repository gives the advisors' access pattern. Every
    * request scans the whole store, so the skew only sets how many rows a
    * request returns. */
  final class Students(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed * 17 + 3)
    private val perm = {
      val a = (0 until Gen.Users).toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    private val cdf = {
      val w = (1 to Gen.Users).map(1.0 / _)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): String = {
      val x = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, x) match { case k if k >= 0 => k; case k => -k - 1 }
      masv(perm(math.min(i, Gen.Users - 1)))
    }
  }

  // ----------------------------------------------------------------- checks

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
    case x => x.toString
  }

  /** Same rows in any order; doubles compared to 10 significant digits. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def canon(rs: Array[Row]) = rs.map(r => r.toSeq.map(cell).mkString("|")).sorted.toSeq
    canon(a) == canon(b)
  }

  /** The settled store equals the reference, row for row. */
  def sameStore(store: DataFrame, ref: DataFrame): Boolean = {
    val cols = ref.columns.map(c => col(s"`$c`"))
    val s = store.select(cols: _*)
    val r = ref.select(cols: _*)
    val extra = s.exceptAll(r).cache()
    val missing = r.exceptAll(s).cache()
    val ok = extra.isEmpty && missing.isEmpty
    if (!ok) {
      System.err.println(s"[perfbench] store != reference: ${extra.count()} extra rows, " +
        s"${missing.count()} missing rows; samples:")
      (extra.take(3).map("  extra   " + _) ++ missing.take(3).map("  missing " + _))
        .foreach(System.err.println)
    }
    ok
  }

}
