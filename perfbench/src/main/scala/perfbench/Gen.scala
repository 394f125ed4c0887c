package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs; the
  * program under test only ever sees what these produce. Shapes follow the
  * sf0.1 tables: `events` (1,500 users, five event types over the 30 days
  * of January 2024, exponential values with mean 50) and
  * `documents` (texts drawn from a 31-word vocabulary, with planted exact
  * and near duplicates so the dedup operators have work). */
object Gen {
  val Users = 1500
  val Days = 30
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Jan1Us = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  def events(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    // event time rises with event_id: evenly spaced slots over the term,
    // each event at a seeded offset inside its own slot
    val slotUs = Days * 86400L * 1000000L / n
    spark.range(0, n, 1, 4).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Jan1Us) + col("id") * slotUs +
        floor(rand(seed) * slotUs).cast("long")).as("ts"),
      floor(rand(seed + 1) * Users).cast("long").as("user_id"),
      element_at(typedLit(EventTypes.toSeq), (floor(rand(seed + 2) * EventTypes.length) + 1).cast("int"))
        .as("event_type"),
      (round(-log(lit(1.0) - rand(seed + 3)) * 50.0 * 100.0) / 100.0).as("value"),
      concat(lit("{\"k\": "), floor(rand(seed + 4) * 100).cast("string"), lit("}")).as("props"))
  }

  private val Vocab = ("a agg batch big column customer data dup fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(' ')
  private val Langs = Array("en", "en", "en", "zh", "de", "es", "fr")
  private val JunkGrades = Array("N/A", "abc", null, "--")

  /** `n` documents: ~3% exact copies and ~5% near copies (a few words
    * substituted) of earlier documents, the rest fresh random texts. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[Array[String]](n)
    val rows = (0 until n).map { i =>
      val roll = rnd.nextInt(100)
      val words =
        if (i > 10 && roll < 3) texts(rnd.nextInt(i)).clone()
        else if (i > 10 && roll < 8) {
          val w = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(2)).foreach { _ =>
            w(rnd.nextInt(w.length)) = Vocab(rnd.nextInt(Vocab.length))
          }
          w
        } else Array.fill(8 + rnd.nextInt(93))(Vocab(rnd.nextInt(Vocab.length)))
      texts(i) = words
      val text = words.mkString(" ")
      Row(i.toLong, text, Langs(rnd.nextInt(Langs.length)),
        s"src${i % 20}", text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** Workbook columns: the enrollment schema plus the producer's row stamp
    * (the tiebreak for same-timestamp versions of a key). */
  val Columns: Seq[String] = graft.model.Schemas.enrollment.fieldNames.toSeq :+ "row_stamp"

  /** One send to the watched directory: a workbook file name and its rows
    * (strings; a null cell is empty). */
  final case class Send(file: String, rows: IndexedSeq[Array[String]])

  /** The term as workbook sends: sf0.1-shaped events through
    * `EventsAdapter.enrollmentView`, one workbook per (class, day) in day
    * order, with blank rows and junk grades mixed in, then re-sends of a
    * seeded share of workbooks, under a new file name, with a few grades
    * changed. The changed rows
    * get a fresh (higher) row stamp, every other row keeps its original one,
    * so unchanged rows hash identically on the re-send. */
  def term(spark: SparkSession, seed: Long, nEvents: Int): IndexedSeq[Send] = {
    val view = graft.query.EventsAdapter.enrollmentView(events(spark, seed, nEvents))
    val asText = view.select(view.columns.map(c => col(s"`$c`").cast("string").as(c)): _*)
    val base = asText.collect().map(r => Array.tabulate(r.length)(r.getString))
    val tsIdx = Columns.indexOf("@timestamp")
    val gradeIdx = Columns.indexOf("F_DIEM2")
    val classIdx = Columns.indexOf("F_TENLOP")
    val rnd = new SplittableRandom(seed * 31 + 7)
    val stamped = base.zipWithIndex.map { case (r, i) =>
      val out = r :+ i.toString
      if (rnd.nextInt(200) == 0) out(gradeIdx) = JunkGrades(rnd.nextInt(JunkGrades.length))
      out
    }
    val books = stamped.groupBy(r => (r(tsIdx).take(10), r(classIdx))).toSeq.sortBy(_._1)
    val blank = Array.fill[String](Columns.size)(null)
    val originals = books.map { case ((day, cls), rs) =>
      val rows = rs.toIndexedSeq
      val withBlank =
        if (rnd.nextInt(3) == 0) { val at = rnd.nextInt(rows.size); rows.patch(at, Seq(blank), 0) }
        else rows
      Send(s"wb-$day-$cls.xlsx", withBlank)
    }
    // re-sends: ~15% of workbooks, a few grades changed
    val resends = originals.zipWithIndex.filter(_ => rnd.nextInt(100) < 15).map { case (s, v) =>
      val rows = s.rows.map(_.clone())
      val nonBlank = rows.indices.filter(j => rows(j)(tsIdx) != null)
      (0 until 3).foreach { _ =>
        val j = nonBlank(rnd.nextInt(nonBlank.size))
        rows(j)(gradeIdx) = (rnd.nextInt(1000) / 100.0).toString
        rows(j)(Columns.size - 1) = ((v + 1) * 10000000L + j).toString
      }
      Send(s.file.replace(".xlsx", "-resent.xlsx"), rows)
    }
    (originals ++ resends).toIndexedSeq
  }

  /** A send's workbook bytes, as `XlsxWriter` lays it out. */
  def xlsxBytes(s: Send): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    graft.sources.xlsx.XlsxWriter.writeTo(bos, Columns +: s.rows.map(_.toSeq))
    bos.toByteArray
  }
}
