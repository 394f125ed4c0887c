package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.query.Progress

/** Flagship-query golden test: one student computed by hand, mirroring
  * app.py:100-158 (SURVEY.md §5.4). */
class ProgressSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-11-01 00:00:00")

  // Student B2100001 (prefix B21 -> khoa 47, start 2021): MMT major (DI class).
  // Courses: (grade, credits, name, nhhk)
  //   8.5, 3cr  -> 3.5 * 3 = 10.5     (counts)
  //   6.5, 2cr  -> 2.5 * 2 = 5.0      (counts; boundary C+)
  //   3.0, 3cr  -> failed (< 4.0, excluded)
  //   9.0, 1cr  but name has '*'      (excluded)
  //   10., 4cr  but NHHK=20251        (excluded, in-progress semester)
  // GPA = 15.5 / 5 = 3.1; F_TCDTTL = 100.
  private val rows = Seq(
    (t0, "B2100001", "C1", "Giải tích", "DI01", "47", Some(20231), "8.5", 3.0, 100.0),
    (t0, "B2100001", "C2", "Vật lý", "DI01", "47", Some(20232), "6.5", 2.0, 100.0),
    (t0, "B2100001", "C3", "Hóa học", "DI01", "47", Some(20232), "3.0", 3.0, 100.0),
    (t0, "B2100001", "C4", "GDTC *", "DI01", "47", Some(20231), "9.0", 1.0, 100.0),
    (t0, "B2100001", "C5", "Triết", "DI01", "47", Some(20251), "10.0", 4.0, 100.0)
  ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
    "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")

  test("golden: GPA, remaining credits, and status match hand computation") {
    val r = Progress.report(spark, rows).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("major") == "MMT")
    assert(row.getAs[Int]("khoa") == 47)
    assert(math.abs(row.getAs[Double]("dtbctl") - 3.1) < 1e-12)
    assert(row.getAs[Double]("completed_credits") == 100.0)
    assert(row.getAs[Int]("total_credits") == 156)        // MMT khoa 47
    assert(row.getAs[Double]("remaining_credits") == 56.0)
    // khoa 47 -> start 2021, elapsed (2024-2021)*3 = 9 of 13 -> 4 semesters left
    assert(row.getAs[Int]("remaining_semesters") == 4)
    // 56 <= 4*20 -> on schedule
    assert(row.getAs[String]("status") == "Đúng tiến độ")
  }

  test("unknown major (no requirement dims) gets NULL status, not a verdict") {
    // Classes with neither DI- nor FL-prefixes give major 'Chưa xác định';
    // the credit/duration dims have no row for it, so remaining_credits is
    // null — the old otherwise() asserted a definite 'Chậm tiến độ' over
    // unknown requirements (review finding; the reference KeyErrors here).
    val unknown = Seq(
      (t0, "B2100099", "C1", "Toán", "XX01", "47", Some(20241), "8.0", 3.0, 30.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val r = Progress.report(spark, unknown).collect().head
    assert(r.getAs[String]("major") == "Chưa xác định")
    assert(r.getAs[String]("status") == null,
      s"unknown requirements must not yield a verdict: ${r.getAs[String]("status")}")
  }

  test("unknown student-id prefix drops the student (app.py:86)") {
    // B19 and a too-short id have no cohort; the known B21 student survives.
    val mixed = Seq(
      (t0, "B1900001", "C1", "Toán", "DI01", "45", Some(20231), "8.0", 3.0, 30.0),
      (t0, "B2", "C1", "Toán", "DI01", "46", Some(20231), "8.0", 3.0, 30.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL").union(rows)
    val got = Progress.report(spark, mixed).select("F_MASV").as[String].collect()
    assert(got.toSeq == Seq("B2100001"), s"got ${got.toSeq}")
  }

  test("report output schema is pinned: names, order, types") {
    import org.apache.spark.sql.types._
    val got = Progress.report(spark, rows).schema.map(f => f.name -> f.dataType)
    assert(got == Seq(
      "major" -> StringType, "khoa" -> IntegerType, "F_MASV" -> StringType,
      "total_points" -> DoubleType, "credits_earned" -> DoubleType,
      "completed_credits" -> DoubleType, "n_records" -> LongType,
      "total_credits" -> IntegerType, "total_semesters" -> IntegerType,
      "start_year" -> IntegerType, "years_elapsed" -> IntegerType,
      "semesters_elapsed" -> IntegerType, "remaining_credits" -> DoubleType,
      "remaining_semesters" -> IntegerType,
      "max_credits_remaining_in_time" -> IntegerType,
      "progress_pct" -> DoubleType, "dtbctl" -> DoubleType,
      "status" -> StringType), s"got $got")
  }

  test("credits audit: registrar figure vs computed passed-credit sum, with delta") {
    // Student A: registrar says 9, transcript sums 6 passed (one failed
    // course's 4 credits excluded) -> delta 3 (e.g. transfer credits).
    // Student B: figures agree -> delta 0. The registrar figure is the
    // A3-pinned latest (NHHK, course) value, so the stale 5.0 loses.
    val rows = Seq(
      (t0, "A", "C1", "Toán", "FL01", "46", Some(20231), "7.0", 3.0, 5.0),
      (t0, "A", "C2", "Văn", "FL01", "46", Some(20232), "8.0", 3.0, 9.0),
      (t0, "A", "C3", "Lý", "FL01", "46", Some(20232), "2.0", 4.0, 9.0),
      (t0, "B", "C1", "Toán", "DI01", "46", Some(20231), "9.0", 2.0, 2.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val got = Progress.creditsAudit(rows)
      .as[(String, Double, Double, Double)].collect().toSet
    assert(got == Set(("A", 9.0, 6.0, 3.0), ("B", 2.0, 2.0, 0.0)), s"got $got")
  }

  test("zero eligible credits -> GPA 0.0 (app.py:143-144 guard)") {
    val failing = Seq(
      (t0, "B2000009", "C1", "Toán", "FL02", "46", Some(20231), "2.0", 3.0, 10.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val row = Progress.report(spark, failing).collect().head
    assert(row.getAs[Double]("dtbctl") == 0.0)
    assert(row.getAs[String]("major") == "NNA")
  }

  test("major precedence: any DI beats FL (app.py:90-93)") {
    val mixed = Seq(
      (t0, "B2200002", "C1", "A", "FL01", "48", Some(20231), "8.0", 3.0, 50.0),
      (t0, "B2200002", "C2", "B", "DI01", "48", Some(20231), "8.0", 3.0, 50.0)
    ).toDF("@timestamp", "F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP",
      "F_KHOAHOC", "NHHK", "F_DIEM2", "F_DVHT", "F_TCDTTL")
    val row = Progress.report(spark, mixed).collect().head
    assert(row.getAs[String]("major") == "MMT")
  }

  test("transcript is the app.py table: filtered, projected, sorted") {
    val t = Progress.transcript(rows, "B2100001").collect()
    assert(t.length == 5)
    assert(t.map(_.getAs[Int]("NHHK")).toSeq == Seq(20231, 20231, 20232, 20232, 20251))
    assert(t.head.schema.fieldNames.toSeq == Seq("F_MAMH", "F_TENMHVN", "F_DVHT",
      "F_MASV", "F_TENLOP", "NHHK", "F_DIEM2", "F_TCDTTL"))
  }
}
