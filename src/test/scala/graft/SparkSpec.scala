package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session, UTC, small shuffle
  * fan-out (local[4] is plenty for unit-scale frames). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Run `body` with session confs set, restoring the previous values. */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Data file names per partition directory (`k=v`) of a parquet store. */
  def partitionFiles(dir: String): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    def list(p: java.nio.file.Path) = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    list(java.nio.file.Paths.get(dir)).filter(_.getFileName.toString.contains("="))
      .map(d => d.getFileName.toString -> list(d).map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).sorted)
      .toMap
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
