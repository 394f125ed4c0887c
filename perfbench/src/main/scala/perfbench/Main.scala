package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. `perfbench/run.py` builds this package and calls
  *
  *   java ... perfbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> --out <result.json>
  *
  * The workload writes one result JSON (metrics by name, op counts, output
  * check verdicts, host context) to `--out`; run.py turns it into the
  * benchmark's stdout line. Everything the run creates lives under `--work`.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String)

object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("out"))
    Files.createDirectories(Paths.get(a.work))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.build(cores, a.work)
    Log.phase(s"session up: local[$cores], ${a.workload}, seed ${a.seed}")
    val res = try {
      a.workload match {
        case "advisor_lookup" => AdvisorLookup.run(spark, a)
        case "corpus_dedup" => CorpusDedup.run(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    res.hostMetric("peak_rss_mb", "MB", Host.peakRssMb())
    Files.write(Paths.get(a.out), res.json.getBytes("UTF-8"))
  }
}

/** The session every workload runs on: the shipped session confs
  * (sort-writer threshold, GraftExtensions, UTC, UI off), `local[nproc]`
  * with shuffle partitions = nproc, and all scratch space inside the run's
  * work directory. */
object Session {
  def build(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.model.Tables.ShuffleWriterThreshold._1,
        graft.model.Tables.ShuffleWriterThreshold._2)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep every micro-batch's progress on the query object: the store
      // build reads it after the drain instead of from the listener bus
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
