package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** corpus_dedup: the north-star batch dedup operators over a generated
  * `documents` table, called through `SparkEntry.queries` exactly as the
  * registry exposes them. Shuffle, spill and executor task time dominate;
  * streaming, xlsx and Progress are not involved. Each timed query run
  * writes its result as parquet (the results of the first pass are what
  * run.py checks against `SparkEntry.oracleSql` in DuckDB). */
object CorpusDedup {
  /** One query per operator family: the lexical posting join (d13; d14
    * and d15 are its candidate and weighting variants), the composed
    * exact-then-near pipeline (d19) and connected-component clusters (d6). */
  val Queries = Seq("d13_lexical_neardup", "d19_composed_neardup", "d6_dup_clusters")
  val Docs = 1000

  def run(spark: SparkSession, a: Args): Result = {
    val res = new Result("corpus_dedup")
    val dir = s"${a.work}/cd-data"
    val n = Docs
    val setups = (0 until 7).map { _ =>
      Timer.ms(Gen.documents(spark, a.seed, n).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet"))._2
    }
    res.metric("setup_s", "s", Stats.median(setups) / 1000.0)
    res.note("docs", n.toString)

    // the traced run brackets its timed passes with untraced ones, in the
    // same JVM on the same corpus: the tracing overhead is taken against
    // their mean, which cancels the JIT's steady warming. An untimed pass
    // comes first, as a cold pass is ~40% slower. The untraced run times
    // the cold pass, as a batch job started on its own would run it.
    val untraced = () => passes(spark, dir, Some(s"${a.work}/cd-untraced"), a.seconds, None)
    val before = if (a.trace) {
      passes(spark, dir, None, 0, None)
      Some(untraced())
    } else None
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val host = new Host.Window
    val from = System.currentTimeMillis()
    val walls = passes(spark, dir, Some(s"${a.work}/cd-out"), a.seconds, trace)
    Host.record(res, host)
    Log.phase(s"measurement done: ${walls.size / Queries.size} passes")
    val nPasses = walls.size / Queries.size
    res.metric("corpus_docs_per_s", "1/s", docsPerS(n, walls))
    res.metric("pass_ms", "ms", Stats.median(passMs(walls)))
    res.attempted += walls.size
    res.note("query_walls_ms", Queries.zip(walls).map { case (q, w) => f"$q=$w%.0f" }.mkString(" "))
    trace.foreach { t =>
      Trace.recordSpark(res, t, from, System.currentTimeMillis(), nPasses)
      t.write(s"${a.work}/trace-corpus_dedup.json")
      t.close()
      val base = (docsPerS(n, before.get) + docsPerS(n, untraced())) / 2
      res.layer("trace.overhead_pct", "%", (base / docsPerS(n, walls) - 1.0) * 100.0)
      // ops.Dedup alone: one more pass into a no-op sink, so that unlike
      // exec.* (per timed pass) these leave out writing the results
      val ops = new Trace(spark)
      val opsFrom = System.currentTimeMillis()
      passes(spark, dir, None, 0, None)
      ops.drain()
      res.layer("dedup_ops.jobs", "count", ops.jobStats(opsFrom, System.currentTimeMillis())._1)
      res.layer("dedup_ops.task_ms", "ms", ops.taskMs.sum().toDouble)
      res.layer("dedup_ops.shuffle_bytes", "bytes", ops.shuffleWrite.sum().toDouble)
      res.layer("dedup_ops.spill_bytes", "bytes", ops.spill.sum().toDouble)
      res.layer("dedup_ops.gc_ms", "ms", ops.gcMs.sum().toDouble)
      ops.close()
    }

    // the DuckDB comparison itself runs in run.py, over these files
    val oracle = Queries.map(q => s"${Json.str(q)}: ${Json.str(graft.SparkEntry.oracleSql(q))}")
    Files.write(Paths.get(s"${a.work}/cd-out/pass-0/oracle_sql.json"),
      oracle.mkString("{", ",\n", "}").getBytes("UTF-8"))
    res.note("oracle_dir", s"${a.work}/cd-out/pass-0")
    res.note("data_dir", dir)
    res
  }

  /** Wall of each whole pass over the queries. */
  private def passMs(walls: Seq[Double]): Seq[Double] = walls.grouped(Queries.size).map(_.sum).toSeq

  /** Documents through every query, per second of a median pass. */
  private def docsPerS(n: Int, walls: Seq[Double]): Double =
    n * Queries.size / (Stats.median(passMs(walls)) / 1000.0)

  /** Whole passes over the query list until `seconds` have gone by (at
    * least one), each result written as parquet under `out`, or into the
    * no-op sink when there is no `out`; returns every query's wall in ms,
    * pass by pass. */
  private def passes(spark: SparkSession, dir: String, out: Option[String], seconds: Int,
                     trace: Option[Trace]): Seq[Double] = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + seconds * 1000000000L
    var pass = 0
    while (pass == 0 || System.nanoTime() < end) {
      for (q <- Queries) {
        walls += Timer.ms(Trace.span(trace, s"dedup.$q", s"$q-$pass") {
          val w = graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
          out match {
            case Some(o) => w.parquet(s"$o/pass-$pass/$q")
            case None => w.format("noop").save()
          }
        })._2
      }
      pass += 1
    }
    walls.toSeq
  }
}
