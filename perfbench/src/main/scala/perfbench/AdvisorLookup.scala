package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** advisor_lookup: the `app.py` read path, on a store built by the paper's
  * write path.
  *
  * Set-up generates the term (three times; the median is the generation
  * share of `setup_s`) and settles the store through the ingest path: the
  * workbooks, re-sent ones included, land in the watched directory and one
  * drain ingests them, T1 dedup dropping the re-sent unchanged rows.
  * `setup_s` includes that build, so work moved into ingest shows there.
  *
  * The timed part is one closed-loop client: per-student requests
  * (transcript + one-student progress report, both collected) over a
  * seeded skewed student sequence, and every `CohortEvery`-th request the
  * whole-store cohort report. Each request reads the store afresh, so its
  * file layout is part of the cost. Nothing is written meanwhile. */
object AdvisorLookup {
  /** One request in `CohortEvery` is the cohort dashboard. Nothing in the
    * paper or the repository gives the dashboard's share of advisor
    * traffic, so 10 is an assumption. PREDICTIONS.md gives how much
    * `throughput_per_s` depends on it. */
  val CohortEvery = 10
  val WarmUp = 8
  /** Reference answers computed before the timed loop: about as many
    * per-student requests as a run's loop makes. */
  val Ahead = 16
  /** A quarter of sf0.1's 100,000 events: 150 workbooks of ~170 rows,
    * ~17 enrollments per student. The store build and a request cost about
    * the same at four times the size; the smaller term keeps a run inside
    * the benchmark's time budget. */
  val Events = 25000

  /** What one client loop measured and got back: every request's latency
    * and answer, and (traced) what each per-student request planned and
    * scanned. */
  final case class Loop(lookupsMs: Seq[Double], cohortMs: Seq[Double],
                        answers: Seq[(String, (Array[Row], Array[Row]))], cohorts: Seq[Array[Row]],
                        plan: Seq[Double], files: Seq[Double], rowsScanned: Double,
                        rowsReturned: Double, reqs: Seq[String]) {
    def requests: Int = lookupsMs.size + cohortMs.size
    /** Requests per second of the client's busy time. */
    def rate: Double = requests / ((lookupsMs.sum + cohortMs.sum) / 1000.0)
  }

  def run(spark: SparkSession, a: Args): Result = {
    val res = new Result("advisor_lookup")
    val gens = (0 until 3).map { _ =>
      Timer.ms {
        val sends = Gen.term(spark, a.seed, Events)
        sends.zip(sends.map(Gen.xlsxBytes))
      }
    }
    val term = gens.last._1
    val buildTrace = if (a.trace) Some(new Trace(spark)) else None
    val ((run, batches), buildMs) = Timer.ms(settle(spark, a, term, buildTrace))
    res.metric("setup_s", "s", (Stats.median(gens.map(_._2)) + buildMs) / 1000.0)
    res.metric("ingest_rows_per_s", "rows/s", term.map(_._1.rows.size).sum / (buildMs / 1000.0))
    res.attempted += term.size
    buildTrace.foreach { t =>
      ingestLayers(res, run, batches, term, t)
      t.write(s"${a.work}/trace-ingest.json")
      t.close()
    }
    Log.phase(s"set-up done: ${term.size} workbooks, ${batches.size} micro-batches, " +
      s"generation ${gens.map(g => f"${g._2}%.0f").mkString("/")} ms, build ${buildMs.round} ms")

    // output checks that need no answers yet, and the untimed warm-up. The
    // store is checked against the one-shot reference, and the reference
    // answers for the first students the client will ask for are computed
    // now: the same Progress calls on the reference warm the planner and the
    // JIT, and a few requests on the store warm its scan. On a 4-core host
    // request latency falls by ~30% over the first 10-15 requests after
    // set-up and keeps falling over the next dozen.
    System.gc()
    val store = () => run.read(spark)
    val ref = IngestPath.reference(spark, term.map(_._1)).cache()
    res.check("store_equals_reference", IngestPath.sameStore(store(), ref))
    val expected = scala.collection.mutable.Map.empty[String, (Array[Row], Array[Row])]
    def expect(s: String) =
      expected.getOrElseUpdate(s, IngestPath.collect(IngestPath.lookup(spark, ref, s)))
    val ahead = new IngestPath.Students(a.seed)
    (0 until Ahead).foreach(_ => expect(ahead.next()))
    val cohortRef = IngestPath.cohort(spark, ref)
    Log.phase(s"store checked, ${expected.size} reference answers")
    val rnd = new java.util.SplittableRandom(a.seed)
    (0 until WarmUp).foreach { _ =>
      IngestPath.collect(IngestPath.lookup(spark, store(), IngestPath.masv(rnd.nextInt(Gen.Users))))
    }
    IngestPath.cohort(spark, store())
    System.gc()
    Log.phase("warm-up done")

    // the traced run brackets its timed loop with untraced ones, in the
    // same JVM on the same store: the tracing overhead is taken against
    // their mean, which cancels the JIT's steady warming
    val before = if (a.trace) Some(loop(spark, store, a, None)) else None
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val host = new Host.Window
    val from = System.currentTimeMillis()
    val l = loop(spark, store, a, trace)
    Host.record(res, host)
    Log.phase(s"measurement done: ${l.lookupsMs.size} lookups, ${l.cohortMs.size} cohort reports")
    res.metric("lookup_p50_ms", "ms", Stats.median(l.lookupsMs))
    res.metric("lookups_per_s", "1/s", l.rate)
    res.metric("cohort_report_ms", "ms", Stats.median(l.cohortMs))
    res.attempted += l.requests
    res.note("lookup_ms", l.lookupsMs.map(ms => f"$ms%.0f").mkString(" "))
    res.note("cohort_ms", l.cohortMs.map(ms => f"$ms%.0f").mkString(" "))
    trace.foreach { t =>
      Trace.recordSpark(res, t, from, System.currentTimeMillis(), l.requests)
      res.layer("progress.plan_ms", "ms", Stats.median(l.plan))
      res.layer("progress.exec_ms", "ms", Stats.median(l.lookupsMs) - Stats.median(l.plan))
      res.layer("progress.jobs_per_lookup", "count",
        l.reqs.map(t.jobsForRequest).sum.toDouble / l.reqs.size)
      res.layer("progress.files_scanned_per_lookup", "count", Stats.median(l.files))
      res.layer("progress.rows_scanned_per_row_returned", "ratio", l.rowsScanned / l.rowsReturned)
      t.write(s"${a.work}/trace-advisor_lookup.json")
      t.close()
    }
    val after = before.map(_ => loop(spark, store, a, None))
    (before zip after).foreach { case (b, af) =>
      res.layer("trace.overhead_pct", "%", ((b.rate + af.rate) / 2 / l.rate - 1.0) * 100.0)
    }

    // output checks on every answer a client got
    val loops = before.toSeq ++ Seq(l) ++ after
    loops.foreach(_.answers.foreach { case (st, _) => expect(st) })
    res.check("advisor_answers_match_reference", loops.flatMap(_.answers).forall {
      case (s, (tr, rep)) =>
        IngestPath.sameRows(tr, expected(s)._1) && IngestPath.sameRows(rep, expected(s)._2)
    })
    res.check("cohort_report_matches_reference",
      loops.flatMap(_.cohorts).forall(IngestPath.sameRows(_, cohortRef)))
    res.note("answers_checked", s"${loops.map(_.answers.size).sum} requests, " +
      s"${loops.flatMap(_.answers.map(_._1)).distinct.size} students, ${loops.map(_.cohorts.size).sum} cohort reports")
    res
  }

  /** Settle the store through the ingest path. */
  private def settle(spark: SparkSession, a: Args, term: Seq[(Gen.Send, Array[Byte])],
                     trace: Option[Trace]): (IngestPath.Run, Seq[IngestPath.Batch]) = {
    val run = new IngestPath.Run(spark, s"${a.work}/store", trace)
    term.foreach { case (s, b) => IngestPath.land(run.watch, s, b) }
    (run, run.drain())
  }

  /** Per-layer metrics of a traced store build. */
  private def ingestLayers(res: Result, run: IngestPath.Run, batches: Seq[IngestPath.Batch],
                           term: Seq[(Gen.Send, Array[Byte])], t: Trace): Unit = {
    val progress = batches.map(_.progress)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    res.layer("xlsx.files_per_batch", "count", batches.map(_.files.size).sum.toDouble / batches.size)
    val parse = term.take(24).map { case (s, _) =>
      Timer.ms(graft.sources.xlsx.XlsxIO.readSheet(s"${run.watch}/${s.file}", 1).size)._2
    }
    res.layer("xlsx.parse_ms_per_wb", "ms", Stats.median(parse))
    res.layer("stream.batches", "count", batches.size)
    res.layer("stream.trigger_ms", "ms", Stats.median(dur("triggerExecution")))
    res.layer("stream.add_batch_ms", "ms", Stats.median(dur("addBatch")))
    res.layer("stream.latest_offset_ms", "ms", Stats.median(dur("latestOffset")))
    res.layer("stream.query_planning_ms", "ms", Stats.median(dur("queryPlanning")))
    res.layer("stream.wal_commit_ms", "ms", Stats.median(dur("walCommit")))
    res.layer("stream.commit_offsets_ms", "ms", Stats.median(dur("commitOffsets")))
    val states = progress.flatMap(_.stateOperators.headOption)
    res.layer("state.commit_ms", "ms", Stats.median(states.map(_.commitTimeMs.toDouble)))
    res.layer("state.rows_total", "count", states.last.numRowsTotal)
    res.layer("state.memory_bytes", "bytes", states.last.memoryUsedBytes)
    res.layer("state.instances", "count", states.last.numStateStoreInstances)
    res.layer("dedup.kept_ratio", "ratio", run.rowsIn.sum().toDouble / progress.map(_.numInputRows).sum)
    res.layer("enrich.rejected_ratio", "ratio",
      1.0 - run.rowsEnriched.sum().toDouble / run.rowsIn.sum())
    val merges = run.merges.asScala.toSeq
    res.layer("upsert.merge_ms", "ms", t.selfTimesMs.getOrElse("upsert.mergeBatch", 0.0) / merges.size)
    res.layer("upsert.partitions_rewritten", "count",
      merges.map(_.partitionsRewritten).sum.toDouble / merges.size)
    res.layer("upsert.bytes_rewritten_per_input_byte", "ratio",
      merges.map(_.bytesWritten).sum.toDouble / batches.map(_.files.map(_._3).sum).sum)
    res.layer("upsert.store_files", "count", run.storeFileCount)
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    /** (files read, rows out) over every file scan of an executed query. */
    def scans(df: DataFrame): (Long, Long) = {
      val ss = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      (ss.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
        ss.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
    }
    def planMs(df: DataFrame): Double =
      df.queryExecution.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
  }

  private def loop(spark: SparkSession, store: () => DataFrame, a: Args,
                   trace: Option[Trace]): Loop = {
    val students = new IngestPath.Students(a.seed)
    val lookups, cohortsMs, plan, files = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reqs = scala.collection.mutable.ArrayBuffer.empty[String]
    val answers = scala.collection.mutable.ArrayBuffer.empty[(String, (Array[Row], Array[Row]))]
    val cohorts = scala.collection.mutable.ArrayBuffer.empty[Array[Row]]
    var scanned, returned = 0.0
    val end = System.nanoTime() + a.seconds * 1000000000L
    var n = 0
    while (System.nanoTime() < end || n < CohortEvery) {
      n += 1
      val req = s"req-$n"
      reqs += req
      if (n % CohortEvery == 0) {
        val (rows, ms) = Timer.ms(Trace.span(trace, "progress.cohort", req) {
          IngestPath.cohort(spark, store())
        })
        cohortsMs += ms
        cohorts += rows
      } else {
        val s = students.next()
        val ((frames, ans), ms) = Timer.ms(Trace.span(trace, "progress.lookup", req) {
          val frames = IngestPath.lookup(spark, store(), s)
          (frames, IngestPath.collect(frames))
        })
        lookups += ms
        answers += s -> ans
        if (trace.isDefined) { // read from the executed plans, outside the timed call
          val (t, r) = frames
          val (f1, s1) = Plans.scans(t)
          val (f2, s2) = Plans.scans(r)
          plan += Plans.planMs(t) + Plans.planMs(r)
          files += (f1 + f2).toDouble
          scanned += s1 + s2
          returned += ans._1.length + ans._2.length
        }
      }
    }
    Loop(lookups.toSeq, cohortsMs.toSeq, answers.toSeq, cohorts.toSeq,
      plan.toSeq, files.toSeq, scanned, returned, reqs.toSeq)
  }
}
