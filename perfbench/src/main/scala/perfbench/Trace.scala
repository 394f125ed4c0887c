package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's recorder. Spans (name, start, end, parent, request id)
  * go around every call the harness makes into a layer and are kept in
  * memory; Spark's public SparkListener supplies job and task counters.
  * Nothing here is consulted while a timed region runs: the listener bus is
  * drained once, after the measurement, and spans are written out at the
  * end. An untraced run never constructs a Trace, so [[Trace.span]] is a
  * plain call there. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val taskMs, cpuMs, gcMs, shuffleWrite, spill = new LongAdder
  private val codegen0 = compileNs()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(ReqProp))).getOrElse("")
      val j = Job(e.jobId, e.time, req)
      jobStart.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      taskMs.add(m.executorRunTime)
      cpuMs.add(m.executorCpuTime / 1000000L)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def span[T](name: String, req: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val sc = spark.sparkContext
    val prevReq = sc.getLocalProperty(ReqProp)
    if (req.nonEmpty) sc.setLocalProperty(ReqProp, req)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, name, if (req.nonEmpty) req else Option(prevReq).getOrElse(""),
        t0, System.nanoTime()))
      if (req.nonEmpty) sc.setLocalProperty(ReqProp, prevReq)
      stack.set(stack.get().tail)
    }
  }

  /** Wait (bounded) for the listener bus to deliver every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 30000L)

  def codegenMs: Double = (compileNs() - codegen0) / 1e6

  /** Jobs that started in the window, and Σ time in the window during which
    * no job was running (the driver's idle gaps between jobs). */
  def jobStats(fromMs: Long, toMs: Long): (Int, Double) = {
    val in = jobs.asScala.filter(j => j.start >= fromMs && j.start <= toMs).toSeq.sortBy(_.start)
    var covered = 0L
    var curS = -1L; var curE = -1L
    for (j <- in) {
      val e = if (j.end > 0) j.end else toMs
      if (curS < 0) { curS = j.start; curE = e }
      else if (j.start <= curE) curE = math.max(curE, e)
      else { covered += curE - curS; curS = j.start; curE = e }
    }
    if (curS >= 0) covered += curE - curS
    (in.size, if (in.isEmpty) 0.0 else (curE - in.head.start - covered).toDouble)
  }

  def jobsForRequest(req: String): Int = jobs.asScala.count(_.req == req)

  /** Per-name self time (span duration minus its children's), in ms. */
  def selfTimesMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  /** Spans and counters as the per-workload trace artifact. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("{\"spans\": [")
      w.println(spans.asScala.toSeq.sortBy(_.start).map { s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
          s""""req": ${Json.str(s.req)}, "start_ns": ${s.start}, "end_ns": ${s.end}}"""
      }.mkString(",\n"))
      w.println("], \"self_ms\": " + selfTimesMs.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}") + "}")
    } finally w.close()
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Trace {
  val ReqProp = "perfbench.req"
  final case class Span(id: Long, parent: Long, name: String, req: String, start: Long, end: Long)
  final case class Job(id: Int, start: Long, req: String) { @volatile var end: Long = 0L }

  def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** A span when tracing, a plain call otherwise. */
  def span[T](t: Option[Trace], name: String, req: String = "")(body: => T): T = t match {
    case Some(tr) => tr.span(name, req)(body)
    case None => body
  }

  /** Driver and executor counters over [fromMs, toMs] into the result,
    * each per operation (`ops`: requests or passes run in the window), so
    * that a faster program, which fits more operations into the window,
    * does not read as doing more work. */
  def recordSpark(res: Result, t: Trace, fromMs: Long, toMs: Long, ops: Int): Unit = {
    t.drain()
    val (n, gap) = t.jobStats(fromMs, toMs)
    res.layer("driver.jobs", "count", n.toDouble / ops)
    res.layer("driver.job_gap_ms", "ms", gap / ops)
    res.layer("driver.codegen_ms", "ms", t.codegenMs / ops)
    res.layer("exec.task_ms", "ms", t.taskMs.sum().toDouble / ops)
    res.layer("exec.cpu_ms", "ms", t.cpuMs.sum().toDouble / ops)
    res.layer("exec.gc_ms", "ms", t.gcMs.sum().toDouble / ops)
    res.layer("exec.shuffle_write_bytes", "bytes", t.shuffleWrite.sum().toDouble / ops)
    res.layer("exec.spill_bytes", "bytes", t.spill.sum().toDouble / ops)
  }
}
