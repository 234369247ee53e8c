package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The traced run's instruments, all kept in memory until the run ends:
  *
  *  - spans around the benchmark's own calls into the program (name,
  *    start, end, parent; every span of one op carries the op's id);
  *  - a `SparkListener` recording every job with its stages' task
  *    metrics, each job attributed to a program module by the first
  *    program frame in its call site;
  *  - a stack sampler over the driver's threads, giving each module's
  *    self time: time a thread spent runnable with that module's code as
  *    the innermost program frame.
  */
object Trace {

  /** Program modules jobs and samples are attributed to. */
  val modules: Seq[String] =
    Seq("sources", "ops", "sinks", "meta", "pipeline", "operators", "streaming")

  final case class Span(op: Int, id: Int, parent: Int, name: String,
      start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var currentOp = -1
  private var nextId = 0

  /** Spans are recorded only while an op is being traced. */
  def tracing: Boolean = currentOp >= 0

  def span[T](name: String)(body: => T): T = {
    if (!tracing) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = open.get.headOption.getOrElse(0)
    val op = currentOp
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      synchronized { spans += Span(op, id, parent, name, t0, t1) }
    }
  }

  /** Runs one op with tracing on: an op span plus stack sampling. */
  def tracedOp[T](op: Int, name: String)(body: => T): T = {
    currentOp = op
    sampler.active = true
    try span(name)(body)
    finally { sampler.active = false; currentOp = -1 }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Self time of a span: its duration minus the union of its children. */
  def selfSeconds(s: Span, children: Seq[(Long, Long)]): Double =
    (s.end - s.start - unionNanos(children.map { case (a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) })) / 1e9

  /** Total length of a set of intervals, overlaps counted once. */
  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Module of the first program frame in a stack (innermost first). */
  def moduleOf(frames: Seq[String]): Option[String] =
    frames.iterator.filter(_.startsWith("graft.")).map(_.split('.')(1))
      .find(modules.contains)

  // ---- Spark jobs ----

  final class JobRec(val id: Int, val start: Long, val module: Option[String]) {
    var end = 0L
    var runMs = 0L
    var deserMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var singleTaskStageMs = 0L
  }

  /** Jobs by id; times are wall-clock millis as the scheduler reports. */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  /** Module of each SQL execution, from the call site of its action. */
  private val executionModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private def frames(callSite: String): Seq[String] = callSite.split('\n').map(_.trim).toSeq

  object Listener extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        moduleOf(frames(s.details)).foreach(executionModule.put(s.executionId, _))
      case _ =>
    }

    /** A job is attributed by its own call site (a stage's `details`);
      * jobs a query runs on Spark's helper threads (broadcasts,
      * subqueries) carry no program frame there, and fall back to the
      * call site of the SQL execution they belong to. */
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val own = js.stageInfos.sortBy(-_.stageId).headOption.flatMap(st => moduleOf(frames(st.details)))
      val viaExecution = Seq("spark.sql.execution.id", "spark.sql.execution.root.id").iterator
        .flatMap(k => Option(js.properties).flatMap(p => Option(p.getProperty(k))))
        .flatMap(id => Option(executionModule.get(id.toLong))).nextOption()
      jobs.put(js.jobId, new JobRec(js.jobId, js.time, own.orElse(viaExecution)))
      js.stageIds.foreach(stageJob.put(_, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.end = je.time)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        val m = info.taskMetrics
        r.synchronized {
          if (m != null) {
            r.runMs += m.executorRunTime
            r.deserMs += m.executorDeserializeTime
            r.cpuNs += m.executorCpuTime
            r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            r.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          }
          if (info.numTasks == 1)
            for (a <- info.submissionTime; b <- info.completionTime) r.singleTaskStageMs += b - a
        }
      }
    }
  }

  /** Waits until every job that started has ended and been reported. */
  def drain(sc: SparkContext): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
      (sc.statusTracker.getActiveJobIds.nonEmpty || jobs.values.asScala.exists(_.end == 0L)))
      Thread.sleep(20)
    Thread.sleep(50)
  }

  // ---- driver stack sampling ----

  val samplePeriodMs = 50

  object sampler extends Thread("perfbench-sampler") {
    setDaemon(true)
    @volatile var active = false
    /** Sampled runnable seconds per (op, module). */
    val selfSeconds = new java.util.concurrent.ConcurrentHashMap[(Int, String), Double]()

    override def run(): Unit = while (true) {
      Thread.sleep(samplePeriodMs)
      val op = currentOp
      if (active && op >= 0) {
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          if (t.getState == Thread.State.RUNNABLE && t != this &&
              !t.getName.startsWith("Executor task launch"))
            moduleOf(st.toSeq.map(_.getClassName)).foreach { m =>
              selfSeconds.merge((op, m), samplePeriodMs / 1000.0, (a: Double, b: Double) => a + b)
            }
        }
      }
    }
  }

  /** Writes every span and job as one JSON line each. */
  def write(path: java.nio.file.Path): Unit = {
    val spanLines = allSpans.map(s =>
      s"""{"span":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    val jobLines = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"job":${j.id},"module":"${j.module.getOrElse("")}","start_ms":${j.start},"end_ms":${j.end},""" +
        s""""task_run_ms":${j.runMs},"task_deser_ms":${j.deserMs},"task_cpu_ns":${j.cpuNs}}""")
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path, (spanLines ++ jobLines).asJava)
  }

  def start(sc: SparkContext): Unit = {
    sc.addSparkListener(Listener)
    sampler.start()
  }
}
