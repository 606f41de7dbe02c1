package perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory spans of one run (op, build, plan, exec, sources, mr), kept
  * by the client thread while tracing is on and written out at the end
  * together with the Spark and MR job spans the [[Tracer]] saw. */
final class SpanLog {
  final class Span(val id: Int, val kind: String, val name: String,
      val opId: Int, val parent: Int, val start: Long) {
    var end: Long = 0L
  }
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def open(kind: String, name: String, opId: Int): Span =
    if (!on) null
    else {
      val s = new Span(spans.size + 1, kind, name, opId,
        stack.headOption.map(_.id).getOrElse(0), Harness.now())
      spans += s
      stack = s :: stack
      s
    }

  def close(s: Span): Unit = if (s != null) {
    s.end = Harness.now()
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  /** Closes whatever a failed op left open. */
  def reset(): Unit = { stack.foreach(s => if (s.end == 0L) s.end = Harness.now()); stack = Nil }

  def timed[A](kind: String, name: String, opId: Int)(body: => A): A = {
    val s = open(kind, name, opId)
    try body finally close(s)
  }

  /** Writes harness spans, then one span per MR job (the runner's
    * `graft mr job <name>` job-group description) and per Spark job.
    * A Spark job's parent is its MR job, else the innermost harness span
    * open when it was submitted. */
  def write(path: String, tracer: Tracer): Unit = {
    val out = new PrintWriter(path)
    def line(id: Int, kind: String, name: String, opId: Int, parent: Int,
        start: Long, end: Long, attrs: Iterable[(String, Double)]): Unit = {
      val a = attrs.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
      out.println(s"""{"id":$id,"kind":"$kind","name":${Json.str(name)},"op_id":$opId,""" +
        s""""parent":$parent,"start_ns":$start,"end_ns":$end,"attrs":{$a}}""")
    }
    spans.foreach(s => line(s.id, s.kind, s.name, s.opId, s.parent, s.start, s.end, Nil))
    // job events carry millisecond stamps: allow 1 ms either side
    val slack = 1000000L
    def enclosing(t: Long): Option[Span] = spans.filter(s =>
      s.start - slack <= t && t <= s.end + slack && s.kind != "op").maxByOption(_.start)
    var nextId = spans.size
    val mrJobs = mutable.LinkedHashMap.empty[(Int, String), (Int, Span, Long, Long)]
    val jobs = tracer.jobs
    val prefix = "graft mr job "
    jobs.foreach { j =>
      val mrName = Option(j.desc).filter(_.startsWith(prefix)).map(_.drop(prefix.length))
      (enclosing(j.start), mrName) match {
        case (Some(p), Some(n)) =>
          val key = (p.id, n)
          val (id, _, s, e) = mrJobs.getOrElse(key, { nextId += 1; (nextId, p, j.start, j.end) })
          mrJobs(key) = (id, p, math.min(s, j.start), math.max(e, j.end))
        case _ => ()
      }
    }
    mrJobs.foreach { case ((_, n), (id, p, s, e)) => line(id, "mrjob", n, p.opId, p.id, s, e, Nil) }
    jobs.foreach { j =>
      nextId += 1
      val p = enclosing(j.start)
      val mrParent = for {
        d <- Option(j.desc) if d.startsWith(prefix); ps <- p
        m <- mrJobs.get((ps.id, d.drop(prefix.length)))
      } yield m._1
      line(nextId, "job", s"job ${j.id}", p.map(_.opId).getOrElse(0),
        mrParent.orElse(p.map(_.id)).getOrElse(0), j.start, j.end, j.metrics)
    }
    out.close()
  }
}

/** Listener the benchmark attaches for a traced run: one record per
  * Spark job with its stage and task totals. */
final class Tracer extends SparkListener {
  final class Job(val id: Int, val start: Long, val desc: String) {
    var end: Long = 0L
    val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
      Seq("stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "task_gc_s",
        "task_wait_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "input_bytes", "output_bytes").map(_ -> 0.0): _*)
    def add(k: String, v: Double): Unit = metrics(k) += v
  }
  private val byId = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var lastEventNs = System.nanoTime()

  def jobs: Seq[Job] = synchronized(byId.values.toSeq)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    byId(e.jobId) = new Job(e.jobId, e.time * 1000000L, desc)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    byId.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    stageJob.get(e.stageInfo.stageId).flatMap(byId.get).foreach(_.add("stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    stageJob.get(e.stageId).flatMap(byId.get).foreach { j =>
      j.add("tasks", 1)
      if (e.taskInfo.failed) j.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        j.add("task_run_s", m.executorRunTime / 1e3)
        j.add("task_cpu_s", m.executorCpuTime / 1e9)
        j.add("task_gc_s", m.jvmGCTime / 1e3)
        j.add("task_wait_s", math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3)
        j.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        j.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        j.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        j.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        j.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  /** Waits until every job seen has ended and the bus has been quiet for
    * 100 ms, so the span file holds every job of the traced passes. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized(byId.values.forall(_.end > 0)) &&
      System.nanoTime() - lastEventNs > 100000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
