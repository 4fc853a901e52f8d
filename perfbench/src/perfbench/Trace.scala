package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Spans for the traced run. Call spans are recorded here, in the
  * benchmark's own code, around each public engine call; a
  * [[SparkListener]] adds every Spark job and stage as a child span,
  * attributed to the innermost call span whose interval holds the job's
  * start. All times are epoch milliseconds (the listener's clock), kept
  * in memory and written out once at exit.
  *
  * With `enabled = false` [[call]] only runs its body: the untraced run
  * registers no listener and records nothing. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  val calls = ArrayBuffer.empty[Call]
  private var stack: List[Call] = Nil
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()

  /** Run `body` as a span named `name`; `role` says which part of the
    * run it belongs to (setup, op, gate, probe). Only the outermost span
    * of a call tree needs the role; children inherit it. */
  def call[T](name: String, role: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val c = Call(calls.size, stack.headOption.map(_.id).getOrElse(-1), name,
        if (role.nonEmpty) role else stack.headOption.map(_.role).getOrElse(""), nowMs)
      calls += c
      stack = c :: stack
      try body
      finally { c.endMs = nowMs; stack = stack.tail }
    }

  /** Attach a measured value to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = v)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse("")
      jobs.add(Job(e.jobId, site, e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.forEach(j => if (j.id == e.jobId) j.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.put(si.stageId, Stage(si.stageId, si.name,
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
        si.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.outputMetrics.bytesWritten))
    }
  }

  /** Jobs attributed to each call span (innermost span holding the start). */
  lazy val jobsOf: Map[Int, Seq[Job]] = {
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.flatMap { j =>
      calls.filter(c => c.startMs <= j.startMs + 1 && j.startMs <= c.endMs + 1)
        .maxByOption(_.startMs).map(c => c.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_.startMs) }
  }

  def childCalls(c: Call): Seq[Call] = calls.toSeq.filter(_.parent == c.id)

  /** Every call span under `c`, `c` included. */
  def subtree(c: Call): Seq[Call] = c +: childCalls(c).flatMap(subtree)

  /** Stages of the jobs attributed to `c` or to any span under it. */
  def stagesUnder(c: Call): Seq[Stage] =
    subtree(c).flatMap(s => jobsOf.getOrElse(s.id, Nil)).flatMap(_.stageIds)
      .distinct.flatMap(id => Option(stages.get(id)))

  def jobsUnder(c: Call): Seq[Job] = subtree(c).flatMap(s => jobsOf.getOrElse(s.id, Nil))

  /** Span time not covered by any Spark stage (driver-side time). */
  def driverMs(c: Call): Double =
    c.durMs - covered(stagesUnder(c).map(s => (s.startMs, s.endMs)), c.startMs, c.endMs)

  /** Self time: span minus the part its children (nested calls and jobs)
    * cover. */
  def selfMs(c: Call): Double =
    c.durMs - covered(childCalls(c).map(x => (x.startMs, x.endMs)) ++
      jobsOf.getOrElse(c.id, Nil).map(j => (j.startMs, j.endMs)), c.startMs, c.endMs)

  def writeSpans(path: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val sb = new StringBuilder
    def attrs(m: Iterable[(String, Any)]) =
      m.map { case (k, v) => s""","$k":${Json.value(v)}""" }.mkString
    calls.foreach { c =>
      sb ++= s"""{"id":"c${c.id}","parent":${if (c.parent < 0) "null" else s""""c${c.parent}""""},""" +
        s""""kind":"call","name":${Json.str(c.name)},"role":${Json.str(c.role)},""" +
        s""""start_ms":${c.startMs},"end_ms":${c.endMs}${attrs(c.attrs)}}""" + "\n"
    }
    for ((cid, js) <- jobsOf; j <- js) {
      sb ++= s"""{"id":"j${j.id}","parent":"c$cid","kind":"job","name":${Json.str(j.site)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs}}""" + "\n"
      j.stageIds.flatMap(id => Option(stages.get(id))).foreach { s =>
        sb ++= s"""{"id":"s${s.id}","parent":"j${j.id}","kind":"stage","name":${Json.str(s.name)},""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs}${attrs(Seq(
            "tasks" -> s.tasks, "task_run_s" -> s.runS, "task_cpu_s" -> s.cpuS,
            "gc_s" -> s.gcS, "shuffle_write_bytes" -> s.shW,
            "shuffle_read_bytes" -> s.shR, "output_bytes" -> s.outBytes))}}""" + "\n"
      }
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  final case class Call(id: Int, parent: Int, name: String, role: String, startMs: Double) {
    var endMs: Double = startMs
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def durMs: Double = endMs - startMs
  }
  final case class Job(id: Int, site: String, startMs: Double, stageIds: Seq[Int]) {
    @volatile var endMs: Double = startMs
  }
  final case class Stage(id: Int, name: String, startMs: Double, endMs: Double, tasks: Int,
                         runS: Double, cpuS: Double, gcS: Double, shW: Long, shR: Long,
                         outBytes: Long)

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Minimal JSON writing (the benchmark adds no dependency). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.append('"').toString
  }
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)
  def value(v: Any): String = v match {
    case Raw(j) => j
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
