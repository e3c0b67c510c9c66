package graftbench

import java.util.Properties
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON rendering for the benchmark's own artifacts. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** One traced interval. Times are epoch milliseconds so spans taken from
  * the benchmark's own clock and from Spark listener timestamps line up. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span store, written out once at the end of a traced run.
  * When tracing is off, [[open]] still returns ids (so call sites stay
  * identical) but nothing is stored. */
final class Tracer(val enabled: Boolean) {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open_ = mutable.HashMap.empty[Int, (Int, String, String, Double)]
  private var nextId = 1

  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def open(parent: Int, kind: String, name: String): Int = synchronized {
    val id = nextId; nextId += 1
    if (enabled) open_(id) = (parent, kind, name, now())
    id
  }

  def close(id: Int, attrs: Map[String, Double] = Map.empty): Unit = synchronized {
    open_.remove(id).foreach { case (p, k, n, s) => spans += Span(id, p, k, n, s, now(), attrs) }
  }

  /** Record an interval measured elsewhere (listener or transport clocks). */
  def add(parent: Int, kind: String, name: String, start: Double, end: Double,
          attrs: Map[String, Double] = Map.empty): Int = synchronized {
    val id = nextId; nextId += 1
    if (enabled) spans += Span(id, parent, kind, name, start, end, attrs)
    id
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time: a span's duration minus the union of its children's
    * intervals (clipped to the span). */
  def selfTimes: Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  def toJson: String = {
    val self = selfTimes
    Json.arr(all.sortBy(_.id).map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> f"${s.start}%.3f", "dur_ms" -> f"${s.dur}%.3f",
        "self_ms" -> f"${self(s.id)}%.3f",
        "attrs" -> Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) })))
    })
  }
}

/** Scheduler-side counters from Spark's public listener API. Jobs are
  * attributed to the benchmark span active on the submitting thread via
  * the `perfbench.span` local property. */
final class SparkRecorder(tracer: Tracer) extends SparkListener {
  final case class StageRec(id: Int, start: Double, end: Double, tasks: Int,
                            runMs: Double, cpuMs: Double, gcMs: Double,
                            deserMs: Double, shWriteB: Double, shReadB: Double,
                            spillB: Double)
  final case class JobRec(id: Int, span: Int, start: Double, var end: Double,
                          stageIds: Seq[Int])

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private var schedDelayMs = 0.0

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SparkRecorder.SpanProp)))
      .map(_.toInt).getOrElse(0)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    if (Option(js.properties).forall(_.getProperty(SparkRecorder.MarkerProp) == null))
      jobs(js.jobId) = JobRec(js.jobId, spanOf(js.properties), js.time.toDouble,
      Double.NaN, js.stageIds)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.end = je.time.toDouble)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    val rec = StageRec(si.stageId,
      si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
      si.numTasks, m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
      m.jvmGCTime.toDouble, m.executorDeserializeTime.toDouble,
      m.shuffleWriteMetrics.bytesWritten.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    synchronized { stages(si.stageId) = rec }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val ti = te.taskInfo
    val m = te.taskMetrics
    if (ti != null && m != null) {
      val total = (ti.finishTime - ti.launchTime).toDouble
      val d = total - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - ti.gettingResultTime
      synchronized { schedDelayMs += math.max(0.0, d) }
    }
  }

  /** Snapshot-and-reset: the jobs (and their stages) finished since the
    * last drain, plus the scheduler delay accumulated meanwhile. */
  def drain(sc: SparkContext): (Seq[JobRec], Seq[StageRec], Double) = {
    SparkRecorder.waitIdle(sc)
    synchronized {
      val js = jobs.values.toList
      val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
      val delay = schedDelayMs
      jobs.clear(); stages.clear(); schedDelayMs = 0.0
      (js, ss, delay)
    }
  }

  /** Emit job and stage spans under the benchmark spans they belong to. */
  def emitSpans(js: Seq[JobRec], ss: Seq[StageRec], fallback: Int): Unit = {
    val byId = ss.map(s => s.id -> s).toMap
    js.foreach { j =>
      val end = if (j.end.isNaN) j.start else j.end
      val jid = tracer.add(if (j.span > 0) j.span else fallback, "job",
        s"job ${j.id}", j.start, end)
      j.stageIds.flatMap(byId.get).foreach { s =>
        tracer.add(jid, "stage", s"stage ${s.id}", s.start, s.end,
          Map("tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuMs,
            "gc_ms" -> s.gcMs, "shuffle_write_b" -> s.shWriteB,
            "shuffle_read_b" -> s.shReadB))
      }
    }
  }
}

object SparkRecorder {
  val SpanProp = "perfbench.span"

  def withSpan[T](sc: SparkContext, span: Int)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, span.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }

  val MarkerProp = "perfbench.marker"

  /** Wait until the listener bus has delivered the events posted so far.
    * Public API only: the bus is FIFO, so once a tiny marker job's end
    * event arrives, every earlier event has been delivered too. */
  def waitIdle(sc: SparkContext): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(MarkerProp) == tag)) seen.countDown()
    }
    sc.addSparkListener(marker)
    val prev = sc.getLocalProperty(MarkerProp)
    sc.setLocalProperty(MarkerProp, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, prev)
    seen.await(10, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }
}
