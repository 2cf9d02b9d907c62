package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the benchmark's calls into each layer, plus the Spark
  * task metrics of the jobs each span launched.
  *
  * A span labels its jobs with a job group and with the local property
  * [[SpanKey]]; the listener reads the property (local properties are
  * inherited by the threads that run broadcast and subquery jobs, whose
  * job group Spark overwrites). Everything stays in memory until
  * [[layerMetrics]] / [[spans]] are read at the end of the run.
  *
  * Jobs launched from `graft.meta.Snapshot` after a stage's data write
  * (read-back count, lineage rows, manifest stamps) are the `meta` layer:
  * in a span opened with `commit = true` the first Snapshot job is the
  * stage's own data write and stays with the span's layer.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private final class JobRec(val span: Span, val callSite: String,
      val startMs: Long) {
    var endMs: Long = startMs
    var layer: String = span.layer
  }

  private final class TaskAgg {
    var runMs = 0L; var waitMs = 0L; var gcMs = 0L
    var rows = 0L; var outBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val stageRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val spanList = mutable.ArrayBuffer.empty[Span]
  private val spanById = mutable.Map.empty[Int, Span]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val dataWriteExec = mutable.Map.empty[Int, String]
  private val execSite = mutable.Map.empty[Long, (String, String)]
  private val agg = mutable.Map.empty[String, TaskAgg]
  private var busyNs = 0L

  /** Run one listener callback, timing it: the tracer's own cost. */
  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  /** Seconds spent inside this listener's callbacks. */
  def busySeconds: Double = synchronized(busyNs / 1e9)

  /** Run `body` as one span of `layer`. */
  def span[T](layer: String, name: String, commit: Boolean = false)(body: => T): T = {
    val s = synchronized {
      val s = Span(spanList.size, layer, name, commit, System.nanoTime())
      spanList += s; spanById(s.id) = s; s
    }
    sc.setJobGroup(layer, s"$layer: $name")
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      sc.setLocalProperty(SpanKey, null)
      sc.clearJobGroup()
      s.endNs = System.nanoTime()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanKey))).flatMap(id =>
      spanById.get(id.toInt)).foreach { s =>
      val (exec, site) = props.map(_.getProperty("spark.sql.execution.id", ""))
        .flatMap(id => scala.util.Try(id.toLong).toOption).flatMap(execSite.get)
        .getOrElse(("", ""))
      val rec = new JobRec(s, site, e.time)
      if (site.startsWith(MetaSource)) {
        val first = dataWriteExec.getOrElseUpdate(s.id,
          if (s.commit) exec else NoExec)
        if (first != exec || exec.isEmpty) rec.layer = "meta"
      }
      jobs(e.jobId) = rec
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
    }
  }

  // a SQL execution's details are its action's call stack: the first frame
  // outside Spark, Scala and the JDK is the caller, e.g.
  // "graft.meta.Snapshot$.stage(Snapshot.scala:85)"
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => timed {
      // a nested execution (e.g. a write's inner query) belongs to its root
      val root = x.rootExecutionId.map(_.toString).getOrElse(x.executionId.toString)
      execSite(x.executionId) = root -> x.details.split("\n").map(_.trim)
        .find(f => !LibraryFrame.exists(f.startsWith)).getOrElse("")
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for {
      jobId <- stageJob.get(e.stageId)
      rec <- jobs.get(jobId)
      m <- Option(e.taskMetrics)
    } {
      val a = agg.getOrElseUpdate(rec.layer, new TaskAgg)
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.rows += m.outputMetrics.recordsWritten
      a.outBytes += m.outputMetrics.bytesWritten
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      stageSubmitMs.get(e.stageId).foreach(t =>
        a.waitMs += math.max(0L, e.taskInfo.launchTime - t))
      a.stageRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  def spans: Seq[Span] = synchronized(spanList.toList)

  /** (layer, call site) -> job count, for the JVM log. */
  def jobSites: Map[(String, String), Int] = synchronized(
    jobs.values.groupBy(j => (j.layer, j.callSite)).map { case (k, v) => k -> v.size })

  /** A span's duration minus the meta jobs it ran (its self time). */
  def selfSeconds(s: Span): Double = synchronized {
    (s.endNs - s.startNs) / 1e9 - jobs.values
      .filter(j => j.layer == "meta" && j.span.id == s.id)
      .map(j => j.endMs - j.startMs).sum / 1e3
  }

  /** Wall seconds of `layer`: its spans minus the meta jobs inside them
    * (for `meta` itself: the summed meta job walls). */
  private def wallS(layer: String): Double = synchronized {
    if (layer == "meta")
      jobs.values.filter(_.layer == "meta").map(j => j.endMs - j.startMs).sum / 1e3
    else spanList.filter(_.layer == layer).map(selfSeconds).sum
  }

  /** The nine task-metric figures of one layer, keyed `<layer>.<metric>`;
    * all zero for a layer that launched no job. */
  def layerMetrics(layer: String): Seq[(String, Double)] = synchronized {
    val a = agg.getOrElse(layer, new TaskAgg)
    val nJobs = jobs.values.count(_.layer == layer)
    // skew of the stage that kept the layer's tasks busiest
    val skew = a.stageRunMs.values.toSeq.sortBy(-_.sum).headOption
      .map { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) sorted.last.toDouble / med else 1.0
      }.getOrElse(0.0)
    val rows =
      if (layer == "meta") "output_mb" -> agg.values.map(_.outBytes).sum / MB
      else "rows_out" -> a.rows.toDouble
    Seq("wall_s" -> wallS(layer), "task_s" -> a.runMs / 1e3,
      "wait_s" -> a.waitMs / 1e3, rows, "shuffle_mb" -> a.shuffleBytes / MB,
      "spill_mb" -> a.spillBytes / MB, "gc_s" -> a.gcMs / 1e3,
      "jobs" -> nJobs.toDouble, "task_skew" -> skew)
      .map { case (k, v) => s"$layer.$k" -> v }
  }
}

object Tracer {
  final case class Span(id: Int, layer: String, name: String, commit: Boolean,
      startNs: Long, var endNs: Long = 0L)

  val SpanKey = "perfbench.span"
  /** Caller frame prefix of the stage commit protocol. */
  val MetaSource = "graft.meta.Snapshot"
  private val LibraryFrame = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
  private val NoExec = "-"
  private val MB = 1024.0 * 1024.0

  /** Install a tracer on the session's context. */
  def install(sc: SparkContext): Tracer = {
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    t
  }
}
