package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are opened by the benchmark around calls into the program's
  * public functions; they nest on the single client thread. While a
  * span is open its id is the thread's Spark job group, so jobs and
  * their stages are attributed by group; anything else (streaming jobs
  * on their own threads, SQL executions, micro-batches) is attributed
  * later by time window. Everything is written out once, at the end.
  *
  * Times are epoch milliseconds as doubles: spans take them from
  * `nanoTime` against one anchor, listener events from the event's own
  * clock, so both land on one axis. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double,
                        attrs: scala.collection.mutable.Map[String, Any])

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  /** Spans are recorded only while on; a traced run switches them off
    * for its untraced twin pass. */
  var on: Boolean = enabled

  def span[A](name: String, attrs: (String, Any)*)(f: => A): A =
    if (!on) f
    else {
      val parent = stack.headOption
      val s = Span(spans.size + 1, name, parent.fold(0)(_.id), nowMs, 0.0,
        scala.collection.mutable.Map(attrs: _*))
      spans += s
      stack = s :: stack
      if (sc != null) sc.setJobGroup(s"pb-${s.id}", name)
      try f
      finally {
        s.end = nowMs
        stack = stack.tail
        if (sc != null) stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a figure to the innermost open span. */
  def note(key: String, value: Any): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  // ── listener records ──
  final case class Job(id: Int, group: String, start: Double, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, var submitted: Double, var tasks: Long = 0,
                         var runMs: Long = 0, var gcMs: Long = 0, var shuffleRead: Long = 0,
                         var shuffleWrite: Long = 0, var spill: Long = 0)
  final case class Sql(end: Double, durMs: Double, output: String, rows: Long)
  final case class Batch(end: Double, durMs: Double)

  val jobs = ArrayBuffer[Job]()
  val stages = scala.collection.mutable.LinkedHashMap[(Int, Int), Stage]()
  val sqls = ArrayBuffer[Sql]()
  val batches = ArrayBuffer[Batch]()

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs += Job(e.jobId, group, e.time.toDouble, e.stageIds)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      stages.getOrElseUpdate((i.stageId, i.attemptNumber()), Stage(i.stageId, i.attemptNumber(), 0.0))
        .submitted = i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => sqlEnd(end)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        Stage(e.stageId, e.stageAttemptId, e.taskInfo.launchTime.toDouble))
      s.tasks += 1
      s.runMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  /** One SQL execution: its end time and duration from the event, and
    * the table it wrote with the write's row count. */
  private def sqlEnd(e: SparkListenerSQLExecutionEnd): Unit =
    PerfbenchAccess.execution(e).foreach { case (qe, durNs) =>
      val (out, rows) = writeCommands(qe.executedPlan).headOption
        .fold(("", 0L)) { case (path, m) => (path, m.getOrElse("numOutputRows", 0L)) }
      Trace.this.synchronized { sqls += Sql(e.time.toDouble, durNs / 1e6, out, rows) }
    }

  /** SQL executions that failed, as the session's execution listener sees them. */
  @volatile var sqlFailures = 0L
  private object sqlListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      sqlFailures += 1
  }

  private def writeCommands(p: SparkPlan): Seq[(String, Map[String, Long])] = p match {
    case d: DataWritingCommandExec => d.cmd match {
      case i: InsertIntoHadoopFsRelationCommand =>
        Seq(i.outputPath.toString -> i.metrics.map { case (k, m) => k -> m.value })
      case _ => Nil
    }
    case a: AdaptiveSparkPlanExec => writeCommands(a.executedPlan)
    case q: QueryStageExec => writeCommands(q.plan)
    case _ => (p.children ++ p.innerChildren.collect { case c: SparkPlan => c }).flatMap(writeCommands)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + dur
      Trace.this.synchronized { batches += Batch(end, dur) }
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) PerfbenchAccess.drain(sc)

  def toJson: String = synchronized {
    import Json._
    obj(
      "spans" -> arr(spans.toSeq.map(s => obj("id" -> num(s.id), "name" -> str(s.name),
        "parent" -> num(s.parent), "start" -> num(s.start), "end" -> num(s.end),
        "attrs" -> obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> any(v) }: _*)))),
      "jobs" -> arr(jobs.toSeq.map(j => obj("id" -> num(j.id), "group" -> str(j.group),
        "start" -> num(j.start), "stages" -> arr(j.stages.map(num(_)))))),
      "stages" -> arr(stages.values.toSeq.map(s => obj("id" -> num(s.id), "attempt" -> num(s.attempt),
        "submitted" -> num(s.submitted), "tasks" -> num(s.tasks), "run_ms" -> num(s.runMs),
        "gc_ms" -> num(s.gcMs), "shuffle_read" -> num(s.shuffleRead),
        "shuffle_write" -> num(s.shuffleWrite), "spill" -> num(s.spill)))),
      "sqls" -> arr(sqls.toSeq.map(q => obj("end" -> num(q.end), "dur_ms" -> num(q.durMs),
        "output" -> str(q.output), "rows" -> num(q.rows)))),
      "batches" -> arr(batches.toSeq.map(b => obj("end" -> num(b.end), "dur_ms" -> num(b.durMs)))),
      "sql_failures" -> num(sqlFailures))
  }
}

/** Just enough JSON writing for the run's output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case s: String => str(s)
    case i: Int => num(i)
    case l: Long => num(l)
    case d: Double => num(d)
    case b: Boolean => b.toString
    case xs: Seq[_] => arr(xs.map(any))
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> any(x) }: _*)
    case other => str(String.valueOf(other))
  }
}
