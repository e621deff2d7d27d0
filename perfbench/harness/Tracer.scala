package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: a layer's interval inside one operation.
  * Times are epoch milliseconds on the driver clock. */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
                      layer: String, start: Double, end: Double,
                      attrs: Map[String, Double])

/** Records, from outside the program, what Spark did for each operation:
  * jobs and stages through a `SparkListener`, Catalyst phases and plan
  * exchanges through a `QueryExecutionListener`, and streaming triggers
  * through a `StreamingQueryListener`. Everything stays in memory until
  * the run ends. With a single client thread, every event delivered
  * between two operations belongs to the operation that ran between them;
  * inside an operation a job belongs to `construct` or `action` by the
  * interval its start falls in. Job groups would not do: the program's
  * private daemon pools do not inherit a group set after they started. */
final class Tracer(spark: SparkSession) {
  private final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  private final case class Stage(id: Int, start: Double, end: Double,
                                 attrs: Map[String, Double])
  private final case class Phase(name: String, start: Double, end: Double)
  private final case class Qe(phases: Seq[Phase], exchanges: Int)

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val qes = ArrayBuffer.empty[Qe]
  private val progress = ArrayBuffer.empty[(Double, Double, Long)]
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val attrs = if (m == null) Map("tasks" -> si.numTasks.toDouble) else Map(
        "tasks" -> si.numTasks.toDouble,
        "run_ms" -> m.executorRunTime.toDouble,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "rows_read" -> m.inputMetrics.recordsRead.toDouble,
        "bytes_read" -> m.inputMetrics.bytesRead.toDouble)
      val start = si.submissionTime.getOrElse(0L).toDouble
      stages += Stage(si.stageId, start,
        si.completionTime.map(_.toDouble).getOrElse(start), attrs)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) =>
        Phase(n, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val ex = try exchanges(qe.executedPlan) catch { case _: Throwable => 0 }
      Tracer.this.synchronized { qes += Qe(phases, ex) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Tracer.this.synchronized { progress += ((start + ms, ms, p.numInputRows)) }
    }
  }

  /** Shuffle exchanges in a physical plan, looking through adaptive
    * execution's final plan, query stages and subqueries; a reused
    * exchange is not counted again. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case other =>
      val own = other match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val inner = other.innerChildren.collect { case c: SparkPlan => c }
      own + (other.children ++ inner ++ other.subqueries).map(exchanges).sum
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Discards whatever was recorded so far (events of untraced work). */
  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { jobs.clear(); stages.clear(); qes.clear(); progress.clear() }
  }

  private def span(trace: Int, parent: Int, name: String, layer: String,
                   start: Double, end: Double, attrs: Map[String, Double] = Map.empty): Int =
    synchronized {
      nextId += 1
      spans += Span(trace, nextId, parent, name, layer, start, end, attrs)
      nextId
    }

  /** Turns the events recorded since the last call into the spans of one
    * finished operation. A DataFrame operation gets a `construct` span
    * (until `built`) and an `action` span; an eager step that returns no
    * DataFrame gets one span named after its kind, in its own layer.
    * `attrs` go on the operation's span; `analysis` is the eager analysis
    * of its DataFrame. */
  def close(trace: Int, rec: OpRecord, attrs: Map[String, Double],
            analysis: Option[(Double, Double)]): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (js, ss, qs, ps) = synchronized {
      val r = (jobs.toList, stages.toList, qes.toList, progress.toList)
      jobs.clear(); stages.clear(); qes.clear(); progress.clear()
      r
    }
    val root = span(trace, 0, rec.name, "op", rec.start, rec.end,
      attrs ++ Map("exchanges" -> qs.map(_.exchanges).sum.toDouble,
        "qes" -> qs.size.toDouble))
    val (construct, action) =
      if (rec.eager) {
        val work = span(trace, root, rec.kind, rec.layer, rec.start, rec.end)
        (work, work)
      } else (span(trace, root, "construct", "operators", rec.start, rec.built),
        span(trace, root, "action", "driver", rec.built, rec.end))
    def outer(t: Double): Int = if (t < rec.built) construct else action
    val trigs = ps.filter(_._3 > 0).map { case (end, ms, rows) =>
      (end - ms, end, span(trace, outer(end - ms), "trigger", "streaming",
        end - ms, end, Map("rows" -> rows.toDouble)))
    }
    def parentAt(t: Double): Int = trigs.find { case (s, e, _) => t >= s && t <= e }
      .map(_._3).getOrElse(outer(t))
    analysis.foreach { case (a, b) => span(trace, construct, "analysis", "catalyst", a, b) }
    qs.foreach(_.phases.foreach { ph =>
      span(trace, parentAt(ph.start), ph.name, "catalyst", ph.start, ph.end)
    })
    val stageById = ss.groupBy(_.id)
    val placed = scala.collection.mutable.Set.empty[Int]
    js.sortBy(_.start).foreach { j =>
      val end = if (j.end.isNaN) rec.end else j.end
      val jid = span(trace, parentAt(j.start), s"job ${j.id}", "scheduler", j.start, end)
      j.stages.foreach { sid =>
        if (placed.add(sid)) stageById.getOrElse(sid, Nil).foreach { s =>
          span(trace, jid, s"stage ${s.id}", "executor", s.start, s.end, s.attrs)
        }
      }
    }
    // stages whose job was not seen (cannot happen with a drained bus)
    ss.filterNot(s => placed(s.id)).foreach { s =>
      span(trace, action, s"stage ${s.id}", "executor", s.start, s.end, s.attrs)
    }
  }
}

/** Times, from outside the program, the artifact builds of one set-up: every
  * file write command whose output lies under the artifact `root`, by kind
  * (the first path segment under the root), through a
  * `QueryExecutionListener` attached from construction to [[detach]]. */
final class BuildTimer(spark: SparkSession, root: String) {
  private val rootPath = new java.io.File(root).getAbsolutePath + "/"
  private val writes = ArrayBuffer.empty[(String, Double)]

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
        .map(_.toUri.getPath).filter(_.startsWith(rootPath))
        .foreach { p =>
          val kind = p.stripPrefix(rootPath).takeWhile(_ != '/')
          BuildTimer.this.synchronized { writes += ((kind, durationNs / 1e6)) }
        }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(listener)
  }

  /** Milliseconds of artifact writes per kind. */
  def buildMs: Map[String, Double] = synchronized {
    writes.groupBy(_._1).map { case (k, ws) => k -> ws.map(_._2).sum }
  }
}
