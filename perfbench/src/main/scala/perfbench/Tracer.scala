package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Times each layer from outside the engine. Listeners are attached
  * only around traced statements; each statement gets a span id that
  * rides into Spark as a local property, so its jobs link back to it.
  * Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val events = new ConcurrentLinkedQueue[Event]()
  private var nextId = 1L
  private def newId(): Long = { nextId += 1; nextId }

  val spans = mutable.ArrayBuffer.empty[Span]
  /** (class, statement name, per-statement layer figures) */
  val records = mutable.ArrayBuffer.empty[(String, String, Map[String, Double])]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      events.add(JobStart(e.jobId, e.time.toDouble, e.stageIds, span.map(_.toLong).getOrElse(-1L)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(JobEnd(e.jobId, e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val sm = Map(
        "spark.tasks" -> i.numTasks.toDouble,
        "spark.task_run_ms" -> m.executorRunTime.toDouble,
        "spark.task_cpu_ms" -> m.executorCpuTime / 1e6,
        "spark.gc_ms" -> m.jvmGCTime.toDouble,
        "spark.input_rows" -> m.inputMetrics.recordsRead.toDouble,
        "spark.shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spark.shuffle_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
        "spark.spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      events.add(StageDone(i.stageId, i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble, sm))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      events.add(Query(
        qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) },
        qe.optimizedPlan.collect { case n => n }.size,
        qe.optimizedPlan.toString.contains(KnnMarker),
        PlanWalk.leafRows(qe.executedPlan)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      events.add(StreamBatch(d.get("addBatch").map(_.toDouble).getOrElse(0.0),
        d.get("walCommit").map(_.toDouble).getOrElse(0.0)))
    }
  }

  /** Runs `body` as one statement. Untraced, it only times the wall;
    * traced, it also records spans and layer figures. `body` returns
    * its result row count and the ms spent inside `Engine.executeSql`. */
  def statement(cls: String, name: String, traced: Boolean)(body: => (Long, Double)): Double = {
    if (!traced) {
      val t0 = System.nanoTime()
      body
      return (System.nanoTime() - t0) / 1e6
    }
    events.clear()
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    val id = newId()
    sc.setLocalProperty(SpanKey, id.toString)
    val s0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val (resultRows, sqlMs) =
      try body
      finally {
        sc.setLocalProperty(SpanKey, null)
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(sparkListener)
        spark.listenerManager.unregister(queryListener)
        spark.streams.removeListener(streamListener)
      }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val stmt = Span(id, 0, "statement", name, s0, s0 + wallMs)
    records += ((cls, name, attribute(stmt, resultRows, sqlMs)))
    wallMs
  }

  /** Adds a figure measured outside the last traced statement. */
  def annotate(key: String, value: Double): Unit = {
    val (c, n, f) = records.last
    records(records.length - 1) = (c, n, f + (key -> value))
  }

  /** Turns the statement's drained events into spans and figures. */
  private def attribute(stmt: Span, resultRows: Long, sqlMs: Double): Map[String, Double] = {
    val evs = events.asScala.toSeq
    events.clear()
    val f = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val mine = mutable.ArrayBuffer(stmt)
    val ends = evs.collect { case JobEnd(j, t) => j -> t }.toMap
    val stages = evs.collect { case s: StageDone => s.stageId -> s }.toMap
    var leafRows = 0L
    evs.foreach {
      case JobStart(j, t, stageIds, span) if span == stmt.id =>
        val job = Span(newId(), stmt.id, "job", s"job $j", t, ends.getOrElse(j, t))
        mine += job
        f("spark.jobs") += 1
        stageIds.flatMap(stages.get).foreach { s =>
          mine += Span(newId(), job.id, "stage", s"stage ${s.stageId}", s.startMs, s.endMs)
          s.metrics.foreach { case (k, v) => f(k) += v }
        }
      case Query(phases, nodes, rewritten, rows) =>
        phases.foreach { case (n, a, b) =>
          mine += Span(newId(), stmt.id, "phase", n, a, b)
          f(s"plan.${n}_ms") += b - a
        }
        f("plan.nodes") += nodes
        if (rewritten) f("index.rewrite_frac") = 1.0
        leafRows += rows
      case StreamBatch(add, wal) =>
        f("stream.batches") += 1
        f("stream.add_batch_ms") += add
        f("stream.wal_commit_ms") += wal
      case _ => ()
    }
    spans ++= mine
    val stageIv = mine.filter(_.kind == "stage").map(s => (s.startMs, s.endMs)).toSeq
    f("wall_ms") = stmt.durMs
    f("engine.sql_ms") = sqlMs
    f("spark.driver_gap_ms") = stmt.durMs - Spans.covered(stmt.startMs, stmt.endMs, stageIv)
    f("scan.leaf_rows") = leafRows.toDouble
    f("result_rows") = resultRows.toDouble
    f("self.stmt_ms") = Spans.selfMs(stmt, mine.toSeq)
    f("cache.mb") = Cleanup.cacheMb(spark)
    f("self.job_ms") = mine.filter(_.kind == "job").map(Spans.selfMs(_, mine.toSeq)).sum
    f.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** The column `VectorIndexScanRule` names its index id set with. */
  val KnnMarker = "__graft_knn_id"

  private sealed trait Event
  private final case class JobStart(jobId: Int, t: Double, stageIds: Seq[Int], span: Long) extends Event
  private final case class JobEnd(jobId: Int, t: Double) extends Event
  private final case class StageDone(stageId: Int, startMs: Double, endMs: Double,
      metrics: Map[String, Double]) extends Event
  private final case class Query(phases: Seq[(String, Double, Double)], nodes: Int,
      rewritten: Boolean, leafRows: Long) extends Event
  private final case class StreamBatch(addBatchMs: Double, walCommitMs: Double) extends Event

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def leafRows(p: SparkPlan): Long =
      collectLeaves(p).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
}
