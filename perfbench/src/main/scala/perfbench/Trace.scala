package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2TableWriteExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-op counters of a traced run, kept in memory and
  * written out when the run ends.
  *
  * Spans nest: run > pass > op > layer call (`lane.build`,
  * `lane.execute`, `ingest.*`, `io.write`) > `spark.job`. A job's parent
  * is the span open on the thread that submitted it, carried in a local
  * property. Counters come from three listeners (jobs and stages,
  * finished SQL executions, streaming progress) and are attributed to
  * the op in flight; the harness runs one op at a time and drains the
  * listener bus before the next op starts, so the attribution is exact.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  // converts listener event times (epoch ms) onto the nanoTime axis
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private var nextSpan = 0
  @volatile private var op = -1
  private val counters = mutable.Map[Int, mutable.Map[String, Double]]()
  private val jobStart = mutable.Map[Int, (Long, Int, Int)]()
  private val stageOp = mutable.Map[Int, Int]()

  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def countersOf(opId: Int): Map[String, Double] =
    synchronized(counters.get(opId).map(_.toMap).getOrElse(Map.empty))

  def add(opId: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(opId, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  private def record(s: Span): Unit = synchronized(spanBuf += s)
  private def newSpanId(): Int = synchronized { nextSpan += 1; nextSpan }

  /** Runs `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val id = newSpanId()
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    sc.setLocalProperty(SpanProperty, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      open.pop()
      sc.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
      record(Span(id, parent, op, name, start, end))
    }
  }

  def beginOp(opId: Int): Unit = {
    op = opId
    sc.setLocalProperty(OpProperty, opId.toString)
  }

  /** Waits until every event of the op in flight is counted. */
  def endOp(): Unit = Internals.drainListeners(sc)

  private def prop(p: java.util.Properties, key: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(key))).map(_.toInt).getOrElse(-1)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val opId = prop(e.properties, OpProperty)
      jobStart(e.jobId) = (e.time, prop(e.properties, SpanProperty), opId)
      e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, opId))
      add(opId, "spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent, opId) =>
        record(Span(newSpanId(), parent, opId, "spark.job",
          t0 * 1000000L - epochOffsetNs, e.time * 1000000L - epochOffsetNs))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val opId = Trace.this.synchronized(stageOp.getOrElse(info.stageId, op))
      val wallS = (for (a <- info.submissionTime; b <- info.completionTime)
        yield (b - a) / 1000.0).getOrElse(0.0)
      add(opId, "spark.stages", 1)
      add(opId, "spark.tasks", info.numTasks)
      add(opId, "spark.stage_s", wallS)
      if (info.numTasks == 1) add(opId, "spark.serial_stage_s", wallS)
      Option(info.taskMetrics).foreach { m =>
        add(opId, "spark.task_s", m.executorRunTime / 1000.0)
        add(opId, "spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(opId, "spark.spill_bytes", m.diskBytesSpilled)
        // file-source (V1) writes; DataSource V2 writes report no task
        // output metrics and are counted from their plans in `walk`
        add(opId, "io.output_rows", m.outputMetrics.recordsWritten)
      }
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val opId = op
      qe.tracker.phases.foreach { case (phase, s) =>
        add(opId, s"catalyst.${phase}_ms", s.durationMs.toDouble)
      }
      // the benchmark's own digest sink is not the engine's IO
      val ownSink = qe.analyzed match {
        case w: V2WriteCommand => w.table match {
          case r: DataSourceV2Relation => r.table eq HashTable
          case _ => false
        }
        case _ => false
      }
      walk(opId, qe.executedPlan, ownSink)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Adds the operator metrics of a finished plan: aggregation time,
    * scan time, rows read, and the rows a DataSource V2 write consumed. */
  private def walk(opId: Int, p: SparkPlan, ownSink: Boolean): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(opId, a.executedPlan, ownSink)
    case q: QueryStageExec => walk(opId, q.plan, ownSink)
    case _: ReusedExchangeExec => ()
    case w: V2TableWriteExec =>
      if (!ownSink) add(opId, "io.output_rows", rowsOut(w.query).toDouble)
      walk(opId, w.query, ownSink)
    case n =>
      val cls = n.getClass.getSimpleName
      if (cls.endsWith("AggregateExec"))
        n.metrics.get("aggTime").foreach(m => add(opId, "queries.agg_s", seconds(m)))
      if (cls == "FileSourceScanExec" || cls == "BatchScanExec") {
        n.metrics.get("scanTime").foreach(m => add(opId, "sources.scan_s", seconds(m)))
        n.metrics.get("numOutputRows").foreach(m => add(opId, "sources.rows_read", m.value))
      }
      n.children.foreach(walk(opId, _, ownSink))
      n.subqueries.foreach(walk(opId, _, ownSink))
  }

  /** Rows a finished plan produced: the `numOutputRows` of its top
    * operator that counts them, or the sum over its children for
    * operators that pass rows through uncounted (project, exchange,
    * union, codegen wrappers). */
  private def rowsOut(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
    case q: QueryStageExec => rowsOut(q.plan)
    case r: ReusedExchangeExec => rowsOut(r.child)
    case n => n.metrics.get("numOutputRows").map(_.value)
      .getOrElse(n.children.map(rowsOut).sum)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add(op, "streaming.batches", 1)
      Trace.this.synchronized {
        batchSeconds += e.progress.batchDuration / 1000.0
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private val batchSeconds = mutable.ArrayBuffer[Double]()
  def streamingBatchSeconds: Seq[Double] = synchronized(batchSeconds.toList)

  def install(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streaming)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  val OpProperty = "perfbench.op"

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startNs: Long, endNs: Long)

  /** Bytes written so far through Hadoop's local file system by every
    * thread of this JVM: table files, commit logs, checkpoints. The
    * checksummed file system and the raw one under it keep separate
    * statistics; the raw one sees every byte, checksum files included. */
  def fsBytesWritten(): Long = FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file").map(_.getBytesWritten).maxOption.getOrElse(0L)

  private def seconds(m: SQLMetric): Double = m.metricType match {
    case "nsTiming" => m.value / 1e9
    case _ => m.value / 1e3
  }
}
