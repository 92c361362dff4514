package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of the traced run, fed by three listeners the
  * benchmark registers on the session: Spark scheduler events, finished
  * query executions (planning phases, final AQE plan shape, graftlog scan
  * metrics) and streaming progress. Counters are cumulative; the harness
  * drains the listener bus and takes a delta around each execution. */
final class Layers(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  def snapshot(): Map[String, Double] =
    counters.asScala.iterator.map { case (k, v) => k -> v.sum() }.toMap

  private val MB = 1024.0 * 1024.0

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_ms", m.executorRunTime.toDouble)
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("spark.input_mb", m.inputMetrics.bytesRead / MB)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        add("spark.output_mb", m.outputMetrics.bytesWritten / MB)
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(s"driver.${p}_ms", s.durationMs.toDouble))
      }
      val plan = qe.executedPlan
      PlanWalk.collectWithSubqueries(plan) { case n: SparkPlan => n }.foreach { n =>
        n match {
          case _: DataSourceScanExec | _: DataSourceV2ScanExecBase | _: InMemoryTableScanExec =>
            add("plan.scans", 1)
          case _: ShuffleExchangeLike => add("plan.exchanges", 1)
          case _: BroadcastExchangeLike => add("plan.broadcasts", 1)
          case _ =>
        }
        n.metrics.get("recordsSkipped").foreach { skipped =>
          add("graftlog.records_skipped", skipped.value.toDouble)
          n.metrics.get("numOutputRows").foreach(r => add("graftlog.records_read", r.value.toDouble))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamStarts = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  private val streamPeakState = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStarts.put(e.runId, System.nanoTime())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets", "latestOffset",
          "queryPlanning").foreach { k =>
        Option(p.durationMs.get(k)).foreach(v => add(s"streaming.${k}_ms", v.doubleValue))
      }
      val ops = p.stateOperators
      add("streaming.state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble)
      val rows = ops.map(_.numRowsTotal).sum
      streamPeakState.merge(p.runId, rows, (a, b) => math.max(a, b))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val t0 = streamStarts.remove(e.runId)
      if (t0 != null) add("streaming.wall_ms", (System.nanoTime() - t0) / 1e6)
      val peak = streamPeakState.remove(e.runId)
      if (peak != null) add("streaming.state_rows", peak.toDouble)
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
    attached = false
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
}

object Layers {

  /** Regular files under the storage roots: path -> (size, mtime). */
  def files(roots: Seq[String]): Map[String, (Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long)]
    roots.map(Paths.get(_)).filter(Files.isDirectory(_)).foreach { root =>
      val it = Files.walk(root)
      try it.iterator().asScala.foreach { p: Path =>
        try {
          if (Files.isRegularFile(p))
            b += p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        } catch { case _: java.io.IOException => () } // deleted mid-walk
      } catch { case _: java.io.UncheckedIOException => () }
      finally it.close()
    }
    b.result()
  }

  /** (files written, files deleted, bytes written) between two listings. */
  def fileDiff(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Int, Int, Long) = {
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    (written.size, before.keysIterator.count(!after.contains(_)), written.valuesIterator.map(_._1).sum)
  }

  /** Session state a query must leave as it found it: SQL conf entries and
    * catalog tables / temporary views. */
  def sessionState(spark: SparkSession): Map[String, String] = {
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.catalog
    val tables = catalog.listDatabases().flatMap(db => catalog.listTables(db))
      .map(t => s"table:${t.unquotedString}" -> "")
    spark.conf.getAll.map { case (k, v) => s"conf:$k" -> v } ++ tables
  }

  def stateDiff(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.filter(k => before.get(k) != after.get(k)).sorted
}
