package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are wall-clock
  * milliseconds (fractional), so they line up with Spark's listener
  * event times. `parent` is the id of the enclosing span, -1 at the
  * root. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
}

/** Wall clock with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded from the benchmark's own code around each public call
  * into the engine. Kept in memory; written out when the run ends. Off,
  * it only evaluates the body. */
final class Tracer(val on: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, layer: String, attrs: Map[String, Any] = Map.empty)
             (body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = synchronized { stack.headOption.getOrElse(-1) }
      synchronized { stack = id :: stack }
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        synchronized {
          stack = stack.tail
          buf += Span(id, parent, name, layer, t0, t1, attrs)
        }
      }
    }

  def spans: Seq[Span] = synchronized(buf.toList)
}

final case class JobRec(id: Int, label: String, start: Double,
                        var end: Double, stageIds: Seq[Int])

final case class StageRec(tasks: Int, runMs: Double, cpuMs: Double,
                          gcMs: Double, inputBytes: Long, inputRecords: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          outputBytes: Long)

final case class EpochRec(batchId: Long, start: Double, rows: Long,
                          durations: Map[String, Long])

final case class PlanRec(start: Double, planningMs: Double)

/** The three listeners the traced run attaches from outside the engine:
  * Spark jobs and stages, streaming progress, and query executions. */
final class Probe(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val epochs = mutable.ArrayBuffer.empty[EpochRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, label, e.time.toDouble, Double.NaN,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null) stages(i.stageId) = StageRec(i.numTasks,
          m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        val d = mutable.Map.empty[String, Long]
        p.durationMs.forEach((k, v) => d(k) = v.longValue)
        epochs += EpochRec(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.numInputRows, d.toMap)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values.toSeq
      if (ph.nonEmpty) Probe.this.synchronized {
        plans += PlanRec(ph.map(_.startTimeMs).min.toDouble,
          ph.map(_.durationMs).sum.toDouble)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait for every queued listener event, then detach. */
  def detach(): Unit = {
    org.apache.spark.perfbenchaccess.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }
}
