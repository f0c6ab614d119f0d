package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer numbers from Spark's public listeners. Nothing in graft is
  * instrumented: the listeners see jobs, stages, tasks, query executions
  * and streaming progress as any Spark application would. */
object Trace {

  /** Execution layer: jobs, stages and task metrics between `start` and
    * `stop`. Task skew is max ÷ median task run time per stage; the
    * reported value is the median over stages with at least two tasks. */
  final class Exec extends SparkListener {
    @volatile private var on = false
    private var jobs, stages, tasks = 0L
    private var runMs, cpuNs, gcMs, inB, shufW, shufR, spill = 0L
    private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    private val skews = mutable.ArrayBuffer.empty[Double]

    def start(spark: SparkSession): Unit = { ListenerBus.drain(spark.sparkContext); on = true }
    def stop(spark: SparkSession): Unit = { ListenerBus.drain(spark.sparkContext); on = false }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { if (on) jobs += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (on) {
        stages += 1
        val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
        taskTimes.remove(key).filter(_.size >= 2).foreach { ts =>
          val med = Result.median(ts.map(_.toDouble).toSeq)
          if (med > 0) skews += ts.max / med
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (on && m != null) {
        tasks += 1
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inB += m.inputMetrics.bytesRead
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }

    def report(out: Result): Unit = synchronized {
      val mb = 1048576.0
      out.layer("execution.jobs", jobs.toDouble)
      out.layer("execution.stages", stages.toDouble)
      out.layer("execution.tasks", tasks.toDouble)
      out.layer("execution.run_ms", runMs.toDouble)
      out.layer("execution.cpu_ms", cpuNs / 1e6)
      out.layer("execution.gc_ms", gcMs.toDouble)
      out.layer("execution.input_mb", inB / mb)
      out.layer("execution.shuffle_write_mb", shufW / mb)
      out.layer("execution.shuffle_read_mb", shufR / mb)
      out.layer("execution.spill_mb", spill / mb)
      out.layer("execution.task_skew", if (skews.isEmpty) 1.0 else Result.median(skews.toSeq))
    }
  }

  /** Catalyst layer: analysis / optimization / planning time of every
    * successful query execution (for a noop write, the write command's
    * execution, which plans the whole query). */
  final class Phases extends QueryExecutionListener {
    @volatile private var on = false
    private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def start(spark: SparkSession): Unit = { ListenerBus.drain(spark.sparkContext); on = true }
    def stop(spark: SparkSession): Unit = { ListenerBus.drain(spark.sparkContext); on = false }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) synchronized {
        qe.tracker.phases.foreach { case (phase, s) => sums(phase) += s.durationMs.toDouble }
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def report(out: Result): Unit = synchronized {
      out.layer("catalyst.analysis_ms", sums("analysis"))
      out.layer("catalyst.optimization_ms", sums("optimization"))
      out.layer("catalyst.planning_ms", sums("planning"))
    }
  }

  /** Every streaming progress report, kept whole (the engine keeps only
    * the last 100 in `recentProgress`). */
  final class Progress extends StreamingQueryListener {
    private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      ended.add(e.id)

    /** All reports of query `id`, in batch order, once it has ended. */
    def of(id: java.util.UUID): Seq[StreamingQueryProgress] = {
      val deadline = System.currentTimeMillis() + 60000
      while (!ended.contains(id) && System.currentTimeMillis() < deadline) Thread.sleep(5)
      require(ended.contains(id), s"no termination event for query $id")
      all.asScala.filter(_.id == id).toSeq.sortBy(p => (p.batchId, p.timestamp))
    }
  }
}
