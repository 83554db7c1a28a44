package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Benchmark-owned engine listener: job, stage and task counts plus the
  * task metrics a Spark plan's cost lands in. Only counts while `on`.
  */
final class EngineListener extends SparkListener {
  @volatile var on = false
  val jobs, stages, tasks = new AtomicLong
  val shuffleReadB, shuffleWriteB, spillB = new AtomicLong
  val cpuNs, runMs, schedMs, gcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    cpuNs.addAndGet(m.executorCpuTime)
    runMs.addAndGet(m.executorRunTime)
    gcMs.addAndGet(m.jvmGCTime)
    // scheduler delay: task wall time not spent deserializing, running
    // or shipping the result (the Spark UI's definition)
    val info = e.taskInfo
    schedMs.addAndGet(math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
  }
}

/** Micro-batch `durationMs` split of every progress event while `on`. */
final class StreamListener extends StreamingQueryListener {
  @volatile var on = false
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (on && e.progress.numInputRows > 0) {
      import scala.jdk.CollectionConverters._
      batches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
}

/** Operator census of a forced frame's final (post-AQE) plan. */
final class Census {
  val exchanges, bnlj, broadcasts, frames = new DoubleAdder

  def add(plan: SparkPlan): Unit = {
    frames.add(1)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: BroadcastExchangeLike => broadcasts.add(1)
        case _: ShuffleExchangeLike => exchanges.add(1)
        case r: ReusedExchangeExec => r.child match {
          case _: BroadcastExchangeLike => broadcasts.add(1)
          case _ => exchanges.add(1)
        }
        case _: BroadcastNestedLoopJoinExec => bnlj.add(1)
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: ReusedExchangeExec => ()
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
  }
}
