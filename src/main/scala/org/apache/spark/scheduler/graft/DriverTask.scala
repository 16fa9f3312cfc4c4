package org.apache.spark.scheduler.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{SparkContext, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.scheduler.TaskSchedulerImpl
import org.apache.spark.util.Utils

/** Runs a body on the calling thread as the one task (partition 0,
  * attempt 0) of a stage of its own: a `TaskContext` is set, and the
  * output commit coordinator knows the stage, so a task commit through
  * a `FileCommitProtocol` asks and is granted permission as an executor's
  * task is. The stage ids count down from `Int.MaxValue`, away from the
  * DAG scheduler's, which count up from 0; the task attempt id is the
  * task scheduler's next. It lives in the scheduler's package because
  * registering a stage with the coordinator is private to it. */
private[spark] object DriverTask {
  private val stageIds = new AtomicInteger(Int.MaxValue)

  def run[T](sc: SparkContext)(body: TaskContext => T): T = {
    val env = SparkEnv.get
    val stageId = stageIds.getAndDecrement()
    val taskId = sc.taskScheduler.asInstanceOf[TaskSchedulerImpl].newTaskId()
    val memory = new TaskMemoryManager(env.memoryManager, taskId)
    val ctx = new TaskContextImpl(stageId, 0, 0, taskId, 0, 1, memory,
      Utils.cloneProperties(sc.getLocalProperties), env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    env.outputCommitCoordinator.stageStart(stageId, maxPartitionId = 0)
    TaskContext.setTaskContext(ctx)
    try {
      val result = body(ctx)
      ctx.markTaskCompleted(None)
      result
    } catch {
      case t: Throwable =>
        try {
          ctx.markTaskFailed(t)
          ctx.markTaskCompleted(Some(t))
        } catch { case listener: Throwable => t.addSuppressed(listener) }
        throw t
    } finally {
      TaskContext.unset()
      memory.cleanUpAllAllocatedMemory()
      env.outputCommitCoordinator.stageEnd(stageId)
    }
  }
}
