package org.apache.spark.sql.graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.{NarrowDependency, SparkContext, TaskContext, TaskContextImpl, TaskKilledException}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.util.Utils

/**
 * Runs a computation on the calling thread as a task of its own, outside
 * the scheduler: the part of an executor's set-up and tear-down around a
 * task that a computation reads. The task has its own memory manager and
 * an attempt id that no scheduler issues; it is registered with the block
 * manager, so broadcast and cached-block reads can take their read locks;
 * and it is the thread's `TaskContext` while the computation runs. Then,
 * as an executor does, the failure listeners (on a throw) and the
 * completion listeners run, and the task's memory and block locks are
 * released. Setting the `killed` flag kills the task: every
 * `InterruptibleIterator` it reads through throws at its next row.
 * [[rows]] computes a physical plan's rows that way when its RDD allows.
 */
object localTask {

  /** Attempt ids count up from `Long.MinValue`: negative, so never one the
    * scheduler issues (it counts up from 0), and far from the block
    * manager's reserved -1 and -1024. */
  private val ids = new AtomicLong(Long.MinValue)

  private final class Context(id: Long, memory: TaskMemoryManager, sc: SparkContext, killed: AtomicBoolean)
    extends TaskContextImpl(0, 0, 0, id, 0, 1, memory, Utils.cloneProperties(sc.getLocalProperties),
      sc.env.metricsSystem, TaskMetrics.empty) {
    private def reason: Option[String] = if (killed.get) Some("the computation was cancelled") else None
    override def isInterrupted(): Boolean = super.isInterrupted() || killed.get
    override def getKillReason(): Option[String] = super.getKillReason().orElse(reason)
    override def killTaskIfInterrupted(): Unit = {
      super.killTaskIfInterrupted()
      reason.foreach(r => throw new TaskKilledException(r))
    }
  }

  /** `f` under a task context of its own, on this thread. */
  def run[T](sc: SparkContext, killed: AtomicBoolean)(f: TaskContext => T): T = {
    val blocks = sc.env.blockManager
    val id = ids.getAndIncrement()
    val memory = new TaskMemoryManager(sc.env.memoryManager, id)
    val context = new Context(id, memory, sc, killed)
    blocks.registerTask(id)
    InputFileBlockHolder.initialize()
    TaskContext.setTaskContext(context)
    try {
      try f(context)
      catch {
        case e: Throwable =>
          try context.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          context.markTaskCompleted(Some(e))
          throw e
      } finally context.markTaskCompleted(None) // a no-op after a throw
    } finally {
      try {
        blocks.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP)
        blocks.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP)
      } finally {
        TaskContext.unset()
        InputFileBlockHolder.unset()
        blocks.releaseAllLocksForTask(id)
        memory.cleanUpAllAllocatedMemory()
        val mm = sc.env.memoryManager
        mm.synchronized(mm.notifyAll()) // wake tasks waiting for memory, as an executor does
      }
    }
  }

  /** `plan`'s rows, at most `max` of them (all of them when `None`). When
    * the plan's RDD is one partition whose dependencies are narrow all the
    * way down, that partition is computed on this thread under [[run]],
    * with no job, and stops at `max` rows; otherwise the plan runs as
    * `executeCollect` (or `executeTake`) runs it, as jobs: a shuffle's map
    * side runs only as a stage the scheduler runs first, so computing a
    * plan that shuffles here would read map output nothing had written.
    * Building the RDD first computes what the plan needs: its subqueries,
    * and its broadcasts as jobs of their own. */
  def rows(plan: SparkPlan, killed: AtomicBoolean, max: Option[Int] = None): Array[InternalRow] = {
    val rdd = plan.execute()
    if (rdd.getNumPartitions == 1 && narrow(rdd))
      run(plan.session.sparkContext, killed) { task =>
        val it = rdd.iterator(rdd.partitions.head, task).map(_.copy())
        max.fold(it)(it.take).toArray
      }
    else max.fold(plan.executeCollect())(plan.executeTake)
  }

  private def narrow(rdd: RDD[_]): Boolean = rdd.dependencies.forall {
    case d: NarrowDependency[_] => narrow(d.rdd)
    case _ => false
  }
}
