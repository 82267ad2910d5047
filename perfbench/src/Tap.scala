package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The traced run's counters, attached through the public Spark API only:
  * a SparkListener (jobs, tasks, busy and waiting time, shuffle, spill,
  * input) and a QueryExecutionListener (planning phases, and executions
  * whose plan holds the diff's full outer join).
  *
  * Listener events arrive asynchronously, so [[snapshot]] and [[delta]]
  * first run a one-task marker job and wait for its end event: events
  * reach a listener in order, so every earlier event has been counted by
  * then. The marker's own job and task are not counted.
  */
final class Tap(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val SyncGroup = "perfbench.sync"
  private val jobs, tasks, busyMs, waitMs, shuffleWrite, spill, rowsRead, bytesRead,
    sqlExecs, diffEvals, planMs = new AtomicLong()
  private val syncStages = ConcurrentHashMap.newKeySet[Int]()
  private val syncJobs = new ConcurrentHashMap[Int, CountDownLatch]()
  @volatile private var pendingLatch: CountDownLatch = _
  @volatile private var attached = false
  private var maxPersistent0 = 0
  private var maxStorage0 = 0L

  def maxPersistent: Int = maxPersistent0
  def maxStorageBytes: Long = maxStorage0

  /** Registers (true) or removes (false) both listeners. */
  def enable(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    } else {
      sync()
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
    attached = on
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == SyncGroup) {
      e.stageIds.foreach(syncStages.add)
      syncJobs.put(e.jobId, pendingLatch)
    } else jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(syncJobs.remove(e.jobId)).foreach(_.countDown())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!syncStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks.incrementAndGet()
      busyMs.addAndGet(m.executorRunTime)
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + i.gettingResultTime
      waitMs.addAndGet(math.max(0L, i.duration - overhead) + m.shuffleReadMetrics.fetchWaitTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      rowsRead.addAndGet(m.inputMetrics.recordsRead)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => sqlExecs.incrementAndGet(); ()
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    if (qe.executedPlan.toString.contains("FullOuter")) diffEvals.incrementAndGet()
    ()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Blocks until every event posted before this call has been handled. */
  private def sync(): Unit = if (attached) {
    val latch = new CountDownLatch(1)
    pendingLatch = latch
    val sc = spark.sparkContext
    sc.setJobGroup(SyncGroup, SyncGroup)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    latch.await(30, TimeUnit.SECONDS)
    ()
  }

  /** Persistent RDDs and storage bytes right now; keeps the maxima. */
  def sampleCache(): Unit = {
    val sc = spark.sparkContext
    maxPersistent0 = math.max(maxPersistent0, sc.getPersistentRDDs.size)
    maxStorage0 = math.max(maxStorage0, sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
  }

  def snapshot(): Tap.Delta = {
    sync()
    Tap.Delta(0.0, jobs.get, tasks.get, busyMs.get / 1e3, waitMs.get / 1e3, shuffleWrite.get,
      spill.get, rowsRead.get, bytesRead.get, sqlExecs.get, diffEvals.get, planMs.get / 1e3)
  }

  /** Counters accrued since `b`, with `wall` the caller's own timing. */
  def delta(b: Tap.Delta, wall: Double): Tap.Delta = {
    val a = snapshot()
    Tap.Delta(wall, a.jobs - b.jobs, a.tasks - b.tasks, a.busyS - b.busyS, a.waitS - b.waitS,
      a.shuffleWrite - b.shuffleWrite, a.spill - b.spill, a.rowsRead - b.rowsRead,
      a.bytesRead - b.bytesRead, a.sqlExecs - b.sqlExecs, a.diffEvals - b.diffEvals, a.planS - b.planS)
  }
}

object Tap {
  final case class Delta(wall: Double, jobs: Long, tasks: Long, busyS: Double, waitS: Double,
      shuffleWrite: Long, spill: Long, rowsRead: Long, bytesRead: Long, sqlExecs: Long,
      diffEvals: Long, planS: Double)
}
