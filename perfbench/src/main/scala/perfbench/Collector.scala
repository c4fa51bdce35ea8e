package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side numbers for one bucket of work (a timed unit, or one
  * traced span), read from Spark's public listener APIs only.
  */
final class Acc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var schedDelayMs = 0L
  var taskGcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var queries = 0L
  var indexJoins = 0L
  var nestedLoopJoins = 0L
  val seenPlans = scala.collection.mutable.HashSet.empty[Int]
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  val stragglerRatios = ArrayBuffer.empty[Double]

  /** Milliseconds of [t0, t1] covered by no job. */
  def driverOnlyMs(t0: Long, t1: Long): Double =
    (t1 - t0) - Trace.covered(jobSpans.toSeq.map { case (a, b) => (a max t0, b min t1) }
      .filter { case (a, b) => b > a }, t0, t1)
}

/** The benchmark's outside-in collector: one [[SparkListener]], one
  * [[QueryExecutionListener]] and one [[StreamingQueryListener]].
  *
  * Every timed unit runs in its own job group. Events are attributed
  * to the bucket that is open when the listener bus delivers them; a
  * bucket is closed only after a sentinel job submitted in the same
  * group has been observed, so every event the bucket's work posted
  * (the bus is FIFO per queue, and all three listeners share one) has
  * already been counted — no sleeps, no polling.
  */
final class Collector(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Sentinel = "perfbench-sentinel"

  @volatile private var current = new Acc
  private val stageAcc = new ConcurrentHashMap[Int, Acc]()
  private val stageDurations = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobAcc = new ConcurrentHashMap[Int, Acc]()
  private val sentinelJobs = new ConcurrentHashMap[Int, String]()
  private val sentinelSeq = new java.util.concurrent.atomic.AtomicLong()
  private val sentinelSeen = new ConcurrentHashMap[String, CountDownLatch]()
  private val terminated = new ConcurrentHashMap[String, CountDownLatch]()
  private val progress = new ConcurrentHashMap[String, ArrayBuffer[StreamingQueryProgress]]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      if (desc != null && desc.startsWith(Sentinel)) sentinelJobs.put(e.jobId, desc)
      else {
        val acc = current
        acc.jobs += 1
        jobAcc.put(e.jobId, acc)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageAcc.put(_, acc))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(sentinelJobs.remove(e.jobId)) match {
        case Some(token) => Option(sentinelSeen.remove(token)).foreach(_.countDown())
        case None =>
        val acc = jobAcc.remove(e.jobId)
        val t0 = jobStart.remove(e.jobId)
        if (acc != null && t0 != null) acc.jobSpans += ((t0.longValue, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val acc = stageAcc.remove(e.stageInfo.stageId)
      val ds = stageDurations.remove(e.stageInfo.stageId)
      if (acc != null) {
        acc.stages += 1
        if (ds != null && ds.size >= 2) {
          val s = ds.sorted
          val med = s(s.size / 2).max(1L)
          acc.stragglerRatios += s.last.toDouble / med
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stageAcc.get(e.stageId)
      if (acc != null && e.taskInfo != null) {
        acc.tasks += 1
        // listener callbacks run on the one bus thread of the shared queue
        stageDurations.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) +=
          e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          acc.taskCpuNs += m.executorCpuTime
          acc.taskGcMs += m.jvmGCTime
          acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          // the status page's scheduler-delay formula
          acc.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val acc = current
      val ph = qe.tracker.phases
      acc.queries += 1
      acc.analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
      acc.optimizationMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
      acc.planningMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
      // spatial joins the planner strategy indexed, and nested-loop joins
      // (what an unindexed spatial predicate falls back to)
      // (counted once per plan node, including the plans behind cached
      // relations, which is where a persisted stage's joins live)
      def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) {
        case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
        case other => Seq(other)
      }.flatten
      nodes(qe.executedPlan).filter(n => acc.seenPlans.add(System.identityHashCode(n)))
        .map(_.getClass.getSimpleName).foreach { n =>
          if (n == "SpatialIndexJoinExec") acc.indexJoins += 1
          if (n.endsWith("NestedLoopJoinExec")) acc.nestedLoopJoins += 1
        }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.computeIfAbsent(e.progress.runId.toString, _ => ArrayBuffer.empty) +=
        e.progress
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.computeIfAbsent(e.runId.toString, _ => new CountDownLatch(1)).countDown()
  })

  /** Open a fresh bucket under job group `group`; returns it. The
    * previous bucket must have been drained.
    */
  def open(group: String): Acc = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val acc = new Acc
    current = acc
    acc
  }

  /** Submit a one-task sentinel job in `group` and block until the
    * listener has observed its end: every event posted before it has
    * then been delivered to this collector.
    */
  def drain(group: String): Unit = {
    val token = s"$Sentinel-${sentinelSeq.incrementAndGet()}"
    val latch = new CountDownLatch(1)
    sentinelSeen.put(token, latch)
    sc.setJobGroup(group, token, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobGroup(group, group, interruptOnCancel = false)
    require(latch.await(60, TimeUnit.SECONDS), s"listener bus never delivered $token")
  }

  /** Block until the listener has seen `q` terminate, then return its
    * progress reports in order.
    */
  def awaitTerminated(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    val latch = terminated.computeIfAbsent(q.runId.toString, _ => new CountDownLatch(1))
    require(latch.await(60, TimeUnit.SECONDS), s"query ${q.runId} termination never observed")
    terminated.remove(q.runId.toString)
    Option(progress.remove(q.runId.toString)).map(_.toSeq).getOrElse(Seq.empty)
  }
}
