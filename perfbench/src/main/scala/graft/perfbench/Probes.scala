package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one layer inside one op, in epoch milliseconds. */
final case class Span(op: Int, layer: String, name: String,
                      startMs: Double, endMs: Double)

/** Per-op counters filled by the listeners. Fields are only touched on
  * the listener-bus thread while the op runs and read after the bus has
  * been drained, so plain vars suffice. */
final class OpCounters {
  var cpuNs = 0L; var failedTasks = 0L
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var deserializeMs = 0L; var runMs = 0L; var queueMs = 0L
  var inputBytes = 0L; var inputRecords = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L
  var spillBytes = 0L; var resultBytes = 0L
  var queryExecutions = 0L
  var analysisMs = 0.0; var optimizationMs = 0.0; var planningMs = 0.0
  var graftRulesMs = 0.0
}

/** Everything the harness observes from outside the engine: Spark's public
  * listener APIs, the codegen compile counter, JVM MXBeans and Hadoop
  * FileSystem statistics. Untraced it keeps only the executor CPU and
  * failed-task totals the end-to-end metrics need. While a traced group
  * runs, the planning and GC listeners are registered and per-op layer
  * counters and spans are kept.
  */
final class Probes(sc: SparkContext) {
  @volatile private var traced = false
  private val counters = new ConcurrentHashMap[Int, OpCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var currentOp: Int = -1

  def groupOf(op: Int): String = s"perfbench-op-$op"
  private def opOf(group: String): Int =
    if (group != null && group.startsWith("perfbench-op-"))
      group.stripPrefix("perfbench-op-").toInt
    else -1

  def countersOf(op: Int): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  def begin(op: Int): Unit = { countersOf(op); currentOp = op }

  /** Deliver every pending listener event; call before reading an op. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  def end(): Unit = { drain(); currentOp = -1 }

  def span(s: Span): Unit = if (traced) spans.add(s): Unit
  def allSpans: Seq[Span] = spans.asScala.toSeq

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull)
      e.stageIds.foreach(stageGroup.put(_, op))
      if (traced && op >= 0) {
        val c = countersOf(op); c.jobs += 1
        jobStart.put(e.jobId, (op, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        span(Span(op, "exec", "exec.job", t0.toDouble, e.time.toDouble))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      stageSubmitMs.put(id, e.stageInfo.submissionTime
        .getOrElse(System.currentTimeMillis()))
      if (traced) {
        val op = stageGroup.getOrDefault(id, -1)
        if (op >= 0) countersOf(op).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageGroup.getOrDefault(e.stageId, -1)
      if (op >= 0) {
        val c = countersOf(op)
        if (!e.taskInfo.successful) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          if (traced) {
            c.tasks += 1
            c.deserializeMs += m.executorDeserializeTime
            c.runMs += m.executorRunTime
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRecords += m.inputMetrics.recordsRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.resultBytes += m.resultSize
          }
        }
        if (traced) {
          val submit = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
          c.queueMs += math.max(0L, e.taskInfo.launchTime - submit)
        }
      }
    }
  }
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()

  /** Planning phases and graft optimizer-rule time of every Dataset action
    * an op runs, including the eager ones inside DataFrame construction. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val op = currentOp
      if (traced && op >= 0) {
        val c = countersOf(op)
        c.queryExecutions += 1
        qe.tracker.phases.foreach { case (phase, p) =>
          val ms = (p.endTimeMs - p.startTimeMs).toDouble
          phase match {
            case "analysis" => c.analysisMs += ms
            case "optimization" => c.optimizationMs += ms
            case "planning" => c.planningMs += ms
            case _ =>
          }
          span(Span(op, "catalyst", s"catalyst.$phase",
            p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
        c.graftRulesMs += qe.tracker.rules.collect {
          case (name, r) if name.startsWith("graft.") => r.totalTimeNs / 1e6
        }.sum
      }
    }
  }

  /** GC pauses as `jvm.gc` spans, attributed to the op running when the
    * collection ended. */
  private val gcStartEpochMs =
    ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val gcListener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val op = currentOp
        if (op >= 0) {
          val g = info.getGcInfo
          span(Span(op, "jvm", "jvm.gc", gcStartEpochMs + g.getStartTime,
            gcStartEpochMs + g.getEndTime))
        }
      }
  }

  def install(): Unit = sc.addSparkListener(listener)

  /** Per-op layer counters, spans and the planning and GC listeners, only
    * while a traced group runs, so untraced groups pay for none of them. */
  def enableTracing(spark: org.apache.spark.sql.SparkSession): Unit = {
    traced = true
    spark.listenerManager.register(queryListener)
    gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))
  }

  def disableTracing(spark: org.apache.spark.sql.SparkSession): Unit = {
    drain()
    spark.listenerManager.unregister(queryListener)
    gcEmitters.foreach(_.removeNotificationListener(gcListener))
    traced = false
  }

  private def gcEmitters: Seq[javax.management.NotificationEmitter] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq.collect {
      case e: javax.management.NotificationEmitter => e
    }
}

/** Process-wide gauges read before and after each op. */
object Gauges {
  def nowMs: Double = System.currentTimeMillis().toDouble

  def gc: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(b.getCollectionCount, 0L)).sum,
      beans.map(b => math.max(b.getCollectionTime, 0L)).sum)
  }

  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use right after a full collection: the live heap. The
    * second collection runs after Spark's cleaner has dropped what the
    * first one released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def persistedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def stagingMisses: Int = graft.ops.Staging.missedKeys.length

  /** Bytes from Hadoop's FileSystem statistics for the `file` scheme;
    * operation counts from [[CountingLocalFileSystem]]. */
  def fs: Map[String, Long] = {
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator().asScala.filter(_.getScheme == "file").toSeq
    def bytes(k: String) = stats.map(s => Option(s.getLong(k)).map(_.longValue).getOrElse(0L)).sum
    Map("bytesWritten" -> bytes("bytesWritten"), "bytesRead" -> bytes("bytesRead"),
      "listOps" -> CountingLocalFileSystem.lists.get,
      "readOps" -> CountingLocalFileSystem.reads.get,
      "writeOps" -> CountingLocalFileSystem.writes.get)
  }
}
