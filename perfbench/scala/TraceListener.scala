package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side half of the traced run. Attached by configuration only, never
  * by the program:
  *
  *   -Dspark.extraListeners=perfbench.TraceListener
  *   -Dspark.sql.queryExecutionListeners=perfbench.TraceListener
  *   -Dperfbench.trace.out=<file>
  *
  * Spark instantiates the class once per hook; both instances append to the
  * shared in-memory [[Trace]] buffer, which is written as JSON lines when
  * the application ends (SparkContext.stop, including the shutdown hook a
  * SIGTERM runs). Times are epoch milliseconds, so the benchmark can cut
  * the trace to its measured window.
  */
class TraceListener extends SparkListener with QueryExecutionListener {
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    stageSubmit.put((s.stageId, s.attemptNumber()),
      s.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.add(s"""{"ev":"job","t":${e.time},"job":${e.jobId}}""")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val submit = stageSubmit.getOrDefault((e.stageId, e.stageAttemptId), i.launchTime)
    val m = e.taskMetrics
    val metrics =
      if (m == null) ""
      else {
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        s""","run":${m.executorRunTime},"cpu":${m.executorCpuTime / 1000000.0},""" +
          s""""gc":${m.jvmGCTime},"in_b":${m.inputMetrics.bytesRead},""" +
          s""""in_r":${m.inputMetrics.recordsRead},"out_b":${m.outputMetrics.bytesWritten},""" +
          s""""sw_b":${sw.bytesWritten},"sw_r":${sw.recordsWritten},""" +
          s""""sr_b":${sr.totalBytesRead},"sr_r":${sr.recordsRead},""" +
          s""""fetch_wait":${sr.fetchWaitTime},"spill_mem":${m.memoryBytesSpilled},""" +
          s""""spill_disk":${m.diskBytesSpilled},"peak_mem":${m.peakExecutionMemory}"""
      }
    Trace.add(s"""{"ev":"task","t":${i.finishTime},"launch":${i.launchTime},""" +
      s""""delay":${i.launchTime - submit},"ok":${i.successful}$metrics}""")
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = Trace.flush()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(funcName, qe, 0L, ok = false)

  private def query(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val nodes = Trace.walk(plan).toSeq
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    val write = nodes.collectFirst {
      case d: DataWritingCommandExec => d.cmd
    }.collect { case i: InsertIntoHadoopFsRelationCommand => i.fileFormat.toString.toLowerCase }
    Trace.add(s"""{"ev":"query","t":${System.currentTimeMillis()},"func":"$funcName",""" +
      s""""ok":$ok,"dur":${durationNs / 1000000.0},"analysis":${phaseMs("analysis")},""" +
      s""""optimization":${phaseMs("optimization")},"planning":${phaseMs("planning")},""" +
      s""""exchanges":$exchanges,"fallback":${Trace.codegenFallbacks(plan)}""" +
      write.fold("")(w => s""","write":"$w"""") + "}")
  }
}

object Trace {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var written = false

  def add(line: String): Unit = buf.add(line)

  def flush(): Unit = synchronized {
    if (!written) {
      written = true
      Option(System.getProperty("perfbench.trace.out")).foreach { out =>
        val sb = new java.lang.StringBuilder()
        buf.forEach(l => sb.append(l).append('\n'))
        Files.write(Paths.get(out), sb.toString.getBytes(UTF_8))
      }
    }
  }

  /** Every physical node, descending into adaptive query stages and the
    * plans commands ran; a reused exchange's original is not visited twice. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = Iterator.single(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case c: CommandResultExec => walk(c.commandPhysicalPlan)
    case _ => p.children.iterator.flatMap(walk) ++ p.subqueries.iterator.flatMap(walk)
  })

  /** Non-leaf operators that run outside whole-stage codegen, not counting
    * the plan's structural nodes (exchanges, stage wrappers, commands). */
  def codegenFallbacks(p: SparkPlan, inside: Boolean = false): Int = p match {
    case w: WholeStageCodegenExec => codegenFallbacks(w.child, inside = true)
    case i: InputAdapter => codegenFallbacks(i.child, inside = false)
    case a: AdaptiveSparkPlanExec => codegenFallbacks(a.executedPlan)
    case q: QueryStageExec => codegenFallbacks(q.plan)
    case c: CommandResultExec => codegenFallbacks(c.commandPhysicalPlan)
    case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec |
         _: DataWritingCommandExec | _: ExecutedCommandExec | _: LeafExecNode =>
      p.children.map(codegenFallbacks(_)).sum
    case _ => (if (inside) 0 else 1) + p.children.map(codegenFallbacks(_, inside)).sum
  }
}

/** Writes the application's effective Spark properties to the file named
  * by `-Dperfbench.conf.out` when the environment is first posted; ignores
  * every other event. Attached to untraced runs too, so each result can
  * record the configuration it ran with. */
class ConfListener extends SparkListener {
  override def onEnvironmentUpdate(e: SparkListenerEnvironmentUpdate): Unit =
    Option(System.getProperty("perfbench.conf.out")).foreach { out =>
      val props = e.environmentDetails.getOrElse("Spark Properties", Nil).toMap
      Files.write(Paths.get(out), graft.service.MiniJson.render(props).getBytes(UTF_8))
    }
}

/** Records the heap the program holds after each garbage collection, from
  * the JVM's own GC notifications, and writes the events as JSON lines to
  * the file named by `-Dperfbench.heap.out` when the application ends:
  *
  *   {"t": epoch ms, "gc": collector, "action": ..., "after": heap bytes in use after it}
  *
  * Just before writing, it forces one full collection and appends its event
  * (`"gc":"end"`): the heap still live once the program's work is done.
  * Attached to every run, so the benchmark reads memory use from the
  * program's heap rather than from the process size, which the fixed heap
  * pins. */
class HeapListener extends SparkListener {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val onGc = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        events.add(s"""{"t":${System.currentTimeMillis()},"gc":"${info.getGcName}",""" +
          s""""action":"${info.getGcAction}","after":$after}""")
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Option(System.getProperty("perfbench.heap.out")).foreach { out =>
      System.gc()
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      events.add(s"""{"t":${System.currentTimeMillis()},"gc":"end","action":"forced","after":$live}""")
      val sb = new java.lang.StringBuilder()
      events.forEach(l => sb.append(l).append('\n'))
      Files.write(Paths.get(out), sb.toString.getBytes(UTF_8))
    }
}
