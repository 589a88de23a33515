package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters read at span boundaries; a span reports the delta. */
final case class Counters(
    jobs: Long, tasks: Long, taskCpuNs: Long, taskGcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    analyzeMs: Long, optimizeMs: Long, planMs: Long,
    codegenMethods: Long, codegenCompileNs: Long) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, tasks - o.tasks, taskCpuNs - o.taskCpuNs, taskGcMs - o.taskGcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, analyzeMs - o.analyzeMs, optimizeMs - o.optimizeMs,
    planMs - o.planMs, codegenMethods - o.codegenMethods, codegenCompileNs - o.codegenCompileNs)
}

/** Keeps every Spark-side counter the benchmark reads: task metrics and job
  * starts from a SparkListener, planning phases of every finished query from
  * a QueryExecutionListener, and generated-method counts and sizes from
  * Spark's static codegen metrics.
  */
final class Probe(spark: SparkSession) {
  private val jobs, tasks, cpuNs, gcMs, shWrite, shRead, spill = new AtomicLong
  private val analyzeMs, optimizeMs, planMs = new AtomicLong
  private val jobStartsMs = new ConcurrentLinkedQueue[java.lang.Long]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStartsMs.add(e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      analyzeMs.addAndGet(ms(QueryPlanningTracker.ANALYSIS))
      optimizeMs.addAndGet(ms(QueryPlanningTracker.OPTIMIZATION))
      planMs.addAndGet(ms(QueryPlanningTracker.PLANNING))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  })

  private val methodSizes: Histogram = CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE
  private val maxMethod = new MaxReservoir.Tracker
  /** false when the histogram's reservoir could not be wrapped; the max then
    * falls back to the sampled snapshot, which can miss rare large methods.
    */
  val exactMethodMax: Boolean = MaxReservoir.install(methodSizes, maxMethod)

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = ListenerBusBridge.drain(spark.sparkContext)

  def counters(): Counters = Counters(
    jobs.get, tasks.get, cpuNs.get, gcMs.get, shWrite.get, shRead.get, spill.get,
    analyzeMs.get, optimizeMs.get, planMs.get,
    methodSizes.getCount, CodeGenerator.compileTime)

  /** Start time of the first job submitted at or after `sinceMs` (epoch ms). */
  def firstJobStartMs(sinceMs: Long): Option[Long] = {
    import scala.jdk.CollectionConverters._
    jobStartsMs.asScala.map(_.longValue).filter(_ >= sinceMs).minOption
  }

  def resetMaxMethod(): Unit = maxMethod.reset()

  /** Largest generated method since the last reset, in bytes of bytecode. */
  def maxMethodBytes: Long =
    if (exactMethodMax) maxMethod.max else methodSizes.getSnapshot.getMax
}

/** Wraps a codahale histogram's reservoir so every update also feeds an
  * exact running maximum; Spark's reservoir keeps a 1028-value sample, which
  * drops large methods once thousands are generated.
  */
object MaxReservoir {
  final class Tracker {
    private val m = new AtomicLong(0L)
    def update(v: Long): Unit = m.accumulateAndGet(v, (a, b) => math.max(a, b))
    def max: Long = m.get
    def reset(): Unit = m.set(0L)
  }

  private final class Wrapped(inner: Reservoir, t: Tracker) extends Reservoir {
    override def size(): Int = inner.size()
    override def update(v: Long): Unit = { t.update(v); inner.update(v) }
    override def getSnapshot: Snapshot = inner.getSnapshot
  }

  def install(h: Histogram, t: Tracker): Boolean = scala.util.Try {
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.set(h, new Wrapped(f.get(h).asInstanceOf[Reservoir], t))
  }.isSuccess
}
