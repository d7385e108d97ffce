package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `op` ties the
  * span to the operation it belongs to (-1 for none). */
final case class Span(op: Int, name: String, startUs: Long, endUs: Long)

/** Traced-run instrumentation, attached from outside the engine: a
  * `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phases, plan size, named
  * observations) and the local file system's operation and byte
  * counts. Everything is
  * kept in memory and written out when the run ends. Disabled, every
  * callback returns at once, which is what the traced-vs-untraced pass
  * comparison measures. */
final class Probe(spark: SparkSession) {
  @volatile var enabled = false
  @volatile private var currentOp = -1
  private val clock0Ms = System.currentTimeMillis()
  private val clock0Ns = System.nanoTime()

  val spans = mutable.ArrayBuffer[Span]()
  /** Per-operation counters, keyed by op id then counter name. */
  val counters = mutable.Map[Int, mutable.Map[String, Double]]()
  /** Named `Dataset.observe` rows seen per op: (op, name) -> first numeric field. */
  val observed = mutable.Map[(Int, String), Double]()

  def nowUs(): Long = clock0Ms * 1000L + (System.nanoTime() - clock0Ns) / 1000L

  private def add(op: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(op, mutable.Map())
    m(key) = m.getOrElse(key, 0.0) + v
  }
  def span(op: Int, name: String, s: Long, e: Long): Unit = synchronized {
    spans += Span(op, name, s, e)
  }

  private val OpProp = "perfbench.op"
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val op = opOf(e.properties)
      jobStart.put(e.jobId, e.time * 1000L)
      jobOp.put(e.jobId, op)
      e.stageIds.foreach(sid => stageOp.put(sid, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      val s = jobStart.remove(e.jobId)
      val op = Option(jobOp.remove(e.jobId)).map(_.intValue).getOrElse(-1)
      if (s != null) span(op, "job", s, e.time * 1000L)
      add(op, "driver.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val op = Option(stageOp.get(e.stageInfo.stageId)).map(_.intValue).getOrElse(-1)
      add(op, "exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) {
      val op = Option(stageOp.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val m = e.taskMetrics
      val info = e.taskInfo
      val overheadMs = m.executorDeserializeTime + m.resultSerializationTime
      val delayMs = math.max(0L, (info.finishTime - info.launchTime) - overheadMs -
        m.executorRunTime - (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
      val mb = 1024.0 * 1024.0
      add(op, "exec.tasks", 1)
      add(op, "exec.cpu_s", m.executorCpuTime / 1e9)
      add(op, "exec.run_s", m.executorRunTime / 1e3)
      add(op, "exec.gc_s", m.jvmGCTime / 1e3)
      add(op, "exec.sched_delay_s", delayMs / 1e3)
      add(op, "exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
      add(op, "exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
      add(op, "exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
      add(op, "exec.input_mb", m.inputMetrics.bytesRead / mb)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val op = currentOp
        qe.tracker.phases.foreach { case (phase, p) =>
          span(op, phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
        }
        add(op, "catalyst.queries", 1)
        add(op, "catalyst.plan_nodes", qe.optimizedPlan.collect { case n => n }.size)
        qe.observedMetrics.foreach { case (name, row) =>
          val v = row.toSeq.collectFirst { case n: java.lang.Number => n.doubleValue }
          v.foreach(x => synchronized { observed((op, name)) = x })
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Local file system operation counts ([[CountingLocalFs]]) and the
    * Hadoop `FileSystem` byte statistics of the local scheme. */
  def fsStats(): Map[String, Double] = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(s => s.getScheme == "file")
    def sum(f: org.apache.hadoop.fs.FileSystem.Statistics => Long) = all.map(f).sum.toDouble
    Map(
      "fs.read_ops" -> CountingLocalFs.reads.sum.toDouble,
      "fs.list_ops" -> CountingLocalFs.lists.sum.toDouble,
      "fs.write_ops" -> CountingLocalFs.writes.sum.toDouble,
      "fs.read_mb" -> sum(_.getBytesRead) / (1024.0 * 1024.0),
      "fs.write_mb" -> sum(_.getBytesWritten) / (1024.0 * 1024.0))
  }

  /** Runs `body` as operation `op`: jobs it starts carry the op id, and
    * when tracing, its fs-statistics delta is charged to it after the
    * listener bus has drained. */
  def around[T](op: Int)(body: => T): T = {
    val sc = spark.sparkContext
    currentOp = op
    sc.setLocalProperty(OpProp, op.toString)
    val fs0 = if (enabled) fsStats() else Map.empty[String, Double]
    try body
    finally {
      if (enabled) {
        org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
        fsStats().foreach { case (k, v) => add(op, k, v - fs0.getOrElse(k, 0.0)) }
      }
      sc.setLocalProperty(OpProp, null)
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
