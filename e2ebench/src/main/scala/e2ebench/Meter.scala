package e2ebench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer counters of the traced pass: one SparkListener and one
  * StreamingQueryListener, attached while the pass runs and detached
  * after it. Jobs count towards the layer whose job group was set when
  * they were submitted ([[Tracer.layer]] sets it); spans are kept in
  * memory and written once when the run ends.
  */
final class Meter(spark: SparkSession) {

  /** Executor-side counters of one layer. */
  final class Acc {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, shuffleWrite, spill = 0L
  }

  /** One traced interval: a unit of work or a layer call. */
  final case class Span(id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  val layers = new ConcurrentHashMap[String, Acc]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  val spans = mutable.ArrayBuffer.empty[Span]

  // wall time with at least one job running (driver_only = pass - busy)
  private var activeJobs = 0
  private var busySince = 0L
  private var busyNs = 0L

  // streaming counters
  var batches, commits, lateRowsDropped = 0L
  var batchMs = 0L
  var stateRowsPeak, stateBytesPeak = 0L

  def acc(layer: String): Acc = layers.computeIfAbsent(layer, _ => new Acc)

  def busySeconds: Double = synchronized {
    (busyNs + (if (activeJobs > 0) System.nanoTime() - busySince else 0L)) / 1e9
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("unattributed")
      val a = acc(layer)
      a.synchronized { a.jobs += 1; a.stages += e.stageInfos.size }
      e.stageIds.foreach(stageLayer.put(_, layer))
      Meter.this.synchronized {
        if (activeJobs == 0) busySince = System.nanoTime()
        activeJobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Meter.this.synchronized {
        activeJobs -= 1
        if (activeJobs == 0) busyNs += System.nanoTime() - busySince
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = acc(stageLayer.getOrDefault(e.stageId, "unattributed"))
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Meter.this.synchronized {
        val p = e.progress
        batches += 1
        if (p.numInputRows > 0) commits += 1
        batchMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators
        stateRowsPeak = math.max(stateRowsPeak, ops.map(_.numRowsTotal).sum)
        stateBytesPeak = math.max(stateBytesPeak, ops.map(_.memoryUsedBytes).sum)
        lateRowsDropped += ops.map(_.numRowsDroppedByWatermark).sum
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Detach once every event of the pass has been delivered (listener
    * buses are asynchronous). */
  def detach(): Unit = {
    // a no-op job is a barrier: its own end event is delivered after
    // every earlier event on the same bus
    spark.sparkContext.setJobGroup("meter", "meter", interruptOnCancel = false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(activeJobs) > 0 && System.nanoTime() < deadline)
      Thread.sleep(5)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}
