package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Spans around the calls the benchmark makes into each layer.
  *
  * Every call runs inside [[span]], which times it and sets the layer name
  * as the Spark job group. Walls are always recorded. With `counters` on, a
  * SparkListener adds per-layer jobs, tasks, task time, shuffle and spill
  * bytes, and a StreamingQueryListener keeps every micro-batch's progress.
  * A job is attributed to the span that is open when the listener sees it
  * start: the workloads are closed loops with one call in flight, so this
  * also covers jobs that a layer starts from its own thread pools, which do
  * not inherit the job group. The listener bus is asynchronous, so a span
  * waits for it to deliver every event posted so far ([[drain]]) before it
  * opens and again before it closes, outside its timed window: each job
  * start is seen while the span that started it is open.
  */
final class Trace(spark: SparkSession, val counters: Boolean) {
  import Trace._

  /** (layer, item, seconds) for every span, in call order. */
  val spans: ArrayBuffer[(String, String, Double)] = ArrayBuffer.empty

  val layerCounters: TrieMap[String, Counters] = TrieMap.empty
  val progress: ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    ArrayBuffer.empty

  @volatile private var open: String = null
  private val stageLayer = TrieMap.empty[Int, String]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = open
      if (layer != null) {
        layerCounters.getOrElseUpdate(layer, new Counters).jobs += 1
        e.stageIds.foreach(stageLayer(_) = layer)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (layer <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = layerCounters.getOrElseUpdate(layer, new Counters)
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val read = m.inputMetrics.recordsRead
        if (read > 0) { c.inputTasks += 1; c.recordsRead += read }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress += e.progress
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (counters) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def span[T](layer: String, item: String = "")(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(layer, if (item.isEmpty) layer else s"$layer $item")
    drain()
    open = layer
    val t0 = System.nanoTime()
    try body
    finally {
      spans += ((layer, item, (System.nanoTime() - t0) / 1e9))
      drain()
      open = null
      sc.clearJobGroup()
    }
  }

  def wall(layer: String): Double = spans.collect { case (`layer`, _, s) => s }.sum

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = if (counters) org.apache.spark.ListenerDrain.drain(spark.sparkContext)

  def stop(): Unit = if (counters) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputTasks = 0L
    var recordsRead = 0L
  }
}
