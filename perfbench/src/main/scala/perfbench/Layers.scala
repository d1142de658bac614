package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spark task metrics summed per layer. A layer is whatever the local
  * property [[Layers.Key]] names when a job starts; every stage of that job
  * is charged to it.
  */
final class LayerTotals {
  var jobs = 0L
  var tasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var readMb = 0.0
  var writeMb = 0.0
  var shuffleWriteMb = 0.0
  var shuffleRecords = 0L
  var spillMb = 0.0
  /** task durations (s) per stage, for the max / median skew measure */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Double]]()

  /** Max task time and max ÷ median task time of the stage holding the
    * longest task: the stage on the critical path.
    */
  def taskMaxAndSkew: (Double, Double) =
    if (stageTasks.isEmpty) (0.0, 0.0)
    else {
      val ts = stageTasks.values.maxBy(_.max).sorted
      val med = ts(ts.size / 2)
      (ts.last, if (med > 0) ts.last / med else 1.0)
    }
}

object Layers {
  val Key = "perfbench.layer"
  private val Mb = 1024.0 * 1024.0

  /** Attaches a listener that sums task metrics per layer. */
  final class Listener extends SparkListener {
    val layers = mutable.LinkedHashMap[String, LayerTotals]()
    private val stageLayer = mutable.Map[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val layer = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Key))).getOrElse("other")
      layers.getOrElseUpdate(layer, new LayerTotals).jobs += 1
      e.stageIds.foreach(stageLayer(_) = layer)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val t = layers.getOrElseUpdate(
          stageLayer.getOrElse(e.stageId, "other"), new LayerTotals)
        t.tasks += 1
        t.runS += m.executorRunTime / 1e3
        t.cpuS += m.executorCpuTime / 1e9
        t.gcS += m.jvmGCTime / 1e3
        t.readMb += m.inputMetrics.bytesRead / Mb
        t.writeMb += m.outputMetrics.bytesWritten / Mb
        t.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / Mb
        t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        t.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb
        t.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
          .append(e.taskInfo.duration / 1e3)
      }
    }

    def reset(): Unit = synchronized { layers.clear(); stageLayer.clear() }

    def get(sc: SparkContext, layer: String): LayerTotals = {
      BenchBridge.drainListeners(sc)
      synchronized(layers.getOrElse(layer, new LayerTotals))
    }
  }

  /** Runs `body` with its Spark jobs charged to `layer`; returns seconds. */
  def timed(sc: SparkContext, layer: String)(body: => Unit): Double = {
    sc.setLocalProperty(Key, layer)
    try Clock.seconds(body)
    finally sc.setLocalProperty(Key, null)
  }
}

object Clock {
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** GC seconds of this JVM so far, all collectors. */
  def gcSeconds: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .iterator().asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  private val classes = java.lang.management.ManagementFactory.getClassLoadingMXBean
  private def codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Wall seconds of `body`, with what the JVM spent meanwhile: CPU seconds
    * (all threads), JIT compile seconds and GC seconds, and the classes
    * loaded and the Spark code generations run. They tell a slow run's
    * cause in the logs.
    */
  def withCosts(body: => Unit): Map[String, Double] = {
    val (c0, j0, g0) = (os.getProcessCpuTime, jit.getTotalCompilationTime, gcSeconds)
    val (k0, n0) = (classes.getTotalLoadedClassCount, codegen)
    val wall = seconds(body)
    Map("s" -> wall, "cpu_s" -> (os.getProcessCpuTime - c0) / 1e9,
      "jit_s" -> (jit.getTotalCompilationTime - j0) / 1e3, "gc_s" -> (gcSeconds - g0),
      "classes" -> (classes.getTotalLoadedClassCount - k0).toDouble,
      "codegens" -> (codegen - n0).toDouble)
  }
}
