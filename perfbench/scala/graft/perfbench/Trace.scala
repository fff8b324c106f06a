package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters of one layer, summed over every job the layer ran. */
final class LayerCounts {
  var jobs = 0L
  var taskCpuS = 0.0
  var shuffleBytes = 0L
  /** Largest task's share of its stage's summed task time, max over the
    * stages that hold at least a tenth of the layer's task time (or over
    * the heaviest stage, when none does). */
  var maxTaskShare = 0.0
}

/** Attributes every job to the layer named by the `perfbench.layer`
  * local property that [[Tracer.span]] sets on the calling thread.
  * Jobs without the property (e.g. the API server's own threads) are
  * not counted.
  */
final class LayerListener extends SparkListener {
  private val counts = mutable.Map[String, LayerCounts]()
  private val stageLayer = mutable.Map[Int, String]()
  // (stage, attempt) -> task run times, folded into maxTaskShare when
  // the stage completes
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val stageShares = mutable.Map[String, mutable.ArrayBuffer[(Long, Double)]]()

  private def of(layer: String) = counts.getOrElseUpdate(layer, new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.Key))).foreach { l =>
      of(l).jobs += 1
      e.stageIds.foreach(stageLayer(_) = l)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (l <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(l)
      c.taskCpuS += m.executorCpuTime / 1e9
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    for (ts <- stageTasks.remove(key); l <- stageLayer.get(key._1)) {
      val total = ts.sum
      if (total > 0) stageShares.getOrElseUpdate(l, mutable.ArrayBuffer()) += ((total, ts.max.toDouble / total))
    }
  }

  /** Counters of `layer` since the last [[take]] of it, then reset. */
  def take(layer: String): LayerCounts = synchronized {
    val c = counts.remove(layer).getOrElse(new LayerCounts)
    stageShares.remove(layer).foreach { ss =>
      val total = ss.map(_._1).sum
      val heavy = ss.filter(_._1 * 10 >= total)
      c.maxTaskShare = (if (heavy.nonEmpty) heavy else Seq(ss.maxBy(_._1))).map(_._2).max
    }
    c
  }
}

object LayerListener {
  val Key = "perfbench.layer"
}

/** One timed call; `parent` is the id of the enclosing span, or -1. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around calls into the program's public functions.
  * Each span carries its parent, so a layer's self time is its duration
  * minus the time its child spans cover. The Spark counters of the
  * jobs a span runs are attributed to the span's layer.
  */
final class Tracer(sc: SparkContext) {
  val listener = new LayerListener
  sc.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Runs `body` as span `name`; its Spark jobs count towards `layer`. */
  def span[A](name: String, layer: String = null)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevLayer = sc.getLocalProperty(LayerListener.Key)
    if (layer != null) sc.setLocalProperty(LayerListener.Key, layer)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(LayerListener.Key, prevLayer)
    }
  }

  /** Counters of `layer` accumulated since its last read. */
  def counts(layer: String): LayerCounts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    listener.take(layer)
  }

  /** Durations (seconds) of every span named `name`, in start order. */
  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).sortBy(_.startNs).map(_.seconds).toSeq

  /** Self time of each span named `name`: its duration minus its
    * children's. */
  def selfTimes(name: String): Seq[Double] = {
    val children = spans.groupBy(_.parent)
    spans.filter(_.name == name).sortBy(_.startNs).map { s =>
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    }.toSeq
  }

  def all: Seq[Span] = spans.toSeq

  def close(): Unit = sc.removeSparkListener(listener)
}
