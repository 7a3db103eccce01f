package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Counters Spark reports for the jobs run under one span. */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes; spillBytes += o.spillBytes
  }
}

/** One layer call: `parent` is the enclosing span's id, -1 at the top. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out when the run ends. Each span runs its Spark jobs
  * under a job group of its own, so the listener can charge jobs,
  * tasks, task time, GC, shuffle, input and spill bytes to the span
  * that caused them. Only the innermost open span is charged; the
  * per-layer table rolls children up through `parent`. */
final class Tracer(sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val counters = new java.util.concurrent.ConcurrentHashMap[Int, SparkCounters]()

  private def countersOf(id: Int): SparkCounters =
    counters.computeIfAbsent(id, _ => new SparkCounters)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).foreach { id =>
        e.stageIds.foreach(s => stageSpan.put(s, id))
        countersOf(id).synchronized(countersOf(id).jobs += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (m != null && stageSpan.containsKey(e.stageId)) {
        val c = countersOf(id)
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  })

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime()) :: open
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    try f
    finally {
      val (_, _, start) = open.head
      open = open.tail
      done += Span(id, name, parent, start - t0, System.nanoTime() - t0)
      open.headOption match {
        case Some((pid, pname, _)) => sc.setJobGroup(s"span-$pid", pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** All closed spans, in start order; call after [[drain]]. */
  def spans: Seq[Span] = done.sortBy(_.startNs).toSeq

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Self time of each span: its duration minus its children's (spans
    * of one thread nest, so children never overlap). */
  def selfMs: Map[Int, Double] = {
    val childMs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    done.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Spark counters of `s` plus those of every span nested in it. */
  def inclusive(spans: Seq[Span]): Map[Int, SparkCounters] = {
    val byParent = spans.groupBy(_.parent)
    val memo = mutable.HashMap.empty[Int, SparkCounters]
    def go(id: Int): SparkCounters = memo.getOrElseUpdate(id, {
      val c = new SparkCounters
      Option(counters.get(id)).foreach(c.add)
      byParent.getOrElse(id, Nil).foreach(ch => c.add(go(ch.id)))
      c
    })
    spans.map(s => s.id -> go(s.id)).toMap
  }
}
