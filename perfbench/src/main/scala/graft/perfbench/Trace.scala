package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.{SparkBridge, SparkContext}
import org.apache.spark.scheduler._

/** One span: a timed call from the benchmark into one layer. */
final case class Span(traceId: String, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long,
                      attrs: mutable.LinkedHashMap[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work of one span, summed from the listener's task events. */
final case class StageWork(jobs: Int, shuffleWriteBytes: Long, spillBytes: Long,
                           taskSkew: Double)

/** In-memory span recorder plus a SparkListener that attributes stage
  * metrics to the open span through its job group. Spans are recorded
  * only around the benchmark's own calls into the engine; nothing inside
  * the program is instrumented. `json` renders them for the end of the run. */
final class Trace(sc: SparkContext, val traceId: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private case class TaskRec(group: String, stage: Int, ms: Long,
                             shuffleWrite: Long, spill: Long)
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val groupJobs = new ConcurrentHashMap[String, Integer]()
  /** batch id → jobs, for jobs the stream execution thread runs. */
  val streamJobs = new ConcurrentHashMap[Long, Integer]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        e.stageIds.foreach(s => stageGroup.put(s, g))
        groupJobs.merge(g, 1, (a, b) => a + b)
      }
      props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
        streamJobs.merge(b.toLong, 1, (a, c) => a + c)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      if (g != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(g, e.stageId, e.taskInfo.duration,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }
  sc.addSparkListener(listener)

  def close(): Unit = sc.removeSparkListener(listener)

  /** Time `body` as a span named `name`, child of the open span. Spark
    * jobs it starts carry the span id as their job group. */
  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(traceId, id, parent, name, t0, System.nanoTime(), mutable.LinkedHashMap())
      spans += s
      (out, s)
    } finally {
      stack = stack.tail
      if (stack.head == 0) sc.clearJobGroup()
      else sc.setJobGroup(s"perfbench-${stack.head}", "", interruptOnCancel = false)
    }
  }

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Add a span timed by someone else (epoch milliseconds), as a child of
    * the open span: the micro-batches a streaming query reports. */
  def record(name: String, startMs: Long, durationMs: Long, attrs: Seq[(String, Double)]): Unit = {
    val start = nano0 + (startMs - epochMs0) * 1000000L
    spans += Span(traceId, nextId, stack.head, name, start, start + durationMs * 1000000L,
      mutable.LinkedHashMap(attrs: _*))
    nextId += 1
  }

  /** Stage work of a finished span (waits for the listener bus first). */
  def work(s: Span): StageWork = {
    SparkBridge.drainListenerBus(sc)
    val g = s"perfbench-${s.id}"
    val mine = tasks.toArray(Array.empty[TaskRec]).toSeq.filter(_.group == g)
    val heaviest = mine.groupBy(_.stage).values.toSeq
      .sortBy(ts => -ts.map(_.ms).sum).headOption.getOrElse(Nil)
    val skew = if (heaviest.isEmpty) 1.0 else {
      val ms = heaviest.map(_.ms.toDouble).sorted
      val med = ms(ms.size / 2)
      if (med > 0) ms.last / med else 1.0
    }
    val w = StageWork(Option(groupJobs.get(g)).map(_.intValue).getOrElse(0),
      mine.map(_.shuffleWrite).sum, mine.map(_.spill).sum, skew)
    s.attrs ++= Seq("jobs" -> w.jobs.toDouble,
      "shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
      "spill_bytes" -> w.spillBytes.toDouble, "task_skew" -> w.taskSkew)
    w
  }

  /** All spans as one JSON document. */
  def json: String = spans.sortBy(_.id).map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Util.num(v)}""" }.mkString(",")
    s"""{"trace_id":"${s.traceId}","span_id":${s.id},"parent_id":${s.parent},""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""attrs":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
