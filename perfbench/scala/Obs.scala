package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
}

/** Benchmark-side tracing: spans recorded around every call into an
  * engine module, kept in memory and written when the run ends. With
  * tracing off, [[span]] only runs its body.
  */
object Obs {
  @volatile var tracing = false

  private final case class Open(id: Long, trace: Long)
  private final case class Span(id: Long, parent: Long, trace: Long,
      module: String, name: String, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Open]] {
    override def initialValue(): List[Open] = Nil
  }

  def span[T](module: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = ids.incrementAndGet()
      val open = stack.get
      val (parent, trace) = open.headOption.map(o => (o.id, o.trace)).getOrElse((0L, id))
      stack.set(Open(id, trace) :: open)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, trace, module, name, t0, System.nanoTime()))
        stack.set(open)
      }
    }

  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "module" -> s.module,
    "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))

  /** Tag every Spark job started from this thread with an op name. */
  def tag(sc: SparkContext, op: String): Unit = sc.setLocalProperty("perfbench.op", op)

  def gcMillis: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Job and task accounting keyed by the op tag of the thread that
  * started each job (`perfbench.op`, else the streaming query id).
  */
class TaskStats extends SparkListener {
  private val stageOp = TrieMap.empty[Int, String]
  // jobs, tasks, task ms, shuffle bytes, spill bytes, records written,
  // bytes written, write tasks, task gc ms
  private val perOp = TrieMap.empty[String, Array[Long]]
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private def add(op: String, i: Int, v: Long): Unit = {
    val a = perOp.getOrElseUpdate(op, new Array[Long](9))
    a.synchronized { a(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op")))
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).map("stream:" + _))
      .getOrElse("other")
    e.stageIds.foreach(stageOp(_) = op)
    add(op, 0, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrElse(e.stageId, "other")
    intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    add(op, 1, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(op, 2, m.executorRunTime)
      add(op, 3, m.shuffleWriteMetrics.bytesWritten)
      add(op, 4, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(op, 5, m.outputMetrics.recordsWritten)
      add(op, 6, m.outputMetrics.bytesWritten)
      if (m.outputMetrics.recordsWritten > 0) add(op, 7, 1)
      add(op, 8, m.jvmGCTime)
    }
  }

  /** Wall ms within [t0, t1] (epoch ms) during which no task ran. */
  def idleMs(t0: Long, t1: Long): Long = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (t1 - t0) - covered
  }

  def report: Map[String, Map[String, Long]] = perOp.toMap.map { case (op, a) =>
    op -> Map("jobs" -> a(0), "tasks" -> a(1), "task_ms" -> a(2), "shuffle_bytes" -> a(3),
      "spill_bytes" -> a(4), "records_written" -> a(5), "bytes_written" -> a(6),
      "write_tasks" -> a(7), "task_gc_ms" -> a(8))
  }
}
