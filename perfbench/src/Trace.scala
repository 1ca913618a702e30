package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` is the Spark job group the
  * benchmark set on the client thread for the operation the span belongs
  * to; `parent` is the id of the enclosing span (0 for none). */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. When `on` is false every call runs its body
  * with no bookkeeping, so untraced runs execute the same calls. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val opId = new ThreadLocal[String] { override def initialValue() = "" }

  def setOp(op: String): Unit = opId.set(op)
  def currentParent: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = currentParent
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, opId.get, t0, t1))
      }
    }

  /** Record an interval timed by the caller (e.g. a REPL statement seen
    * through its input iterator). */
  def record(name: String, op: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, name, op, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span: its duration minus the union of its children's
    * intervals. */
  def selfTimes: Map[Int, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.write(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Per-op execution counters, attributed through the job group the
  * benchmark sets before each operation. */
final class ExecStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
}

/** Benchmark-owned listener: maps stage → job group at job start and
  * folds every finished task's metrics into its op's [[ExecStats]]. */
final class ExecListener extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  val byOp = mutable.Map[String, ExecStats]()

  private def stats(op: String) = byOp.getOrElseUpdate(op, new ExecStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    val s = stats(g)
    s.jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stats(stageGroup.getOrElse(id, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    stageSubmit.get(e.stageId).foreach(t => s.waitMs += (e.taskInfo.launchTime - t) max 0L)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRows += m.inputMetrics.recordsRead
    }
  }

  def snapshot(ops: Set[String]): ExecStats = synchronized {
    val t = new ExecStats
    byOp.iterator.filter(e => ops.contains(e._1)).map(_._2).foreach { s =>
      t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks
      t.runMs += s.runMs; t.cpuNs += s.cpuNs; t.waitMs += s.waitMs
      t.shuffleWrite += s.shuffleWrite; t.shuffleRead += s.shuffleRead
      t.spill += s.spill; t.inputRows += s.inputRows
    }
    t
  }
}
