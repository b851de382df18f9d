package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work charged to one span's own job group. */
final class SparkAgg {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** stage id -> run times of its tasks (ms), for the skew figure. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: SparkAgg): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }

  /** max ÷ median task time of the stage with the most task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      ts.last.toDouble / math.max(med, 1L).toDouble
    }
}

/** Aggregates task metrics per job group. The tracer gives every span its
  * own job group, so each span is charged exactly the jobs it started. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, SparkAgg]

  private def agg(g: String) = byGroup.getOrElseUpdate(g, new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      agg(id).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { id =>
      val a = agg(id)
      a.tasks += 1
      if (e.reason != TaskSuccess) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run. A span records its name,
  * start, end, parent and op id, and runs its body under its own Spark job
  * group; with tracing off, `span` only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val listener = new GroupListener
  private var opId = -1
  if (enabled) sc.addSparkListener(listener)

  private def group(s: Span) = s"perfbench-span-${s.id}"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.fold(-1)(_.id), opId, System.nanoTime(), 0L)
      spans += s
      stack.push(s)
      sc.setJobGroup(group(s), name)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        parent.fold(sc.clearJobGroup())(p => sc.setJobGroup(group(p), p.name))
      }
    }

  /** A top-level span that opens a new op id. */
  def op[T](name: String)(body: => T): T = { opId += 1; span(name)(body) }

  def close(): Unit = if (enabled) { PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }

  private def children(s: Span) = spans.filter(_.parent == s.id)

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (c.start, c.end)).sortBy(_._1)
    var covered = 0L
    var curEnd = s.start
    iv.foreach { case (a, b) =>
      val lo = math.max(a, curEnd)
      if (b > lo) { covered += b - lo; curEnd = b }
    }
    ((s.end - s.start) - covered) / 1e9
  }

  /** Spark work of a span and all its descendants. */
  def sparkOf(s: Span): SparkAgg = {
    PerfbenchBus.drain(sc)
    val out = new SparkAgg
    def visit(x: Span): Unit = {
      listener.synchronized(listener.byGroup.get(group(x)).foreach(out.add))
      children(x).foreach(visit)
    }
    visit(s)
    out
  }

  /** Total seconds of the spans with `name` inside op `op`. */
  def secondsIn(op: Int, name: String): Double =
    spans.filter(s => s.op == op && s.name == name).map(_.seconds).sum

  def opSpans: Seq[Span] = spans.filter(_.parent == -1).toSeq
}
