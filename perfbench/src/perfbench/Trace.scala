package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spark-side counters of one job group: everything the stages and tasks
  * the group's jobs ran report through the listener bus.
  */
final class GroupStats {
  var jobs = 0
  var tasks = 0L
  var mapStageMs = 0L
  var reduceStageMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** Collects per-stage and per-task metrics keyed by the job group the
  * benchmark sets around each call into the program.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()

  def stats(group: String): GroupStats = groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val s = stats(g)
        s.synchronized(s.jobs += 1)
        js.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(sc.stageInfo.stageId)).foreach { g =>
      val i = sc.stageInfo
      val m = i.taskMetrics
      val wall = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
      val s = stats(g)
      s.synchronized {
        s.tasks += i.numTasks
        if (m.shuffleWriteMetrics.bytesWritten > 0) s.mapStageMs += wall else s.reduceStageMs += wall
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(te.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized(s.taskMs += te.taskInfo.duration)
    }
}

/** In-memory spans around the benchmark's calls into each layer; written
  * once, at the end of a traced run.
  */
final class Spans(run: String) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val t0 = System.nanoTime()

  /** Runs `body` inside a span named `name`. */
  def apply[A](name: String)(body: => A): A = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
    }
  }

  /** Span duration minus the part of its interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var cur = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) { covered += b - from; cur = b }
    }
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  def json: String = spans.map { s =>
    f"""{"run":"${JsonOut.esc(run)}","id":${s.id},"parent":${s.parent},"name":"${JsonOut.esc(s.name)}",""" +
      f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
      f""""self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object JsonOut {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
