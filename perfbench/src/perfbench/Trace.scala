package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters for traced reps: every job with its wall interval
  * and stage ids, and per stage the task durations, shuffle bytes and
  * spill. Events arrive on the listener bus thread; [[snapshot]] drains the
  * bus first, so a snapshot taken after an action sees all of its tasks. */
final class LayerListener(sc: SparkContext) extends SparkListener {
  import LayerListener._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.Map[Int, StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAcc).name =
        e.stageInfo.name
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAcc)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = {
    org.apache.spark.PerfbenchAccess.drain(sc)
    synchronized { jobs.clear(); stages.clear() }
  }

  def snapshot(): Snapshot = {
    org.apache.spark.PerfbenchAccess.drain(sc)
    synchronized {
      Snapshot(jobs.toVector, stages.map { case (id, s) =>
        id -> Stage(id, s.name, s.taskMs.toVector, s.shuffleWrite,
          s.shuffleRead, s.spill)
      }.toMap)
    }
  }
}

object LayerListener {
  final case class Job(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])
  final class StageAcc {
    var name = ""
    val taskMs = mutable.ArrayBuffer[Long]()
    var shuffleWrite, shuffleRead, spill = 0L
  }
  final case class Stage(id: Int, name: String, taskMs: Vector[Long],
      shuffleWrite: Long, shuffleRead: Long, spill: Long) {
    def busyMs: Long = taskMs.sum
    /** slowest task over the median task: 1.0 = perfectly even */
    def skew: Double =
      if (taskMs.isEmpty) 0.0
      else taskMs.max / math.max(1.0, Stats.median(taskMs.map(_.toDouble)))
  }

  final case class Snapshot(jobs: Vector[Job], stages: Map[Int, Stage]) {
    /** the jobs started inside [fromMs, toMs] (inclusive, ms clock) */
    def jobsIn(fromMs: Long, toMs: Long): Snapshot = {
      val js = jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      val ids = js.flatMap(_.stageIds).toSet
      Snapshot(js, stages.filter { case (id, _) => ids(id) })
    }
    def tasks: Long = stages.values.map(_.taskMs.size.toLong).sum
    def busyS: Double = stages.values.map(_.busyMs).sum / 1000.0
    def shuffleWrite: Long = stages.values.map(_.shuffleWrite).sum
    def shuffleRead: Long = stages.values.map(_.shuffleRead).sum
    def spill: Long = stages.values.map(_.spill).sum
    /** skew of the stage that kept the executors busiest */
    def heaviestStageSkew: Double =
      if (stages.isEmpty) 0.0 else stages.values.maxBy(_.busyMs).skew
    /** summed wall of the jobs touching a stage whose call site names
      * `file` (Spark names a stage after the user call site that made it) */
    def jobWallS(file: String): Double = jobs.filter(j =>
      j.stageIds.exists(id => stages.get(id).exists(_.name.contains(file))))
      .map(j => j.endMs - j.startMs).sum / 1000.0
  }
}

/** Captures what a block prints to `Console.out` line by line, stamping
  * each line with the wall clock when its newline arrived. The crawl loop
  * prints `[crawl] b<N> <stage>: <s>s` per stage when verbose; this is how
  * the benchmark sees its stage boundaries without changing the library. */
final class LineCapture extends OutputStream {
  private val buf = new ByteArrayOutputStream()
  private val captured = mutable.ArrayBuffer[(Long, String)]()
  override def write(b: Int): Unit = synchronized {
    if (b == '\n') {
      captured += ((System.currentTimeMillis(),
        new String(buf.toByteArray, StandardCharsets.UTF_8)))
      buf.reset()
    } else buf.write(b)
  }
  def lines: Vector[(Long, String)] = synchronized(captured.toVector)
  def around[T](body: => T): T = {
    val ps = new PrintStream(this, true, "UTF-8")
    Console.withOut(ps)(body)
  }
}

/** In-memory spans (name, start, end, parent, run id), written out once
  * when the benchmark ends. Times are epoch milliseconds. */
final class Spans(val runId: String) {
  private val spans = mutable.ArrayBuffer[(String, Double, Double, Int)]()
  private val clockOffsetMs =
    System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = clockOffsetMs + System.nanoTime() / 1e6

  /** records a finished span; returns its id (0 is "no parent") */
  def add(name: String, startMs: Double, endMs: Double, parent: Int = 0): Int =
    synchronized { spans += ((name, startMs, endMs, parent)); spans.size }

  def open(name: String, parent: Int = 0): Int = add(name, nowMs, Double.NaN, parent)

  def close(id: Int): Unit = synchronized {
    spans(id - 1) = spans(id - 1).copy(_3 = nowMs)
  }

  /** times `body` as a span; `body` gets the span's id to parent its own */
  def span[T](name: String, parent: Int = 0)(body: Int => T): (T, Double) = {
    val id = open(name, parent)
    val t0 = System.nanoTime()
    try (body(id), (System.nanoTime() - t0) / 1e9) finally close(id)
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val text = synchronized(spans.toVector).zipWithIndex.map {
      case ((n, s, e, p), i) =>
        s"""{"run":"$runId","id":${i + 1},"name":"${Json.esc(n)}",""" +
          s""""start_ms":${Json.num(s)},"end_ms":${Json.num(e)},"parent":$p}"""
    }.mkString("", "\n", "\n")
    Files.writeString(path, text)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** quartiles as Python's statistics.quantiles(xs, n=4) gives them
    * (the "exclusive" method); a single sample is its own quartiles */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) return (s.head, s.head)
    def at(j: Int): Double = {
      val pos = j * (n + 1) / 4.0
      val k = math.floor(pos).toInt
      val lo = s(math.min(math.max(k - 1, 0), n - 1))
      val hi = s(math.min(math.max(k, 0), n - 1))
      lo + (hi - lo) * (pos - k)
    }
    (at(1), at(3))
  }
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + esc(s) + "\""
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
