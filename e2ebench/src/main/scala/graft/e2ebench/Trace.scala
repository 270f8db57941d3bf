package graft.e2ebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Spark engine counters summed over the tasks of one span. */
final class Engine {
  var cpuNs = 0L; var gcMs = 0L; var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleWriteBytes = 0L; var shuffleRecords = 0L; var spillBytes = 0L
  var inputBytes = 0L; var peakExecMem = 0L

  def add(o: Engine): Unit = {
    cpuNs += o.cpuNs; gcMs += o.gcMs; jobs += o.jobs; stages += o.stages
    tasks += o.tasks; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def json: String = Json.obj(Seq(
    "cpu_s" -> Json.num(cpuNs / 1e9), "gc_s" -> Json.num(gcMs / 1e3),
    "jobs" -> Json.num(jobs), "stages" -> Json.num(stages), "tasks" -> Json.num(tasks),
    "shuffle_write_mb" -> Json.num(shuffleWriteBytes / 1e6),
    "shuffle_records" -> Json.num(shuffleRecords), "spill_mb" -> Json.num(spillBytes / 1e6),
    "input_mb" -> Json.num(inputBytes / 1e6), "peak_exec_mem_mb" -> Json.num(peakExecMem / 1e6)))
}

/** One timed call into a layer. `iter` is shared by every span of one
  * benchmark iteration; `parent` is the span that made the call (-1 for
  * an iteration's root). */
final class Span(val id: Int, val name: String, val parent: Int, val iter: Int,
                 val start: Long) {
  @volatile var end: Long = -1L
  val own = new Engine
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

/** The traced run's span recorder. Spans live in memory and are written
  * out once, when the run ends. Each span runs its Spark jobs under its
  * own job group, and the recorder — a SparkListener the benchmark
  * registers itself — adds each task's metrics to the span whose group
  * submitted the task's job. Nested spans own only the jobs submitted
  * while they are the innermost span; parents read their children's
  * counters through [[inclusive]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  @volatile var iteration = 0
  private val Group = "e2ebench-span-"

  def current: Option[Span] = stack.get.headOption

  /** Runs `body` as a span named `name`, a child of this thread's current span. */
  def span[T](name: String)(body: => T): T = {
    val parent = current
    val s = spans.synchronized {
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), iteration, System.nanoTime())
      spans += s; byId.put(s.id, s); s
    }
    stack.set(s :: stack.get)
    sc.setJobGroup(Group + s.id, name)
    try body
    finally {
      s.end = System.nanoTime()
      stack.set(stack.get.tail)
      parent match {
        case Some(p) => sc.setJobGroup(Group + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Makes `parent` the current span of a freshly started worker thread. */
  def adopt(parent: Option[Span]): Unit = {
    stack.set(parent.toList)
    parent.foreach(p => sc.setJobGroup(Group + p.id, p.name))
  }

  /** Records a count at the current span's boundary. */
  def count(key: String, value: Double): Unit =
    current.foreach(s => s.counts.synchronized(s.counts(key) = s.counts.getOrElse(key, 0.0) + value))

  /** Waits until every listener event of the finished work is applied. */
  def drain(): Unit = org.apache.spark.E2eBridge.drainListenerBus(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Group))
      .flatMap(g => Option(byId.get(g.stripPrefix(Group).toInt)))
      .foreach { s =>
        s.own.synchronized(s.own.jobs += 1)
        e.stageIds.foreach(stageSpan.putIfAbsent(_, s))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => s.own.synchronized(s.own.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) s.own.synchronized {
      val o = s.own
      o.tasks += 1; o.cpuNs += m.executorCpuTime; o.gcMs += m.jvmGCTime
      o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      o.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      o.spillBytes += m.diskBytesSpilled
      o.inputBytes += m.inputMetrics.bytesRead
      o.peakExecMem = math.max(o.peakExecMem, m.peakExecutionMemory)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  private def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** The span's own counters plus those of every descendant. */
  def inclusive(s: Span): Engine = {
    val e = new Engine
    e.add(s.own)
    children(s).foreach(c => e.add(inclusive(c)))
    e
  }

  /** Span duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val iv = children(s).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var upTo = s.start
    iv.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  def json(origin: Long): String = Json.arr(all.map { s =>
    Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "parent" -> Json.num(s.parent), "iteration" -> Json.num(s.iter),
      "start_s" -> Json.num((s.start - origin) / 1e9), "end_s" -> Json.num((s.end - origin) / 1e9),
      "self_s" -> Json.num(selfSeconds(s)), "engine" -> inclusive(s).json,
      "counts" -> Json.obj(s.counts.toSeq.map { case (k, v) => k -> Json.num(v) })))
  })
}

/** Runs tasks on their own threads (the program's fan-outs), waits for
  * all of them and rethrows the first error; with a tracer, each thread
  * continues the caller's span. */
object Par {
  def run(tr: Option[Tracer])(tasks: (() => Unit)*): Unit = {
    val parent = tr.flatMap(_.current)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      new Thread(() => {
        tr.foreach(_.adopt(parent))
        try t() catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
