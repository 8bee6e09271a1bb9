package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one op share `op`; `parent` is
  * the span that made the call (0 for an op's root span). Times are
  * epoch nanoseconds so driver and task-thread spans line up. */
final case class Span(id: Long, parent: Long, op: String, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val store = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = store.add(s)
  def all: Seq[Span] = store.asScala.toSeq

  /** Time `body` as a span of `layer`; returns its result. */
  def timed[T](op: String, parent: Long, layer: String, name: String)(
      body: Long => T): T = {
    val id = nextId()
    val t0 = Clock.nowNs()
    try body(id)
    finally add(Span(id, parent, op, layer, name, t0, Clock.nowNs()))
  }

  /** Self time per layer: span time minus the part of it that its
    * children cover (children may run in parallel, so their union). */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        s.seconds - Stats.unionNs(kids) / 1e9
      }.sum
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds from the monotonic clock. */
  def nowNs(): Long = base + System.nanoTime()
}

/** Per-task numbers the engine listener keeps. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long)

/** Records job, stage and task spans and task metrics, keyed to the op
  * that launched them through the `perfbench.op` local property. */
final class EngineListener extends SparkListener {
  val OpKey = "perfbench.op"
  private val jobSpan = mutable.Map[Int, (String, Seq[Int], Long, Long)]()
  private val stageSpan = mutable.Map[Int, (Long, Long)]()
  private val stageOp = mutable.Map[Int, String]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val stages = mutable.Set[Int]()
  private val jobs = mutable.ArrayBuffer[(Int, String)]()
  private val schedWaitMs = mutable.Map[Int, Long]().withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    jobs += ((e.jobId, op))
    jobSpan(e.jobId) = (op, e.stageIds, e.time, e.time)
    e.stageIds.foreach(s => stageOp(s) = op)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(j => jobSpan(e.jobId) = j.copy(_4 = e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageSpan(i.stageId) = (a, b)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stages += id
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmitMs.get(e.stageId).foreach { s =>
      schedWaitMs(e.stageId) += math.max(0L, e.taskInfo.launchTime - s)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten)
  }

  /** Job → stage → task spans under each op's root span. */
  def engineSpans(spans: Spans, roots: Map[String, Long]): Unit = synchronized {
    val ms = 1000000L
    val stageTasks = tasks.groupBy(_.stage)
    jobSpan.toSeq.sortBy(_._1).foreach { case (job, (op, stageIds, t0, t1)) =>
      roots.get(op).foreach { root =>
        val j = spans.nextId()
        spans.add(Span(j, root, op, "spark.job", s"job $job", t0 * ms, t1 * ms))
        stageIds.foreach { st =>
          stageSpan.get(st).foreach { case (a, b) =>
            val sid = spans.nextId()
            spans.add(Span(sid, j, op, "spark.stage", s"stage $st", a * ms, b * ms))
            stageTasks.getOrElse(st, Nil).foreach { t =>
              spans.add(Span(spans.nextId(), sid, op, "spark.task", s"task of stage $st",
                t.launchMs * ms, t.finishMs * ms))
            }
          }
        }
      }
    }
  }

  def tasksOf(op: String): Seq[TaskRec] = synchronized {
    tasks.filter(t => stageOp.get(t.stage).contains(op)).toSeq
  }
  def jobsOf(op: String): Int = synchronized { jobs.count(_._2 == op) }

  /** Engine totals over the jobs the given ops launched. */
  def totals(ops: Set[String]): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    val opStages = stageOp.collect { case (s, o) if ops(o) => s }.toSet
    val tasks = this.tasks.filter(t => opStages(t.stage))
    val byStage = tasks.groupBy(_.stage).values
      .filter(_.size >= 2).map { ts =>
        val d = ts.map(t => (t.finishMs - t.launchMs).toDouble).sorted
        val med = d(d.size / 2)
        if (med > 0) d.last / med else 1.0
      }.toSeq.sorted
    Map(
      "spark.jobs" -> jobs.count(j => ops(j._2)).toDouble,
      "spark.stages" -> stages.count(opStages).toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_busy_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.sched_wait_s" -> schedWaitMs.collect { case (s, w) if opStages(s) => w }.sum / 1e3,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / mb,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb,
      "spark.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
      "spark.task_skew" ->
        (if (byStage.isEmpty) 1.0 else byStage(byStage.size / 2)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Length of the union of [a, b) intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = 0L
    var curB = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB != Long.MinValue) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB != Long.MinValue) covered += curB - curA
    covered
  }

  /** Seconds of [startMs, endMs] not covered by any task interval. */
  def uncoveredSeconds(startMs: Long, endMs: Long, tasks: Seq[TaskRec]): Double =
    (endMs - startMs - unionNs(tasks.map(t =>
      (math.max(startMs, t.launchMs), math.min(endMs, t.finishMs))))) / 1e3
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
