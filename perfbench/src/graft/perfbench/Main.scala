package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Entry point for one workload run, launched by `perfbench/run.py`.
  *
  * Flow: pinned session → set-up (everything before the first timed op,
  * including JIT warm-up and persisted-store builds) → closed loop of
  * timed ops, one client, for `--seconds` → output checks → forced GC and
  * live heap → result JSON. With `--trace 1` the loop runs twice more,
  * first with the engine listener and the benchmark's spans on, then
  * untraced again so the report can state the tracing overhead; then the
  * workload adds its per-layer pass.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, input: Path, work: Path, out: Path, budget: Double)

  /** Per-op deadline; a hung op fails instead of stalling the run. */
  val OpTimeoutS = 60
  /** Every op, even one started just before the run's budget ran out,
    * ends this long after the budget at the latest. */
  val OverrunS = 15

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("input")), Paths.get(need("work")),
      Paths.get(need("out")), need("budget").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val ctx = new Ctx(args)
    val code = try {
      val workload: Workload = args.workload match {
        case "warc_etl" => new WarcEtl(ctx)
        case "session" => new SessionOps(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val result = ctx.runWorkload(workload)
      Files.writeString(args.out, Json.write(result))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally ctx.close()
    // an op abandoned at its deadline may still hold a non-daemon thread
    sys.exit(code)
  }
}

/** One timed operation's outcome. */
final case class OpResult(id: String, name: String, kind: String,
    seconds: Double, ok: Boolean, error: String)

/** Verdict on one op's output, run after the op's clock has stopped. */
trait Check { def apply(): Boolean }

/** A workload: set-up, the op sequence of the closed loop and its checks.
  * A wrong result, an exception or a timeout counts as a failed op. */
trait Workload {
  /** Work done before the first timed op: warm-up and store builds. */
  def setUp(): Unit
  /** The i-th op of the loop: (name, "read" | "write", body). The body
    * is the timed work; it returns the untimed check of its output. */
  def nextOp(i: Int): (String, String, () => Check)
  /** Ops per round; the loop ends once `--seconds` have passed and the
    * current round is complete. */
  def roundSize: Int = 1
  /** End of run: facts for the report and files for checks made after
    * the JVM exits. */
  def finish(): Map[String, Any] = Map.empty
  /** Traced run only: the workload's own per-layer numbers. */
  def layerPass(): Map[String, Any] = Map.empty
}

final class Ctx(val args: Main.Args) {
  val spans = new Spans
  val listener = new EngineListener
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
  private val opSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Per-op engine accounting, traced loop only. */
  private val opLayer = mutable.LinkedHashMap[String, Map[String, Double]]()
  @volatile var tracing: Boolean = false
  /** Wall time spent in output checks, kept out of setup_s. */
  private var checkSeconds = 0.0
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Seconds left of `--budget`, counted from JVM start. Once it is
    * spent no loop starts another op, so a slow engine still reports
    * what it measured. */
  def budgetLeftS: Double = args.budget - (System.currentTimeMillis() - jvmStartMs) / 1e3
  /** Set when a loop ended early because the budget ran out. */
  var budgetCut = false
  /** (op id, root span id) of the traced op running on this thread. */
  val current = new ThreadLocal[(String, Long)]

  lazy val spark: SparkSession = {
    val w = args.work
    val s = graft.GraftSession.builder(s"perfbench-${args.workload}")
      .config("spark.sql.warehouse.dir", w.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", w.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", w.resolve("staging").toString)
      .config("spark.checkpoint.dir", w.resolve("checkpoint").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Run one op under the per-op deadline. A timeout cancels the op's
    * jobs and counts as a failure; the op thread is abandoned. */
  def runOp(name: String, kind: String, body: () => Check): OpResult = {
    val opId = s"$name#${opSeq.incrementAndGet()}"
    val group = s"perfbench-$opId"
    val sc = spark.sparkContext
    val t0 = Clock.nowNs()
    val f = Future {
      sc.setJobGroup(group, opId, interruptOnCancel = true)
      sc.setLocalProperty(listener.OpKey, opId)
      try {
        if (tracing) spans.timed(opId, 0, "op", name) { id =>
          current.set((opId, id))
          body()
        } else body()
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty(listener.OpKey, null)
      }
    }
    val deadlineS = math.max(1.0, math.min(Main.OpTimeoutS, budgetLeftS + Main.OverrunS))
    val ran = Try(Await.result(f, deadlineS.seconds))
    val t1 = Clock.nowNs()
    val outcome = ran.flatMap(check => Try(check()))
    checkSeconds += (Clock.nowNs() - t1) / 1e9
    if (ran.failed.toOption.exists(_.isInstanceOf[TimeoutException]))
      sc.cancelJobGroup(group)
    if (tracing) recordOpLayer(opId, t0, t1)
    val secs = (t1 - t0) / 1e9
    outcome match {
      case Success(true) => OpResult(opId, name, kind, secs, ok = true, "")
      case Success(false) => OpResult(opId, name, kind, secs, ok = false, "wrong result")
      case Failure(_: TimeoutException) =>
        OpResult(opId, name, kind, secs, ok = false, f"timed out after $deadlineS%.0f s")
      case Failure(e) =>
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        OpResult(opId, name, kind, secs, ok = false,
          s"${root.getClass.getSimpleName}: ${root.getMessage}")
    }
  }

  private def recordOpLayer(opId: String, t0: Long, t1: Long): Unit = {
    val tasks = listener.tasksOf(opId)
    val cached = spark.sparkContext.getRDDStorageInfo
    opLayer += opId -> Map(
      "wall_s" -> (t1 - t0) / 1e9,
      "jobs" -> listener.jobsOf(opId).toDouble,
      "tasks" -> tasks.size.toDouble,
      "task_busy_s" -> tasks.map(_.runMs).sum / 1e3,
      "op.driver_only_s" ->
        Stats.uncoveredSeconds(t0 / 1000000, t1 / 1000000, tasks),
      "store.mb_written" -> tasks.map(_.outputBytes).sum / 1048576.0,
      "cache.entries" -> cached.length.toDouble,
      "cache.mb" -> cached.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** The closed loop: one client, next op only after the previous ends.
    * Loop time counts the ops and the cache release between them, not
    * the output checks. It ends early, after at least one op, once the
    * run's budget is spent. */
  private def loop(w: Workload): (Seq[OpResult], Double) = {
    val ops = mutable.ArrayBuffer[OpResult]()
    var loopS = 0.0
    def more = loopS < args.seconds || ops.size % w.roundSize != 0
    while (more && (ops.isEmpty || budgetLeftS > 0)) {
      val (name, kind, body) = w.nextOp(ops.size)
      val op = runOp(name, kind, body)
      val t0 = System.nanoTime()
      spark.catalog.clearCache() // release per-op persists, as Bench does
      loopS += op.seconds + (System.nanoTime() - t0) / 1e9
      ops += op
    }
    if (more) budgetCut = true
    (ops.toSeq, loopS)
  }

  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)

  def runWorkload(w: Workload): Map[String, Any] = {
    val load0 = loadAvg
    spark
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    w.setUp()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - checkSeconds
    val (ops, loopS) = loop(w)
    val good = ops.filter(_.ok)
    // throughput round by round (a round runs every op once), median over
    // rounds: robust to one slow op, and exact for a single round; a loop
    // the budget cut short before a round was complete counts its good ops
    val whole = ops.grouped(w.roundSize).filter(r => r.size == w.roundSize && r.forall(_.ok))
      .map(r => r.size / r.map(_.seconds).sum).toSeq
    val rounds = if (whole.nonEmpty || good.isEmpty) whole
      else Seq(good.size / good.map(_.seconds).sum)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "master" -> spark.sparkContext.master, "load_start" -> load0,
      "setup_s" -> setupS, "session_start_s" -> sessionS, "loop_s" -> loopS,
      "op_p50_s" -> p50(good.map(_.seconds)),
      "ops_per_s" -> p50(rounds),
      "read_p50_s" -> p50(good.filter(_.kind == "read").map(_.seconds)),
      "write_p50_s" -> p50(good.filter(_.kind == "write").map(_.seconds)),
      "read_samples" -> good.count(_.kind == "read"),
      "write_samples" -> good.count(_.kind == "write"),
      "ops" -> ops.map(o => Map("name" -> o.name, "kind" -> o.kind,
        "s" -> o.seconds, "ok" -> o.ok)))
    var allOps = ops
    if (args.trace) {
      spark.sparkContext.addSparkListener(listener)
      tracing = true
      val (traced, _) = loop(w)
      tracing = false
      spark.sparkContext.removeSparkListener(listener)
      // untraced again after the traced loop: the overhead compares the
      // traced loop with both neighbours, so JIT warm-up cancels out
      val (after, _) = loop(w)
      // per-op means over the traced loop, so the numbers do not depend
      // on how many ops fit into --seconds
      val n = traced.size.toDouble
      val layers = mutable.LinkedHashMap[String, Any]()
      layers ++= listener.totals(traced.map(_.id).toSet).map { case (k, v) =>
        k -> (if (k == "spark.task_skew") v else v / n)
      }
      val perOp = traced.map(o => opLayer(o.id))
      Seq("op.driver_only_s", "store.mb_written").foreach { k =>
        layers(k) = perOp.map(_(k)).sum / n
      }
      Seq("cache.entries", "cache.mb").foreach(k => layers(k) = perOp.map(_(k)).max)
      layers("trace.overhead_share") = p50(traced.map(_.seconds)) /
        ((p50(ops.map(_.seconds)) + p50(after.map(_.seconds))) / 2) - 1.0
      spark.sparkContext.addSparkListener(listener)
      tracing = true
      layers ++= w.layerPass()
      tracing = false
      spark.sparkContext.removeSparkListener(listener)
      allOps ++= traced ++ after
      listener.engineSpans(spans,
        spans.all.filter(_.layer == "op").map(s => s.op -> s.id).toMap)
      result("layers") = layers
      result("op_layer") = opLayer
      val spanFile = args.work.resolve("spans.jsonl")
      spans.writeJsonLines(spanFile)
      result("span_count") = spans.all.size
      result("span_self_s") = spans.selfSeconds
    }
    result ++= w.finish()
    result("heap_live_mb") = liveHeapMb()
    result("load_end") = loadAvg
    result("budget_cut") = budgetCut
    result("attempted") = allOps.size
    result("failed") = allOps.count(!_.ok)
    result("failures") = allOps.filterNot(_.ok).map(o => s"${o.name}: ${o.error}")
    result.toMap
  }

  /** Heap in use after a forced full collection, in MB. */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def close(): Unit = {
    Try(spark.stop())
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
}
