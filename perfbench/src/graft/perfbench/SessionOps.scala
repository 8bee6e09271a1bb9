package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.dedup.DedupOps
import graft.pipeline.TrainingPipeline

/** session: one warm session running a seeded order of registry
  * operations over the sf 0.01 test tables (`perfbench/data/sf0.01`),
  * round after round. The seed picks the op order only. The first result
  * of each op (set-up's cold pass) is saved for the DuckDB oracle check
  * `run.py` makes after the run with `tools/check.py`. */
final class SessionOps(ctx: Ctx) extends Workload {
  private val dir = ctx.args.input.toString
  private val resultDir = ctx.args.work.resolve("results")

  /** Reads: relational joins, funnel, a probe of the persisted ANN store
    * set-up builds, PageRank loop, quality gate, exact dedup and an
    * admission probe of the persisted dedup store set-up builds. Write: a
    * JSONL round trip through files. */
  private val ops: Seq[(String, String)] =
    Seq("q05_multi_join", "q37_funnel", "s08_ann_ivfpq", "w08_pagerank",
      "t07_quality_gate", "d01_exact_dedup", "d10_store_incremental")
      .map(_ -> "read") :+ ("io01_jsonl_roundtrip" -> "write")

  private val rng = new scala.util.Random(ctx.args.seed)
  private var order = Vector.empty[(String, String)]
  private val saved = mutable.Set[String]()

  private def run(name: String): Check = {
    val df = SparkEntry.queries(name)(ctx.spark, dir)
    val rows = df.collect()
    () => {
      if (saved.add(name)) {
        // coalesce(1) keeps the oracle compare to one file per op
        ctx.spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(resultDir.resolve(name).toString)
      }
      true
    }
  }

  /** Two passes over every op: the cold one builds the persisted ANN and
    * dedup stores s08 and d10 probe; the second lets the JIT settle (the
    * first warm round runs ~15% slower than the ones after it). */
  def setUp(): Unit = for (pass <- 1 to 2; (name, _) <- rng.shuffle(ops)) {
    val op = ctx.runOp(name, "setup", () => run(name))
    setupTimes += s"$name/$pass" -> op.seconds
    require(op.ok, s"set-up op $name failed: ${op.error}")
  }
  private val setupTimes = mutable.LinkedHashMap[String, Double]()

  /** Each round runs every op once, in a fresh seeded order. */
  def nextOp(i: Int): (String, String, () => Check) = {
    if (i % ops.size == 0) order = rng.shuffle(ops).toVector
    val (name, kind) = order(i % ops.size)
    (name, kind, () => run(name))
  }

  override def roundSize: Int = ops.size

  override def finish(): Map[String, Any] = {
    val oracle = ops.map(_._1).filter(saved).map(n => n -> SparkEntry.oracleSql(n)).toMap
    Files.createDirectories(resultDir)
    Files.writeString(resultDir.resolve("oracle_sql.json"), Json.write(oracle))
    val tableBytes = Files.list(ctx.args.input).iterator.asScala.map(Files.size).sum
    Map("oracle_dir" -> resultDir.toString, "setup_ops" -> setupTimes,
      "ops_in_round" -> ops.size, "input_mb" -> tableBytes / 1048576.0)
  }

  /** Per-layer pass over the release drill's layers, which no session op
    * reaches call by call: over the p10 corpus (the documents plus
    * planted containment and near-duplicate copies), the gate, the pair
    * engines (MinHash candidates and confirm, containment), connected
    * components, then the drill's unified keep/drop decision and its
    * written artifacts: shards, provenance, and the card read back from
    * the provenance file. One op (and one root span) per layer; the
    * written artifacts are reconciled like the drill's own checks. */
  override def layerPass(): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    def busy(op: OpResult) = ctx.listener.tasksOf(op.id).map(_.runMs).sum / 1e3
    def step(name: String, kind: String = "read")(body: => Unit): OpResult = {
      val op = ctx.runOp(name, kind, () => { body; () => true })
      require(op.ok, s"layer pass step $name failed: ${op.error}")
      op
    }
    val out = mutable.LinkedHashMap[String, Any]()
    val drillDir = ctx.args.work.resolve("drill").toString

    var corpus: DataFrame = null
    var nDocs = 0L
    step("corpus") {
      corpus = DedupOps.withContainmentChain(spark, dir, carrySource = true)
        .localCheckpoint(true)
      nDocs = corpus.count()
    }

    var gated: DataFrame = null
    var nGated = 0L
    val gate = step("gate") {
      gated = TrainingPipeline.gatedOf(corpus).localCheckpoint(true)
      nGated = gated.count()
    }
    out ++= Seq("gate.docs" -> nDocs, "gate.kept_share" -> nGated.toDouble / nDocs,
      "gate.busy_s" -> busy(gate), "gate.wall_s" -> gate.seconds)

    var pairs: DataFrame = null
    var nCand, nNear, nContain = 0L
    val dedup = step("dedup") {
      val docs = gated.select($"doc_id", $"text")
      val near = DedupOps.withCache(
          docs.withColumn("sig", DedupOps.sigWithHashesU($"text"))) { sigd =>
        DedupOps.withCache(DedupOps.scoredOf(sigd)) { scored =>
          nCand = scored.count()
          DedupOps.confirmedPairsOf(sigd, scored)
        }
      }.select($"id_a", $"id_b")
      val contain = DedupOps.containmentPairsOf(docs).select($"id_a", $"id_b")
        .localCheckpoint(true)
      nNear = near.count()
      nContain = contain.count()
      pairs = near.unionByName(contain)
    }
    out ++= Seq("dedup.candidates" -> nCand, "dedup.confirmed" -> (nNear + nContain),
      "dedup.confirmed_share" -> nNear.toDouble / math.max(1L, nCand),
      "dedup.containment_pairs" -> nContain, "dedup.busy_s" -> busy(dedup),
      "dedup.wall_s" -> dedup.seconds)

    var labels: DataFrame = null
    val cc = step("cc") {
      labels = DedupOps.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
      labels.count()
    }
    out ++= Seq("cc.jobs" -> ctx.listener.jobsOf(cc.id), "cc.busy_s" -> busy(cc),
      "cc.wall_s" -> cc.seconds, "cc.components" -> labels.select("label").distinct().count())

    // the drill's whole keep/drop decision (pairs, CC and keeper rule),
    // computed once like the drill does and shared by its three writers
    var keepers: DataFrame = null
    step("keepers") { keepers = TrainingPipeline.unifiedClusters(gated) }

    val shard = step("shard", "write") {
      TrainingPipeline.materializeShardsOf(corpus, s"$drillDir/shards",
        unifiedDedup = true, unifiedPre = Some(keepers)).collect()
    }
    val prov = step("provenance", "write") {
      TrainingPipeline.provenanceOf(corpus, withTok = true, unifiedDedup = true,
        unifiedPre = Some(keepers)).write.parquet(s"$drillDir/provenance")
    }
    val card = step("card", "write") {
      TrainingPipeline.cardRollupOf(spark.read.parquet(s"$drillDir/provenance"))
        .write.parquet(s"$drillDir/card")
    }
    out ++= Seq("shard.busy_s" -> busy(shard), "shard.wall_s" -> shard.seconds,
      "shard.bytes_out" -> treeBytes(s"$drillDir/shards"),
      "provenance.busy_s" -> busy(prov), "provenance.wall_s" -> prov.seconds,
      "card.busy_s" -> busy(card), "card.wall_s" -> card.seconds)

    // reconcile the written artifacts: every input doc has one provenance
    // row, and the kept mass agrees across shard files, provenance and card
    val provDisk = spark.read.parquet(s"$drillDir/provenance")
    val keptProv = provDisk.filter($"disposition" === "kept").count()
    val keptShards = spark.read.parquet(s"$drillDir/shards").count()
    val keptCard = spark.read.parquet(s"$drillDir/card")
      .filter($"section" === "disposition" && $"key" === "kept")
      .select("n_docs").as[Long].collect().headOption.getOrElse(-1L)
    val drillOk = provDisk.count() == nDocs && keptShards == keptProv &&
      keptCard == keptProv && keptProv > 0 && keptProv < nDocs
    require(drillOk, s"drill layer pass does not reconcile: input $nDocs, provenance " +
      s"${provDisk.count()}, kept shards $keptShards / provenance $keptProv / card $keptCard")
    out("drill.kept_docs") = keptProv
    out.toMap
  }

  private def treeBytes(path: String): Long =
    Files.walk(java.nio.file.Paths.get(path)).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
}
