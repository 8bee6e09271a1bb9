package graft

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.DedupOps
import graft.warc.WarcQueries

/** Guards of the round-loop helper ([[Rounds]]) and the scoped-conf
  * helper ([[GraftSession.withConf]]): each hazard they own throws, and
  * each spec here makes it fire. */
class RoundsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("rounds-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("rounds-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The checkpointed RDDs a frame's plan reads. */
  private def checkpointsRead(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  test("a required metric that never arrives throws within its bound") {
    // an observation no action ever fulfils: the wait must end at the
    // bound with an error, never block the driver loop
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Rounds.await(new Observation(), Seq("changed"), 500.millis)
    }
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("did not arrive"), e.getMessage)
    assert(waitedS < 10, s"bounded wait took $waitedS s")
  }

  test("a required metric missing from the observed row throws") {
    val sp = spark
    val obs = new Observation()
    sp.range(10).observe(obs, count(lit(1)).as("rows")).localCheckpoint(true)
    val e = intercept[IllegalStateException] {
      Rounds.await(obs, Seq("changed"), 60.seconds)
    }
    assert(e.getMessage.contains("changed"), e.getMessage)
    assert(Rounds.await(obs, Seq("rows"), 60.seconds) == Map("rows" -> 10L))
  }

  test("connected components: the round cap throws on the 101-node chain") {
    val sp = spark
    import sp.implicits._
    // the chain needs several rounds even with the pointer hop; one leaves
    // labels changing, and CC must refuse to return them
    val pairs = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = persisted
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(pairs, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"a failed loop left checkpoints persisted: $leaked")
  }

  test("pageRank: an edge list with a src-only node throws") {
    val sp = spark
    import sp.implicits._
    // node 1 links out but nothing links to it: the round emits no row
    // for it, so the round's row count falls short of the node count
    val broken = Seq((1L, 2L), (2L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalStateException](WarcQueries.pageRank(broken))
    assert(e.getMessage.contains("every src must also be a dst"), e.getMessage)
  }

  test("pageRank: observed round checkpoints keep their hash partitioning") {
    val sp = spark
    import sp.implicits._
    // a 24-byte advisory size gives the loop one partition per edge (3);
    // the last round's checkpoint must stay hash-partitioned on id, which
    // the next round's rank join zips on (AQE left on would lose it)
    val ok = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("src", "dst")
    val ranks = GraftSession.withConf(sp,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "24") {
      WarcQueries.pageRank(ok)
    }
    assert(ranks.count() == 2)
    val parts = ranks.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.outputPartitioning
    }
    assert(parts.exists {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.numPartitions == 3 && h.expressions.map(_.toString).exists(_.startsWith("id#"))
      case _ => false
    }, s"round checkpoint lost its hash partitioning: $parts")
  }

  test("PageRank and CC leave registered only the round their result reads") {
    val sp = spark
    import sp.implicits._
    // the w08 loop over a 101-node ring with a self-edge per node
    val edges = (0L until 101L).flatMap(i => Seq((i, i), (i, (i + 1) % 101)))
      .toDF("src", "dst")
    val before = persisted
    val ranks = WarcQueries.pageRank(edges)
    val w08Left = persisted -- before
    assert(w08Left == checkpointsRead(ranks),
      s"w08 left $w08Left persisted; its result reads ${checkpointsRead(ranks)}")
    assert(w08Left.size == 1)
    assert(ranks.count() == 101)

    val pairs = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val mid = persisted
    val labels = DedupOps.connectedComponents(pairs)
    val ccLeft = persisted -- mid
    assert(ccLeft == checkpointsRead(labels),
      s"CC left $ccLeft persisted; its result reads ${checkpointsRead(labels)}")
    assert(ccLeft.size == 1)
    assert(labels.count() == 101)
    // s11's greedy releases its last round too: see DedupGuardSpec's
    // "s11 checkpoint footprint"
  }

  test("withConf: a key unset before is unset after") {
    val sp = spark
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    assert(!sp.conf.getAll.contains(k))
    val inside = GraftSession.withConf(sp, k -> "false")(sp.conf.get(k))
    assert(inside == "false")
    assert(!sp.conf.getAll.contains(k), s"withConf left $k set to ${sp.conf.get(k)}")
  }

  test("withConf: a body that throws still restores every key") {
    val sp = spark
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prior = sp.conf.get(set)
    intercept[ArithmeticException] {
      GraftSession.withConf(sp, set -> "7", unset -> "false") {
        assert(sp.conf.get(set) == "7")
        throw new ArithmeticException("body failed")
      }
    }
    assert(sp.conf.get(set) == prior)
    assert(!sp.conf.getAll.contains(unset))
  }
}
