package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Tables

/** Embedding-space DATA SELECTION — the curation stage after dedup and
  * quality gating: pick a small, maximally-diverse subset of the corpus
  * (coreset) for annotation budgets, eval-set seeding, or
  * diversity-balanced training mixes.
  *
  * s11 implements k-center greedy (farthest-point traversal), the
  * classical 2-approximation to the k-center objective and the standard
  * coreset baseline in active-learning/data-selection literature: seed
  * with the lowest-id vector, then repeatedly add the point FARTHEST
  * (max-min cosine distance) from the selected set.
  *
  * Scale shape (100 TB posture): the working frame carries a RUNNING
  * min-distance column (quantized to 2^-32 fixed point, so the argmax
  * order (dist desc, vec_id) compares exact longs), updated each round
  * against only the single newest center and eagerly re-materialized
  * (plan-truncating localCheckpoint — the d06/w08 lineage rule for
  * iterative updates), followed by a 1-row argmax collect — the
  * iteration-control discipline: driver data is bounded by the
  * selection budget T, never the corpus. Each picked row leaves the
  * working frame, so a vector can never be selected twice even when
  * every remaining min-distance quantizes to 0 (duplicate-saturated
  * corpora). Cost is O(T · corpus) distance evaluations — one per
  * vector per round, the known lower bound for exact greedy.
  *
  * s11b is the production variant for budgets where T full-corpus
  * passes are too many: COMPOSABLE-CORESET greedy (Indyk et al. 2014,
  * "Composable core-sets for diversity and coverage maximization") in
  * the s06 k-means geometry — each cluster computes its own T-point
  * greedy coreset locally inside one partition pass, and the exact
  * global greedy then runs over only the per-cluster picks
  * (≤ k·T ≈ corpus/16 rows at the adaptive k), shrinking the per-round
  * scan by that same factor while the one corpus-wide pass is the
  * cluster assignment it shares with s06/s10.
  *
  * Oracle-checked since r10: the T-deep sequential argmax recurrence
  * IS SQL-expressible — as a recursive CTE whose working rows carry
  * (vec_id, quantized components, running min, picked-rank), with the
  * per-round argmax read off a window (see [[s11Oracle]]); and the
  * distances replay exactly because [[quantDist]] computes them from
  * 2^-24-quantized integer components (order-free integer sums +
  * IEEE-correctly-rounded scalar ops). Deterministic pins (seedless:
  * lowest-id seed, quantized dists, id tie-break) stay as the
  * spec-level fast guard. */
object SelectOps {

  /** floor(K·(1−cos)) quantization shared by every selection stage:
    * floor is monotone, so a running min over per-center quantized
    * distances equals quantizing the exact min — comparison keys stay
    * exact longs and shuffle/merge order cannot flip a near-tie.
    *
    * CROSS-ENGINE exact (r10, for the SQL oracle): the cosine is
    * computed over components first floored to 2^-24 quanta (exact on
    * float32 — an exponent shift in double), so dot/‖a‖²/‖b‖² are exact
    * integer sums no engine can order-drift, and the remaining ops
    * (long→double, ·, √, ÷, −, floor) are each IEEE-correctly-rounded
    * on identical inputs — any SQL engine with 64-bit floats replays
    * the long bit-for-bit. Bounds: |component| ≤ 8 ⇒ quanta < 2²⁷,
    * per-term products < 2⁵⁴, 64-term sums < 2⁶⁰ — safely in a long.
    * Components beyond that COULD wrap a plain sum (the r10 review
    * caught the original comment overstating the bound as 2⁶), so the
    * sums use add/multiplyExact: an out-of-range corpus throws loudly —
    * mirroring DuckDB's HUGEINT→BIGINT overflow error on the oracle
    * side — instead of silently diverging from the oracle. */
  private[sim] def quantDist(v: Array[Float], c: Array[Float]): Long = {
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    val n = math.min(v.length, c.length)
    while (i < n) {
      val a = math.floor(v(i).toDouble * 16777216.0).toLong
      val b = math.floor(c(i).toDouble * 16777216.0).toLong
      dot = Math.addExact(dot, Math.multiplyExact(a, b))
      na = Math.addExact(na, Math.multiplyExact(a, a))
      nb = Math.addExact(nb, Math.multiplyExact(b, b))
      i += 1
    }
    val cos = if (na == 0L || nb == 0L) 0.0
      else dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
    math.floor((1.0 - cos) * 4294967296.0).toLong
  }

  /** Exact distributed k-center greedy over `emb` (`vec_id`,
    * `embedding`): T picks, lowest-id seed, (dist desc, vec_id) argmax
    * order. Returns (rank, vec_id, min_dist_fp) with the seed carrying
    * sentinel distance -1. See the object doc for the working-frame
    * mechanics (running min column, eager localCheckpoint per round,
    * 1-row collects). */
  private def greedySelect(s: SparkSession, emb: DataFrame, T: Int): DataFrame = {
    import s.implicits._

    // distance to ONE center, quantized (see quantDist)
    def distQ(c: Array[Float]) = udf { v: Seq[Float] =>
      quantDist(v.toArray, c)
    }

    val seedRow = emb.orderBy($"vec_id").limit(1).collect()(0)
    val seedId = seedRow.getLong(0)
    val seedVec = seedRow.getSeq[Float](1).toArray
    var picks = Vector[(Long, Long)]((seedId, -1L))

    // working frame: survivors only, with the running min-distance to
    // the selected set, one graft.Rounds round per pick. A round's
    // checkpoint is its one corpus scan and one distance evaluation per
    // vector; the 1-row argmax collect reads the previous round.
    val init = emb.filter($"vec_id" =!= seedId)
      .select($"vec_id", $"embedding", distQ(seedVec)($"embedding").as("mind"))
      .localCheckpoint(true)
    val last = graft.Rounds.iterate("greedySelect", init, T - 1) { work =>
      // None once the corpus is smaller than the budget
      work.orderBy($"mind".desc, $"vec_id").limit(1).collect().headOption.map { pick =>
        picks :+= ((pick.getLong(0), pick.getLong(2)))
        val newest = pick.getSeq[Float](1).toArray
        work.filter($"vec_id" =!= pick.getLong(0))
          .select($"vec_id", $"embedding",
            least($"mind", distQ(newest)($"embedding")).as("mind"))
      }
    }
    graft.Rounds.release(last)
    s.createDataFrame(picks.zipWithIndex.map { case ((id, fp), i) =>
      (i + 1, id, fp)
    }).toDF("rank", "vec_id", "min_dist_fp")
  }

  /** s11: k-center greedy coreset of T = 32 vectors. One row per pick:
    * rank, vec_id, and the (2^-32-quantized) min distance to the
    * previously selected set at pick time — the pick sequence's
    * distances are non-increasing (adding centers only shrinks
    * min-distances), which the spec asserts. The seed row carries the
    * sentinel -1 (no prior set). */
  def s11_coreset_select(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      .repartition(s.sparkContext.defaultParallelism)
    greedySelect(s, emb, T = 32)
  }

  /** s11b: cluster-local composable coreset, merged to the global
    * budget. Phase 1 (one corpus pass + one cid shuffle): assign every
    * vector to the s06 k-means codebook, then run EXACT greedy k-center
    * inside each cluster's sorted partition run — O(T·|cluster|) local
    * compute, O(cap) task memory (members beyond `cap` per cluster are
    * counted into a loud accumulator and excluded from the candidate
    * pool — the cluster stays represented by its first-`cap` picks, and
    * the adaptive k keeps expected cluster size ~1000 ≪ cap). Phase 2:
    * the exact distributed greedy of s11 over only the ≤ k·T candidate
    * union. Output schema and determinism pins match s11 (global
    * quantized distances re-derived in the merge, so ranks/dists are
    * comparable to s11's).
    */
  def s11b_coreset_cluster(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val T = 32
    val cap = 4096
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val k = SemanticDedup.adaptiveK(emb.count())
    val overflow = s.sparkContext.longAccumulator("graft_s11b_cap_overflow")
    val assigned = SemanticDedup.trainAndAssign(s, d, k, emb)

    // cluster-local greedy: rows arrive grouped by cid and sorted by
    // vec_id (the same shuffle the grouping needs), each run buffers at
    // most `cap` members, and every run emits its ≤ T picks — candidate
    // rows only, never the cluster's full membership, leave the task
    val candidates = assigned
      .repartition($"cid").sortWithinPartitions($"cid", $"vec_id")
      .select($"cid", $"vec_id", $"embedding")
      .as[(Int, Long, Seq[Float])]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
        var curCid = Int.MinValue
        var curCount = 0L
        def flush(): Unit = if (buf.nonEmpty) {
          // exact greedy on the buffered run: seed = lowest vec_id
          // (buffer arrives vec_id-sorted), then T-1 max-min picks with
          // the shared quantized distance and vec_id tie-break
          val n = buf.length
          val picked = new Array[Boolean](n)
          val mind = Array.fill(n)(Long.MaxValue)
          var last = 0 // seed index
          picked(0) = true
          val t = math.min(T, n)
          var got = 1
          while (got < t) {
            var best = -1
            var i = 0
            while (i < n) {
              if (!picked(i)) {
                val dq = quantDist(buf(i)._2, buf(last)._2)
                if (dq < mind(i)) mind(i) = dq
                if (best < 0 || mind(i) > mind(best)) best = i
                // vec_id tie-break is the buffer order: earlier index
                // (smaller vec_id) wins ties because only strictly
                // greater mind replaces best
              }
              i += 1
            }
            picked(best) = true
            last = best
            got += 1
          }
          var i = 0
          while (i < n) {
            if (picked(i)) out += ((buf(i)._1, buf(i)._2.toSeq))
            i += 1
          }
          buf.clear()
        }
        it.foreach { case (cid, id, v) =>
          if (cid != curCid) { flush(); curCid = cid; curCount = 0L }
          curCount += 1
          if (curCount <= cap) buf += ((id, v.toArray))
          else overflow.add(1L) // loud: candidate-pool truncation, never silent
        }
        flush()
        out.iterator
      }.toDF("vec_id", "embedding")

    // eager checkpoint: the local phase runs EXACTLY once (the merge's
    // per-round scans hit the materialized candidates, not the
    // assign+greedy subtree), and the overflow accumulator is final
    // before it is read below. The checkpoint keeps the cid-shuffle's
    // AQE-coalesced partitioning (size-adaptive: ≤ k·T candidate rows
    // land in a handful of partitions here, advisory-sized ones at
    // scale) — the r20 shape re-spread them to defaultParallelism,
    // which made every one of the merge's ~2·T tiny per-round jobs pay
    // 32 tasks per scan (guide §2.2: fewer, larger partitions).
    val candFrame = candidates.localCheckpoint(true)
    val out = greedySelect(s, candFrame, T)
    // the result is driver-built (createDataFrame over the collected
    // picks) — the candidate blocks are dead; release them eagerly
    graft.Rounds.release(candFrame)
    if (overflow.value > 0)
      org.slf4j.LoggerFactory.getLogger("graft.sim").warn(
        s"s11b: ${overflow.value} member(s) of over-cap cluster(s) excluded " +
          "from the local candidate pool (cluster still represented by its " +
          s"first-$cap greedy picks; raise k to shrink clusters)")
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s11_coreset_select" -> (s11_coreset_select _),
    "s11b_coreset_cluster" -> (s11b_coreset_cluster _))

  /** [[quantDist]] in SQL over pre-quantized component lists `{a}`/`{b}`
    * with pre-computed squared norms `{na}`/`{nb}` — bit-identical (see
    * quantDist's cross-engine note). */
  private def qdSql(a: String, b: String, na: String, nb: String): String = {
    val dot =
      s"CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT)"
    s"""CAST(floor((1.0 - CASE WHEN $na = 0 OR $nb = 0 THEN 0.0
       |  ELSE CAST($dot AS DOUBLE) / sqrt(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE)) END
       |  ) * 4294967296.0) AS BIGINT)""".stripMargin
  }

  /** One greedy walk as a recursive CTE over a candidate CTE `src`
    * (columns vec_id, qv, nrm) seeded by CTE `seedCte` (same columns):
    * iteration r's rows are the working set with the running quantized
    * min-distance; the round's pick is the window argmax ((picked
    * first) DESC puts eligible rows ahead, then mind DESC, vec_id ASC —
    * greedySelect's exact order); picked rows freeze their mind (the
    * pick-time distance the output reports). `partition` optionally
    * runs one walk per cluster (s11b's phase 1). */
  private def walkSql(name: String, src: String, seedCte: String,
      joinSeedOnCid: Boolean): String = {
    val (baseJoin, part, cidCol, cidSel) =
      if (joinSeedOnCid)
        (s"FROM $src q JOIN $seedCte s ON q.cid = s.cid AND q.vec_id <> s.vec_id",
          "PARTITION BY cid ", "cid, ", "q.cid, ")
      else
        (s"FROM $src q, $seedCte s WHERE q.vec_id <> s.vec_id", "", "", "")
    s"""$name(r, ${cidCol}vec_id, qv, nrm, mind, picked_rank) AS (
       |  SELECT 1, $cidSel q.vec_id, q.qv, q.nrm,
       |    ${qdSql("q.qv", "s.qv", "q.nrm", "s.nrm")},
       |    CAST(NULL AS INTEGER)
       |  $baseJoin
       |  UNION ALL
       |  SELECT r + 1, ${cidCol}vec_id, qv, nrm,
       |    CASE WHEN picked_rank IS NOT NULL OR vec_id = pick_id THEN mind
       |         ELSE LEAST(mind, ${qdSql("qv", "pick_qv", "nrm", "pick_nrm")}) END,
       |    CASE WHEN picked_rank IS NOT NULL THEN picked_rank
       |         WHEN vec_id = pick_id THEN r + 1 END
       |  FROM (
       |    SELECT *,
       |      FIRST_VALUE(vec_id) OVER w AS pick_id,
       |      FIRST_VALUE(qv) OVER w AS pick_qv,
       |      FIRST_VALUE(nrm) OVER w AS pick_nrm
       |    FROM $name
       |    WINDOW w AS ($part
       |      ORDER BY (picked_rank IS NULL) DESC, mind DESC, vec_id)
       |  ) WHERE r < 32
       |)""".stripMargin
  }

  /** Quantized component lists + squared norms. `cid` (optional, from
    * an `a3` join) rides along for the per-cluster walk. */
  private def quantCtes(withCid: Boolean): String = {
    val (from, cidA, cid) =
      if (withCid) ("emb e JOIN a3 a USING (vec_id)", "a.cid, ", "cid, ")
      else ("emb", "", "")
    s"""qn AS (
       |  SELECT vec_id, ${cidA}list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 16777216) AS BIGINT)) AS qv
       |  FROM $from),
       |qn2 AS (
       |  SELECT vec_id, ${cid}qv,
       |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
       |  FROM qn)""".stripMargin
  }

  private val pickTail: String =
    """picks AS (
      |  SELECT picked_rank AS rank, vec_id, mind AS min_dist_fp
      |  FROM gwalk WHERE r = 32 AND picked_rank IS NOT NULL
      |  UNION ALL
      |  SELECT 1, vec_id, CAST(-1 AS BIGINT) FROM gseed)
      |SELECT CAST(rank AS INTEGER) AS rank, vec_id, min_dist_fp
      |FROM picks ORDER BY rank""".stripMargin

  /** s11 replayed: one global walk over the whole corpus. */
  val s11Oracle: String =
    s"""WITH RECURSIVE emb AS (SELECT vec_id, embedding FROM embeddings),
       |${quantCtes(withCid = false)},
       |gseed AS (SELECT vec_id, qv, nrm FROM qn2 ORDER BY vec_id LIMIT 1),
       |${walkSql("gwalk", "qn2", "gseed", joinSeedOnCid = false)},
       |$pickTail""".stripMargin

  /** s11b replayed: the s06 Lloyd chain assigns clusters
    * ([[SimilarityOps.lloydSqlChain]] at adaptiveK(N)), phase 1 runs
    * the SAME walk partitioned per cluster (every cluster advances one
    * pick per recursion round; clusters smaller than T stall once
    * exhausted), phase 2 re-walks globally over seed ∪ picked
    * candidates. Replays the under-cap semantics (cap 4096 — the gate
    * corpora sit far below; the overflow accumulator covers the rest). */
  val s11bOracle: String =
    s"""WITH RECURSIVE emb AS (SELECT vec_id, embedding FROM embeddings),
       |${SimilarityOps.lloydSqlChain(
           "SELECT GREATEST(16, COUNT(*) // 500) FROM embeddings", "emb")},
       |${quantCtes(withCid = true)},
       |cseed AS (
       |  SELECT cid, vec_id, qv, nrm FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rk
       |    FROM qn2)
       |  WHERE rk = 1),
       |${walkSql("cwalk", "qn2", "cseed", joinSeedOnCid = true)},
       |cand AS (
       |  SELECT vec_id, qv, nrm FROM cwalk WHERE r = 32 AND picked_rank IS NOT NULL
       |  UNION ALL
       |  SELECT vec_id, qv, nrm FROM cseed),
       |gseed AS (SELECT vec_id, qv, nrm FROM cand ORDER BY vec_id LIMIT 1),
       |${walkSql("gwalk", "cand", "gseed", joinSeedOnCid = false)},
       |$pickTail""".stripMargin

  val oracle: Map[String, String] = Map(
    "s11_coreset_select" -> s11Oracle,
    "s11b_coreset_cluster" -> s11bOracle)
}
