package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory with the engine's scale posture baked in.
  *
  * Settings rationale (100 TB posture, tested at local[32]):
  *  - AQE on: runtime coalescing of small shuffles + skew-join splitting,
  *    so `shuffle.partitions` can be sized for the big case without
  *    penalizing small stages.
  *  - autoBroadcastJoinThreshold lowered to 1 MiB: dimension tables are
  *    broadcast EXPLICITLY via `broadcast()` hints in every query; the
  *    size-estimate heuristic must never pick a column-pruned *fact*
  *    table as the build side (observed at sf0.1: Spark broadcast the
  *    600k-row lineitem scan and serialized the whole plan through one
  *    task — 3× slower than shuffling it).
  *  - shuffle.partitions = cores in local mode (driver contract says 32);
  *    a cluster deployment would size this to 2-3× total cores.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Extra session confs from `SPARK_GRAFT_EXTRA_CONF` ("k=v;k=v").
    * Two consumers: cluster deployments override scale-dependent knobs
    * (advisory partition size, broadcast thresholds) without a rebuild,
    * and optimization A/B runs flip one conf per run with everything
    * else held fixed. Applied LAST so they win over the baked defaults. */
  private def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }

  def builder(appName: String): SparkSession.Builder =
    extraConf.foldLeft(SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE inside cached-plan compilation (off by default): every
      // `withCache`d frame otherwise materializes at the pre-AQE
      // shuffle partition count, so each of its consumers launches that
      // many tasks per scan regardless of data size. With this on, the
      // cache keeps AQE's coalesced partitioning — scale-adaptive in
      // both directions (tiny corpora coalesce to a few partitions,
      // 100 TB corpora keep advisory-sized ones). Guide §2.2/§2.4.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (1 << 20).toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    ) { case (b, (k, v)) => b.config(k, v) }

  def get(appName: String): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with the session confs `kvs` set, then put each key back
    * as it was: its prior value, or unset if it was unset. The restore
    * also runs when `body` throws. The overrides are session-global
    * while `body` runs, so a query planned concurrently on the same
    * session sees them (SURVEY.md: the serial-session assumption). */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
