package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.GraftSession.withConf
import graft.dedup.Contamination

/** Structured Streaming surface over the `events` table.
  *
  * The reference's only "stream" is a sequential file iterator (SURVEY.md
  * §1.1); the Spark engine exposes real incremental processing:
  * `readStream` → event-time watermark → windowed aggregation →
  * `writeStream`. Queries run with `Trigger.AvailableNow` against the
  * events parquet so results are deterministic and oracle-checkable —
  * the same plan run continuously is the production shape.
  *
  * `events.ts` has shipped as both parquet TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS) across driver data refreshes; the stream reader
  * discovers the actual encoding from a batch footer peek and reuses
  * `Tables.adaptEvents` so stream and batch semantics cannot diverge
  * (the r8 hardcoded nanos schema read micros longs as nanos — every
  * timestamp 1000× small, silently wrong windows; the shared adapter's
  * range guard now makes that failure mode loud).
  */
object StreamingOps {

  private def streamEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // readStream requires a user-supplied schema: take the file's own
    // (footer-only read, no data scan), so whatever shape the driver
    // regenerated is the shape the stream parses.
    val fileSchema = s.read
      .option("pathGlobFilter", "events.parquet").parquet(d).schema
    graft.analytics.Tables.adaptEvents(
      s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
  }

  /** Streaming-sized shuffle parallelism, set around each stream with
    * [[graft.GraftSession.withConf]]. Each shuffle partition carries an
    * HDFS-backed state store whose per-batch checkpoint I/O dominates
    * these small stateful queries; 8 stores is plenty for the testdata
    * volumes (a production stream would size this to its key
    * cardinality). Streaming plans capture the value at `start()`, so the
    * override spans query construction through `awaitTermination`. */
  private[streaming] val StreamShuffle = "spark.sql.shuffle.partitions" -> "8"

  /** Production drain (r5 verdict item 5): every st0x memory sink
    * materializes its results on the DRIVER, which is fine for the
    * aggregate-sized oracle path but becomes the limit at 100× key
    * cardinality. `foreachBatch` + parquet is the production shape for
    * complete/update-mode queries (the built-in file sink is
    * append-only): each micro-batch lands as a distributed executor-side
    * write — `overwrite` for complete mode (the last batch IS the final
    * state), `append` for update mode (read-back reduces to the last
    * update per key, exactly the memory path's reduction). The driver
    * never holds result rows; the returned frame is read back from
    * parquet, `finish`ed, and checkpointed off the files so the caller
    * may delete `dir`. */
  private[graft] def drainToParquet(s: SparkSession, dir: String,
      overwritePerBatch: Boolean,
      attach: ((DataFrame, Long) => Unit) => org.apache.spark.sql.streaming.StreamingQuery,
      finish: DataFrame => DataFrame): DataFrame = {
    // capture the batch schema so an all-empty stream still drains to
    // the memory path's empty frame instead of crashing on a directory
    // that no batch ever wrote (code-review finding)
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    val q = attach { (batch, _) =>
      schema = batch.schema
      if (overwritePerBatch)
        batch.write.mode("overwrite").parquet(dir)
      else {
        // materialize ONCE before the emptiness probe: `batch.isEmpty`
        // followed by `batch.write` would execute the per-batch plan
        // twice — for st08 that plan is the multi-join store admission,
        // i.e. ~2x the cost of the operator being measured. The
        // checkpointed blocks are reference-tracked and reclaimed when
        // `m` drops out of scope at the end of the micro-batch.
        val m = batch.localCheckpoint(true)
        if (!m.isEmpty) m.write.mode("append").parquet(dir)
      }
    }
    q.awaitTermination()
    val outPath = new org.apache.hadoop.fs.Path(dir)
    val dirExists = outPath
      .getFileSystem(s.sparkContext.hadoopConfiguration).exists(outPath)
    val raw =
      if (dirExists) s.read.parquet(dir)
      else if (schema != null)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else throw new IllegalStateException(
        s"stream drained no batches and wrote nothing to $dir — " +
          "check the source wiring (e.g. a pathGlobFilter matching no file)")
    finish(raw).localCheckpoint(true)
  }

  /** Materialize a memory-sink-backed result and DROP the sink table:
    * each st0x run registers a uniquely-named memory sink, so in a
    * shared session repeated runs would accumulate driver memory
    * forever (r3 advisory). `localCheckpoint(true)` copies the rows into
    * reference-tracked blocks the ContextCleaner reclaims once the
    * returned DataFrame is dropped; the sink table itself is then
    * unregistered immediately. */
  private def drainSink(s: SparkSession, name: String,
      finish: DataFrame => DataFrame = identity): DataFrame = {
    val out = finish(s.table(name)).localCheckpoint(true)
    s.catalog.dropTempView(name)
    out
  }

  /** st01: streaming tumbling-window aggregation with a watermark,
    * drained with AvailableNow into a memory sink (oracle path) or a
    * foreachBatch parquet drain (production path — see
    * [[st01_stream_window_files]]). */
  def st01_stream_window(s: SparkSession, d: String): DataFrame =
    st01Impl(s, d, fileDrainDir = None)

  /** st01 through the production parquet drain: complete-mode batches
    * overwrite `dir`, so the final directory IS the final window state
    * and no result row ever transits the driver. Hash-equal to the
    * memory path (spec-pinned). */
  private[graft] def st01_stream_window_files(s: SparkSession, d: String,
      dir: String): DataFrame = st01Impl(s, d, fileDrainDir = Some(dir))

  private def st01Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String]): DataFrame = withConf(s, StreamShuffle) {
    val agg = streamEvents(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))
    val finish = (t: DataFrame) => t.orderBy("hour", "event_type")
    fileDrainDir match {
      case Some(dir) =>
        drainToParquet(s, dir, overwritePerBatch = true,
          fb => agg.writeStream.foreachBatch(fb)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start(),
          finish)
      case None =>
        val name = s"st01_sink_${System.nanoTime()}"
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, name, finish)
    }
  }

  val st01Oracle: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** st02: session windows (30-minute inactivity gap) per user — the
    * state-merging operator family; batch execution here, identical
    * semantics under `readStream`. Oracle = gaps-and-islands SQL. */
  def st02_session_window(s: SparkSession, d: String): DataFrame = {
    val ev = graft.analytics.Tables.events(s, d)
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  /** st02 as a real stream with the production parquet drain: the same
    * 30-minute-gap session windows computed incrementally
    * (`session_window` state merges sessions across micro-batches) in
    * complete mode — append would need the watermark to pass each
    * session's close, which never happens for the tail of a bounded
    * drain, silently dropping the last ~gap of sessions. Complete-mode
    * batches overwrite `dir` (the last batch IS the final session set,
    * written from the executors); the per-user rollup happens on the
    * read-back, batch-side. Hash-equal to the batch path (spec-pinned). */
  private[graft] def st02_session_window_files(s: SparkSession, d: String,
      dir: String): DataFrame = withConf(s, StreamShuffle) {
    val sessions = streamEvents(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
    val finish = (t: DataFrame) => t.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))
    drainToParquet(s, dir, overwritePerBatch = true,
      fb => sessions.writeStream.foreachBatch(fb)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start(),
      finish)
  }

  val st02Oracle: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
      |              >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM e),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events
      |  FROM sess GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  MAX(n_events) AS max_session_events
      |FROM per_session GROUP BY 1 ORDER BY 1""".stripMargin

  /** st03: streaming deduplication — the stream unioned with itself
    * (every event duplicated) then `dropDuplicates(event_id)`; counts
    * per type must equal the base table's. State-backed exact dedup is
    * the streaming twin of d01. */
  def st03_stream_dedup(s: SparkSession, d: String): DataFrame =
    st03Impl(s, d, fileDrainDir = None)

  /** st03 through the production parquet drain: complete-mode batches
    * overwrite `dir` from the executors. Hash-equal to the memory path
    * (spec-pinned). */
  private[graft] def st03_stream_dedup_files(s: SparkSession, d: String,
      dir: String): DataFrame = st03Impl(s, d, fileDrainDir = Some(dir))

  private def st03Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String]): DataFrame = withConf(s, StreamShuffle) {
    val ev = streamEvents(s, d)
    val agg = ev.union(ev)
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val finish = (t: DataFrame) => t.orderBy("event_type")
    fileDrainDir match {
      case Some(dir) =>
        drainToParquet(s, dir, overwritePerBatch = true,
          fb => agg.writeStream.foreachBatch(fb)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start(),
          finish)
      case None =>
        val name = s"st03_sink_${System.nanoTime()}"
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, name, finish)
    }
  }

  val st03Oracle: String =
    """SELECT event_type, COUNT(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** st04: stream-stream inner join — purchases joined to same-user
    * clicks within the preceding hour, both sides watermarked (the
    * time-range condition bounds the join state). Oracle = the batch
    * interval join. */
  def st04_stream_stream_join(s: SparkSession, d: String): DataFrame =
    st04Impl(s, d, fileDrainDir = None)

  /** st04 through Spark's NATIVE parquet file sink: stream-stream joins
    * emit in Append mode, which is exactly what the built-in file sink
    * supports — so this variant needs no foreachBatch at all: matched
    * pairs land as exactly-once parquet via the sink's own commit log
    * (checkpointLocation), written from the executors. The read-back
    * aggregation is the same batch-side rollup the memory path applies.
    * Hash-equal to the memory path (spec-pinned). */
  private[graft] def st04_stream_stream_join_files(s: SparkSession, d: String,
      dir: String): DataFrame = st04Impl(s, d, fileDrainDir = Some(dir))

  private def st04Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String]): DataFrame = withConf(s, StreamShuffle) {
    val ev = streamEvents(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    // stream-stream joins emit in Append mode only: stream the matched
    // pairs into the sink, aggregate the sink table batch-side
    val pairs = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
    val finish = (t: DataFrame) => t.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("purchase_id")).as("n_purchases"))
      .orderBy("user_id")
    fileDrainDir match {
      case Some(dir) =>
        val q = pairs.writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        finish(s.read.parquet(s"$dir/out")).localCheckpoint(true)
      case None =>
        val name = s"st04_sink_${System.nanoTime()}"
        val q = pairs.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, name, finish)
    }
  }

  val st04Oracle: String =
    """SELECT p.user_id, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p.event_id) AS n_purchases
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
      | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- custom state: flatMapGroupsWithState sessionization ----

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int, total_value: Double)

  /** Session accumulator for [[flatMapSessionize]]: merges events within
    * `gapMs`, emits a session when the gap is exceeded or the group times
    * out. The streaming twin of [[st02_session_window]] with arbitrary
    * per-session state (event count + value sum) — the
    * `flatMapGroupsWithState` pattern for state Spark's built-in windows
    * can't hold. */
  def sessionStep(gapMs: Long)(
      userId: Long,
      events: Iterator[Event],
      state: org.apache.spark.sql.streaming.GroupState[SessionState])
      : Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    var cur = state.getOption
    val out = Seq.newBuilder[SessionOut]
    if (state.hasTimedOut) {
      cur.foreach(c => out += SessionOut(userId, c.start, c.last, c.n, c.total))
      state.remove()
      cur = None
    }
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(c) if t - c.last < gapMs =>
          cur = Some(SessionState(c.start, math.max(c.last, t), c.n + 1,
            c.total + e.value))
        case Some(c) =>
          out += SessionOut(userId, c.start, c.last, c.n, c.total)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    cur match {
      case Some(c) =>
        state.update(c)
        state.setTimeoutTimestamp(c.last + gapMs)
      case None =>
    }
    out.result().iterator
  }

  /** Streaming sessionization over any Dataset[Event] stream. */
  def flatMapSessionize(events: org.apache.spark.sql.Dataset[Event],
      gapMs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionStep(gapMs))
  }

  case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** st06: per-key running state via `mapGroupsWithState` — the
    * one-output-per-key sibling of [[flatMapSessionize]]'s
    * flatMapGroupsWithState (SURVEY §2 maps both state APIs). Each user's
    * event count and value total live in arbitrary `GroupState`,
    * updated per micro-batch and emitted in Update mode; with
    * AvailableNow draining the events table the final update per user
    * equals the batch aggregate, which is the oracle. Value totals
    * accumulate in deci-cent LONGS (value has 2 decimals ⇒ ×100 is
    * integer-exact in double, and the long sum is order-insensitive —
    * the same determinism rule as s04/w08; a double running sum would
    * depend on batch arrival order). */
  def st06_running_totals(s: SparkSession, d: String): DataFrame =
    st06Impl(s, d, fileDrainDir = None)

  /** st06 through the production parquet drain: update-mode batches
    * append to `dir` (one row per touched key per batch, written from
    * the executors), and the read-back reduces to the last update per
    * key — the same reduction the memory path applies. Hash-equal to
    * the memory path (spec-pinned). */
  private[graft] def st06_running_totals_files(s: SparkSession, d: String,
      dir: String): DataFrame = st06Impl(s, d, fileDrainDir = Some(dir))

  private def st06Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String]): DataFrame = withConf(s, StreamShuffle) {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ev = streamEvents(s, d)
      .select($"user_id", $"value").as[(Long, Double)]
    val totals = ev.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), UserTotals](
        GroupStateTimeout.NoTimeout()) { (uid, rows, state) =>
        var (n, cents) = state.getOption.getOrElse((0L, 0L))
        rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
        state.update((n, cents))
        UserTotals(uid, n, cents / 100.0)
      }
    // Update mode emits one row per (user, batch); the LAST update per
    // user is the running total — dedup by max n_events per user
    val finish = (t: DataFrame) => t.groupBy($"user_id")
      .agg(max(struct($"n_events", $"total_value")).as("m"))
      .select($"user_id", $"m.n_events".as("n_events"),
        $"m.total_value".as("total_value"))
      .orderBy($"user_id")
    fileDrainDir match {
      case Some(dir) =>
        drainToParquet(s, dir, overwritePerBatch = false,
          fb => totals.writeStream.foreachBatch(
              (b: org.apache.spark.sql.Dataset[UserTotals], id: Long) =>
                fb(b.toDF(), id))
            .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow()).start(),
          finish)
      case None =>
        val name = s"st06_sink_${System.nanoTime()}"
        val q = totals.writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, name, finish)
    }
  }

  val st06Oracle: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** st05: streaming CRAWL INGESTION — the continuous-arrival shape of
    * the batch WARC pipeline. `.warc` containers are staged to a
    * directory (as a crawler would drop them), consumed incrementally by
    * a `binaryFile` file stream, and run through the SAME record parser
    * and enrichment chain the batch path uses
    * (`WarcSource.fromBytes` → `Pipeline.urlResources` — one code path,
    * two execution modes), aggregated per hostname into a memory sink
    * with AvailableNow. New files landing in the directory would be
    * picked up by the next trigger; the oracle recomputes the per-host
    * rollup from `documents`. */
  def st05_stream_warc_ingest(s: SparkSession, d: String): DataFrame =
    st05Impl(s, d, fileDrainDir = None)

  /** st05 through the production parquet drain: complete-mode per-host
    * rollups overwrite `dir` from the executors. Hash-equal to the
    * memory path (spec-pinned). */
  private[graft] def st05_stream_warc_ingest_files(s: SparkSession, d: String,
      dir: String): DataFrame = st05Impl(s, d, fileDrainDir = Some(dir))

  /** Stage the corpus's WARC containers to a session-FS directory (as
    * a crawler would drop them) and hand `body` a `binaryFile` STREAM
    * of them — the shared front half of st05 and p03 (r12).
    *
    * The staging dir lives on the SESSION'S filesystem (hadoop.tmp.dir
    * under the configured defaultFS): executors write through the
    * driver's serialized Hadoop conf, so on a cluster the staged files
    * land on the shared FS where the stream source can list them — a
    * driver-local java.nio temp dir only works in local mode (r9
    * advisory, same fix as w09). Removal sits in a finally (r3
    * advisory) and must also run when the query throws; by drain time
    * the result is checkpointed off the staged files.
    *
    * Staging writes from the EXECUTORS (foreachPartition through the
    * Hadoop FS API): the r4 shape collect()ed every WARC container to
    * the driver and wrote them there — the one corpus-sized driver
    * collect in the repo, a bottleneck at any real sf. File names are
    * partition-deterministic and creates overwrite, so a task retry
    * rewrites its own files idempotently. */
  private[streaming] def withStagedWarcStream[T](s: SparkSession, d: String,
      tag: String)(body: org.apache.spark.sql.Dataset[(String, Array[Byte])] => T): T = {
    import s.implicits._
    val hconf = s.sparkContext.hadoopConfiguration
    val serConf = new graft.warc.source.SerializableHadoopConf(hconf)
    val warcDir = new org.apache.hadoop.fs.Path(
      hconf.get("hadoop.tmp.dir", System.getProperty("java.io.tmpdir")),
      s"graft-$tag-" + java.util.UUID.randomUUID())
    val stagingFs = warcDir.getFileSystem(hconf)
    stagingFs.mkdirs(warcDir)
    try {
      val dirStr = warcDir.toString
      graft.warc.WarcQueries.warcFiles(s, d).foreachPartition {
        (it: Iterator[(String, Array[Byte])]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var i = 0
          it.foreach { case (_, bytes) =>
            val p = new org.apache.hadoop.fs.Path(dirStr, f"crawl-$pid%04d-$i%03d.warc")
            val out = p.getFileSystem(serConf.value).create(p, true)
            try out.write(bytes) finally out.close()
            i += 1
          }
      }
      val files = s.readStream.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .schema(StructType(Seq(
          StructField("path", StringType),
          StructField("modificationTime", TimestampType),
          StructField("length", LongType),
          StructField("content", BinaryType))))
        .load(warcDir.toString)
      body(files.select(col("path"), col("content"))
        .as[(String, Array[Byte])])
    } finally stagingFs.delete(warcDir, true)
  }

  private def st05Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String]): DataFrame = withConf(s, StreamShuffle) {
    withStagedWarcStream(s, d, "st05") { staged =>
      val records = graft.warc.WarcSource.fromBytes(staged)
      val agg = graft.warc.Pipeline.urlResources(records)
        .groupBy(col("hostname"))
        .agg(count(lit(1)).as("n_pages"),
          sum(col("word_count").cast("long")).as("word_sum"))
      val finish = (t: DataFrame) => t.orderBy("hostname")
      fileDrainDir match {
        case Some(dir) =>
          drainToParquet(s, dir, overwritePerBatch = true,
            fb => agg.writeStream.foreachBatch(fb)
              .outputMode("complete").trigger(Trigger.AvailableNow()).start(),
            finish)
        case None =>
          val name = s"st05_sink_${System.nanoTime()}"
          val q = agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          drainSink(s, name, finish)
      }
    }
  }

  val st05Oracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, text,
      |    'docs' || ${graft.warc.WarcQueries.hostClassSql} || '.example.gov.au' AS host
      |  FROM documents)
      |SELECT CASE WHEN doc_id % 7 = 0 THEN 'aa' || host ELSE host END AS hostname,
      |  COUNT(*) AS n_pages,
      |  CAST(SUM(6 + len(string_split(text, ' '))) AS BIGINT) AS word_sum
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** st07: STREAMING QUALITY GATE — the t07 curation rule run as a
    * continuous pipeline over arriving documents (the shape of a crawl
    * feeding curation online instead of in batches). Structured
    * Streaming allows only ONE stateful aggregation per query, so t07's
    * two-level plan (gram dedup, then per-doc rollup) can't stream;
    * the per-doc signals collapse into the map-side
    * [[graft.text.TextOps.gateKeep]] UDF (identical rule, spec-pinned
    * against t07's column formulation) and the single streaming
    * aggregation is the per-(lang, verdict) rollup. Oracle = the same
    * rule in batch SQL. */
  def st07_stream_quality_gate(s: SparkSession, d: String): DataFrame =
    st07Impl(s, d, fileDrainDir = None)

  /** st07 through the production parquet drain: complete-mode batches
    * overwrite `dir` from the executors. Hash-equal to the memory path
    * (spec-pinned). */
  private[graft] def st07_stream_quality_gate_files(s: SparkSession, d: String,
      dir: String): DataFrame = st07Impl(s, d, fileDrainDir = Some(dir))

  private def st07Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String]): DataFrame = withConf(s, StreamShuffle) {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val keepU = udf { text: String => graft.text.TextOps.gateKeep(text) }
    val agg = s.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .select(col("lang"), keepU(col("text")).as("keep"))
      .groupBy(col("lang"), col("keep"))
      .agg(count(lit(1)).as("n_docs"))
    val finish = (t: DataFrame) => t.orderBy("lang", "keep")
    fileDrainDir match {
      case Some(dir) =>
        drainToParquet(s, dir, overwritePerBatch = true,
          fb => agg.writeStream.foreachBatch(fb)
            .outputMode("complete").trigger(Trigger.AvailableNow()).start(),
          finish)
      case None =>
        val name = s"st07_sink_${System.nanoTime()}"
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, name, finish)
    }
  }

  val st07Oracle: String = {
    val toks = graft.text.TextOps.oracleToks("text")
    raw"""WITH base AS (
      |  SELECT doc_id, lang,
      |    CAST(len($toks) AS BIGINT) AS n_tok,
      |    CAST(len(list_filter($toks,
      |      x -> x IN ('the','a','of','to','in','and','is','on','for','with'))) AS BIGINT) AS n_stop,
      |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS BIGINT) AS n_punct,
      |    CAST(length(text) AS BIGINT) AS n_chars_m
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
      |         ELSE array_to_string(ts[i:i+2], ' ') END AS gram
      |  FROM toks, UNNEST(range(1, GREATEST(len(ts) - 1, 2))) AS u(i)),
      |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
      |rep AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
      |          COUNT(*) AS n_distinct
      |        FROM c GROUP BY 1),
      |j AS (SELECT * FROM base JOIN rep USING (doc_id))
      |SELECT lang,
      |  NOT (n_tok < 30 OR n_stop * 1000 < n_tok * 15
      |    OR n_punct * 10 > n_chars_m
      |    OR (n_grams - n_distinct) * 10 > n_grams) AS keep,
      |  COUNT(*) AS n_docs
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }


  /** st10: STREAMING SEMANTIC-CONTAMINATION GATE — d21's paraphrase
    * screen run as continuous admission: every incoming embedding is
    * checked against the (small, broadcast) benchmark BEFORE it can
    * enter the corpus, the placement a decontamination stage actually
    * wants at 100 TB — screen on ingest, never re-scan the corpus.
    *
    * The verdict is STATELESS per row (the d21 semantics exactly: band
    * signature via md5-Rademacher fixed-point sign bits, candidates =
    * benchmark members sharing ≥1 of 8 byte-bands, contaminated iff any
    * candidate's exact cosine ≥ 0.9), so the stream needs no watermark,
    * no state store, and scales as a pure map over the source — the
    * benchmark index rides the closure like a broadcast. Per-vector
    * output: `contaminated` plus the max 2^32-quantized candidate
    * cosine (−2·2^32 — outside the valid qcos range — when no band
    * collides: the honest "never even compared" marker; −1 would
    * collide with real negative-cosine candidates). Benchmark members streaming past flag
    * THEMSELVES at cosine 1.0 (verbatim leakage); everything else on
    * this corpus stays below 0.9, and sub-threshold band collisions
    * exercise the reject path (the d21 discrimination story).
    *
    * Oracle: the full path in SQL — the d21 signature/bucket CTEs over
    * the whole corpus, cosFold verify, per-vector bool_or/max rollup,
    * LEFT JOIN back so never-collided vectors carry (false, −1). */
  def st10_stream_semantic_gate(s: SparkSession, d: String): DataFrame =
    st10Impl(s, d, fileDrainDir = None, st10FixtureBench(s, d))

  /** st10 through the native append-mode parquet sink (the st04
    * pattern — per-row verdicts need no foreachBatch). Hash-equal to
    * the memory path (spec-pinned). */
  private[graft] def st10_stream_semantic_gate_files(s: SparkSession,
      d: String, dir: String): DataFrame =
    st10Impl(s, d, Some(dir), st10FixtureBench(s, d))

  /** The fixture benchmark split — d21's contract (`vec_id <` BenchN),
    * one Scala-side source of truth with the batch operator. */
  private[graft] def st10FixtureBench(s: SparkSession, d: String): DataFrame =
    s.read.option("pathGlobFilter", "embeddings.parquet").parquet(d)
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < Contamination.BenchN)

  /** st10 against a CALLER-SUPPLIED benchmark `(vec_id, embedding)` —
    * the operator contract the fixture query instantiates (r17 verdict
    * item 4); pass e.g. `spark.read.parquet(benchPath)`. The benchmark
    * rides the verdict UDF's closure, so the driver collect is capped
    * LOUDLY at `spark.graft.decontam.benchMaxRows` — an over-bound
    * benchmark raises with the conf named instead of OOMing; that
    * regime belongs to batch [[Contamination.d15Against]]/d21's
    * digest-join shapes. */
  def st10Against(s: SparkSession, corpusDir: String,
      benchVecs: DataFrame): DataFrame =
    st10Impl(s, corpusDir, fileDrainDir = None, benchVecs)

  private def st10Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String], benchVecs: DataFrame): DataFrame =
      withConf(s, StreamShuffle) {
    // band geometry referenced from the batch operator's constants —
    // st10 IS d21 as admission, so the two cannot desynchronize
    // (r17 ADVICE; the oracle SQL still states the literals)
    val nBands = Contamination.D21Bands; val bits = Contamination.D21Bits
    val planes = graft.sim.SimilarityOps.md5Planes(nBands * bits, 64)
    def bandKeys(v: Seq[Float]): Array[Long] = {
      val sig = graft.sim.SimilarityOps.md5SignBits(v, planes)
      Array.tabulate(nBands)(b =>
        (b.toLong << 32) | ((sig >>> (b * bits)) & ((1L << bits) - 1)))
    }
    // benchmark index: a capped driver collect (32 rows on the
    // fixture), carried into the verdict UDF like a broadcast
    val bench: Array[(Long, Array[Float], Array[Long])] =
      Contamination.cappedCollect(
        benchVecs.select(col("vec_id"), col("embedding")), "st10 benchmark")
      .map(r => {
        val v = r.getSeq[Float](1).toArray
        (r.getLong(0), v, bandKeys(v))
      })
    // "never even band-collided" marker: −2·2^32, strictly outside the
    // quantized-cosine range [−2^32, 2^32] — a plain −1 would collide
    // with real negative-cosine candidates (qcos < −1 exists, so a −1
    // sentinel silently wins the max; caught by the sf0.001 oracle)
    val NoCand = -8589934592L
    val verdictU = udf { v: Seq[Float] =>
      val keys = bandKeys(v)
      var contaminated = false
      var qmax = NoCand
      bench.foreach { case (_, bv, bk) =>
        if (keys.exists(k => bk.contains(k))) {
          val cos = graft.sim.SimilarityOps.cosineArr(v.toArray, bv)
          val q = graft.sim.SimilarityOps.qCosKey(cos)
          if (q > qmax) qmax = q
          if (cos >= 0.9) contaminated = true
        }
      }
      (contaminated, qmax)
    }
    val embSchema = s.read
      .option("pathGlobFilter", "embeddings.parquet").parquet(d).schema
    val verdicts = s.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(d)
      .select(col("vec_id"), verdictU(col("embedding")).as("v"))
      .select(col("vec_id"), col("v._1").as("contaminated"),
        col("v._2").as("qcos_max"))
    val finish = (t: DataFrame) => t.orderBy("vec_id")
    fileDrainDir match {
      case Some(dir) =>
        val q = verdicts.writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        finish(s.read.parquet(s"$dir/out")).localCheckpoint(true)
      case None =>
        val name = s"st10_sink_${System.nanoTime()}"
        val q = verdicts.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, name, finish)
    }
  }

  val st10Oracle: String = {
    import graft.sim.SimilarityOps.cosFoldSql
    s"""WITH bench AS (
      |  SELECT vec_id AS bench_id, embedding
      |  FROM embeddings WHERE vec_id < 32),
      |sgn AS (
      |  SELECT b,
      |    list_transform(range(0, 64), i -> CASE WHEN
      |        strpos('02468ace', substr(md5('lsh:' || b || ':' || i), 1, 1)) > 0
      |      THEN 1 ELSE -1 END) AS srow
      |  FROM (SELECT unnest(range(0, 64)) AS b)),
      |cq AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 16777216) AS BIGINT)) AS qv
      |  FROM embeddings),
      |cbits AS (
      |  SELECT vec_id, b // 8 AS band,
      |    CAST(SUM(CASE WHEN list_sum(
      |        list_transform(range(0, 64), i -> sgn.srow[i + 1] * qv[i + 1])
      |      ) > 0 THEN (1 << (b % 8)) ELSE 0 END) AS BIGINT) AS byte
      |  FROM cq CROSS JOIN sgn GROUP BY vec_id, b // 8),
      |cand AS (
      |  -- benchmark bits are the corpus bits of vec_id < 32 (the bench
      |  -- IS a corpus subset here), so one self-join replaces a second
      |  -- signature CTE
      |  SELECT DISTINCT cb.vec_id, bb.vec_id AS bench_id
      |  FROM cbits cb JOIN cbits bb
      |    ON cb.band = bb.band AND cb.byte = bb.byte AND bb.vec_id < 32),
      |scored AS (
      |  SELECT c.vec_id,
      |    ${cosFoldSql("e.embedding", "b.embedding")} AS cos
      |  FROM (SELECT vec_id, bench_id FROM cand) c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN bench b ON b.bench_id = c.bench_id),
      |per AS (
      |  SELECT vec_id, bool_or(cos >= 0.9) AS contaminated,
      |    MAX(CAST(trunc(cos * 4294967296) AS BIGINT)) AS qcos_max
      |  FROM scored GROUP BY 1)
      |SELECT e.vec_id, COALESCE(p.contaminated, false) AS contaminated,
      |  COALESCE(p.qcos_max, -8589934592) AS qcos_max
      |FROM embeddings e LEFT JOIN per p USING (vec_id)
      |ORDER BY vec_id""".stripMargin
  }

  /** st11: STREAMING N-GRAM DECONTAMINATION GATE — d15's 13-gram
    * benchmark-overlap scoring run as continuous admission (the
    * quartet's last seat: st07 screens quality, st08 duplicates, st10
    * paraphrase leakage, st11 verbatim-excerpt leakage). Each incoming
    * doc's distinct 13-gram digests are probed against the benchmark
    * gram set inside ONE stateless per-row UDF; flagged iff
    * 2·hits ≥ n13 (the integer form of d15's ≥ 0.5 rule — identical on
    * integers, no float ever decides) with n13 > 0. Docs under 13
    * tokens emit (0, 0, false) — a gate must decide EVERY doc.
    *
    * The benchmark set rides the closure like a broadcast: here it is
    * d15's corpus-derived fixture (every 97th doc's middle slice,
    * ~corpus/97 docs of grams — a bounded driver collect at the gate
    * SFs, stated bound), but the OPERATOR contract is an external
    * broadcast-sized benchmark suite (the d21/GPT-3 assumption); a
    * corpus-sized benchmark belongs to batch d15's digest-join shape,
    * not this gate. Scale: pure map over the stream, no state store,
    * no shuffle.
    *
    * Oracle: d15's CTEs reshaped per-doc (bench grams, per-doc
    * distinct grams, LEFT JOIN hit count, the integer flag rule), LEFT
    * JOINed back so sub-13-token docs carry (0, 0, false). The spec
    * additionally reconciles Σ flagged against d15's own n_flagged —
    * two independent implementations of the same rule. */
  def st11_stream_ngram_gate(s: SparkSession, d: String): DataFrame =
    st11Impl(s, d, fileDrainDir = None, st11FixtureBench(s, d))

  private[graft] def st11_stream_ngram_gate_files(s: SparkSession,
      d: String, dir: String): DataFrame =
    st11Impl(s, d, Some(dir), st11FixtureBench(s, d))

  /** The fixture benchmark SUITE as one text row per item — the exact
    * d15 derivation (every 97th doc, first/last 5 tokens dropped),
    * re-joined to text so the fixture flows through the same
    * external-benchmark contract as a caller's parquet of docs.
    * Token-exact under re-splitting: tokens come from `\s+` splits, so
    * they contain no whitespace and `array_join(…, ' ')` round-trips. */
  /** `replica0Only = true` bounds the derivation to replica 0 of a
    * genScaled corpus (ids under the 1,000,000 stride) — the FIXED
    * benchmark the st11fixed 100x contract row drives through
    * [[st11Against]]; at a base corpus the bound is vacuous, so the
    * fixed benchmark coincides with the registered fixture's exactly
    * (one derivation, not a hand-kept copy). */
  private[graft] def st11FixtureBench(s: SparkSession, d: String,
      replica0Only: Boolean = false): DataFrame = {
    val N = 13
    val tk = split(trim(col("text")), "\\s+")
    val docs = s.read.option("pathGlobFilter", "documents.parquet").parquet(d)
    (if (replica0Only) docs.filter(col("doc_id") < graft.Dev.ReplicaStride)
     else docs)
      .select(col("doc_id"), tk.as("tk"))
      .filter(col("doc_id") % 97 === 0 && size(col("tk")) >= N + 10)
      .select(expr(s"array_join(slice(tk, 6, size(tk) - 10), ' ')").as("text"))
  }

  /** st11 against a CALLER-SUPPLIED benchmark suite `(text)` — one row
    * per benchmark item (r17 verdict item 4); pass e.g.
    * `spark.read.parquet(benchPath)`. The distinct gram-digest set
    * rides the gate UDF's closure, so its driver collect is capped
    * LOUDLY at `spark.graft.decontam.benchMaxRows` (the r17 fixture
    * collect grew with corpus/97 and would have OOMed silently at some
    * scale) — a corpus-sized benchmark belongs to batch
    * [[Contamination.d15Against]]'s digest-join shape, and the error
    * says so. */
  def st11Against(s: SparkSession, corpusDir: String,
      benchDocs: DataFrame): DataFrame =
    st11Impl(s, corpusDir, fileDrainDir = None, benchDocs)

  private def st11Impl(s: SparkSession, d: String,
      fileDrainDir: Option[String], benchDocs: DataFrame): DataFrame =
      withConf(s, StreamShuffle) {
    val N = 13
    val docsBatch = s.read
      .option("pathGlobFilter", "documents.parquet").parquet(d)
    val tk = split(trim(col("text")), "\\s+")
    val grams = expr(s"transform(sequence(1, size(tk) - ${N - 1}), " +
      s"i -> md5(array_join(slice(tk, i, $N), ' ')))")
    val benchSet: Set[String] = Contamination.cappedCollect(
      benchDocs.select(tk.as("tk")).filter(size(col("tk")) >= N)
        .select(explode(grams).as("g")).distinct(),
      "st11 benchmark gram set")
      .map(_.getString(0)).toSet
    val gateU = udf { text: String =>
      val toks = graft.dedup.DedupOps.WsPattern
        .split(graft.dedup.DedupOps.sqlTrim(text))
      if (toks.length < N) (0L, 0L, false)
      else {
        // thread-local digest + table hex (DedupOps.md5Hex): a
        // getInstance + "%02x".format per gram dominated this hot
        // per-token path (r17 ADVICE)
        val gs = toks.sliding(N)
          .map(w => graft.dedup.DedupOps.md5Hex(w.mkString(" "))).toSet
        val hits = gs.count(benchSet)
        (gs.size.toLong, hits.toLong, hits * 2 >= gs.size && gs.nonEmpty)
      }
    }
    val docsSchema = docsBatch.schema
    val verdicts = s.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .select(col("doc_id"), gateU(col("text")).as("v"))
      .select(col("doc_id"), col("v._1").as("n13"), col("v._2").as("hits"),
        col("v._3").as("flagged"))
    val finish = (t: DataFrame) => t.orderBy("doc_id")
    fileDrainDir match {
      case Some(dir) =>
        val q = verdicts.writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        finish(s.read.parquet(s"$dir/out")).localCheckpoint(true)
      case None =>
        val name = s"st11_sink_${System.nanoTime()}"
        val q = verdicts.writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        drainSink(s, name, finish)
    }
  }

  val st11Oracle: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents),
      |bench AS (
      |  SELECT doc_id AS bench_id, tk[6:len(tk)-5] AS tk
      |  FROM toks WHERE doc_id % 97 = 0 AND len(tk) >= 23),
      |bench_grams AS (
      |  SELECT DISTINCT md5(array_to_string(tk[i:i+12], ' ')) AS g
      |  FROM bench, UNNEST(range(1, len(tk) - 11)) AS u(i)),
      |doc_grams AS (
      |  SELECT DISTINCT doc_id, md5(array_to_string(tk[i:i+12], ' ')) AS g
      |  FROM toks, UNNEST(range(1, len(tk) - 11)) AS u(i)
      |  WHERE len(tk) >= 13),
      |per AS (
      |  SELECT dg.doc_id, COUNT(*) AS n13, COUNT(bg.g) AS hits
      |  FROM doc_grams dg LEFT JOIN bench_grams bg ON dg.g = bg.g
      |  GROUP BY 1)
      |SELECT t.doc_id, COALESCE(p.n13, 0) AS n13,
      |  COALESCE(p.hits, 0) AS hits,
      |  COALESCE(p.hits * 2 >= p.n13 AND p.n13 > 0, false) AS flagged
      |FROM toks t LEFT JOIN per p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st07_stream_quality_gate" -> (st07_stream_quality_gate _),
    "st10_stream_semantic_gate" -> (st10_stream_semantic_gate _),
    "st11_stream_ngram_gate" -> (st11_stream_ngram_gate _),
    "st01_stream_window" -> (st01_stream_window _),
    "st02_session_window" -> (st02_session_window _),
    "st03_stream_dedup" -> (st03_stream_dedup _),
    "st04_stream_stream_join" -> (st04_stream_stream_join _),
    "st05_stream_warc_ingest" -> (st05_stream_warc_ingest _),
    "st06_running_totals" -> (st06_running_totals _),
  )

  val oracle: Map[String, String] = Map(
    "st07_stream_quality_gate" -> st07Oracle,
    "st10_stream_semantic_gate" -> st10Oracle,
    "st11_stream_ngram_gate" -> st11Oracle,
    "st01_stream_window" -> st01Oracle,
    "st02_session_window" -> st02Oracle,
    "st03_stream_dedup" -> st03Oracle,
    "st04_stream_stream_join" -> st04Oracle,
    "st05_stream_warc_ingest" -> st05Oracle,
    "st06_running_totals" -> st06Oracle,
  )
}
