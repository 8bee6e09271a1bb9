package graft.dedup

import org.apache.spark.sql.DataFrame

/** Bounded LRU for the session-scoped pair artifacts (d04's verified
  * pairs, d20/d23/d24's confirmed pair sets) — the r19 nit: the
  * `ConcurrentHashMap` registries kept every corpus's localCheckpoint
  * blocks forever, so a long-lived multi-corpus service would
  * accumulate them without bound. Capacity 2 covers every real access
  * pattern here (bench/verify/scalebench alternate between at most a
  * base and a scaled dir); an evicted entry's checkpoint blocks are
  * released EAGERLY (not left to GC + ContextCleaner).
  *
  * Contract: a RELEASED DataFrame is DEAD — its lineage was truncated
  * by the checkpoint, so after release it can neither be read nor
  * recomputed. Release is therefore DEFERRED by one eviction
  * generation: an evictee's blocks are freed only when the NEXT
  * eviction happens (one full corpus-build later — far outside any
  * in-flight query over the evicted frame; the r20 review's hazard was
  * immediate release killing a query that was still running over a
  * just-evicted corpus). Callers must still not hold a returned frame
  * across TWO corpus swaps; every caller in this repo consumes the
  * frame within the building query's own execution. */
private[graft] final class PairCache(capacity: Int = 2) {
  private val map =
    new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true)
  private var pendingRelease: Option[DataFrame] = None

  /** LRU get-or-build. The build runs under the lock — same blocking
    * discipline as the `computeIfAbsent` it replaces (two threads must
    * not build the same expensive artifact concurrently; the callers
    * here are sequential bench/verify/cert loops). */
  def getOrBuild(key: String)(build: => DataFrame): DataFrame = synchronized {
    val hit = map.get(key)
    if (hit != null) hit
    else {
      val df = build
      map.put(key, df)
      while (map.size > capacity) {
        val it = map.entrySet().iterator()
        val evicted = it.next()
        it.remove()
        pendingRelease.foreach(graft.Rounds.release)
        pendingRelease = Some(evicted.getValue)
      }
      df
    }
  }

  def size: Int = synchronized(map.size)
}

private[graft] object PairCache {
  /** The evicted-or-not probe the eviction spec asserts on. */
  private[graft] def isReleased(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getStorageLevel
    }.forall(_ == org.apache.spark.storage.StorageLevel.NONE)
}
