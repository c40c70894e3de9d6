package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.io.{LocalMetaIO, MetaIO, ParquetDirIO, TableIO}
import graft.index.PackedIndex

/** Session-scoped (driver-side) cache of an index's query-time term->df
  * map, keyed by a stats.json content token.
  *
  * Why: every [[Wand.prepare]] batch otherwise runs one pushdown-filtered
  * Spark scan of the df table — correct, but one more Spark job on a
  * per-batch floor that already dominates small batches. Measured with
  * `perfbench/run.py --workload ingest_serve --trace 1` (4-core VM,
  * local[4], 2,000-3,250 pages, k = 10, cache warm): a single-query
  * `Wand.search` runs 2 jobs with ~140-150 ms of driver time in ~212 ms
  * wall, a `Bm25TopKPlan.search` 3 jobs in ~230-270 ms — about 70 ms of
  * driver time per job, which is what the df scan would add to each batch.
  * For vocabularies up to [[MaxCachedTerms]] the whole map is
  * collected ONCE per index version and term lookups become driver-local;
  * larger vocabularies fall back to the per-batch scan (recorded so the
  * size check itself isn't repeated per batch).
  *
  * Invalidation: append/compact write a fresh df dir and atomically flip
  * stats.json's dfDir pointer (and always change n/avgdl), so a token
  * derived from stats.json's CONTENT changes exactly when the df content
  * may have. The token is an md5 prefix of that content — NOT mtime/size
  * ([[MetaIO.version]]): two rewrites within one mtime tick (or on a
  * filesystem/object store with coarse mtime granularity) producing
  * equal-length content would alias a time-based token and silently serve
  * a stale term->df map (appended terms would return no hits with no
  * error). stats.json is a few hundred bytes, so the per-call read is
  * driver-local microseconds — no Spark job.
  * Tombstones are deliberately NOT cached here — delete() touches only
  * tombstones.txt, which this cache never serves.
  */
object IndexCache {

  /** ~40 bytes/entry -> <=40 MB of driver heap at the cap. Web-scale
    * vocabularies (larger) use the per-batch pushdown scan path.
    */
  val MaxCachedTerms: Long = 1000000L

  // dir -> (stats.json content token, Some(term->df) | None=vocab too large).
  // Keyed by dir alone: the io/meta arguments only matter on the loading
  // call — mixing different TableIO implementations for one dir string is
  // not a supported pattern (the dir names one physical index).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[Map[String, Long]])]()

  // observability for tests/benchmarks
  private val loadCounter = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def loads: Long = loadCounter.get()
  private[graft] def invalidateAll(): Unit = cache.clear()

  /** Content-derived invalidation token: first 8 bytes of
    * md5(stats.json bytes); -1 for a missing file.
    */
  private def token(dir: String, meta: MetaIO): Long = {
    val p = s"$dir/stats.json"
    if (!meta.exists(p)) -1L
    else {
      val digest = java.security.MessageDigest.getInstance("MD5").digest(
        meta.readString(p).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.ByteBuffer.wrap(digest).getLong
    }
  }

  // one lock object per dir: token read + load + put run under it, so the
  // multi-second Spark load never holds a ConcurrentHashMap bin lock where
  // it would stall cache HITS for unrelated dirs sharing the bin
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The full term->df map for the index, or None when the vocabulary
    * exceeds [[MaxCachedTerms]]. Hits are LOCK-FREE: a token compare against
    * the cached entry (the token read is a driver-local md5 of a few hundred
    * bytes) serves without touching the per-dir lock, so queries against a
    * dir never stall behind another thread's in-flight multi-second load of
    * the SAME dir when a valid entry already exists (an append-triggered
    * reload used to block every concurrent query on that index).
    *
    * Misses take the per-dir lock with a double-check: the token is re-read
    * and the cache re-consulted under the lock, so at most one load runs per
    * (dir, token) and a racing thread's pre-append token can never overwrite
    * a newer entry (it re-reads before writing). Callers for other dirs are
    * never serialized.
    */
  def dfMap(spark: SparkSession, dir: String,
            io: TableIO = ParquetDirIO,
            meta: MetaIO = LocalMetaIO): Option[Map[String, Long]] = {
    val fastVer = token(dir, meta)
    val fastHit = cache.get(dir)
    if (fastHit != null && fastHit._1 == fastVer) fastHit._2
    else {
      val lock = dirLocks.computeIfAbsent(dir, _ => new Object)
      lock.synchronized {
        val ver = token(dir, meta)
        val hit = cache.get(dir)
        if (hit != null && hit._1 == ver) hit._2
        else {
          val loaded = load(spark, dir, io, meta)
          cache.put(dir, (ver, loaded))
          loaded
        }
      }
    }
  }

  private def load(spark: SparkSession, dir: String, io: TableIO,
                   meta: MetaIO): Option[Map[String, Long]] = {
    loadCounter.incrementAndGet()
    // ONE job: collect up to the cap + 1 rows — an over-cap vocabulary is
    // detected from the overflow row without a separate count() pass
    val rows = PackedIndex.loadDf(spark, dir, io, meta)
      .select(col("term"), col("df"))
      .limit(MaxCachedTerms.toInt + 1).collect()
    if (rows.length > MaxCachedTerms) None
    else Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }
}
