package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Bm25Params
import graft.io.{LocalMetaIO, MetaIO, ParquetDirIO, TableIO}

/** Persisted packed posting-list row: all blocks of one term within one
  * doc-shard. Doc-partitioned (shard = doc_id >> shardBits) so a WAND task
  * holds EVERY query term's postings for its doc range — the standard
  * web-search sharding; per-task top-k heaps then merge globally
  * (reference analogue: faiss shard search + ResultHeap merge,
  * `/root/reference/src/retrievals/models/retrieval_auto.py:335-347`).
  */
final case class PackedBlock(
    base: Long, maxDoc: Long, count: Int, maxTf: Long, minDl: Long,
    docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte]) {
  /** View as the codec block (single place for the field mapping). */
  def toCodec: Codec.Block =
    Codec.Block(base, maxDoc, count, maxTf, minDl, docs, tfs, dls)
}

final case class PackedPostings(shard: Int, term: String, nPostings: Long,
                                blocks: Array[PackedBlock]) extends ShardTermRow

/** A posting-table row keyed by (shard, term): what
  * [[PackedIndex.colocateShards]] and [[PackedIndex.shardGroups]] need.
  */
trait ShardTermRow {
  def shard: Int
  def term: String
}

/** Corpus-level stats persisted with the index (tiny JSON sidecar). */
final case class IndexStats(
    n: Long, avgdl: Double, avgRawIdf: Double,
    k1: Double, b: Double, epsilon: Double,
    shardBits: Int, blockSize: Int) {
  def params: Bm25Params = Bm25Params(k1, b, epsilon)
  /** eps-floored idf for a query term given its global df (0 if absent). */
  def idf(df: Long): Double = {
    val raw = graft.core.Bm25.rawIdf(n, df)
    if (raw < 0) epsilon * avgRawIdf else raw
  }
}

/** Build + store of the packed inverted index.
  *
  * Layout under `dir/`:
  *   postings/grp=G/          (parquet) packed rows; `shard` is a data
  *                            column (files are shard-clustered by the
  *                            sorted pack shuffle — a dir per shard would
  *                            mean thousands of driver-committed files and
  *                            one scheduler task per dir on every read)
  *   df/ (or df-gN/)          (parquet) (term, df) global document frequency;
  *                            the LIVE dir is named by stats.json's `dfDir`
  *   stats.json                          IndexStats + dfDir pointer
  *   manifest/group-G.json               per-group build checkpoint + metrics
  *   tombstones.txt                      sorted deleted-but-unpurged ids
  *   watermark.json / holes.txt          (compacted dirs) original id
  *                                       high-water mark + dead-id ledger
  *
  * All sidecars go through [[graft.io.MetaIO]]; tables through
  * [[graft.io.TableIO]] — no direct driver-local filesystem access, so a
  * cluster deployment swaps the two IO implementations and nothing here
  * changes.
  *
  * Resumability (north rule): the build runs group by group; groups are
  * CONTIGUOUS shard ranges (shard = doc_id >> shardBits), so each group's
  * input is a doc_id range predicate that parquet row-group stats prune —
  * the staged corpus is scanned ~once per build in total, not once per
  * group (doc ids are dense and files hold contiguous ranges). Each group's
  * parquet is fully written BEFORE its manifest file is created, so a crash
  * leaves either a complete group+manifest or a group that will be rebuilt.
  * `build` skips groups whose manifest exists. Manifests double as lineage +
  * build metrics AND as the authoritative per-group (docs, sumDl) record:
  * global n/avgdl are derived by summing manifests, never read back from a
  * possibly-mid-commit stats.json.
  *
  * Append commit order (crash-safe, idempotent): pack grp=N → write df-gN →
  * atomic stats.json (points dfDir at df-gN) → atomic manifest (the commit
  * marker, LAST). A retry after any crash recomputes pre-append totals from
  * manifests and overwrites every partial artifact with identical content.
  *
  * Skew: shuffle key for the pack stage is (shard, term) — stopword-heavy
  * terms are split across every doc-shard, so no single reducer sees a full
  * global posting list (salted-by-construction); within a shard a hot term
  * is further split into fixed-size blocks (long-posting-list splitting).
  */
object PackedIndex {

  // ---- shard sizing ----------------------------------------------------

  /** Shard-count ceiling for [[deriveShardBits]]: the per-query global rank
    * window receives numShards x k candidate rows, so numShards must stay
    * bounded as the corpus grows — a FIXED docs-per-shard width (the old
    * default 16) made shard count linear in corpus size (~150k shards at
    * 10^10 docs -> 1.5M candidate rows per query). 4096 shards keeps that
    * merge input small at any corpus size while leaving plenty of
    * parallelism for the per-shard WAND tasks.
    */
  val TargetMaxShards: Long = 4096L

  /** Floor on shard width (2^13 = 8k docs/shard) so small corpora don't
    * shatter into per-doc shards with per-group overhead dominating.
    */
  val MinShardBits: Int = 13

  /** Auto-derived shardBits for a corpus with dense doc ids in
    * [0, nextDocId): the smallest width keeping numShards <=
    * [[TargetMaxShards]], floored at [[MinShardBits]]. Used by [[build]]
    * when the caller doesn't pin shardBits; appends inherit the built
    * index's value from stats.json (shard assignment is immutable).
    */
  def deriveShardBits(nextDocId: Long): Int = {
    val maxId = math.max(0L, nextDocId - 1)
    var bits = MinShardBits
    while ((maxId >> bits) >= TargetMaxShards && bits < 62) bits += 1
    bits
  }

  // ---- tokenized -> postings with dl ----------------------------------

  /** (doc_id, term, tf, dl) from (doc_id, terms) with NO shuffle: a doc's
    * term frequencies are a pure function of its own token array, so tf is
    * counted in a narrow per-row kernel instead of explode + groupBy —
    * at web scale this removes an entire full-corpus shuffle from the
    * build (the only remaining wide op is the (shard, term) pack shuffle).
    */
  def postingsWithDl(tokenized: DataFrame): DataFrame = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    tokenized.select(col("doc_id"), col("terms"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, terms) =>
        val dl = terms.length.toLong
        val m = new java.util.HashMap[String, Long]()
        terms.foreach(t => m.merge(t, 1L, _ + _))
        val out = new Array[(Long, String, Long, Long)](m.size)
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out(i) = (id, e.getKey, e.getValue, dl)
          i += 1
        }
        out
      }
      .toDF("doc_id", "term", "tf", "dl")
  }

  // ---- pack ------------------------------------------------------------

  /** Pack one group's postings into PackedPostings rows. Input must contain
    * (doc_id, term, tf, dl); rows are shuffled to co-locate (shard, term)
    * and sorted so the packer streams consecutive runs.
    */
  /** Per-build counters filled by the pack tasks (terms, postings,
    * compressed bytes) — avoids a second read of the committed output just
    * to produce manifest metrics.
    */
  final class PackCounters(spark: SparkSession) extends Serializable {
    val terms = spark.sparkContext.longAccumulator("packedTerms")
    val postings = spark.sparkContext.longAccumulator("packedPostings")
    val bytes = spark.sparkContext.longAccumulator("packedBytes")
  }

  def packGroup(postingsDl: DataFrame, stats: IndexStats,
                counters: Option[PackCounters] = None,
                maxShards: Int = Int.MaxValue): Dataset[PackedPostings] = {
    val spark = postingsDl.sparkSession
    import spark.implicits._
    val p = stats.params
    val avgdl = stats.avgdl
    val blockSize = stats.blockSize
    // explicit partition count: pack work is CPU-bound per shard run; AQE's
    // byte-based coalescing would serialize it into a few long tasks. x4
    // over-decomposition smooths wave/tail imbalance (the pack stage is the
    // longest reduce in the build; at 16 fixed partitions its stragglers
    // left cores idle at higher parallelism). Bounded by the group's shard
    // count when the caller knows it: the partitioner hashes on `shard`, so
    // partitions beyond the distinct-shard count can never receive rows —
    // they only cost empty scheduled tasks (r7; measured at contract scale).
    val parts = math.max(
      math.min(spark.sparkContext.defaultParallelism * 4, maxShards), 1)
    val withShard = postingsDl
      .withColumn("shard", shiftright(col("doc_id"), stats.shardBits).cast("int"))
      .select(col("shard"), col("term"), col("doc_id"), col("tf"), col("dl"))
      .repartition(parts, col("shard"))
      .sortWithinPartitions(col("shard"), col("term"), col("doc_id"))
      .as[(Int, String, Long, Long, Long)]

    withShard.mapPartitions { it =>
      new Iterator[PackedPostings] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): PackedPostings = {
          val (shard, term, _, _, _) = buf.head
          val docs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val tfs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val dls = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (buf.hasNext && buf.head._1 == shard && buf.head._2 == term) {
            val (_, _, d, tf, dl) = buf.next()
            docs += d; tfs += tf; dls += dl
          }
          val blocks = Codec.pack(docs.toArray, tfs.toArray, dls.toArray, blockSize)
            .map(b => PackedBlock(b.baseDocId, b.maxDocId, b.count, b.maxTf,
              b.minDl, b.docs, b.tfs, b.dls)).toArray
          counters.foreach { c =>
            c.terms.add(1L)
            c.postings.add(docs.length.toLong)
            c.bytes.add(blocks.iterator.map(b =>
              b.docs.length.toLong + b.tfs.length + b.dls.length).sum)
          }
          PackedPostings(shard, term, docs.length.toLong, blocks)
        }
      }
    }
  }

  // ---- full build with checkpoints ------------------------------------

  /** Build the packed index from a (doc_id, terms) frame.
    *
    * @param groups number of sequential commit units (shard ranges); each is
    *               an independent Spark job whose output is checkpointed.
    *               Capped so every group holds at least one shard: a
    *               1-shard corpus commits one group whatever the value.
    * @return per-group metrics (including skipped/resumed groups).
    */
  /** @param stageInput stage `tokenizedIn` to parquet under the index dir
    *                    before building (resume checkpoint; pays one
    *                    write+read of the terms arrays). Pass false when the
    *                    caller's frame is ALREADY a cheap re-derivation from
    *                    a staged artifact with a physical doc_id column (so
    *                    the per-group doc_id range predicates push down) —
    *                    e.g. PagesPipeline, which stages extracted docs with
    *                    ids and tokenizes on the fly.
    */
  /** @param shardBits shard width (shard = doc_id >> shardBits); 0 (the
    *                   default) auto-derives via [[deriveShardBits]] from
    *                   the corpus's max doc id, keeping the shard count
    *                   bounded at any scale. Pin it only to reproduce a
    *                   fixed layout (tests, appends join an existing
    *                   layout automatically through stats.json).
    */
  def build(tokenizedIn: DataFrame, dir: String,
            shardBits: Int = 0, groups: Int = 4,
            p: Bm25Params = Bm25Params(),
            blockSize: Int = Codec.DefaultBlockSize,
            io: TableIO = ParquetDirIO,
            stageInput: Boolean = true,
            meta: MetaIO = LocalMetaIO): Seq[GroupManifest] = {
    val spark = tokenizedIn.sparkSession
    meta.mkdirs(s"$dir/manifest")
    if (!stageInput)
      return buildFrom(tokenizedIn, dir, shardBits, groups, p, blockSize, io, meta)
    // The tokenized frame feeds stats AND every group job, and upstream it
    // usually contains the expensive extraction kernel. It is STAGED to
    // parquet once (a real checkpoint: resume skips straight past
    // extraction) and every consumer scans the cheap columnar artifact.
    // Runtime caching (persist) was measured pathological under many-core
    // local mode (MemoryStore churn) and is less resumable anyway.
    val docsPath = s"$dir/docs"
    if (!io.committed(docsPath)) io.write(tokenizedIn, docsPath)
    val tokenized = io.read(spark, docsPath)
    buildFrom(tokenized, dir, shardBits, groups, p, blockSize, io, meta)
  }

  /** Opt-in stage timing to stderr (SPARK_GRAFT_BUILD_TIMINGS=1) — profiling
    * aid only, no effect on the build.
    */
  private val logTimings: Boolean =
    sys.env.get("SPARK_GRAFT_BUILD_TIMINGS").contains("1")
  @inline private def timedStage[T](label: String)(f: => T): T =
    if (!logTimings) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[build-timing] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  private def buildFrom(tokenized: DataFrame, dir: String,
                        shardBitsIn: Int, groups: Int,
                        p: Bm25Params,
                        blockSize: Int, io: TableIO,
                        meta: MetaIO): Seq[GroupManifest] = {
    val spark = tokenized.sparkSession
    // auto shard sizing: one column-pruned max(doc_id) pass (ids are dense,
    // so max+1 is the corpus size) — only paid when the caller didn't pin
    val shardBits =
      if (shardBitsIn > 0) shardBitsIn
      else deriveShardBits(1L + tokenized
        .agg(coalesce(max(col("doc_id")), lit(-1L))).first().getLong(0))

    // stage 1: ONE column-pruned pass computing per-shard (docs, sumDl) —
    // this both fixes the contiguous group split and yields exact per-group
    // corpus stats for the manifests (one row per shard; shard count is
    // bounded by design, so the collect is vocabulary-scale, not corpus-scale)
    val perShard = timedStage("perShard") { tokenized
      .groupBy(shiftright(col("doc_id"), shardBits).cast("int").as("shard"))
      .agg(count(lit(1)).as("docs"), sum(size(col("terms")).cast("long")).as("sum_dl"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1) }
    // effective group count: no group without a shard (ids are dense, so
    // every shard range holds docs) — an empty group is a whole pack job
    // plus a committed dir and manifest that every later read lists. Derived
    // from the perShard collect, so a resumed build recomputes the same split.
    val nShards = if (perShard.isEmpty) 0 else perShard.last._1 + 1
    val wanted = math.max(1, math.min(groups, nShards))
    val shardsPerGroup = math.max(1, (nShards + wanted - 1) / wanted) // ceil
    val nGroups = math.max(1, (nShards + shardsPerGroup - 1) / shardsPerGroup)
    def groupOf(shard: Int): Int = math.min(shard / shardsPerGroup, nGroups - 1)
    val groupTotals: Map[Int, (Long, Long)] = perShard
      .groupBy { case (s, _, _) => groupOf(s) }
      .map { case (g, rows) => g -> (rows.map(_._2).sum, rows.map(_._3).sum) }

    // stage 2: checkpointed group builds. Each group job is: RANGE-PRUNED
    // scan of the staged tokenized parquet (doc_id between the group's shard
    // bounds — pushed to parquet row-group stats, so the corpus is scanned
    // once per build in total) -> narrow per-doc tf kernel -> ONE (shard)
    // shuffle -> pack. Group jobs are INDEPENDENT (disjoint inputs, disjoint
    // output dirs, own counters/manifests), so they are submitted
    // concurrently — Spark schedules their stages over the shared executor
    // pool, overlapping one job's straggler tail with the next job's work.
    // Each group still commits its manifest the moment ITS output completes,
    // so crash/resume granularity is unchanged.
    val packStats = IndexStats(0L, 0.0, 0.0, p.k1, p.b, p.epsilon, shardBits, blockSize)
    def buildGroup(g: Int): GroupManifest = {
      val manifestPath = s"$dir/manifest/group-$g.json"
      if (meta.exists(manifestPath)) readManifest(manifestPath, meta) // resume: skip
      else {
        val t0 = System.nanoTime()
        val counters = new PackCounters(spark)
        val lo = g.toLong * shardsPerGroup << shardBits
        val hi =
          if (g == nGroups - 1) Long.MaxValue
          else (g.toLong + 1) * shardsPerGroup << shardBits
        val groupDocs = tokenized.filter(col("doc_id") >= lo && col("doc_id") < hi)
        val nShardsInGroup = perShard.count { case (sh, _, _) => groupOf(sh) == g }
        val packed = packGroup(postingsWithDl(groupDocs), packStats, Some(counters),
          maxShards = math.max(nShardsInGroup, 1))
        timedStage(s"group-$g pack+write") {
        // shard stays a DATA column (files are already clustered by shard via
        // the sorted shuffle): a dir-per-shard partitionBy layout added one
        // driver-serial file commit + one scheduler task per shard dir on
        // every read — thousands of tiny files at web scale for zero pruning
        // benefit (queries prune by TERM, not shard)
        io.write(packed.toDF(), s"$dir/postings/grp=$g") }
        val (gDocs, gSumDl) = groupTotals.getOrElse(g, (0L, 0L))
        val man = GroupManifest(g, counters.terms.value, counters.postings.value,
          counters.bytes.value, (System.nanoTime() - t0) / 1e6, gDocs, gSumDl)
        writeManifest(manifestPath, man, meta) // committed LAST -> crash-safe
        man
      }
    }
    val manifests: Seq[GroupManifest] =
      if (nGroups == 1) Seq(buildGroup(0))
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nGroups)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(
          Future.sequence((0 until nGroups).map(g => Future(buildGroup(g)))),
          Duration.Inf)
        finally pool.shutdown()
      }

    // stage 3: global df table from the committed groups' packed rows
    // (column-pruned scan of (term, nPostings) only — the blocks column is
    // never read) + the deterministic epsilon floor; stats.json is the
    // completion marker.
    // n/avgdl come from the manifests (exact Long sums), never from a
    // possibly-stale stats.json.
    if (!meta.exists(s"$dir/stats.json")) {
      val n = manifests.map(_.docs).sum
      // n == 0 would make avgdl 0/0 = NaN — invalid JSON that poisons every
      // downstream BM25 division silently. An empty corpus is a caller bug.
      require(n > 0, s"PackedIndex.build: empty corpus (0 docs) at $dir")
      val avgdl = manifests.map(_.sumDl).sum.toDouble / n
      timedStage("df write") {
        writeDf(readGroups(spark, dir, manifests.map(_.group), io), s"$dir/df", io) }
      val avgRawIdf = timedStage("avgRawIdf") {
        InvertedIndex.avgRawIdf(io.read(spark, s"$dir/df"), n) }
      writeStats(dir, IndexStats(n, avgdl, avgRawIdf, p.k1, p.b, p.epsilon,
        shardBits, blockSize), dfDir = "df", meta)
    }
    manifests
  }

  // ---- incremental append ----------------------------------------------

  /** Append new documents to an existing index (reference analogue:
    * `FaissRetrieval.add` / `ElasticRetriever.ingest`,
    * `models/retrieval_auto.py:294-303,424-425`): the new docs pack into a
    * fresh group (docIds continue above the existing corpus), then global
    * df/stats are recomputed exactly from sums — the result is
    * BIT-IDENTICAL to a full rebuild over old+new (block bounds are
    * avgdl-independent, so existing groups stay valid under the new stats).
    *
    * Crash-safe + idempotent: the pre-append corpus totals come from group
    * MANIFESTS (exact Long sums), never stats.json — so a crash after the
    * new stats.json but before the manifest cannot double-count on retry;
    * the new df is written to a fresh versioned dir (`df-gN`) that the new
    * stats.json points at (single atomic file move flips both), and the
    * group manifest is the LAST commit step. A retried append after any
    * crash point recomputes the same nextGroup and overwrites every partial
    * artifact with identical content.
    *
    * @param newTokenized (doc_id, terms) where doc_id starts at the
    *                     existing corpus size (see
    *                     [[graft.corpus.PagesPipeline.appendPages]]).
    */
  def append(newTokenized: DataFrame, dir: String,
             io: TableIO = ParquetDirIO,
             meta: MetaIO = LocalMetaIO): GroupManifest = {
    val spark = newTokenized.sparkSession
    val old = readStats(dir, meta)
    val manifests = listManifests(dir, meta)
    // pre-append totals from committed manifests only (idempotent on retry)
    val oldN = manifests.map(_.docs).sum
    val oldSumDl = manifests.map(_.sumDl).sum
    val row = newTokenized
      .agg(count(lit(1)).as("n"), sum(size(col("terms")).cast("long")).as("sum_dl"))
      .first()
    val nNew = row.getLong(0)
    val newSumDl = row.getLong(1)
    // fail LOUDLY on manifests that predate the docs/sumDl fields — a
    // silent oldN=0 would assign colliding doc_ids and corrupt stats.
    // Legitimate states: clean index (manifest total == stats.n), or a
    // crash-retry where stats.json already includes THIS batch
    // (manifest total + nNew == stats.n).
    require(oldN == old.n || oldN + nNew == old.n,
      s"append: manifest doc total ($oldN) inconsistent with stats.n " +
        s"(${old.n}) for a batch of $nNew — manifests lack docs/sumDl " +
        "(pre-upgrade index) or a DIFFERENT append is in flight; rebuild " +
        "or let it complete")
    // GC df dirs superseded by earlier appends (the CURRENT live dir is
    // never touched; the one superseded by THIS append survives until the
    // next one, giving in-flight readers a full append-cycle of grace)
    val live = readDfDir(dir, meta)
    meta.list(dir).iterator
      .filter(name => name != live &&
        (name == "df" || name.startsWith("df-g")) && !name.endsWith(".tmp"))
      .foreach(name => meta.deleteRecursively(s"$dir/$name"))
    val n = oldN + nNew
    require(n > 0, s"append: index at $dir would still hold 0 docs")
    val avgdl = (oldSumDl + newSumDl).toDouble / n
    val nextGroup = 1 + manifests.map(_.group).foldLeft(-1)(math.max)

    val t0 = System.nanoTime()
    val counters = new PackCounters(spark)
    val packStats = IndexStats(n, avgdl, 0.0, old.k1, old.b, old.epsilon,
      old.shardBits, old.blockSize)
    val batchShards = // new ids are dense in [oldN, oldN + nNew)
      (((oldN + nNew - 1) >> old.shardBits) - (oldN >> old.shardBits) + 1).toInt
    io.write(packGroup(postingsWithDl(newTokenized), packStats, Some(counters),
      maxShards = math.max(batchShards, 1)).toDF(),
      s"$dir/postings/grp=$nextGroup")

    // recompute global df from the committed groups plus this one
    // (column-pruned scan; an orphan grp= dir of a crashed commit is never
    // counted) into a fresh versioned dir; readers keep using the old dir
    // until stats.json (which names the live dir) is atomically replaced
    val newDfDir = s"df-g$nextGroup"
    writeDf(readGroups(spark, dir, manifests.map(_.group) :+ nextGroup, io),
      s"$dir/$newDfDir", io)
    val avgRawIdf = InvertedIndex.avgRawIdf(io.read(spark, s"$dir/$newDfDir"), n)
    writeStats(dir, IndexStats(n, avgdl, avgRawIdf, old.k1, old.b, old.epsilon,
      old.shardBits, old.blockSize), dfDir = newDfDir, meta)

    val man = GroupManifest(nextGroup, counters.terms.value,
      counters.postings.value, counters.bytes.value,
      (System.nanoTime() - t0) / 1e6, nNew, newSumDl)
    // a compacted index carries an id watermark (see committedDocs):
    // advance it BEFORE the manifest commit — a crash in between makes a
    // retried append re-offset from the bumped value, costing unused id
    // HOLES (harmless: ids are already sparse after compaction) but never
    // id collisions (which would corrupt joins silently)
    val wm = s"$dir/watermark.json"
    if (meta.exists(wm))
      meta.writeAtomic(wm,
        s"""{"nextDocId":${readJsonFlat(meta.readString(wm))("nextDocId").toLong + nNew}}""")
    // commit marker LAST: only now does a future append see these docs
    writeManifest(s"$dir/manifest/group-$nextGroup.json", man, meta)
    man
  }

  /** Upper bound on the index's distinct shard count, from the id
    * watermark: ids are dense in [0, committedDocs), so shard =
    * doc_id >> shardBits never exceeds this. Query/pack stages keyed on
    * `shard` cap their partition counts here — a hash partitioner on
    * `shard` cannot put rows in more partitions than distinct shards, so
    * anything beyond is empty scheduled tasks (r7).
    */
  def numShardsBound(dir: String, meta: MetaIO = LocalMetaIO): Int = {
    val bits = readStats(dir, meta).shardBits
    val docs = committedDocs(dir, meta)
    (math.max(math.max(docs, 1L) - 1, 0L) >> bits).toInt + 1
  }

  /** Shard co-location for the serving kernels (WAND and positional):
    * repartition matched rows on `shard` so each task holds whole
    * doc-shards, sorted by (shard, term) so [[shardGroups]] streams them in
    * one pass. Explicit partition count: the kernel stage is compute-bound
    * per shard group, not bytes-bound — AQE's byte-based coalescing would
    * pack the (small, compressed) matched postings into a handful of long
    * serial tasks, and a user-specified repartition is exempt from it.
    * Capped at [[numShardsBound]]: partitions beyond the distinct-shard
    * count never receive rows.
    */
  def colocateShards[T <: ShardTermRow](rows: Dataset[T], dir: String,
                                        meta: MetaIO = LocalMetaIO): Dataset[T] = {
    val parts = math.max(1, math.min(
      rows.sparkSession.sparkContext.defaultParallelism * 4,
      numShardsBound(dir, meta)))
    rows.repartition(parts, col("shard"))
      .sortWithinPartitions(col("shard"), col("term"))
  }

  /** One [[colocateShards]] partition as its whole shard groups, in order. */
  def shardGroups[T <: ShardTermRow](rows: Iterator[T]): Iterator[Seq[T]] = {
    val buf = rows.buffered
    new Iterator[Seq[T]] {
      def hasNext: Boolean = buf.hasNext
      def next(): Seq[T] = {
        val shard = buf.head.shard
        val group = Vector.newBuilder[T]
        while (buf.hasNext && buf.head.shard == shard) group += buf.next()
        group.result()
      }
    }
  }

  /** The dense doc-id high-water mark (next free doc id) — the authoritative
    * value for docId offsetting and append retries. Normally the sum of
    * manifest docs (stats.json may be mid-commit after a crash; manifests
    * are the commit markers), but a COMPACTED index carries fewer docs than
    * its highest surviving id + 1, so compact() persists the original
    * watermark in watermark.json and it takes precedence: appends after a
    * compaction must keep allocating ABOVE the old ids (deleted ids are
    * never reused — a reused id would resurrect under stale external
    * references).
    */
  def committedDocs(dir: String, meta: MetaIO = LocalMetaIO): Long = {
    val wm = s"$dir/watermark.json"
    if (meta.exists(wm))
      readJsonFlat(meta.readString(wm))("nextDocId").toLong
    else listManifests(dir, meta).map(_.docs).sum
  }

  private def listManifests(dir: String,
                            meta: MetaIO = LocalMetaIO): Seq[GroupManifest] =
    meta.list(s"$dir/manifest").iterator.collect {
      case name if name.startsWith("group-") && name.endsWith(".json") =>
        readManifest(s"$dir/manifest/$name", meta)
    }.toSeq.sortBy(_.group)

  /** Read the packed postings of COMMITTED groups only, as ONE parquet
    * relation over their grp= dirs (see [[readGroups]]). Groups are
    * enumerated from the manifests (the commit markers), not by listing
    * postings/: a crash between a group's parquet write and its manifest
    * commit leaves an orphan grp=N dir, and serving it would expose
    * uncommitted docs with stale df/stats until the append retry. Building
    * the relation runs no Spark job (one driver-side listing; past Spark's
    * parallel-listing threshold of 32 dirs, one listing job), so a request's
    * fixed cost stays flat as appends add groups; each reader's term filter
    * is pushed into the one scan.
    */
  def loadPostings(spark: SparkSession, dir: String,
                   io: TableIO = ParquetDirIO,
                   meta: MetaIO = LocalMetaIO): Dataset[PackedPostings] = {
    val committed = listManifests(dir, meta).map(_.group)
    require(committed.nonEmpty, s"loadPostings: no committed groups at $dir")
    readGroups(spark, dir, committed, io)
  }

  private val PostingsSchema: StructType = Encoders.product[PackedPostings].schema

  /** The given groups' postings as one relation: the dirs are named, not
    * discovered (no partition inference over postings/), and the schema is
    * the [[PackedPostings]] encoder's, not inferred from parquet footers.
    */
  private def readGroups(spark: SparkSession, dir: String, groups: Seq[Int],
                         io: TableIO): Dataset[PackedPostings] = {
    import spark.implicits._
    io.readAll(spark, groups.map(g => s"$dir/postings/grp=$g"), PostingsSchema)
      .as[PackedPostings]
  }

  /** Global (term, df) table of a postings relation, written to `location`. */
  private def writeDf(postings: Dataset[PackedPostings], location: String,
                      io: TableIO): Unit =
    io.write(postings.groupBy(col("term")).agg(sum(col("nPostings")).as("df")),
      location)

  /** The LIVE df table — the dir named by stats.json (appends write fresh
    * versioned dirs and flip the pointer atomically with the stats).
    */
  def loadDf(spark: SparkSession, dir: String,
             io: TableIO = ParquetDirIO,
             meta: MetaIO = LocalMetaIO): DataFrame =
    io.read(spark, s"$dir/${readDfDir(dir, meta)}")

  // ---- tiny JSON sidecars ---------------------------------------------

  final case class GroupManifest(group: Int, terms: Long, postings: Long,
                                 bytes: Long, wallMs: Double,
                                 docs: Long, sumDl: Long)

  def writeStats(dir: String, s: IndexStats, dfDir: String,
                 meta: MetaIO = LocalMetaIO): Unit =
    meta.writeAtomic(s"$dir/stats.json",
      s"""{"n":${s.n},"avgdl":${s.avgdl},"avgRawIdf":${s.avgRawIdf},"k1":${s.k1},"b":${s.b},"epsilon":${s.epsilon},"shardBits":${s.shardBits},"blockSize":${s.blockSize},"dfDir":"$dfDir"}""")

  def readStats(dir: String, meta: MetaIO = LocalMetaIO): IndexStats = {
    val m = readJsonFlat(meta.readString(s"$dir/stats.json"))
    IndexStats(m("n").toLong, m("avgdl").toDouble, m("avgRawIdf").toDouble,
      m("k1").toDouble, m("b").toDouble, m("epsilon").toDouble,
      m("shardBits").toDouble.toInt, m("blockSize").toDouble.toInt)
  }

  def readDfDir(dir: String, meta: MetaIO = LocalMetaIO): String =
    readJsonFlat(meta.readString(s"$dir/stats.json"))
      .getOrElse("dfDir", "df").stripPrefix("\"").stripSuffix("\"")

  private def writeManifest(path: String, m: GroupManifest,
                            meta: MetaIO): Unit =
    meta.writeAtomic(path,
      s"""{"group":${m.group},"terms":${m.terms},"postings":${m.postings},"bytes":${m.bytes},"wallMs":${m.wallMs},"docs":${m.docs},"sumDl":${m.sumDl}}""")

  private def readManifest(path: String, meta: MetaIO): GroupManifest = {
    val m = readJsonFlat(meta.readString(path))
    // docs/sumDl are the authoritative corpus totals (n, avgdl, docId
    // offsets all derive from their sums). A manifest lacking them is a
    // pre-upgrade format: silently defaulting to 0 would make a resumed
    // build write zeroed stats and a later append offset new docIds from 0,
    // colliding with existing docs — fail loudly instead (everywhere, not
    // just in append's consistency check).
    require(m.contains("docs") && m.contains("sumDl"),
      s"manifest $path lacks docs/sumDl (pre-upgrade format) — rebuild the index")
    GroupManifest(m("group").toDouble.toInt, m("terms").toLong,
      m("postings").toLong, m("bytes").toLong, m("wallMs").toDouble,
      m("docs").toLong, m("sumDl").toLong)
  }

  /** Physically apply tombstones (the Lucene segment-merge analogue):
    * rewrite every posting list minus the deleted docs, recompute df and
    * corpus stats over the survivors, and emit a complete fresh index at
    * `outDir` with NO tombstones. Surviving docs KEEP their doc ids (no
    * renumbering — downstream joins/labels/judgments stay valid, and the
    * shard assignment doc_id >> shardBits is unchanged), so query results
    * are bit-identical to a fresh build over the surviving corpus. The old
    * index is untouched; the caller swaps dirs when ready.
    *
    * Stats are exact: n' = Σ manifest.docs - |live tombstones| (manifests are
    * the commit markers, so a crashed append's stats.json can't skew the
    * count; tombstones naming docs a previous compaction already removed —
    * holes — are excluded from the arithmetic), sumDl' = sumDl - Σ
    * dl(deleted) with the deleted dls read from the postings themselves
    * (block-range pruned; a deleted doc with no postings is an empty doc
    * whose dl is 0).
    *
    * One decode+repack pass over the postings — the same per-(shard,term)
    * kernel shape as the original pack stage, so the compaction scales
    * exactly like a build (narrow per-row work, no shuffle). The original
    * id watermark is persisted (watermark.json) so later PackedIndex.append
    * calls on the compacted dir keep allocating above the old range; note
    * PagesPipeline.appendPages needs the pipeline's docs_raw staging and so
    * operates on the ORIGINAL lineage dir, not a compacted copy.
    */
  def compact(spark: SparkSession, dir: String, outDir: String,
              io: TableIO = ParquetDirIO,
              meta: MetaIO = LocalMetaIO): Unit = {
    import spark.implicits._
    val stats = readStats(dir, meta)
    val committed = committedDocs(dir, meta)
    // LIVE tombstones only: ids of docs a PREVIOUS compaction already
    // removed (holes) must not be subtracted again — delete() filters them
    // on entry, but an externally-edited tombstones.txt (or a pre-holes-file
    // tombstone set) could still name dead docs, and subtracting a
    // nonexistent doc would silently skew n/avgdl/idf for every query on
    // the compacted index. Intersecting against the persisted hole set here
    // makes the stat arithmetic correct regardless of how the tombstones
    // were produced.
    val holes = loadHoles(dir, meta)
    val tomb = loadTombstones(dir, meta)
      .filter(id => java.util.Arrays.binarySearch(holes, id) < 0)
    require(tomb.nonEmpty, s"compact: no live tombstones at $dir")
    require(tomb.forall(id => id >= 0 && id < committed),
      s"compact: tombstoned ids outside the dense [0, $committed) doc range")
    // pre-compaction doc count from the group manifests — the same
    // crash-safety sourcing append() uses. stats.json is written BEFORE the
    // manifest in the append protocol, so after a crashed append it counts
    // docs the postings scan below will never see.
    val preN = listManifests(dir, meta).map(_.docs).sum
    val n2 = preN - tomb.length
    require(n2 > 0, s"compact: all $preN docs deleted — delete the index instead")

    // pass 1 (block-range pruned): dl of every deleted doc that has
    // postings. Deduped per PARTITION in a task-local map (a deleted doc's
    // postings are shard-local, so a partition's duplicates collapse to one
    // row per deleted doc) and again in the driver's toMap — the previous
    // .distinct() paid a full shuffle for the same ≤|tombstones|-bounded
    // result (r7).
    val bcTomb = spark.sparkContext.broadcast(tomb)
    val deletedDl: Map[Long, Long] = loadPostings(spark, dir, io, meta)
      .mapPartitions { it =>
        val t = bcTomb.value
        val local = new java.util.HashMap[Long, Long]()
        it.foreach { pp =>
          pp.blocks.iterator
            .filter { b =>
              // any tombstone inside [base, maxDoc]?
              val i = java.util.Arrays.binarySearch(t, b.base)
              val from = if (i >= 0) i else -i - 1
              from < t.length && t(from) <= b.maxDoc
            }
            .foreach { b =>
              val cb = b.toCodec
              cb.decodeDocIds.iterator.zip(cb.decodeDls.iterator)
                .filter { case (d, _) => java.util.Arrays.binarySearch(t, d) >= 0 }
                .foreach { case (d, dl) => local.put(d, dl) }
            }
        }
        import scala.jdk.CollectionConverters._
        local.asScala.iterator.map { case (d, dl) => (d, dl) }
      }.collect().toMap
    val sumDl2 = listManifests(dir, meta).map(_.sumDl).sum - deletedDl.values.sum

    // pass 2: decode -> drop deleted -> repack with the same codec. The
    // surviving sorted doc array re-blocks exactly as a fresh build would.
    // Lists whose block [base, maxDoc] ranges touch no tombstone pass
    // through HEADER-ONLY (no varint decode) — a selective GDPR-style
    // delete costs work proportional to the affected lists, not the index.
    meta.mkdirs(s"$outDir/manifest")
    val blockSize = stats.blockSize
    val t0 = System.nanoTime()
    // manifest metrics (terms/postings) accumulate on the repack write
    // itself — the extra read-back aggregation job is gone (r7; same
    // accumulator role as the build's PackCounters: metrics only, the
    // exact stats n2/sumDl2 come from the arithmetic above)
    val cTerms = spark.sparkContext.longAccumulator("compactTerms")
    val cPostings = spark.sparkContext.longAccumulator("compactPostings")
    val repacked = loadPostings(spark, dir, io, meta).mapPartitions { it =>
      val t = bcTomb.value
      def touched(b: PackedBlock): Boolean = {
        val i = java.util.Arrays.binarySearch(t, b.base)
        val from = if (i >= 0) i else -i - 1
        from < t.length && t(from) <= b.maxDoc
      }
      it.flatMap { pp =>
        if (!pp.blocks.exists(touched)) {
          cTerms.add(1L); cPostings.add(pp.nPostings)
          Iterator.single(pp) // header-only pass
        } else {
          val blocks = pp.blocks.map(_.toCodec)
          val docs = blocks.flatMap(_.decodeDocIds)
          val keep = docs.map(d => java.util.Arrays.binarySearch(t, d) < 0)
          val tfs = blocks.flatMap(_.decodeTfs)
          val dls = blocks.flatMap(_.decodeDls)
          val kd = Array.newBuilder[Long]
          val kt = Array.newBuilder[Long]
          val kl = Array.newBuilder[Long]
          var i = 0
          while (i < docs.length) {
            if (keep(i)) { kd += docs(i); kt += tfs(i); kl += dls(i) }
            i += 1
          }
          val kdA = kd.result()
          if (kdA.isEmpty) Iterator.empty // term vanished from this shard
          else {
            cTerms.add(1L); cPostings.add(kdA.length.toLong)
            Iterator.single(PackedPostings(pp.shard, pp.term, kdA.length.toLong,
              Codec.pack(kdA, kt.result(), kl.result(), blockSize)
                .map(b => PackedBlock(b.baseDocId, b.maxDocId, b.count, b.maxTf,
                  b.minDl, b.docs, b.tfs, b.dls)).toArray))
          }
        }
      }
    }
    io.write(repacked.toDF(), s"$outDir/postings/grp=0")

    writeDf(readGroups(spark, outDir, Seq(0), io), s"$outDir/df", io)
    val avgRawIdf2 = InvertedIndex.avgRawIdf(io.read(spark, s"$outDir/df"), n2)
    writeStats(outDir, IndexStats(n2, sumDl2.toDouble / n2, avgRawIdf2,
      stats.k1, stats.b, stats.epsilon, stats.shardBits, blockSize),
      dfDir = "df", meta)
    // carry the positional arm (if present): repack through the same
    // tombstone-drop kernel, so phrase/proximity search composes with the
    // delete lifecycle instead of failing loudly until a manual rebuild
    if (PositionalIndex.exists(dir, io, meta))
      PositionalIndex.compactInto(spark, dir, outDir, bcTomb, blockSize, io, meta)
    // the id high-water mark survives compaction: manifest docs is the
    // SURVIVOR count (feeds stats on later appends), while id allocation
    // must keep starting above the ORIGINAL range — deleted ids are dead
    // forever, never recycled (committedDocs() prefers this file)
    meta.writeAtomic(s"$outDir/watermark.json", s"""{"nextDocId":$committed}""")
    // dead-id ledger: prior holes plus the ids THIS compaction removed.
    // delete()/compact() consult it so a re-issued delete of an already
    // erased doc is a no-op instead of corrupting the stat arithmetic.
    meta.writeAtomic(s"$outDir/holes.txt",
      (holes ++ tomb).distinct.sorted.mkString("\n"))
    writeManifest(s"$outDir/manifest/group-0.json",
      GroupManifest(0, cTerms.value, cPostings.value, 0L,
        (System.nanoTime() - t0) / 1e6, n2, sumDl2), meta) // committed LAST
  }

  /** Visibility-only delete (Lucene-style tombstones): marks doc ids as
    * deleted so every query path excludes them, WITHOUT rewriting postings
    * or corpus statistics — df/idf/avgdl stay frozen until a rebuild, the
    * same contract as Lucene's deleted docs before a segment merge. At
    * 100 TB this is the only viable per-document delete (a GDPR erasure
    * must not force an index rebuild). Idempotent and crash-safe: the
    * merged sorted set is written to a tmp file and atomically moved over
    * tombstones.txt (readers see either the old or the new complete set).
    * Deleted ids are NOT reusable — append() keeps offsetting from
    * committedDocs, which tombstones never change. Ids must name docs the
    * index has actually committed (fail-loudly, matching append's
    * consistency requires): a tombstone above the watermark would silently
    * suppress a FUTURE doc born later under that id. Ids of docs a past
    * compaction already removed (holes) are dropped as no-ops — the doc is
    * already physically erased. The merged set is bounded by
    * `maxTombstones` (see [[MaxTombstones]]); past it the delete fails with
    * the remedy rather than degrading every query's broadcast.
    */
  /** Tombstone-set ceiling: every query broadcasts the full sorted id array
    * (one binary search per candidate doc in the WAND loop), so the set must
    * stay broadcast-sized. 1M ids = 8 MB on the wire — comfortably under
    * Spark's broadcast sweet spot, far above any selective (GDPR-style)
    * delete volume. A delete that would push past the bound fails loudly
    * with the remedy (compact, which empties the set) rather than degrading
    * every future query; mass deletes should be a filtered rebuild anyway.
    */
  val MaxTombstones: Int = 1 << 20

  def delete(dir: String, docIds: Seq[Long],
             maxTombstones: Int = MaxTombstones,
             meta: MetaIO = LocalMetaIO): Unit = {
    val limit = committedDocs(dir, meta)
    require(docIds.forall(id => id >= 0 && id < limit),
      s"delete: doc ids outside the committed [0, $limit) range: " +
        docIds.filterNot(id => id >= 0 && id < limit).take(5).mkString(","))
    // liveness, not just range: after a compaction the [0, watermark) range
    // contains HOLES — ids of docs already physically removed. Deleting one
    // again (a re-issued GDPR erasure) is a no-op on an already-erased doc;
    // silently letting it into the tombstone set would make the NEXT
    // compact() subtract a nonexistent doc from n/sumDl.
    val holes = loadHoles(dir, meta)
    val liveIds =
      docIds.filter(id => java.util.Arrays.binarySearch(holes, id) < 0)
    val merged = (loadTombstones(dir, meta) ++ liveIds).distinct.sorted
    require(merged.length <= maxTombstones,
      s"delete: tombstone set would reach ${merged.length} ids " +
        s"(bound $maxTombstones) — run compact() to apply them physically " +
        "(or rebuild over a filtered corpus for mass deletes)")
    meta.writeAtomic(s"$dir/tombstones.txt", merged.mkString("\n"))
  }

  /** Sorted tombstoned doc ids; empty when no delete has ever run. */
  def loadTombstones(dir: String, meta: MetaIO = LocalMetaIO): Array[Long] =
    readIdFile(s"$dir/tombstones.txt", meta)

  /** Sorted dead doc ids physically removed by past compactions (holes in
    * the dense id range); empty for a never-compacted index.
    */
  def loadHoles(dir: String, meta: MetaIO = LocalMetaIO): Array[Long] =
    readIdFile(s"$dir/holes.txt", meta)

  private def readIdFile(path: String, meta: MetaIO): Array[Long] =
    if (!meta.exists(path)) Array.empty[Long]
    else meta.readString(path).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).map(_.toLong).toArray

  /** Parse a flat one-level JSON object of numbers (no strings/nesting). */
  private def readJsonFlat(s: String): Map[String, String] =
    s.trim.stripPrefix("{").stripSuffix("}").split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2)
      k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim
    }.toMap
}
