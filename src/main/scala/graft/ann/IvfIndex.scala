package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{LocalMetaIO, MetaIO, ParquetDirIO, TableIO}

/** PERSISTED IVF index — the dense sibling of the packed BM25 index:
  * build/train once, serve many query batches from storage (reference
  * analogue: faiss write_index/read_index + incremental `add`,
  * `/root/reference/src/retrievals/models/retrieval_auto.py:89,294-303`).
  *
  * Layout under `dir/`:
  *   cells/ (+ cells-aN/)   (parquet) (vec_id, vec, cell_id) — one segment
  *                          per build/append commit; rows are CLUSTERED by
  *                          cell_id via a sorted repartition, so parquet
  *                          row-group stats prune non-probed cells and a
  *                          query batch reads ~nProbe/nCells of the data
  *                          (cell_id stays a DATA column — a dir per cell
  *                          would mean driver-serial commits and a
  *                          scheduler task per dir, the same reasoning as
  *                          the postings shard column)
  *   cells.list             segment list sidecar — the COMMIT MARKER,
  *                          always written LAST (MetaIO-atomic flip, the
  *                          PositionalIndex pattern: a crash leaves an
  *                          invisible orphan dir a retry overwrites). Each
  *                          line is `name<TAB>rowCount`: the per-segment
  *                          counts make the nVecs stats refresh a driver-
  *                          local SUM instead of a full-index scan, so a
  *                          streaming append's cost stays proportional to
  *                          the NEW segment, not the index (legacy
  *                          count-less lines self-heal: the next append
  *                          counts just those segments once and rewrites)
  *   centroids.tsv          trained centroids (small: nCells x dim)
  *   tombstones.txt         visibility-only deleted vec_ids ([[delete]])
  *   holes.txt              vec_ids physically removed by past
  *                          [[compact]] runs — the dead-id ledger that
  *                          makes a re-issued delete of an already-erased
  *                          vector a NO-OP instead of a phantom tombstone
  *   ivf.json               stats: nCells, dim, nVecs, storage — nVecs is
  *                          always derived from the committed segment
  *                          counts after a list flip, never incremented,
  *                          so a crash between the flip and the stats
  *                          write leaves a stale-but-self-healing value
  *
  * Vector storage (`storage` in ivf.json, fixed at build):
  *   - "f64" (default): vec persisted as ARRAY<DOUBLE> — byte-exact
  *     round-trip of the input;
  *   - "f32": vec persisted as ARRAY<FLOAT> — HALF the scan bytes, the
  *     real-embedding-pipeline format (serving the 2M probe was
  *     scan-bound, and at 10^9 x 768 dims the 2x byte tax dominates).
  *     Cosine is still computed in DOUBLE over the dequantized values
  *     (deterministic; ranks for genuinely-separated neighbors are
  *     unaffected, scores may differ from f64 storage in last ulps — the
  *     contract queries pin quality through the recall column, not score
  *     hashes, exactly like every approximate path here).
  *
  * Append contract: new vectors are assigned against the FROZEN trained
  * centroids (exactly faiss `index.add` after `train` — recall for new
  * data tracks how well the training sample covered it). Retraining is a
  * REBUILD INTO A FRESH DIR + caller-side swap (the compact() pattern):
  * build() refuses a dir with a committed segment list, because
  * overwriting the base segment in place would expose mixed old/new
  * state to concurrent readers with no error.
  *
  * Idempotency: both build and append accept an optional segment NAME.
  * An append whose name is already in the committed list is a no-op —
  * the hook exactly-once ingestion rides (streaming/IvfIngest derives the
  * name from the micro-batch id, so a replayed batch after a crash
  * re-lands on the same segment instead of duplicating vectors).
  *
  * Served results are bit-identical to the in-memory [[Ann.ivfTopK]] over
  * the same vectors and centroids (IvfIndexSpec pins it; f32 storage is
  * pinned on rank parity instead, see above), so the q_ann_ivf_sweep
  * quality/cost table applies to the persisted form unchanged.
  */
object IvfIndex {

  /** Lloyd trains on at most nCells x this many sampled vectors (the faiss
    * `max_points_per_centroid` discipline): k-means quality saturates at a
    * few hundred points per centroid, so training cost stays
    * O(nCells^2 x dim x iters) regardless of corpus size instead of paying
    * the full nCells x dim argmax for EVERY vector EVERY iteration. The
    * one full-corpus assignment still happens — once, at segment-write
    * time (inherent to flat IVF `add`).
    */
  val MaxTrainPointsPerCell: Int = 256

  /** Auto cell count: ~sqrt(N) (the standard IVF operating point — probe
    * cost per query ~ nProbe x N/nCells and centroid-argmax cost ~ nCells
    * balance at sqrt(N)), clamped to [16, 32768]. The upper clamp bounds
    * the broadcast centroid table (32768 x 768 dims x 8B = ~200 MB) and
    * the per-vector assignment argmax; beyond ~10^9 vectors a coarser-
    * than-sqrt table is the right trade anyway (faiss guidance).
    */
  def autoCells(n: Long): Int = {
    val raw = math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt
    math.min(32768, math.max(16, raw))
  }

  /** Train (seed + Lloyd) and persist into a FRESH dir (see class doc).
    * `corpus` is (vec_id, vec). Commit order: segment -> centroids ->
    * stats -> cells.list (marker LAST); a crashed build is invisible and
    * a retry overwrites every partial artifact.
    *
    * `nCells = 0` (default-able) derives [[autoCells]](N) — pass an
    * explicit count only when the operating point is known. Training runs
    * on a deterministic hash-sample capped at nCells x
    * [[MaxTrainPointsPerCell]] vectors (no-op at small scale).
    */
  def build(corpus: DataFrame, dir: String, nCells: Int, iters: Int,
            io: TableIO = ParquetDirIO,
            meta: MetaIO = LocalMetaIO,
            segmentName: String = "cells",
            storage: String = "f64"): Unit = {
    require(!meta.exists(s"$dir/cells.list"),
      s"IvfIndex.build: $dir already holds a committed index — retrain " +
        "rebuilds into a fresh dir and the caller swaps (the compact() pattern)")
    require(storage == "f64" || storage == "f32",
      s"IvfIndex.build: unknown storage mode '$storage' (f64|f32)")
    val c = corpus.select(col("vec_id").cast("long"),
      col("vec").cast("array<double>").as("vec"))
    val n = c.count()
    val cells = if (nCells > 0) nCells else autoCells(n)
    val sampleCap = cells.toLong * MaxTrainPointsPerCell
    val train =
      if (n <= sampleCap) c
      else {
        // deterministic 1-in-k hash sample; the sample is what Lloyd and
        // the seeding see, so training cost is corpus-size-independent
        val everyK = math.max(1L, (n + sampleCap - 1) / sampleCap)
        c.filter(pmod(xxhash64(col("vec_id")), lit(everyK)) === 0)
      }
    // hash-ordered seeding, sparse-id-safe — Ann.seedCentroids carries
    // the same form since the round-6 review (the 2M probe caught an
    // earlier id-stride seed keeping 12 of 256 centroids on a
    // hash-sampled train set), so every caller shares one implementation
    val seed = Ann.seedCentroids(train, cells)
    val centroids = Ann.lloyd(train, seed, iters)
    val cents = centroids
      .select(col("cell_id").cast("long"), col("cvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"IvfIndex.build: no centroids at $dir")
    meta.mkdirs(dir)
    val assigned = Ann.assignCells(c, centsDf(corpus.sparkSession, cents))
    writeSegment(assigned, s"$dir/$segmentName", io, storage)
    val nVecs = io.read(corpus.sparkSession, s"$dir/$segmentName").count()
    meta.writeAtomic(s"$dir/centroids.tsv", cents.map { case (id, v) =>
      s"$id\t${v.mkString(",")}"
    }.mkString("\n"))
    meta.writeAtomic(s"$dir/ivf.json", statsJson(
      cents.length, cents.head._2.length, nVecs, storage))
    meta.writeAtomic(s"$dir/cells.list", s"$segmentName\t$nVecs") // marker LAST
  }

  /** Add vectors against the frozen centroids: a fresh segment dir, then
    * the segment list flips atomically; stats recompute AFTER the flip
    * (see class doc). A crash leaves an invisible orphan a retry
    * overwrites; an append whose `segmentName` is already committed is a
    * no-op (it still refreshes stats, healing a crashed prior attempt).
    * Per-append cost is proportional to the NEW segment only: committed
    * segments' row counts ride the cells.list lines, so the nVecs refresh
    * is a driver-local sum (long-running streaming ingest stays linear,
    * not quadratic, in the stream's lifetime).
    */
  def append(newVecs: DataFrame, dir: String,
             io: TableIO = ParquetDirIO,
             meta: MetaIO = LocalMetaIO,
             segmentName: Option[String] = None): Unit = {
    val spark = newVecs.sparkSession
    val entries = segmentEntries(dir, meta)
    require(io.committed(s"$dir/${entries.head._1}"),
      s"IvfIndex.append: no committed index at $dir — run build first")
    val next = segmentName.getOrElse(s"cells-a${entries.length}")
    // self-heal legacy count-less lines (one bounded per-segment count,
    // at most once — the rewrite below persists them)
    val healed = entries.map { case (nm, cnt) =>
      nm -> cnt.getOrElse(io.read(spark, s"$dir/$nm").count())
    }
    val stats = readStats(dir, meta)
    val finalEntries =
      if (!healed.exists(_._1 == next)) {
        val cents = loadCentroids(dir, meta)
        val c = newVecs.select(col("vec_id").cast("long"),
          col("vec").cast("array<double>").as("vec"))
        writeSegment(Ann.assignCells(c, centsDf(spark, cents)), s"$dir/$next",
          io, storageMode(stats))
        val cnt = io.read(spark, s"$dir/$next").count()
        val all = healed :+ (next -> cnt)
        meta.writeAtomic(s"$dir/cells.list",
          all.map { case (nm, ct) => s"$nm\t$ct" }.mkString("\n"))
        all
      } else {
        if (healed != entries.map { case (nm, c) => nm -> c.getOrElse(-1L) })
          meta.writeAtomic(s"$dir/cells.list",
            healed.map { case (nm, ct) => s"$nm\t$ct" }.mkString("\n"))
        healed
      }
    // stats from the COMMITTED per-segment counts — a driver-local sum,
    // self-healing after a crash between list flip and stats write
    meta.writeAtomic(s"$dir/ivf.json", statsJson(
      statLong(stats, "nCells"), statLong(stats, "dim"),
      finalEntries.map(_._2).sum, storageMode(stats)))
  }

  /** Top-k cosine over the persisted index: probe selection runs
    * driver-side against the loaded centroids (tiny), then ONE scan of the
    * committed cell segments with `cell_id IN (probed)` pushed into the
    * parquet scan — row-group stats prune non-probed cells, so the scan
    * reads ~|probed|/nCells of the index (plan-verified in IvfIndexSpec).
    * Bit-identical to [[Ann.ivfTopK]] on the same vectors/centroids.
    *
    * `allowedIds` (optional) is the ES-filter-context allowlist the BM25
    * paths carry: only listed vec_ids may be scored, applied as a filter
    * on the pruned scan BEFORE ranking (candidates restricted, similarity
    * unchanged). Tombstoned ids ([[delete]]) are always excluded.
    */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbe: Int,
             allowedIds: Option[Array[Long]] = None,
             io: TableIO = ParquetDirIO,
             meta: MetaIO = LocalMetaIO): DataFrame = {
    import spark.implicits._
    val cents = loadCentroids(dir, meta)
    val probes = Ann.probeCells(queries, centsDf(spark, cents), nProbe)
      .localCheckpoint() // pinned: reused for the pushdown filter AND the join
    val probedCells = probes.select(col("cell_id"))
      .distinct().collect().map(_.getLong(0)).sorted
    val tomb = loadTombstones(dir, meta)
    // id-set filters: small sets ride the scan as pushdown-friendly IN
    // predicates; large sets switch to broadcast joins (a 100k-element In
    // bloats the plan and evaluates per row-group slower than a hash
    // probe) — one shared threshold with the WAND term filters so the two
    // serving paths can't drift
    val isinMax = graft.query.Wand.IsinThreshold
    var cells = loadCells(spark, dir, io, meta)
    cells =
      if (probedCells.length <= isinMax)
        cells.filter(col("cell_id").isin(probedCells: _*))
      else
        cells.join(broadcast(probedCells.toSeq.toDF("cell_id")),
          Seq("cell_id"), "left_semi")
    allowedIds.foreach { ids =>
      cells =
        if (ids.length <= isinMax) cells.filter(col("vec_id").isin(ids.toSeq: _*))
        else cells.join(broadcast(ids.toSeq.toDF("vec_id")), Seq("vec_id"), "left_semi")
    }
    if (tomb.nonEmpty) {
      cells =
        if (tomb.length <= isinMax) cells.filter(!col("vec_id").isin(tomb.toSeq: _*))
        else cells.join(broadcast(tomb.toSeq.toDF("vec_id")), Seq("vec_id"), "left_anti")
    }
    // serve through the heap kernel, not the join+window plan: at the
    // 2M-vector probe the latter was SLOWER than a full brute-force scan
    // (it materializes scanned x probing-queries rows through a shuffle);
    // the kernel form is result-identical and 3-10x faster
    Ann.ivfTopKKernel(probes, cells, k)
  }

  /** Visibility-only delete, the dense sibling of PackedIndex.delete:
    * tombstoned vec_ids are excluded from every search without rewriting
    * cell segments or retraining. Atomic merged-set publish; idempotent.
    * Bounded like the BM25 tombstones (the set rides into the scan filter).
    *
    * Matches the sibling's FAIL-LOUDLY contract: ids already erased by a
    * past [[compact]] (the holes ledger) are silently skipped — a
    * re-issued erasure of a gone vector is a no-op — but an id that never
    * named a committed vector raises instead of being tombstoned forever
    * against the MaxTombstones bound. The liveness check is one
    * column-pruned anti-join scan of the index per delete batch (deletes
    * are rare admin operations; IVF ids are arbitrary longs, so no O(1)
    * range check exists the way it does for the dense BM25 doc ids).
    */
  def delete(spark: SparkSession, dir: String, vecIds: Seq[Long],
             maxTombstones: Int = graft.index.PackedIndex.MaxTombstones,
             io: TableIO = ParquetDirIO,
             meta: MetaIO = LocalMetaIO): Unit = {
    import spark.implicits._
    val holes = loadHoles(dir, meta)
    val live = vecIds.distinct
      .filter(id => java.util.Arrays.binarySearch(holes, id) < 0)
    if (live.nonEmpty) {
      val unknown = live.toDF("vec_id")
        .join(loadCells(spark, dir, io, meta).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
        .collect().map(_.getLong(0)).sorted
      require(unknown.isEmpty,
        s"IvfIndex.delete: ids name no committed vector at $dir: " +
          unknown.take(5).mkString(",") +
          (if (unknown.length > 5) s" (+${unknown.length - 5} more)" else ""))
    }
    val merged = (loadTombstones(dir, meta) ++ live).distinct.sorted
    require(merged.length <= maxTombstones,
      s"IvfIndex.delete: tombstone set would reach ${merged.length} ids " +
        s"(bound $maxTombstones) — run compact() to apply them physically " +
        "(or rebuild over the filtered corpus for mass deletes)")
    meta.writeAtomic(s"$dir/tombstones.txt", merged.mkString("\n"))
  }

  /** Apply tombstones PHYSICALLY into a fresh dir — the dense sibling of
    * PackedIndex.compact: dead vectors are dropped from the cell data,
    * nVecs recomputes over survivors, vec_ids and the FROZEN centroids are
    * preserved (no retrain — cell assignments of survivors are unchanged,
    * so compacted search is bit-identical to a fresh build over survivors
    * with the same centroids; IvfIndexSpec pins it). The source dir is
    * untouched (readers keep serving it); the caller swaps when done.
    * Erased ids land in the holes ledger so a re-issued [[delete]] of one
    * is a no-op forever after.
    */
  def compact(spark: SparkSession, srcDir: String, outDir: String,
              io: TableIO = ParquetDirIO,
              meta: MetaIO = LocalMetaIO): Unit = {
    import spark.implicits._
    require(!meta.exists(s"$outDir/cells.list"),
      s"IvfIndex.compact: $outDir already holds a committed index")
    val stats = readStats(srcDir, meta)
    val storage = storageMode(stats)
    val tomb = loadTombstones(srcDir, meta)
    val isinMax = graft.query.Wand.IsinThreshold
    var survivors = loadCells(spark, srcDir, io, meta)
    if (tomb.nonEmpty) {
      survivors =
        if (tomb.length <= isinMax)
          survivors.filter(!col("vec_id").isin(tomb.toSeq: _*))
        else
          survivors.join(broadcast(tomb.toSeq.toDF("vec_id")),
            Seq("vec_id"), "left_anti")
    }
    meta.mkdirs(outDir)
    writeSegment(survivors, s"$outDir/cells", io, storage)
    val nVecs = io.read(spark, s"$outDir/cells").count()
    meta.writeAtomic(s"$outDir/centroids.tsv",
      meta.readString(s"$srcDir/centroids.tsv"))
    val holes = (loadHoles(srcDir, meta) ++ tomb).distinct.sorted
    if (holes.nonEmpty)
      meta.writeAtomic(s"$outDir/holes.txt", holes.mkString("\n"))
    meta.writeAtomic(s"$outDir/ivf.json", statsJson(
      statLong(stats, "nCells"), statLong(stats, "dim"), nVecs, storage))
    meta.writeAtomic(s"$outDir/cells.list", s"cells\t$nVecs") // marker LAST
  }

  def loadTombstones(dir: String,
                     meta: MetaIO = LocalMetaIO): Array[Long] =
    readIds(s"$dir/tombstones.txt", meta)

  /** Sorted vec_ids physically removed by past compactions. */
  def loadHoles(dir: String, meta: MetaIO = LocalMetaIO): Array[Long] =
    readIds(s"$dir/holes.txt", meta)

  private def readIds(path: String, meta: MetaIO): Array[Long] =
    if (!meta.exists(path)) Array.empty[Long]
    else meta.readString(path).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).map(_.toLong).toArray

  // ---- internals -------------------------------------------------------

  /** Cluster a segment's rows by cell before writing so parquet row-group
    * min/max on cell_id make the probe-time IN filter prune. f32 storage
    * quantizes the vec column to ARRAY<FLOAT> at write (half the scan
    * bytes; see class doc).
    */
  private def writeSegment(assigned: DataFrame, location: String,
                           io: TableIO, storage: String): Unit = {
    val spark = assigned.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, 4)
    val vecOut =
      if (storage == "f32") col("vec").cast("array<float>").as("vec")
      else col("vec")
    io.write(assigned
      .repartition(parts, col("cell_id"))
      .sortWithinPartitions(col("cell_id"), col("vec_id"))
      .select(col("vec_id"), vecOut, col("cell_id")), location)
  }

  /** Committed (segmentName, rowCount) entries; legacy lines without a
    * count read as None and self-heal on the next [[append]].
    */
  private def segmentEntries(dir: String,
                             meta: MetaIO): Seq[(String, Option[Long])] =
    if (meta.exists(s"$dir/cells.list"))
      meta.readString(s"$dir/cells.list")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
          line.split("\t", 2) match {
            case Array(nm, cnt) => nm -> Some(cnt.toLong)
            case Array(nm)      => nm -> None
          }
        }.toSeq
    else Seq("cells" -> None)

  private def segmentList(dir: String, meta: MetaIO): Seq[String] =
    segmentEntries(dir, meta).map(_._1)

  /** Union of committed cell segments, vec always presented as
    * ARRAY<DOUBLE> regardless of the storage mode (f32 dequantizes here,
    * so every consumer scores in double).
    */
  def loadCells(spark: SparkSession, dir: String,
                io: TableIO = ParquetDirIO,
                meta: MetaIO = LocalMetaIO): DataFrame = {
    val segs = segmentList(dir, meta)
    segs.foreach { s =>
      require(io.committed(s"$dir/$s"),
        s"IvfIndex.loadCells: segment $s missing/uncommitted at $dir")
    }
    // a union, not one TableIO.readAll: segments store vec as f32 or f64
    segs.iterator
      .map(s => io.read(spark, s"$dir/$s")
        .select(col("vec_id"), col("vec").cast("array<double>").as("vec"),
          col("cell_id")))
      .reduce(_ unionByName _)
  }

  def loadCentroids(dir: String,
                    meta: MetaIO = LocalMetaIO): Array[(Long, Array[Double])] =
    meta.readString(s"$dir/centroids.tsv").split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(id, vs) = line.split("\t", 2)
        id.toLong -> vs.split(",").map(_.toDouble)
      }.toArray.sortBy(_._1)

  private def centsDf(spark: SparkSession,
                      cents: Array[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cvec")
  }

  private def statsJson(nCells: Long, dim: Long, nVecs: Long,
                        storage: String): String =
    s"""{"nCells":$nCells,"dim":$dim,"nVecs":$nVecs,"storage":"$storage"}"""

  private[graft] def readStats(dir: String,
                               meta: MetaIO = LocalMetaIO): Map[String, String] =
    meta.readString(s"$dir/ivf.json").trim
      .stripPrefix("{").stripSuffix("}").split(",").map { kv =>
        val Array(k, v) = kv.split(":", 2)
        k.trim.stripPrefix("\"").stripSuffix("\"") ->
          v.trim.stripPrefix("\"").stripSuffix("\"")
      }.toMap

  private def statLong(stats: Map[String, String], key: String): Long =
    stats(key).toLong

  /** Legacy ivf.json (pre-f32) carries no storage field -> f64. */
  private def storageMode(stats: Map[String, String]): String =
    stats.getOrElse("storage", "f64")
}
