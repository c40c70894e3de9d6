package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.io.{LocalMetaIO, MetaIO, ParquetDirIO, TableIO}

/** Persisted positional posting row: all positional blocks of one term
  * within one doc-shard (see [[Codec.PosBlock]]).
  */
final case class PackedPosBlock(
    base: Long, maxDoc: Long, count: Int,
    docs: Array[Byte], cnts: Array[Byte], poss: Array[Byte]) {
  def toCodec: Codec.PosBlock =
    Codec.PosBlock(base, maxDoc, count, docs, cnts, poss)
}

final case class PosPostings(shard: Int, term: String, nPostings: Long,
                             blocks: Array[PackedPosBlock]) extends ShardTermRow

/** Optional POSITIONAL arm of the packed index: per-posting term-occurrence
  * offsets, stored as a parallel `positions/` table under the index dir and
  * sharded identically to the scoring postings (shard = doc_id >>
  * shardBits from stats.json), so every term of a doc lands in the same
  * shard and phrase verification is shard-local — no per-doc shuffle, the
  * same co-location argument as the WAND kernel.
  *
  * This removes phrase search's dependence on retaining the tokenized
  * corpus next to the index ([[graft.query.Phrase.topK]] re-reads candidate
  * token arrays; [[graft.query.Phrase.topKPositional]] works from the index
  * alone). No reference analogue — the reference has no phrase operator —
  * engine-surface extension per SURVEY §2.10.
  *
  * Build contract: [[build]] after the scoring build with the SAME
  * tokenized frame (one base segment); [[append]] after each
  * PackedIndex.append with the same offset batch (one segment per append,
  * cost ∝ the batch, atomic segment-list flip). The scoring index remains
  * the source of truth for corpus stats and commit lineage — a positional
  * arm that missed an append fails loudly
  * ([[graft.query.Phrase.topKPositional]] cross-checks each queried term's
  * positional posting count against the scoring df table) instead of
  * silently missing phrase hits.
  */
object PositionalIndex {

  /** (doc_id, term, positions) with NO shuffle: a doc's term-occurrence
    * offsets are a pure function of its own token array (the positional
    * sibling of [[PackedIndex.postingsWithDl]]).
    */
  def positionsPerDoc(tokenized: DataFrame): Dataset[(Long, String, Array[Long])] = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    tokenized.select(col("doc_id"), col("terms"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, terms) =>
        val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]]()
        var i = 0
        terms.foreach { t =>
          val buf = m.computeIfAbsent(t,
            _ => scala.collection.mutable.ArrayBuffer.empty[Long])
          buf += i.toLong
          i += 1
        }
        val out = new Array[(Long, String, Array[Long])](m.size)
        var j = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out(j) = (id, e.getKey, e.getValue.toArray) // appended in order -> sorted
          j += 1
        }
        out
      }
  }

  /** Pack a tokenized frame into positional rows (shared by build/append).
    * Same pack-shuffle shape as the scoring build: one (shard, term)
    * repartition with x4 over-decomposition, streamed runs.
    */
  private def pack(tokenized: DataFrame, shardBits: Int,
                   blockSize: Int, maxShards: Int = Int.MaxValue): DataFrame = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    // capped at the arm's shard count — hash-on-shard cannot fill more
    // partitions than distinct shards (r7, matches PackedIndex.packGroup)
    val parts = math.max(
      math.min(spark.sparkContext.defaultParallelism * 4, maxShards), 1)
    val withShard = positionsPerDoc(tokenized)
      .toDF("doc_id", "term", "positions")
      .withColumn("shard", shiftright(col("doc_id"), shardBits).cast("int"))
      .repartition(parts, col("shard"))
      .sortWithinPartitions(col("shard"), col("term"), col("doc_id"))
      .select(col("shard"), col("term"), col("doc_id"), col("positions"))
      .as[(Int, String, Long, Array[Long])]
    withShard.mapPartitions { it =>
      new Iterator[PosPostings] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): PosPostings = {
          val (shard, term, _, _) = buf.head
          val docs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val poss = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
          while (buf.hasNext && buf.head._1 == shard && buf.head._2 == term) {
            val (_, _, d, p) = buf.next()
            docs += d; poss += p
          }
          val blocks = Codec.packPositions(docs.toArray, poss.toArray, blockSize)
            .map(b => PackedPosBlock(b.baseDocId, b.maxDocId, b.count,
              b.docs, b.cnts, b.poss)).toArray
          PosPostings(shard, term, docs.length.toLong, blocks)
        }
      }
    }.toDF()
  }

  /** Sidecar naming the arm's segment dirs, one per line (MetaIO-atomic —
    * readers see the old or the new complete list). Absent on pre-segment
    * arms, which consist of the single legacy `positions` dir.
    */
  private def segmentList(dir: String, meta: MetaIO): Seq[String] =
    if (meta.exists(s"$dir/positions.list"))
      meta.readString(s"$dir/positions.list")
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    else Seq("positions")

  /** Build (or rebuild) the positional arm from the index's full corpus:
    * one base segment, resetting any appended segments.
    */
  def build(tokenized: DataFrame, dir: String,
            io: TableIO = ParquetDirIO,
            meta: MetaIO = LocalMetaIO): Unit = {
    val stats = PackedIndex.readStats(dir, meta)
    io.write(pack(tokenized, stats.shardBits, stats.blockSize,
      maxShards = PackedIndex.numShardsBound(dir, meta)),
      s"$dir/positions")
    meta.writeAtomic(s"$dir/positions.list", "positions")
  }

  /** Extend the positional arm with NEWLY APPENDED docs only (cost ∝ the
    * batch, like PackedIndex.append): the batch packs into a fresh segment
    * dir, then the segment list flips atomically — a crash in between
    * leaves an orphan dir that readers never see and that an append retry
    * overwrites (the segment id derives from the committed list, so the
    * retry is idempotent). `newTokenized` must carry the docs' FINAL ids,
    * i.e. the same offset frame handed to PackedIndex.append.
    */
  def append(newTokenized: DataFrame, dir: String,
             io: TableIO = ParquetDirIO,
             meta: MetaIO = LocalMetaIO): Unit = {
    val stats = PackedIndex.readStats(dir, meta)
    val segs = segmentList(dir, meta)
    require(io.committed(s"$dir/${segs.head}"),
      s"PositionalIndex.append: no committed positional arm at $dir — " +
        "run PositionalIndex.build first")
    val next = s"positions-a${segs.length}"
    io.write(pack(newTokenized, stats.shardBits, stats.blockSize),
      s"$dir/$next")
    meta.writeAtomic(s"$dir/positions.list", (segs :+ next).mkString("\n"))
  }

  /** True iff `dir` carries a positional arm (segment list or legacy
    * single `positions` dir).
    */
  def exists(dir: String, io: TableIO = ParquetDirIO,
             meta: MetaIO = LocalMetaIO): Boolean =
    meta.exists(s"$dir/positions.list") || io.committed(s"$dir/positions")

  /** Repack the positional arm minus the tombstoned docs into `outDir` —
    * the positional leg of [[PackedIndex.compact]], sharing its shape:
    * rows whose block [base, maxDoc] ranges touch no tombstone pass
    * through HEADER-ONLY; touched rows decode, drop deleted postings, and
    * re-block with the same codec. Ids are preserved, segments collapse to
    * one, and the arm's per-term posting counts land exactly on the
    * compacted df table (the staleness gate the query kernel enforces).
    */
  private[index] def compactInto(spark: SparkSession, dir: String,
                                 outDir: String,
                                 bcTomb: org.apache.spark.broadcast.Broadcast[Array[Long]],
                                 blockSize: Int,
                                 io: TableIO, meta: MetaIO): Unit = {
    import spark.implicits._
    val repacked = load(spark, dir, io, meta).mapPartitions { it =>
      val t = bcTomb.value
      def touched(b: PackedPosBlock): Boolean = {
        val i = java.util.Arrays.binarySearch(t, b.base)
        val from = if (i >= 0) i else -i - 1
        from < t.length && t(from) <= b.maxDoc
      }
      it.flatMap { pp =>
        if (!pp.blocks.exists(touched)) Iterator.single(pp)
        else {
          val blocks = pp.blocks.map(_.toCodec)
          val docs = blocks.flatMap(_.decodeDocIds)
          val poss = blocks.flatMap(_.decodePositions)
          val kd = Array.newBuilder[Long]
          val kp = Array.newBuilder[Array[Long]]
          var i = 0
          while (i < docs.length) {
            if (java.util.Arrays.binarySearch(t, docs(i)) < 0) {
              kd += docs(i); kp += poss(i)
            }
            i += 1
          }
          val kdA = kd.result()
          if (kdA.isEmpty) Iterator.empty
          else Iterator.single(PosPostings(pp.shard, pp.term, kdA.length.toLong,
            Codec.packPositions(kdA, kp.result(), blockSize)
              .map(b => PackedPosBlock(b.baseDocId, b.maxDocId, b.count,
                b.docs, b.cnts, b.poss)).toArray))
        }
      }
    }
    io.write(repacked.toDF(), s"$outDir/positions")
    meta.writeAtomic(s"$outDir/positions.list", "positions")
  }

  private val PosSchema: StructType = Encoders.product[PosPostings].schema

  /** Read the positional arm: its committed segments as ONE relation with
    * the [[PosPostings]] schema (no inference job, no per-segment union —
    * the same read as [[PackedIndex.loadPostings]]); fails loudly when
    * absent.
    */
  def load(spark: SparkSession, dir: String,
           io: TableIO = ParquetDirIO,
           meta: MetaIO = LocalMetaIO): Dataset[PosPostings] = {
    import spark.implicits._
    val segs = segmentList(dir, meta)
    segs.foreach { s =>
      require(io.committed(s"$dir/$s"),
        s"PositionalIndex.load: segment $s missing/uncommitted at $dir " +
          "— run PositionalIndex.build over the index corpus first")
    }
    io.readAll(spark, segs.map(s => s"$dir/$s"), PosSchema).as[PosPostings]
  }
}
