package graftbench

import graft.corpus.PagesPipeline
import graft.dedup.Dedup
import graft.index.{DocIds, PackedIndex}
import graft.io.ParquetDirIO
import graft.plans.Bm25TopKPlan
import graft.query.{IndexCache, Wand}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The two workloads. Sizes are fixed here; only the seed varies. */
object Workload {

  type Figures = Seq[(String, (Double, String))]
  final case class Result(endToEnd: Figures, layers: Figures)

  /** Pages per corpus (PagesGen), and its vocabulary size. */
  val Pages = 2000L
  val Vocab = 5000
  val PagePartitions = 4
  /** Set-up repetitions per run; setup_s is their median. */
  val SetupReps = 3
  val K = 10
  /** offline: `buildIndex` calls per pass; queries per pass, answered in
    * BatchCalls `searchDs` calls; chunk size; checked sample per pass. The
    * first call of a pass pins the fresh index's postings; the later calls
    * run on the warm index.
    */
  val BuildCalls = 2
  val BatchQueries = 6000
  val BatchCalls = 3
  val ChunkSize = 1500
  val BatchSample = 100
  /** ingest_serve: pages per append, deletes per cycle, requests. */
  val AppendPages = 250L
  val DeletesPerCycle = 3
  val RequestsBeforeAppend = 5
  val RequestsPerCycle = 2
  val RequestsAfterCompact = 3

  /** The measured work of a run is fixed by `--seconds`, not cut off by a
    * clock: the same operations in the same order on every run, so medians
    * compare like with like. A run does this many offline passes and
    * ingest cycles (append, delete, requests) per second of `--seconds`,
    * at least one of each (two passes in a traced run); at 10 s that is 1
    * pass and 5 cycles.
    */
  val PassesPerS = 0.1
  val CyclesPerS = 0.5
  def passes(a: Args): Int =
    math.max(if (a.trace) 2 else 1, math.round(a.seconds * PassesPerS).toInt)
  def cycles(a: Args): Int = math.max(1, math.round(a.seconds * CyclesPerS).toInt)

  /** Per-layer metric names and units, in BENCHMARK.json order. A traced
    * run reports all of them; a layer a workload does not exercise reads 0.
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "corpus.stage_s" -> "s", "corpus.stage_task_s" -> "s",
    "corpus.stage_output_bytes" -> "bytes",
    "index.build_s" -> "s", "index.build_task_s" -> "s",
    "index.build_shuffle_write_bytes" -> "bytes",
    "index.build_shuffle_bytes_per_doc" -> "bytes/doc",
    "index.build_spill_bytes" -> "bytes", "index.build_task_skew" -> "ratio",
    "index.build_stages" -> "count", "index.bytes" -> "bytes",
    "index.append_ms" -> "ms", "index.append_stages" -> "count",
    "index.append_task_s" -> "s", "index.delete_ms" -> "ms",
    "index.groups" -> "count", "index.compact_s" -> "s",
    "index.compact_output_bytes" -> "bytes",
    "query.prepare_ms" -> "ms",
    "query.search_ms" -> "ms", "query.jobs_per_req" -> "count",
    "query.stages_per_req" -> "count", "query.tasks_per_req" -> "count",
    "query.empty_task_share" -> "share", "query.sched_wait_ms" -> "ms",
    "query.driver_ms" -> "ms", "query.task_ms" -> "ms",
    "plans.search_ms" -> "ms", "plans.jobs_per_req" -> "count",
    "plans.stages_per_req" -> "count",
    "query.batch_s" -> "s", "query.batch_task_s" -> "s",
    "query.batch_input_bytes_per_query" -> "bytes/query",
    "query.batch_shuffle_bytes" -> "bytes", "query.batch_cached_bytes" -> "bytes",
    "query.batch_task_skew" -> "ratio", "query.batch_jobs" -> "count",
    "dedup.minhash_s" -> "s", "dedup.simhash_s" -> "s", "dedup.exact_s" -> "s",
    "dedup.shuffle_write_bytes" -> "bytes", "dedup.spill_bytes" -> "bytes",
    "dedup.task_skew" -> "ratio", "dedup.pairs" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "jvm.rss_peak_mb" -> "MB",
    "trace.overhead_share" -> "share")

  import Main.time

  // ---- shared pieces ---------------------------------------------------

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Committed index bytes: everything under `dir` except the `docs_raw*`
    * extraction staging and checksum sidecars.
    */
  def indexBytes(dir: String): Long = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator.asScala.filter { p =>
      Files.isRegularFile(p) && !root.relativize(p).getName(0).toString.startsWith("docs_raw") &&
        !p.getFileName.toString.endsWith(".crc")
    }.map(Files.size).sum
    finally s.close()
  }

  /** UTF-8 bytes of the text the build extracted. */
  def textBytes(r: Run, dir: String): Long =
    r.spark.read.parquet(s"$dir/docs_raw")
      .agg(coalesce(sum(expr("octet_length(text)")), lit(0L))).first().getLong(0)

  def groups(dir: String): Int =
    Option(new java.io.File(s"$dir/manifest").list()).getOrElse(Array.empty[String])
      .count(n => n.startsWith("group-") && n.endsWith(".json"))

  private def p50p90(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (Double.NaN, Double.NaN)
    else (Stats.percentile(xs, 50), Stats.percentile(xs, 90))

  /** Ranked hits (doc id, score, rank) of one query, by rank. */
  private def hitsOf(rows: Seq[Row], queryId: Long): Seq[(Long, Double, Int)] =
    rows.filter(_.getAs[Long]("query_id") == queryId)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"), r.getAs[Number]("rank").intValue))
      .sortBy(_._3)

  /** Engine hits must equal the oracle's: same doc ids in rank order, same
    * scores, ranks 1..n.
    */
  def sameHits(what: String, got: Seq[(Long, Double, Int)], want: Seq[(Long, Double)]): Unit = {
    val ok = got.size == want.size && got.zip(want).zipWithIndex.forall {
      case (((gd, gs, gr), (wd, ws)), i) => gd == wd && gs == ws && gr == i + 1
    }
    if (!ok) throw new CheckFailed(s"$what: engine ${got.take(3).mkString(",")} " +
      s"vs oracle ${want.take(3).mkString(",")} (${got.size} vs ${want.size} hits)")
  }

  /** Distinct (term, doc) pairs: the postings an index of `docs` holds. */
  def postings(docs: IndexedSeq[Array[String]]): Long = docs.iterator.map(_.distinct.length.toLong).sum

  /** Committed index bytes per posting of `docs`, the docs `dir` holds. */
  def bytesPerPosting(dir: String, docs: IndexedSeq[Array[String]]): Double =
    indexBytes(dir).toDouble / postings(docs)

  /** Records the corpus figures of a freshly built index and reports its
    * size per byte of extracted text.
    */
  private def recordCorpus(r: Run, dir: String, docs: IndexedSeq[Array[String]],
                           distinctTerms: Long): Unit = {
    val bytes = indexBytes(dir).toDouble
    val text = textBytes(r, dir)
    r.record("corpus") = Map("pages" -> Pages, "docs" -> PackedIndex.committedDocs(dir),
      "vocab_size" -> Vocab, "distinct_terms" -> distinctTerms,
      "max_cached_terms" -> IndexCache.MaxCachedTerms,
      "df_map_cached" -> (distinctTerms <= IndexCache.MaxCachedTerms),
      "text_bytes" -> text, "postings" -> postings(docs), "index_bytes" -> bytes)
    r.report("index_bytes_per_text_byte") = (bytes / text, "B/B")
  }

  /** The end-to-end figures every workload reports. With no successful
    * operation (the run then fails) a latency or rate reads 0.
    */
  private def endToEnd(setup: Seq[Double], opMs: Seq[Double], writeDocsPerS: Double,
                       readQps: Double, postingBytes: Double): Figures =
    Seq("setup_s" -> (Stats.median(setup), "s"),
      "op_p50_ms" -> (if (opMs.isEmpty) 0.0 else Stats.median(opMs), "ms"),
      "write_docs_per_s" -> (writeDocsPerS, "1/s"), "read_qps" -> (readQps, "1/s"),
      "index_bytes_per_posting" -> (postingBytes, "B/posting"))

  /** Tail of the operation latencies by the at-least-10-beyond rule, for
    * the report.
    */
  private def reportTail(r: Run, label: String, ms: Seq[Double]): Unit = {
    r.report(s"${label}_samples") = (ms.size.toDouble, "count")
    Stats.tailPercentile(ms).foreach { case (p, v) =>
      r.report(s"${label}_tail_pct") = (p, "pct")
      r.report(s"${label}_tail_ms") = (v, "ms")
    }
  }

  /** Per-layer figures from the traced operations; zero for layers the
    * workload did not run.
    */
  private def layers(r: Run, overhead: Double, indexDir: String, docs: Long,
                     extra: Map[String, Double] = Map.empty): Figures = {
    val t = r.tracer.get
    t.setActive(false)
    val tv = new TraceView(t.spans, t.listener)
    def works(name: String) = tv.named(name).map(tv.work)
    val f = scala.collection.mutable.Map.empty[String, Double]
    def wallMed(name: String, scale: Double): Option[Double] = {
      val w = tv.named(name).map(_.wallMs)
      if (w.isEmpty) None else Some(Stats.median(w) * scale)
    }

    val stage = works("corpus.stage")
    if (stage.nonEmpty) {
      f("corpus.stage_s") = wallMed("corpus.stage", 1e-3).get
      f("corpus.stage_task_s") = mean(stage.map(_.taskMs)) / 1e3
      f("corpus.stage_output_bytes") = mean(stage.map(_.outputBytes.toDouble))
    }
    val build = works("index.build")
    if (build.nonEmpty) {
      f("index.build_s") = wallMed("index.build", 1e-3).get
      f("index.build_task_s") = mean(build.map(_.taskMs)) / 1e3
      f("index.build_shuffle_write_bytes") = mean(build.map(_.shuffleWrite.toDouble))
      f("index.build_shuffle_bytes_per_doc") = f("index.build_shuffle_write_bytes") / docs
      f("index.build_spill_bytes") = mean(build.map(_.spill.toDouble))
      f("index.build_task_skew") = Stats.median(build.map(_.largestStageSkew))
      f("index.build_stages") = mean(build.map(_.stages.toDouble))
    }
    val append = works("index.append")
    if (append.nonEmpty) {
      f("index.append_ms") = wallMed("index.append", 1.0).get
      f("index.append_stages") = mean(append.map(_.stages.toDouble))
      f("index.append_task_s") = mean(append.map(_.taskMs)) / 1e3
    }
    wallMed("index.delete", 1.0).foreach(f("index.delete_ms") = _)
    val compact = works("index.compact")
    if (compact.nonEmpty) {
      f("index.compact_s") = wallMed("index.compact", 1e-3).get
      f("index.compact_output_bytes") = mean(compact.map(_.outputBytes.toDouble))
    }
    wallMed("query.prepare", 1.0).foreach(f("query.prepare_ms") = _)
    val search = works("query.search")
    if (search.nonEmpty) {
      f("query.search_ms") = wallMed("query.search", 1.0).get
      f("query.jobs_per_req") = mean(search.map(_.jobs.toDouble))
      f("query.stages_per_req") = mean(search.map(_.stages.toDouble))
      f("query.tasks_per_req") = mean(search.map(_.tasks.toDouble))
      val tasks = search.map(_.tasks).sum
      f("query.empty_task_share") = if (tasks == 0) 0.0 else search.map(_.emptyTasks).sum.toDouble / tasks
      f("query.sched_wait_ms") = mean(search.map(_.schedWaitMs))
      f("query.driver_ms") = Stats.median(search.map(_.driverMs))
      f("query.task_ms") = mean(search.map(_.taskMs))
    }
    val plans = works("plans.search")
    if (plans.nonEmpty) {
      f("plans.search_ms") = wallMed("plans.search", 1.0).get
      f("plans.jobs_per_req") = mean(plans.map(_.jobs.toDouble))
      f("plans.stages_per_req") = mean(plans.map(_.stages.toDouble))
    }
    val batch = works("query.batch")
    if (batch.nonEmpty) {
      f("query.batch_s") = wallMed("query.batch", 1e-3).get
      f("query.batch_task_s") = mean(batch.map(_.taskMs)) / 1e3
      f("query.batch_input_bytes_per_query") =
        mean(batch.map(_.inputBytes.toDouble)) / (BatchQueries / BatchCalls)
      f("query.batch_shuffle_bytes") = mean(batch.map(w => (w.shuffleWrite + w.shuffleRead).toDouble))
      f("query.batch_cached_bytes") = batch.map(_.cachedBytes.toDouble).max
      f("query.batch_task_skew") = Stats.median(batch.map(_.largestStageSkew))
      f("query.batch_jobs") = mean(batch.map(_.jobs.toDouble))
    }
    val dedup = Seq("dedup.minhash", "dedup.simhash", "dedup.exact").flatMap(works)
    if (dedup.nonEmpty) {
      Seq("minhash", "simhash", "exact").foreach { n =>
        wallMed(s"dedup.$n", 1e-3).foreach(f(s"dedup.${n}_s") = _)
      }
      val passes = math.max(1, works("dedup.minhash").size)
      f("dedup.shuffle_write_bytes") = dedup.map(_.shuffleWrite.toDouble).sum / passes
      f("dedup.spill_bytes") = dedup.map(_.spill.toDouble).sum / passes
      f("dedup.task_skew") = Stats.median(dedup.map(_.largestStageSkew))
    }
    f("index.bytes") = indexBytes(indexDir).toDouble
    f("index.groups") = groups(indexDir).toDouble
    f("trace.overhead_share") = overhead
    f ++= extra
    r.record("trace.listener_callback_ms") = t.listener.callbackNs / 1e6
    r.record("spans") = t.spans.map { s =>
      val w = tv.work(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.requestId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_ms" -> s.wallMs,
        "self_ms" -> tv.selfMs(s), "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "task_ms" -> w.taskMs, "shuffle_write" -> w.shuffleWrite, "shuffle_read" -> w.shuffleRead,
        "spill" -> w.spill, "input_bytes" -> w.inputBytes, "output_bytes" -> w.outputBytes,
        "empty_tasks" -> w.emptyTasks, "sched_wait_ms" -> w.schedWaitMs,
        "cached_bytes" -> w.cachedBytes, "largest_stage_skew" -> w.largestStageSkew,
        "driver_ms" -> w.driverMs)
    }
    r.record("self_ms_by_span") = tv.selfTimeByName.toMap
    LayerUnits.map { case (n, u) => n -> (f.getOrElse(n, 0.0), u) }
  }

  // ---- offline ---------------------------------------------------------

  private final case class PassOut(buildS: Seq[Double], dedupS: Double, batchS: Seq[Double],
                                   minhash: Seq[(Long, Long, Double)],
                                   simhash: Seq[(Long, Long, Int)],
                                   exact: Seq[(Long, Long)],
                                   batches: Seq[DataFrame]) {
    /** Batch rows of the given queries. */
    def batchRows(ids: Seq[Long]): Seq[Row] =
      batches.flatMap(_.filter(col("query_id").isin(ids: _*)).collect())
  }

  /** Directory of build b of a pass whose index is `dir`. */
  private def buildDir(dir: String, b: Int): String = if (b == 0) dir else s"$dir-build$b"

  /** Builds an index of `pages` `builds` times (into `dir`, then into
    * spare dirs), runs the three dedup operators over the staged text of
    * `dir`, then answers `queries`, one `searchDs` call per DataFrame. A
    * traced pass splits `buildIndex` into the two public calls its body
    * makes.
    */
  private def offlinePass(r: Run, pages: DataFrame, dir: String, queries: Seq[DataFrame],
                          split: Boolean, builds: Int = BuildCalls): PassOut =
    r.span("offline.pass") {
      val buildS = (0 until builds).map { b =>
        val d = buildDir(dir, b)
        time {
          if (split) {
            val raw = s"$d/docs_raw"
            r.span("corpus.stage") {
              ParquetDirIO.write(DocIds.assignDense(PagesPipeline.extracted(pages)), raw)
            }
            r.span("index.build") {
              PackedIndex.build(PagesPipeline.tokenized(ParquetDirIO.read(r.spark, raw)), d,
                stageInput = false)
            }
          } else PagesPipeline.buildIndex(pages, d)
        }._2
      }
      val docs = r.spark.read.parquet(s"$dir/docs_raw")
      val (mh, mhS) = time(r.span("dedup.minhash") {
        Dedup.minhashLshPairs(docs, shingleN = 5, numHashes = 16, bands = 8,
          family = Dedup.XxFamily).collect()
          .map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"), x.getAs[Double]("est_jaccard"))).toSeq
      })
      val (sh, shS) = time(r.span("dedup.simhash") {
        Dedup.simhashPairs(docs, family = Dedup.XxFamily).collect()
          .map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"), x.getAs[Number]("hamming").intValue)).toSeq
      })
      val (ex, exS) = time(r.span("dedup.exact") {
        Dedup.exact(docs).collect()
          .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("canonical_id"))).toSeq
      })
      val batches = queries.map(q => time(r.span("query.batch") {
        val h = Wand.searchDs(r.spark, dir, q, K, chunkSize = ChunkSize)
        h.count()
        h
      }))
      PassOut(buildS, mhS + shS + exS, batches.map(_._2), mh, sh, ex, batches.map(_._1))
    }

  val offline: Run => Result = r => {
    val spark = r.spark
    val a = r.args
    import spark.implicits._
    val nPasses = passes(a)

    // query batch of pass i, and its checked sample
    def sampleIds(i: Int): Seq[Long] = (0 until BatchSample).map { j =>
      i.toLong * BatchQueries + j.toLong * (BatchQueries / BatchSample) + i % 7
    }
    final case class Prepared(gen: QueryGen, docs: IndexedSeq[Array[String]],
                              expected: Map[Long, Seq[(Long, Double)]])
    val pagesPath = r.path("pages")
    val reps = (0 until SetupReps).map { _ =>
      time {
        Inputs.writePages(spark, pagesPath, 0L, Pages, a.seed, Vocab, PagePartitions)
        // the corpus as the build will number it, for queries and oracle
        val docs = Inputs.tokenizedDocs(
          PagesPipeline.docs(spark.read.parquet(pagesPath)).select("doc_id", "text"))
        val gen = new QueryGen(docs, a.seed)
        val oracle = new OracleView(docs)
        Prepared(gen, docs, (0 until nPasses).flatMap(sampleIds)
          .map(id => id -> oracle.topK(gen.query(id)._2, K)).toMap)
      }
    }
    val setup = reps.map(_._2)
    val p = reps.last._1
    val pages = spark.read.parquet(pagesPath)
    val perCall = BatchQueries / BatchCalls
    def batches(i: Int): Seq[DataFrame] = (0 until BatchCalls).map { c =>
      p.gen.queries(i.toLong * BatchQueries + c * perCall, perCall).toDF("query_id", "text")
    }
    r.phase("setup")

    // warm-up on the set-up pages: a pass with one build and one batch of
    // other queries loads and compiles the code and reads the input once,
    // so the measured calls run warm
    val warmQueries = p.gen.queries(-perCall.toLong, perCall).toDF("query_id", "text")
    r.op("warmup")(offlinePass(r, pages, r.path("idx-warm"), Seq(warmQueries), split = false,
      builds = 1))._2.failure.foreach(m => throw new CheckFailed(m))
    r.phase("warmup")

    // the traced run needs a traced and an untraced pass
    val done = ArrayBuffer.empty[(OpRec, Int, PassOut, String)]
    (0 until nPasses).foreach { i =>
      val dir = r.path(s"idx-$i")
      val traced = r.traceOp(i)
      val (out, rec) = r.op("pass", traced)(offlinePass(r, pages, dir, batches(i), split = traced))
      out.foreach(o => done += ((rec, i, o, dir)))
    }
    r.tracer.foreach(_.setActive(false))
    r.phase("window")

    // checks, outside the timed region. The first pass is the reference:
    // every other pass, and earlier runs of this seed, must reproduce it
    val (refRec, _, ref, refDir) = done.headOption
      .getOrElse(throw new CheckFailed("no offline pass completed"))
    val fingerprints: Map[Long, Long] = Dedup.simhash(spark.read.parquet(s"$refDir/docs_raw"))
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("simhash")).toMap
    def pairsOk(o: PassOut): Unit = {
      o.minhash.foreach { case (x, y, e) =>
        if (!(x < y) || e < 0 || e > 1) throw new CheckFailed(s"minhash pair ($x, $y, $e)")
      }
      o.simhash.foreach { case (x, y, h) =>
        val fh = java.lang.Long.bitCount(fingerprints(x) ^ fingerprints(y))
        if (!(x < y) || h != fh || h > 3) throw new CheckFailed(s"simhash pair ($x, $y, $h) recomputed $fh")
      }
      if (o.exact.size != Pages || o.exact.map(_._1).distinct.size != Pages)
        throw new CheckFailed(s"exact dedup labels ${o.exact.size} rows for $Pages docs")
      val canon = o.exact.toMap
      o.exact.foreach { case (d, c) =>
        if (c > d || canon(c) != c) throw new CheckFailed(s"exact dedup canonical $c for $d")
      }
    }
    val refSets = (ref.minhash.toSet, ref.simhash.toSet, ref.exact.toSet)
    r.check(refRec, "batch sample matches Wand.search") {
      val ids = sampleIds(0).take(10)
      val single = Wand.search(spark, refDir, ids.map(p.gen.query), K).collect().toSeq
      val rows = ref.batchRows(ids)
      ids.foreach { id =>
        if (hitsOf(rows, id) != hitsOf(single, id))
          throw new CheckFailed(s"searchDs and search differ on query $id")
      }
    }
    r.check(refRec, "pair sets equal earlier runs of this seed") {
      val digest = java.security.MessageDigest.getInstance("MD5").digest(
        (ref.minhash.map(p => (p._1, p._2)).sorted.mkString(";") + "|" +
          ref.simhash.sorted.mkString(";") + "|" + ref.exact.sorted.mkString(";"))
          .getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val f = r.dir.getParent.resolve("records").resolve(s"offline-pairs-seed${a.seed}-pages$Pages.md5")
      Files.createDirectories(f.getParent)
      if (Files.exists(f)) {
        val prev = Files.readString(f).trim
        if (prev != digest) throw new CheckFailed(s"pair digest $digest, earlier run $prev")
      } else Files.writeString(f, digest)
    }
    val untracedDir = done.find(!_._1.traced).map(_._4)
    done.foreach { case (rec, pass, o, dir) =>
      r.check(rec, "committed docs") {
        (0 until BuildCalls).foreach { b =>
          val n = PackedIndex.committedDocs(buildDir(dir, b))
          if (n != Pages) throw new CheckFailed(s"build $b committed $n docs for $Pages pages")
        }
      }
      r.check(rec, "pair invariants")(pairsOk(o))
      r.check(rec, "same dedup outputs as the first pass") {
        if ((o.minhash.toSet, o.simhash.toSet, o.exact.toSet) != refSets)
          throw new CheckFailed("dedup outputs differ between passes over the same input")
      }
      r.check(rec, "batch sample matches the oracle") {
        val ids = sampleIds(pass)
        val rows = o.batchRows(ids)
        ids.foreach(id => sameHits(s"pass $pass query $id", hitsOf(rows, id), p.expected(id)))
      }
      if (rec.traced) r.check(rec, "split build equals buildIndex") {
        val other = untracedDir.getOrElse(throw new CheckFailed("no untraced pass to compare"))
        def stats(d: String) = new String(Files.readAllBytes(Paths.get(s"$d/stats.json")))
          .replaceAll("\"dfDir\":\"[^\"]*\"", "")
        if (stats(dir) != stats(other))
          throw new CheckFailed(s"stats.json differs: ${stats(dir)} vs ${stats(other)}")
        val qs = p.gen.queries(0, 20)
        val h0 = Wand.search(spark, other, qs, K).collect().toSeq
        val h1 = Wand.search(spark, dir, qs, K).collect().toSeq
        qs.foreach { case (id, _) =>
          if (hitsOf(h0, id) != hitsOf(h1, id)) throw new CheckFailed(s"query $id differs")
        }
      }
    }
    recordCorpus(r, refDir, p.docs, p.gen.distinctTerms)
    r.phase("checks")

    val ok = done.filter(_._1.ok).map(_._3).toSeq
    val passMs = done.filter(_._1.ok).map(_._1.ms).toSeq
    // medians over every buildIndex call and every searchDs call on a warm
    // index
    def rate(items: Double, secs: Seq[Double]) = if (secs.isEmpty) 0.0 else items / Stats.median(secs)
    val buildRate = rate(Pages, ok.flatMap(_.buildS))
    val batchQps = rate(perCall, ok.flatMap(_.batchS.drop(1)))
    r.report("build_docs_per_s") = (buildRate, "1/s")
    r.report("batch_qps") = (batchQps, "1/s")
    r.report("dedup_docs_per_s") = (rate(Pages, ok.map(_.dedupS)), "1/s")
    r.report("passes") = (ok.size.toDouble, "count")
    r.record("pairs") = Map("minhash" -> ref.minhash.size, "simhash" -> ref.simhash.size)
    r.record("pass_parts_s") = ok.map(o => Map("builds" -> o.buildS, "dedup" -> o.dedupS,
      "batches" -> o.batchS))
    // tracing overhead: the dedup and searchDs calls of traced passes
    // against untraced ones (the build differs, split or whole)
    def overhead: Double = {
      val t = done.filter(d => d._1.ok && d._1.traced).map(d => d._3.dedupS + d._3.batchS.sum)
      val u = done.filter(d => d._1.ok && !d._1.traced).map(d => d._3.dedupS + d._3.batchS.sum)
      if (t.isEmpty || u.isEmpty) 0.0 else Stats.median(t.toSeq) / Stats.median(u.toSeq) - 1.0
    }
    Result(
      endToEnd(setup, passMs, buildRate, batchQps, bytesPerPosting(refDir, p.docs)),
      if (a.trace) layers(r, overhead, refDir, Pages,
        Map("dedup.pairs" -> (ref.minhash.size + ref.simhash.size).toDouble))
      else Nil)
  }

  // ---- ingest_serve ----------------------------------------------------

  val ingestServe: Run => Result = r => {
    val spark = r.spark
    val a = r.args
    val appendPath = r.path("append-pages")
    final case class Prepared(dir: String, gen: QueryGen, docs: IndexedSeq[Array[String]],
                              expected: Map[Long, Seq[(Long, Double)]])
    val nCycles = cycles(a)
    val allowed: Set[Long] = (0L until Pages + nCycles * AppendPages).filter { d =>
      new scala.util.Random(a.seed * 31 + d).nextInt(100) == 0
    }.toSet
    val allowedArr = allowed.toArray.sorted
    def expect(o: OracleView, q: Request): Seq[(Long, Double)] = q.kind match {
      case Request.Allow => o.topK(q.text, K, allowed = Some(allowed))
      case Request.MsmNot => o.topK(q.text, K, minShouldMatch = q.minShouldMatch, mustNot = q.mustNot)
      case _ => o.topK(q.text, K)
    }
    def serve(d: String, q: Request): Seq[Row] = q.kind match {
      case Request.Plan =>
        r.span("plans.search", q.id)(Bm25TopKPlan.search(spark, d, Seq(q.id -> q.text), K).collect().toSeq)
      case kind =>
        r.span("query.search", q.id) {
          val qs = Seq(q.id -> q.text)
          (kind match {
            case Request.Allow => Wand.search(spark, d, qs, K, allowedDocs = Some(allowedArr))
            case Request.MsmNot => Wand.search(spark, d, qs, K, minShouldMatch = q.minShouldMatch,
              mustNot = Map(q.id -> q.mustNot.get))
            case _ => Wand.search(spark, d, qs, K)
          }).collect().toSeq
        }
    }

    val reps = (0 until SetupReps).map { rep =>
      time {
        val pagesPath = r.path(s"pages-$rep")
        Inputs.writePages(spark, pagesPath, 0L, Pages, a.seed, Vocab, PagePartitions)
        // one parquet dir per append cycle
        spark.range(Pages, Pages + nCycles * AppendPages, 1L, nCycles)
          .map(i => Inputs.page(i, a.seed, Vocab))(
            org.apache.spark.sql.Encoders.product[graft.corpus.Page])
          .toDF().withColumn("cycle", spark_partition_id())
          .write.mode("overwrite").partitionBy("cycle").parquet(appendPath)
        val dir = r.path(s"idx-$rep")
        PagesPipeline.buildIndex(spark.read.parquet(pagesPath), dir)
        val docs = Inputs.baseDocs(spark, dir)
        val gen = new QueryGen(docs, a.seed)
        val oracle = new OracleView(docs)
        val expected = (0 until RequestsBeforeAppend).map { i =>
          val q = gen.request(i.toLong)
          q.id -> expect(oracle, q)
        }.toMap
        Prepared(dir, gen, docs, expected)
      }
    }
    val setup = reps.map(_._2)
    r.phase("setup")
    val p = reps.last._1
    val dir = p.dir
    recordCorpus(r, dir, p.docs, p.gen.distinctTerms)
    def cyclePages(c: Int): DataFrame = spark.read.parquet(s"$appendPath/cycle=$c")

    // warm-up on a spare set-up index: every request kind and an append;
    // then one request on the measured index to fill its df cache
    val spare = reps.head._1.dir
    r.op("warmup") {
      Request.Pattern.distinct.zipWithIndex.foreach { case (k, i) =>
        serve(spare, p.gen.request(-1L - i).copy(kind = k, minShouldMatch = 2, mustNot = Some("the")))
      }
      PagesPipeline.appendPages(cyclePages(0), spare)
      serve(dir, p.gen.request(-10L))
    }._2.failure.foreach(m => throw new CheckFailed(m))
    r.phase("warmup")

    // (record, request, index state: cycle number, or -1 when compacted)
    val served = ArrayBuffer.empty[(OpRec, Request, Int, Seq[Row])]
    var nextReq = 0L
    val kindCount = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def tracedOp(kind: String): Boolean = {
      val on = r.traceOp(kindCount(kind))
      kindCount(kind) += 1
      on
    }
    // traced run: (traced, untraced) serving of the same request
    val tracePairs = ArrayBuffer.empty[(OpRec, OpRec)]
    def request(d: String, state: Int): Unit = {
      val q = p.gen.request(nextReq)
      nextReq += 1
      def once(traced: Boolean): OpRec = {
        r.tracer.foreach(_.setActive(traced))
        // the traced run loads the df map ahead of the timed request
        if (a.trace) r.span("query.prepare", q.id)(Wand.prepare(spark, d, Seq(q.id -> q.text)))
        val (rows, rec) = r.op("request", traced, q.kind.name)(
          r.span("ingest.request", q.id)(serve(d, q)))
        served += ((rec, q, state, rows.getOrElse(Nil)))
        rec
      }
      if (a.trace) {
        // served twice back to back, traced and untraced, the order
        // alternating, so a pair differs only in tracing
        val tracedFirst = tracePairs.size % 2 == 0
        val x = once(tracedFirst)
        val y = once(!tracedFirst)
        tracePairs += (if (tracedFirst) (x, y) else (y, x))
      } else once(false)
    }
    final case class Cycle(rec: OpRec, existing: Long, rawDir: String, deleted: Seq[Long])
    val applied = ArrayBuffer.empty[Cycle]
    val deleted = scala.collection.mutable.LinkedHashSet.empty[Long]
    val delRnd = new scala.util.Random(a.seed * 7919)
    def rawDirs: Set[String] =
      new java.io.File(dir).list().filter(_.startsWith("docs_raw_append_")).toSet

    (0 until RequestsBeforeAppend).foreach(_ => request(dir, 0))
    (0 until nCycles).foreach { c =>
      val existing = PackedIndex.committedDocs(dir)
      val before = rawDirs
      val (_, rec) = r.op("append", tracedOp("append"))(
        r.span("index.append")(PagesPipeline.appendPages(cyclePages(c), dir)))
      val raw = (rawDirs -- before).headOption.getOrElse("")
      val total = existing + AppendPages
      val dels = Iterator.continually(delRnd.nextLong() & Long.MaxValue)
        .map(x => x % total).filterNot(deleted.contains).take(DeletesPerCycle).toSeq
      r.op("delete", tracedOp("delete"))(r.span("index.delete")(PackedIndex.delete(dir, dels)))
      deleted ++= dels
      applied += Cycle(rec, existing, raw, dels)
      (0 until RequestsPerCycle).foreach(_ => request(dir, c + 1))
    }
    val groupsBefore = groups(dir)
    val cdir = r.path("compacted")
    val (_, compactRec) = r.op("compact", tracedOp("compact"))(
      r.span("index.compact")(PackedIndex.compact(spark, dir, cdir)))
    (0 until RequestsAfterCompact).foreach(_ => request(cdir, -1))
    r.tracer.foreach(_.setActive(false))
    r.phase("window")

    // checks: rebuild the docs of every index state and its oracle
    val states = ArrayBuffer(p.docs)
    applied.foreach { cy =>
      r.check(cy.rec, "appended docs") {
        if (cy.existing != states.last.size)
          throw new CheckFailed(s"append started at ${cy.existing} docs, expected ${states.last.size}")
        val added = Inputs.appendedDocs(spark, s"$dir/${cy.rawDir}", cy.existing)
        if (added.size != AppendPages) throw new CheckFailed(s"appended ${added.size} docs")
        states += states.last ++ added
      }
    }
    r.checkRun("committed docs after appends") {
      val n = PackedIndex.committedDocs(dir)
      if (n != Pages + applied.count(_.rec.ok) * AppendPages)
        throw new CheckFailed(s"committed $n docs")
    }
    val oracles = scala.collection.mutable.Map.empty[Int, OracleView]
    def oracleFor(state: Int): OracleView = oracles.getOrElseUpdate(state, {
      if (state >= 0) new OracleView(states(state), applied.take(state).flatMap(_.deleted).toSet)
      else {
        val docs = states.last
        val live = docs.indices.filterNot(d => deleted.contains(d.toLong))
        new OracleView(live.map(docs), ids = live.map(_.toLong))
      }
    })
    served.foreach { case (rec, q, state, rows) =>
      r.check(rec, s"request ${q.kind.name} matches the oracle") {
        if (state >= states.size) throw new CheckFailed(s"state $state was not rebuilt")
        val want = if (state == 0 && p.expected.contains(q.id)) p.expected(q.id) else expect(oracleFor(state), q)
        sameHits(s"request ${q.id} (${q.kind.name}, state $state)", hitsOf(rows, q.id), want)
      }
    }
    r.check(compactRec, "compacted stats") {
      val n = PackedIndex.readStats(cdir).n
      if (n != states.last.size - deleted.size) throw new CheckFailed(s"compacted n = $n")
    }

    // size after the appends and deletes, before compaction
    val grownBytesPerPosting = bytesPerPosting(dir, states.last)

    r.phase("checks")
    val ms = r.okMs("request")
    val appendMs = r.okMs("append")
    val appendRate = if (appendMs.isEmpty) 0.0 else AppendPages / (Stats.median(appendMs) / 1e3)
    val readQps = if (ms.isEmpty) 0.0 else ms.size / (ms.sum / 1e3)
    val (q50, q90) = p50p90(ms)
    r.report("query_p50_ms") = (q50, "ms")
    r.report("query_p90_ms") = (q90, "ms")
    reportTail(r, "query", ms)
    r.report("append_docs_per_s") = (appendRate, "1/s")
    r.okMs("compact").headOption.foreach(c => r.report("compact_s") = (c / 1e3, "s"))
    r.report("index_groups_before_compact") = (groupsBefore.toDouble, "count")
    r.report("appends") = (appendMs.size.toDouble, "count")
    // tracing overhead: median over request pairs of traced / untraced
    def overhead: Double = {
      val ratios = tracePairs.collect { case (t, u) if t.ok && u.ok => t.ms / u.ms }
      if (ratios.isEmpty) 0.0 else Stats.median(ratios.toSeq) - 1.0
    }
    Result(endToEnd(setup, ms, appendRate, readQps, grownBytesPerPosting),
      if (a.trace) layers(r, overhead, dir, Pages, Map("index.groups" -> groupsBefore.toDouble))
      else Nil)
  }
}
