package graftbench

import graft.core.Bm25
import graft.corpus.{Page, PagesGen, PagesPipeline}
import graft.index.DocIds
import graft.tokenize.PyTokenize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The engine receives only what these produce. */
object Inputs {

  /** Page i of a corpus is PagesGen page `i * IdStride`. PagesGen seeds
    * page `id` with `java.util.Random(seed * c + id)`, whose first draw
    * (the stopword-heavy coin, 20 % by default) barely changes between
    * neighbouring ids: over ids 0 until 2000 the heavy share ranges from 0
    * to 76 % across seeds 201-230. With the stride it stays within 19-22 %,
    * so every seed yields a corpus of the same make-up.
    */
  val IdStride = 7919L

  def page(i: Long, seed: Long, vocabSize: Int): Page = PagesGen.gen(i * IdStride, seed, vocabSize)

  /** Pages [first, first + n) of the corpus, written as parquet in
    * `partitions` contiguous ranges.
    */
  def writePages(spark: SparkSession, path: String, first: Long, n: Long,
                 seed: Long, vocabSize: Int, partitions: Int): Unit = {
    import spark.implicits._
    spark.range(first, first + n, 1L, partitions)
      .map(i => page(i, seed, vocabSize))
      .toDF().write.mode("overwrite").parquet(path)
  }

  /** Tokenized docs of a staged extraction (doc_id, text) in doc id order,
    * checking that the ids are exactly 0 until count.
    */
  def tokenizedDocs(df: DataFrame): IndexedSeq[Array[String]] = {
    val rows = PagesPipeline.tokenized(df).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toArray).sortBy(_._1)
    rows.iterator.zipWithIndex.foreach { case ((id, _), i) =>
      if (id != i) throw new CheckFailed(s"doc ids are not dense: position $i holds $id")
    }
    rows.map(_._2).toIndexedSeq
  }

  /** Docs the build staged under `dir/docs_raw`. */
  def baseDocs(spark: SparkSession, dir: String): IndexedSeq[Array[String]] =
    tokenizedDocs(spark.read.parquet(s"$dir/docs_raw"))

  /** Docs one `appendPages` call staged, with the ids it gives them: the
    * staged extraction numbered by [[DocIds.assignDense]] above the
    * `existing` docs, as `PagesPipeline.appendPages` numbers them.
    */
  def appendedDocs(spark: SparkSession, rawPath: String,
                   existing: Long): IndexedSeq[Array[String]] = {
    val ids = DocIds.assignDense(spark.read.parquet(rawPath))
      .withColumn("doc_id", col("doc_id") + existing)
      .select(col("doc_id"), col("text"))
    val docs = PagesPipeline.tokenized(ids).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toArray).sortBy(_._1)
    docs.iterator.zipWithIndex.foreach { case ((id, _), i) =>
      if (id != existing + i)
        throw new CheckFailed(s"appended doc ids are not dense above $existing: got $id")
    }
    docs.map(_._2).toIndexedSeq
  }
}

/** A failed correctness check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One request of the interactive mix. */
final case class Request(id: Long, text: String, kind: Request.Kind,
                         minShouldMatch: Int = 1, mustNot: Option[String] = None)

object Request {
  sealed trait Kind { def name: String }
  /** `Wand.search`, one query. */
  case object Plain extends Kind { val name = "plain" }
  /** `Wand.search` restricted to the allowlist (1 in 100 docs). */
  case object Allow extends Kind { val name = "allowlist" }
  /** `Wand.search` with minimum_should_match 2 and one must_not term. */
  case object MsmNot extends Kind { val name = "msm_mustnot" }
  /** `plans.Bm25TopKPlan.search`, one query. */
  case object Plan extends Kind { val name = "plan" }
  /** Request i has kind Pattern(i % 5): 40 % plain, 20 % each other kind.
    * An assumed mix: plain search is the common request, and each filtered
    * path is sampled at least three times in a run.
    */
  val Pattern: IndexedSeq[Kind] = IndexedSeq(Plain, Allow, Plain, MsmNot, Plan)
}

/** Queries drawn from a corpus's own term distribution.
  *
  * Every block of 20 consecutive queries has the same shape, whatever the
  * seed: lengths 1, 2, 3, 4 and 6 terms for 6, 7, 4, 2 and 1 of its queries
  * (30/35/20/10/5 %, a mean of 2.3 terms, near the 2.35 that Silverstein et
  * al. report for the AltaVista query log, SIGIR Forum 33(1), 1999; the
  * split over lengths is assumed), and of its 46 term slots 9 are stopwords
  * (df >= 30 % of docs), 18 hot terms (the 1000 most frequent other terms,
  * drawn in proportion to df), 14 rare terms (df <= 3, uniform) and 5 terms
  * absent from the corpus: about 20/40/30/10 %, an assumed split that puts
  * every df class on the query path. The seed picks the terms.
  */
final class QueryGen(docs: IndexedSeq[Array[String]], seed: Long) {
  private def deck[A](shuffleSeed: Int, counts: Seq[(A, Int)]): IndexedSeq[A] =
    new scala.util.Random(shuffleSeed)
      .shuffle(counts.flatMap { case (x, n) => Seq.fill(n)(x) }).toIndexedSeq
  /** Query i of a block has Lengths(i % 20) terms. */
  val Lengths: IndexedSeq[Int] = deck(20, Seq(1 -> 6, 2 -> 7, 3 -> 4, 4 -> 2, 6 -> 1))
  /** Term classes of a block's term slots, query after query. */
  val Classes: IndexedSeq[String] =
    deck(46, Seq("stop" -> 9, "hot" -> 18, "rare" -> 14, "absent" -> 5))
  private val firstSlot: IndexedSeq[Int] = Lengths.scanLeft(0)(_ + _)

  private val df: Map[String, Int] = {
    val m = scala.collection.mutable.HashMap.empty[String, Int]
    docs.foreach(_.distinct.foreach(t => m.update(t, m.getOrElse(t, 0) + 1)))
    m.toMap
  }
  private val byDf = df.toSeq.sortBy { case (t, f) => (-f, t) }
  val stop: IndexedSeq[String] = byDf.takeWhile(_._2 >= 0.3 * docs.size).map(_._1).toIndexedSeq
  private val hotTerms = byDf.drop(stop.size).take(1000).toIndexedSeq
  private val hotCum = hotTerms.scanLeft(0L)(_ + _._2).tail.toArray
  val rare: IndexedSeq[String] = {
    val r = byDf.filter(_._2 <= 3).map(_._1).toIndexedSeq
    if (r.nonEmpty) r else byDf.takeRight(math.max(1, byDf.size / 10)).map(_._1).toIndexedSeq
  }
  def distinctTerms: Int = df.size

  private def term(cls: String, rnd: scala.util.Random): String = cls match {
    case "stop" if stop.nonEmpty => stop(rnd.nextInt(stop.size))
    case "rare" => rare(rnd.nextInt(rare.size))
    case "absent" => s"zq${rnd.nextInt(1 << 30)}" // never produced by PagesGen
    case _ =>
      val x = (rnd.nextDouble() * hotCum.last).toLong
      val i = java.util.Arrays.binarySearch(hotCum, x + 1)
      hotTerms(if (i >= 0) i else -i - 1)._1
  }

  private def text(i: Long, rnd: scala.util.Random): String = {
    val j = java.lang.Math.floorMod(i, Lengths.size.toLong).toInt
    (firstSlot(j) until firstSlot(j + 1)).map(slot => term(Classes(slot), rnd)).mkString(" ")
  }

  /** Queries `first` until `first + n` of the stream; query i depends only
    * on (seed, i).
    */
  def queries(first: Long, n: Int): IndexedSeq[(Long, String)] =
    (first until first + n).map(query)

  def query(i: Long): (Long, String) = i -> text(i, new scala.util.Random(seed * 0x5DEECE66DL + i))

  /** Request i of the interactive mix. */
  def request(i: Long): Request = {
    val rnd = new scala.util.Random(seed * 0x2545F4914F6CDD1DL + i)
    val t = text(i, rnd)
    Request.Pattern(java.lang.Math.floorMod(i, Request.Pattern.size.toLong).toInt) match {
      case Request.MsmNot =>
        val not = if (hotTerms.nonEmpty) hotTerms(rnd.nextInt(math.min(50, hotTerms.size)))._1
                  else "zq0"
        Request(i, t, Request.MsmNot, minShouldMatch = 2, mustNot = Some(not))
      case k => Request(i, t, k)
    }
  }
}

/** In-JVM exhaustive BM25 over one index state. `docs(i)` is the doc
  * with id `ids(i)` (ids ascending; by default the position). Every doc in
  * `docs` counts for the statistics; `barred` (tombstoned) docs never rank.
  */
final class OracleView(docs: IndexedSeq[Array[String]], barred: Set[Long] = Set.empty,
                       ids: IndexedSeq[Long] = IndexedSeq.empty) {
  private val oracle = new Bm25.Oracle(docs)
  private val termSets: Array[Set[String]] = docs.map(_.toSet).toArray
  private val idOf: Int => Long = if (ids.isEmpty) _.toLong else ids(_)

  /** Top-k (doc id, score) for one request, score desc then doc id asc. */
  def topK(text: String, k: Int, allowed: Option[Set[Long]] = None,
           minShouldMatch: Int = 1, mustNot: Option[String] = None): Seq[(Long, Double)] = {
    val toks = PyTokenize.split(text)
    val distinct = toks.distinct
    val not = mustNot.map(m => PyTokenize.split(m).toSet).getOrElse(Set.empty[String])
    val scores = oracle.scores(toks.toSeq)
    val hits = termSets.indices.iterator.filter { d =>
      val ts = termSets(d)
      val matched = distinct.count(ts.contains)
      val id = idOf(d)
      matched >= math.max(1, minShouldMatch) && !barred.contains(id) &&
        allowed.forall(_.contains(id)) && !not.exists(ts.contains)
    }.map(d => idOf(d) -> scores(d)).toSeq
    hits.sortBy { case (d, s) => (-s, d) }.take(k)
  }
}
