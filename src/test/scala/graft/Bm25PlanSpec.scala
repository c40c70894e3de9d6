package graft

import graft.plans.Bm25TopKPlan
import graft.query.Wand
import java.nio.file.Files

/** The strategy-planned WAND operator must be plan-visible and
  * bit-identical to the library path.
  */
class Bm25PlanSpec extends SparkSpec {

  test("Bm25TopKPlan.search == Wand.search, and the exec shows in the plan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-planop").toString
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 7, groups = 2)
    // 75 shards, more than the 4 x defaultParallelism kernel tasks, plus an
    // appended group and tombstones
    val sharded = Files.createTempDirectory("graft-planop-shards").toString
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), sharded, shardBits = 2, groups = 2)
    corpus.PagesPipeline.appendPages(
      spark.range(300L, 350L, 1L, 4).map(i => corpus.PagesGen.gen(i, 42L)).toDF(),
      sharded)
    index.PackedIndex.delete(sharded, Seq(0L, 5L, 301L))
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000", 3L -> "absent_only")
    // more distinct terms than Wand.IsinThreshold: the broadcast semi-join scan
    val wide = Seq(4L ->
      (0 until Wand.IsinThreshold + 88).map(i => s"w$i").mkString(" "))

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("doc_id"),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("score")))).toMap
    for (d <- Seq(dir, sharded); (qs, k) <- Seq(queries -> 10, queries -> 0, wide -> 10)) {
      val viaPlan = Bm25TopKPlan.search(spark, d, qs, k)
      val a = rows(viaPlan) // execute first so AQE finalizes the plan
      val planStr = viaPlan.queryExecution.executedPlan.toString
      assert(planStr.contains("Bm25TopK"), planStr.take(600))
      val b = rows(Wand.search(spark, d, qs, k))
      assert(a == b, s"plan-integrated operator diverged from library path ($d, k=$k)")
      assert(a.nonEmpty)
    }

    // the exec's candidates are per-task heaps: at most kernel tasks x k
    // rows for a stopword that matches nearly every one of the 88 shards
    val k = 3
    val candidates = org.apache.spark.sql.graftbridge.ColumnBridge
      .ofRows(spark, Bm25TopKPlan(sharded, Seq(1L -> "the"), k)).count()
    val maxTasks = 4L * spark.sparkContext.defaultParallelism
    assert(candidates >= k && candidates <= maxTasks * k,
      s"$candidates candidate rows for $maxTasks kernel tasks x k = $k")
  }
}
