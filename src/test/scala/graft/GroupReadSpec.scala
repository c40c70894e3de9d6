package graft

import graft.corpus.{PagesGen, PagesPipeline}
import graft.index.{DocIds, PackedIndex}
import graft.query.Wand
import org.apache.spark.graftspec.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** An index's committed postings groups are read as one relation: building
  * it costs no Spark job, a search's job count does not grow with the
  * group count, orphan groups stay out of df, and a build commits no empty
  * groups.
  */
class GroupReadSpec extends SparkSpec {

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try { f; ListenerDrain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private def manifests(dir: String): Seq[String] =
    new java.io.File(s"$dir/manifest").list().filter(_.startsWith("group-")).sorted.toSeq

  test("building the postings relation runs no job; search jobs stay flat as groups grow") {
    val dir = Files.createTempDirectory("graft-grpread").toString
    PagesPipeline.buildIndex(PagesGen.pages(spark, 300, partitions = 4).toDF(),
      dir, shardBits = 6, groups = 2)
    val q = Seq(1L -> "the w3 w17")
    def searchJobs(): Int = {
      Wand.search(spark, dir, q, 10).collect() // warm the df cache
      jobsOf(Wand.search(spark, dir, q, 10).collect())
    }
    assert(manifests(dir).length == 2)
    val atTwo = searchJobs()

    (1 to 4).foreach { i =>
      PagesPipeline.appendPages(
        PagesGen.pages(spark, 40, partitions = 2, seed = 100L + i).toDF(), dir)
    }
    assert(manifests(dir).length == 6)
    assert(jobsOf(PackedIndex.loadPostings(spark, dir)) == 0,
      "constructing the postings relation launched Spark jobs")
    assert(searchJobs() == atTwo, "per-search job count grew with the group count")
  }

  test("an orphan postings group does not reach df: append == rebuild") {
    val dirFull = Files.createTempDirectory("graft-orphan-full").toString
    val dirIncr = Files.createTempDirectory("graft-orphan-incr").toString
    PagesPipeline.buildIndex(PagesGen.pages(spark, 300, partitions = 4).toDF(),
      dirFull, shardBits = 6, groups = 2)
    PagesPipeline.buildIndex(PagesGen.pages(spark, 200, partitions = 4).toDF(),
      dirIncr, shardBits = 6, groups = 2)

    // crash leftover: a fully written group dir without a manifest
    def copyRec(s: java.io.File, d: java.io.File): Unit =
      if (s.isDirectory) { d.mkdirs(); s.listFiles.foreach(c => copyRec(c, new java.io.File(d, c.getName))) }
      else Files.copy(s.toPath, d.toPath)
    copyRec(new java.io.File(s"$dirIncr/postings/grp=0"),
      new java.io.File(s"$dirIncr/postings/grp=99"))

    val extra = PagesGen.pages(spark, 300, partitions = 4).toDF()
      .join(spark.read.parquet(s"$dirIncr/docs_raw").select(col("url")),
        Seq("url"), "left_anti")
    PagesPipeline.appendPages(extra, dirIncr)

    val sI = PackedIndex.readStats(dirIncr)
    val sF = PackedIndex.readStats(dirFull)
    assert((sI.n, sI.avgdl, sI.avgRawIdf) == (sF.n, sF.avgdl, sF.avgRawIdf))
    def df(dir: String): Map[String, Long] = PackedIndex.loadDf(spark, dir)
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(df(dirIncr) == df(dirFull), "orphan postings counted in df")

    // doc ids differ between the two layouts: compare by url
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000", 3L -> "the of and")
    def scores(dir: String, ids: org.apache.spark.sql.DataFrame) =
      Wand.search(spark, dir, queries, 1000).join(ids, "doc_id")
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[String]("url")) ->
          r.getAs[Double]("score")).toMap
    val incrIds = spark.read.parquet(s"$dirIncr/docs_raw")
      .select(col("doc_id"), col("url"))
      .unionByName(DocIds.assignDense(spark.read.parquet(s"$dirIncr/docs_raw_append_2"))
        .select((col("doc_id") + 200L).as("doc_id"), col("url")))
    val fullIds = spark.read.parquet(s"$dirFull/docs_raw").select(col("doc_id"), col("url"))
    val si = scores(dirIncr, incrIds)
    val sf = scores(dirFull, fullIds)
    assert(si.nonEmpty && si.keySet == sf.keySet, "matched doc sets differ")
    si.foreach { case (key, s) =>
      assert(java.lang.Double.doubleToRawLongBits(s) ==
        java.lang.Double.doubleToRawLongBits(sf(key)), s"score differs at $key: $s vs ${sf(key)}")
    }
  }

  test("a build commits no empty groups") {
    // 200 docs at the auto shard width (2^13) are one shard: the default
    // groups = 4 must still commit exactly one group
    val one = Files.createTempDirectory("graft-onegrp").toString
    PagesPipeline.buildIndex(PagesGen.pages(spark, 200, partitions = 4).toDF(), one)
    assert(manifests(one) == Seq("group-0.json"))
    assert(new java.io.File(s"$one/postings").list().toSeq == Seq("grp=0"))

    // 5 shards over 4 requested groups: 2 shards per group, so 3 groups,
    // each with docs (the split never leaves a trailing group empty)
    val five = Files.createTempDirectory("graft-fivesh").toString
    val mans = PagesPipeline.buildIndex(
      PagesGen.pages(spark, 300, partitions = 4).toDF(), five, shardBits = 6, groups = 4)
    assert(mans.map(_.group).sorted == Seq(0, 1, 2))
    assert(mans.forall(_.docs > 0))
    assert(mans.map(_.docs).sum == 300L)
  }
}
