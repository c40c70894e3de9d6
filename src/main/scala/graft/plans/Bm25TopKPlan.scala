package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.query.Wand

/** Whole-operator Catalyst integration for BM25 WAND retrieval (SURVEY §4
  * item 6, the (c)-tier of the custom-operator ladder): a logical leaf node
  * planned by an injected [[Strategy]] into a physical operator whose
  * doExecute runs Wand's candidate step ([[graft.query.Wand.candidates]]).
  * The node emits those pre-rank candidates (query_id, doc_id, score), at
  * most numTasks x k per query; Wand's rank tail stays declarative on top,
  * so Catalyst still owns the final exchange.
  *
  * Semantics are identical to [[graft.query.Wand.search]]; this packaging
  * makes the retrieval operator a first-class plan citizen (visible in
  * explain, composable with further relational ops, strategy-injected via
  * [[GraftExtensions]]).
  */
final case class Bm25TopKPlan(indexDir: String, queries: Seq[(Long, String)],
                              k: Int,
                              // a case-class FIELD so tree copies keep exprIds
                              override val output: Seq[Attribute] = Bm25TopKPlan.schema)
    extends LeafNode {
  // k <= 0 returns every matched doc: no size bound, so never broadcast it
  override def computeStats(): Statistics = Statistics(sizeInBytes =
    if (k > 0) BigInt(queries.size.toLong * k * 24)
    else BigInt(SQLConf.get.defaultSizeInBytes))
}

object Bm25TopKPlan {
  private[plans] def schema: Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())

  /** Public API: plan-integrated WAND search, rank-identical to
    * Wand.search (`k <= 0` means all matched docs, ranked). Requires
    * [[Bm25Strategy]] (GraftExtensions or the programmatic register below).
    */
  def search(spark: SparkSession, indexDir: String,
             queries: Seq[(Long, String)], k: Int): DataFrame = {
    registerOnce(spark)
    Wand.rank(org.apache.spark.sql.graftbridge.ColumnBridge
      .ofRows(spark, Bm25TopKPlan(indexDir, queries, k)), k)
  }

  def registerOnce(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.extraPlanningStrategies.contains(Bm25Strategy) &&
        !spark.experimental.extraStrategies.contains(Bm25Strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ Bm25Strategy
}

/** Plans the logical node into the physical WAND operator. */
object Bm25Strategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ Bm25TopKPlan(dir, queries, k, _) =>
      Bm25TopKExec(dir, queries, k, p.output) :: Nil
    case _ => Nil
  }
}

/** Physical WAND operator: the rows of Wand's candidate step. */
final case class Bm25TopKExec(indexDir: String, queries: Seq[(Long, String)],
                              k: Int,
                              override val output: Seq[Attribute])
    extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val (stats, prepared) = Wand.prepare(session, indexDir, queries)
    Wand.candidates(session, indexDir, stats, prepared, k).queryExecution.toRdd
  }
}
