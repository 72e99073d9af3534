package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DoubleType

/** Declarative "top-k cosine neighbors of one query vector" intent node.
  *
  * The node carries WHAT (corpus, query id, k), not HOW;
  * [[ResolveCosineTopK]] lowers it to a physical strategy:
  *
  *  - exact brute force (`Similarity.bruteForceTopK`) — the default,
  *    always correct;
  *  - LSH-bucketed approximate (`Similarity.lshTopK`) — chosen ONLY
  *    when the corpus is estimated large (catalog rowCount when
  *    ANALYZE/CBO provide it, else plan sizeInBytes) AND the user set
  *    `spark.graft.similarity.autoApprox.enabled=true`. The swap
  *    trades recall for a 2^planes reduction of the scored candidate
  *    set, i.e. it CHANGES RESULTS — hence strictly opt-in, never a
  *    silent rewrite (SURVEY §7.6).
  *
  * This is the cost-based scale-path pattern in miniature: the same
  * declared query plans differently at 500 rows and at 10^9 rows, and
  * the collector's own ANALYZE stats are what feed the decision.
  */
case class CosineTopK(child: LogicalPlan, idCol: String, vecCol: String,
    queryId: Long, topK: Int,
    output: Seq[Attribute]) extends UnaryNode {
  // cos_sim originates HERE, not in the child — without this,
  // CheckAnalysis counts it as a missing input on sessions where the
  // node survives analysis (extraOptimizations path)
  override def producedAttributes: AttributeSet =
    AttributeSet(output.filterNot(child.outputSet.contains))
  // idCol/vecCol are carried as strings, not expressions, so the
  // default (expression-derived) references are EMPTY — ColumnPruning
  // would then strip the vector column from the child before the
  // late-running resolution rule lowers the node (bites when a parent
  // Project keeps only the node's output, e.g. rounding cos_sim).
  override def references: AttributeSet =
    AttributeSet(child.output.filter(a => a.name == idCol || a.name == vecCol))
  override protected def withNewChildInternal(newChild: LogicalPlan): CosineTopK =
    copy(child = newChild)
}

object CosineTopK {
  /** Conf keys (session-settable; read at resolution time). */
  val EnabledKey = "spark.graft.similarity.autoApprox.enabled"
  val MinRowsKey = "spark.graft.similarity.autoApprox.minRows"
  val MinBytesKey = "spark.graft.similarity.autoApprox.minBytes"
  /** Hyperplane count for the approximate path: 2^planes buckets.
    * Fewer planes = more candidates scored = higher recall, higher
    * cost — the recall/cost dial a user tunes per corpus density.
    */
  val PlanesKey = "spark.graft.similarity.autoApprox.planes"

  /** Build the DataFrame around a fresh node. `GraftSession.install`
    * adds the resolution rule for sessions constructed without
    * GraftExtensions (`experimental.extraOptimizations` is the public
    * post-creation injection point; the extension-injected copy, when
    * present, wins by running earlier — the node is gone before the
    * optimizer).
    */
  def dataframe(embs: DataFrame, idCol: String, vecCol: String,
      queryId: Long, topK: Int): DataFrame = {
    val spark = embs.sparkSession
    graft.GraftSession.install(spark)
    val child = embs.queryExecution.analyzed
    val idAttr = child.output.find(_.name == idCol).getOrElse(
      throw new IllegalArgumentException(s"column $idCol not in ${child.output.map(_.name)}"))
    val out = Seq(idAttr,
      AttributeReference("cos_sim", DoubleType, nullable = true)())
    Bridge.ofRows(spark, CosineTopK(child, idCol, vecCol, queryId, topK, out))
  }
}

/** Lowers [[CosineTopK]] — see its scaladoc for the selection contract.
  *
  * Runs either as an extension-injected post-hoc resolution rule or
  * from `experimental.extraOptimizations` (late optimizer batch). The
  * replacement subtree is built through the public Dataset API and
  * pre-optimized, then aliased back to the node's original exprIds so
  * any parent operators keep resolving.
  */
case class ResolveCosineTopK(session: SparkSession) extends Rule[LogicalPlan] {

  private def confLong(key: String, dflt: Long): Long =
    session.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case t: CosineTopK =>
      val corpus = Bridge.ofRows(session, t.child)
      val optIn = session.conf.getOption(CosineTopK.EnabledKey).contains("true")
      val stats = t.child.stats
      val big =
        stats.rowCount.exists(_.toLong >= confLong(CosineTopK.MinRowsKey, 100000L)) ||
          stats.sizeInBytes >= confLong(CosineTopK.MinBytesKey, 128L << 20)
      val replacement =
        if (optIn && big)
          graft.api.Similarity.lshTopK(corpus, t.idCol, t.vecCol, t.queryId,
            t.topK, nPlanes = confLong(CosineTopK.PlanesKey, 8L).toInt)
        else
          graft.api.Similarity.bruteForceTopK(corpus, t.idCol, t.vecCol, t.queryId, t.topK)
      val lowered = replacement.queryExecution.optimizedPlan
      // restore the node's exprIds so parents referencing them resolve
      val aliased: Seq[NamedExpression] = lowered.output.zip(t.output).map {
        case (fresh, orig) => Alias(fresh, orig.name)(exprId = orig.exprId)
      }
      Project(aliased, lowered)
  }
}
