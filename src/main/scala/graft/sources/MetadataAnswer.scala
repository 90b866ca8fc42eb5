package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BindReferences, Expression, InterpretedUnsafeProjection, Predicate, Unevaluable}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Plans a metadata-answered aggregate ([[ManifestAggScan]]) as rows on
  * the driver. The aggregate's rows already exist at planning, so the
  * projection and filters above the scan are evaluated here, once, and
  * the query runs no Spark job. Spark's own `LocalScan` planning (a
  * codegen'd project over `LocalTableScanExec`) still runs one job per
  * action, and its plan string drops the scan's name.
  *
  * The eligibility rule is the one Spark's `ConvertToLocalRelation`
  * applies to a `LocalRelation`: no `Unevaluable` expression (a subquery,
  * say) above the scan, and nondeterministic expressions initialized for
  * partition 0. Anything else returns `Nil`, and Spark plans the
  * `LocalScan` itself. */
private[graft] final class MetadataAnswerStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters,
        DataSourceV2ScanRelation(_, s: ManifestAggScan, output, _, _))
        if !(project ++ filters).exists(hasUnevaluable) =>
      val kept = filters.reduceOption(And).fold(s.rows().toSeq) { c =>
        val p = Predicate.createInterpreted(BindReferences.bindReference(c, output))
        p.initialize(0)
        s.rows().toSeq.filter(p.eval)
      }
      val proj = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences[Expression](project, output))
      proj.initialize(0)
      MetadataAnswerExec(project.map(_.toAttribute), kept.map(proj(_).copy()),
        s.description()) :: Nil
    case _ => Nil
  }

  private def hasUnevaluable(e: Expression): Boolean =
    e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])
}

/** Leaf holding a metadata-answered aggregate's final rows. An action on
  * it (collect, take, tail) returns them without a job; `doExecute` —
  * one partition — serves only a parent operator (a join or a union
  * side). The plan string keeps the scan's description, so `explain`
  * still shows `ManifestAggScan(<path>, metadata-answered: …)`. */
private[graft] final case class MetadataAnswerExec(
    output: Seq[Attribute], rows: Seq[InternalRow], description: String)
  extends LeafExecNode {
  override def simpleString(maxFields: Int): String =
    s"$nodeName${truncatedString(output, "[", ", ", "]", maxFields)} $description"
  override def executeCollect(): Array[InternalRow] = rows.toArray
  override def executeTake(n: Int): Array[InternalRow] = rows.take(n).toArray
  override def executeTail(n: Int): Array[InternalRow] = rows.takeRight(n).toArray
  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(rows, 1)
}
