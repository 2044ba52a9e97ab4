package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** The reference's one genuinely custom optimizer rule, Spark-first:
  * `OptimizeAsVectorIndexScan` (reference src/optimizer/
  * vector_index_scan.cpp:29-149) rewrites TopN whose single ORDER BY
  * key is a vector distance against a constant into a VectorIndexScan
  * that returns the index's row ids.
  *
  * Catalyst formulation: match
  *   GlobalLimit(k, LocalLimit(k, Sort(dist(col, lit) ASC, ...)))
  * over a plan whose single leaf is a table with a registered vector
  * index (graft.index.VectorIndexes), and rewrite the Sort's child to
  *   Project(child.output,
  *     child' LEFT SEMI JOIN (index top-k ids AS __graft_knn_id)
  *       ON child'.<id> = __graft_knn_id)
  * where child' is the child with the leaf's id column (`__rid` for
  * Engine tables, the index's id column for parquet tables) carried
  * through the Projects that pruned it — the reference re-adds a
  * Projection over its RID fetch the same way (vector_index_scan.cpp:
  * 129-145). The original Sort+Limit stay in place: output attributes
  * are unchanged, output stays distance-ascending, and the retained
  * Sort now runs over k rows — free. The index decides WHICH k rows;
  * Catalyst keeps owning how they're fetched, so projections stacked on
  * the scan still prune its columns.
  *
  * Selection honors the `graft.vector_index_method` session conf
  * exactly like the reference's `vector_index_method` session variable
  * (optimizer.cpp:26, vector_index_scan.cpp:42-62), including the
  * unset-method "wrong distance fn still matches" quirk.
  *
  * The rule runs to a fixed point; a rewritten Sort is not matched
  * again, because its child then holds a Join, not a bare scan.
  *
  * Attach it with `graft.index.VectorIndexes.enableRewrite(spark)`.
  */
class VectorIndexScanRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import graft.index.VectorIndexes

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other   => other
  }

  /** (column attribute, constant query vector) from either arg order —
    * the reference also accepts dist(const, col) (vector_index_scan
    * .cpp:33-40). */
  private def colAndQuery(vd: VectorDistance)
      : Option[(AttributeReference, Seq[Double])] = {
    def asVec(e: Expression): Option[Seq[Double]] = e match {
      case f if f.foldable && f.dataType.isInstanceOf[ArrayType] =>
        Option(f.eval()).map(_.asInstanceOf[ArrayData].toDoubleArray().toSeq)
      case _ => None
    }
    (stripCast(vd.left), stripCast(vd.right)) match {
      case (a: AttributeReference, q) => asVec(q).map((a, _))
      case (q, a: AttributeReference) => asVec(q).map((a, _))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // ColumnPruning may push a Project between LocalLimit and Sort —
    // accept both shapes.
    case g @ GlobalLimit(Literal(k: Int, IntegerType),
        ll @ LocalLimit(_,
        s @ Sort(SortOrder(vd: VectorDistance, Ascending, _, _) +: restKeys,
          true, child, _))) =>
      rewrite(k, vd, restKeys, child) match {
        case Some(newChild) =>
          g.copy(child = ll.copy(child = s.copy(child = newChild)))
        case None => g
      }
    case g @ GlobalLimit(Literal(k: Int, IntegerType),
        ll @ LocalLimit(_,
        p @ Project(_,
        s @ Sort(SortOrder(vd: VectorDistance, Ascending, _, _) +: restKeys,
          true, child, _)))) =>
      rewrite(k, vd, restKeys, child) match {
        case Some(newChild) =>
          g.copy(child = ll.copy(child =
            p.copy(child = s.copy(child = newChild))))
        case None => g
      }
  }

  /** The reference rule only matches TopN over a bare SeqScan or
    * Projection (vector_index_scan.cpp:102-129); anything that changes
    * the row SET between the Sort and the leaf (Filter, Join,
    * Aggregate, ...) makes "intersect with the index's GLOBAL top-k"
    * wrong — a WHERE-filtered KNN must keep scanning, because the true
    * k nearest qualifying rows need not be among the k nearest overall.
    * Row-preserving wrappers (Project, SubqueryAlias) are safe. */
  private def isBareScan(plan: LogicalPlan): Boolean = plan match {
    case p: Project        => isBareScan(p.child)
    case a: SubqueryAlias  => isBareScan(a.child)
    case _: LeafNode       => true
    case _                 => false
  }

  private def rewrite(k: Int, vd: VectorDistance,
      restKeys: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    if (!isBareScan(child)) return None
    val leaves = child.collectLeaves()
    if (leaves.length != 1) return None
    val method =
      spark.conf.getOption("graft.vector_index_method").getOrElse("")
    for {
      (attr, qvec) <- colAndQuery(vd)
      meta <- VectorIndexes.selectByLeaf(leaves.head.canonicalized,
        attr.name, vd.metric, method)
      id <- leaves.head.output.find(_.name == meta.idCol)
      // extra sort keys must be the index id column (tie-break) or none,
      // otherwise the index's top-k tie choice may not match the query's
      if restKeys.forall(o => stripCast(o.child) match {
        case a: AttributeReference => a.name == meta.idCol
        case _ => false
      })
    } yield {
      // Carry the id up through every Project that prunes it (Engine
      // views drop __rid), so the join sits above the pruning Projects
      // and the scan still reads only the queried columns.
      val withId = child.transformUp {
        case p: Project if !p.outputSet.contains(id) =>
          p.copy(projectList = p.projectList :+ id)
      }
      // The index's plan is optimized on its own and spliced in as is:
      // an optimizer pass over the spliced tree would break the IVFFlat
      // probe's Limit/Sort into a global sort. That plan may reuse the
      // left side's attribute ids (the IVFFlat probe reads the same
      // cached table), but only `__graft_knn_id` leaves it, so the join
      // condition is unambiguous. `__graft_knn_id` is also the marker
      // plan-shape tests look for.
      val ids = meta.model.scanIdsVecs(spark, qvec, k)
        .queryExecution.optimizedPlan
      val knnId = ids.output.find(_.name == "__knn_id").get
      val right = Project(
        Seq(Alias(Cast(knnId, id.dataType), "__graft_knn_id")()), ids)
      // Left-semi keeps the left side's rows; the outer Project restores
      // `child.output`, so the retained Sort/Limit above still resolve.
      Project(child.output, Join(withId, right, LeftSemi,
        Some(EqualTo(id, right.output.head)), JoinHint.NONE))
    }
  }
}
