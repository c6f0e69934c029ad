package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, EqualTo, Expression, In, InSet, IntegerLiteral, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.expr.L2Distance

/** IVF cell pruning for the declarative kNN idiom
  * `ORDER BY l2_distance(vec, q) LIMIT k` — Spark's own
  * `Limit(Sort)` shape, which it plans as TakeOrderedAndProject. When
  * the corpus carries a REGISTERED cell-assignment column, this rule
  * narrows the scan to the query's `nprobe` nearest IVF cells.
  *
  * Opt-in and explicitly approximate: registering an index
  * ([[KnnIvfCatalog.register]]) is the user's declaration that
  * IVF-recall semantics are acceptable for queries over that cell
  * column (the standard pgvector/FAISS IVF trade-off). Nothing is
  * rewritten for unregistered plans, and only NEAREST-neighbor shapes
  * (ascending L2 distance) are pruned — a descending (farthest-point)
  * sort is left exact, since nearest-cell probes would be the wrong
  * cells entirely.
  *
  * Mechanics: the probe cells are computed DRIVER-side from the sort
  * key's literal query vector against the registered centroids (tiny,
  * by construction), and injected as `Filter(cell IN (...))` directly
  * below the Sort. Catalyst's own PushDownPredicates then carries the
  * filter to the scan, where a `partitionBy(cell)` layout turns it
  * into real partition pruning — at 100 TB the query reads `nprobe`
  * directories, not the corpus.
  */
object KnnIvfCatalog {
  /** One registered index: centroid set + probe width, keyed by the
    * cell column NAME. The name IS the opt-in marker the optimizer
    * matches on, and the registry is process-global — so use a
    * distinctive name per corpus (the `ivf_cell` default suits a
    * single-index session; two live indexes need two column names, or
    * the later registration replaces the earlier one). */
  final case class IvfMeta(centroids: Seq[(Long, Seq[Double])], nprobe: Int)

  private val registry = TrieMap.empty[String, IvfMeta]

  def register(cellCol: String, centroids: Seq[(Long, Seq[Double])],
      nprobe: Int): Unit =
    registry.put(cellCol, IvfMeta(centroids, math.max(nprobe, 1)))

  def unregister(cellCol: String): Unit = registry.remove(cellCol)
  def lookup(cellCol: String): Option[IvfMeta] = registry.get(cellCol)

  /** The query's nprobe nearest cells, computed driver-side. A
    * dimension mismatch between query and centroids means the plan is
    * being pruned with the WRONG index — fail loudly rather than
    * truncate the distance loop and return silently wrong cells.
    *
    * Ordering term is sqrt(ss) — the SAME value the expression forms
    * (graft_l2_distance / IvfIndex.cellCandidates) sort by. Sorting
    * raw squared sums here would be monotone-equivalent EXCEPT when
    * sqrt collapses two squared distances a few ulps apart into equal
    * doubles: the expression then falls to its cell-id tiebreak while
    * a squared-sum sort still ranks them strictly, and a divergent
    * cell set at the nprobe cutoff silently drops probed candidates. */
  def probeCells(meta: IvfMeta, q: Seq[Double]): Seq[Long] =
    meta.centroids
      .map { case (cell, c) =>
        require(c.length == q.length,
          s"IVF centroid dim ${c.length} != query dim ${q.length} — " +
            "the registered index does not match this corpus/query")
        var ss = 0.0
        var i = 0
        while (i < c.length) { val d = c(i) - q(i); ss += d * d; i += 1 }
        (math.sqrt(ss), cell)
      }
      .sortBy(identity)
      .take(meta.nprobe)
      .map(_._2)
}

case class IvfPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import KnnIvfCatalog._

  /** The literal query vector, if the head key is L2Distance vs one. */
  private def queryVector(e: Expression): Option[Seq[Double]] = {
    def lit(x: Expression): Option[Seq[Double]] = x match {
      case l: Literal if l.value != null =>
        scala.util.Try {
          val ad = l.value.asInstanceOf[
            org.apache.spark.sql.catalyst.util.ArrayData]
          ad.toDoubleArray.toIndexedSeq
        }.toOption
      case _ => None
    }
    e match {
      case L2Distance(a, b) => lit(b).orElse(lit(a))
      case _ => None
    }
  }

  /** Type-faithful IN literals for the cell attribute (partition
    * columns read back as int/long/string depending on discovery). */
  private def cellLiterals(attr: Attribute, cells: Seq[Long])
      : Option[Seq[Expression]] = attr.dataType match {
    case LongType => Some(cells.map(Literal(_)))
    case IntegerType => Some(cells.map(c => Literal(c.toInt)))
    case StringType => Some(cells.map(c => Literal(c.toString)))
    case _ => None
  }

  /** Has a cell restriction already been injected? Downstream optimizer
    * rules rewrite the injected `In`: OptimizeIn turns a 1-element list
    * into EqualTo and a long list into InSet — all three shapes must
    * count, or the fixpoint batch re-injects every iteration. */
  private def alreadyPruned(plan: LogicalPlan, attr: Attribute): Boolean =
    plan.exists {
      case Filter(cond, _) =>
        cond.exists {
          case In(a: Attribute, _) => a.exprId == attr.exprId
          case EqualTo(a: Attribute, _: Literal) => a.exprId == attr.exprId
          case EqualTo(_: Literal, a: Attribute) => a.exprId == attr.exprId
          case InSet(a: Attribute, _) => a.exprId == attr.exprId
          case _ => false
        }
      case _ => false
    }

  /** The head sort key, seen through one level of Project aliasing
    * (the distance projected as a column just below the Sort). */
  private def resolveHead(key: Expression, child: LogicalPlan): Expression =
    (key, child) match {
      case (a: Attribute, Project(projectList, _)) =>
        projectList.collectFirst {
          case al: Alias if al.toAttribute.semanticEquals(a) => al.child
        }.getOrElse(key)
      case _ => key
    }

  /** `sort` with the probe-cell filter under it, or None when the plan
    * is not a registered nearest-neighbor top-k (or is already pruned). */
  private def prune(sort: Sort): Option[Sort] = {
    val head = sort.order.head
    // nearest-neighbor shapes only: ascending distance. A descending
    // sort (farthest points) must stay exact — nearest-cell probes
    // would return categorically wrong rows.
    if (!sort.global || head.direction != Ascending) return None
    for {
      cellAttr <- sort.child.output.find(a => lookup(a.name).isDefined)
      if !alreadyPruned(sort.child, cellAttr)
      meta <- lookup(cellAttr.name)
      q <- queryVector(resolveHead(head.child, sort.child))
      lits <- cellLiterals(cellAttr, probeCells(meta, q))
    } yield sort.copy(child = Filter(In(cellAttr, lits), sort.child))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case l @ Limit(k @ IntegerLiteral(_), s: Sort) =>
      prune(s).map(Limit(k, _)).getOrElse(l)
    // the `sort.limit.select` shape: Catalyst pushes the final
    // projection below the limit, landing it between Limit and Sort
    case l @ Limit(k @ IntegerLiteral(_), p @ Project(projectList, s: Sort))
        if projectList.forall(_.deterministic) =>
      prune(s).map(ps => Limit(k, p.copy(child = ps))).getOrElse(l)
  }
}
