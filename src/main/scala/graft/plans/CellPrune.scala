package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.index.CellIndex

/** bbox → cell partition pruning (SURVEY.md §7.3's one custom
  * `Rule[LogicalPlan]`).
  *
  * Tables carrying a [[withCellColumn]]-tagged cell column (Morton quadkey
  * of their lon/lat at zoom z, typically used as the sort/partition key)
  * get an extra `cell IN (covering cells)` conjunct whenever a filter
  * constrains both lon and lat to a range. Parquet row-group min/max
  * statistics on the cell-sorted layout then skip data the bbox can't
  * touch — the spatial analogue of partition pruning, derived
  * automatically instead of hand-written per query.
  *
  * Register per session via `GraftExtensions` (spark.sql.extensions).
  */
object CellPrune {

  val ZoomKey = "graftCellZoom"
  val LonKey = "graftCellLon"
  val LatKey = "graftCellLat"
  val MaxCoverCells = 2048
  /** Cap on BETWEEN-range disjuncts for large coverings (see coverRanges). */
  val MaxRanges = 64
  val RangeNodeBudget = 4096

  /** Attach a cell column carrying pruning metadata. Write the table sorted
    * or repartitionByRange'd on this column for row-group locality.
    */
  def withCellColumn(df: DataFrame, lonCol: String, latCol: String, z: Int,
                     cellName: String = "cell"): DataFrame = {
    val md = new MetadataBuilder()
      .putLong(ZoomKey, z.toLong).putString(LonKey, lonCol).putString(LatKey, latCol)
      .build()
    df.withColumn(cellName,
      graft.functions.GeoFunctions.cell_id(col(lonCol), col(latCol), z).as(cellName, md))
  }

  /** Re-attach pruning metadata to an already-materialized cell column
    * (e.g. after reading a table written by [[withCellColumn]]): the column
    * stays a scan attribute, so the injected IN pushes down to parquet.
    */
  def tagCellColumn(df: DataFrame, cellName: String, lonCol: String,
                    latCol: String, z: Int): DataFrame = {
    val md = new MetadataBuilder()
      .putLong(ZoomKey, z.toLong).putString(LonKey, lonCol).putString(LatKey, latCol)
      .build()
    df.withColumn(cellName, col(cellName).as(cellName, md))
  }

  object CellPruneRule extends Rule[LogicalPlan] with PredicateHelper {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case f @ Filter(cond, child) =>
        val cellAttrs = child.output.filter(_.metadata.contains(ZoomKey))
        if (cellAttrs.isEmpty) f
        else {
          val conjuncts = splitConjunctivePredicates(cond)
          val added = cellAttrs.flatMap { cellAttr =>
            // idempotency: skip if the filter already constrains the cell col
            if (conjuncts.exists(_.references.contains(cellAttr))) None
            else derivePredicate(cellAttr, child, conjuncts)
          }
          if (added.isEmpty) f
          else Filter(added.foldLeft(cond)(And(_, _)), child)
        }
    }

    private def derivePredicate(cellAttr: Attribute, child: LogicalPlan,
                                conjuncts: Seq[Expression]): Option[Expression] = {
      val z = cellAttr.metadata.getLong(ZoomKey).toInt
      val lonName = cellAttr.metadata.getString(LonKey)
      val latName = cellAttr.metadata.getString(LatKey)
      val lonAttr = child.output.find(_.name == lonName)
      val latAttr = child.output.find(_.name == latName)
      (for {
        lon <- lonAttr
        lat <- latAttr
        (lonLo, lonHi) <- bounds(conjuncts, lon)
        (latLo, latHi) <- bounds(conjuncts, lat)
      } yield {
        // count the flat covering WITHOUT materializing it (at fine zooms a
        // large bbox is 4^z cells — the old enumerate-then-check would blow
        // up before bailing)
        val n = 1L << z
        val ny = CellIndex.tileY(latLo, z) - CellIndex.tileY(latHi, z) + 1
        val nx =
          if (lonLo <= lonHi) CellIndex.tileX(lonHi, z) - CellIndex.tileX(lonLo, z) + 1
          else (n - CellIndex.tileX(lonLo, z)) + CellIndex.tileX(lonHi, z) + 1
        if (nx >= n && ny >= n) None // whole grid: nothing to prune
        else if (nx * ny <= MaxCoverCells) {
          val cells = CellIndex.cover(lonLo, latLo, lonHi, latHi, z)
          Some(In(cellAttr, cells.sorted.map(Literal(_)).toSeq))
        } else {
          // Morton ids at one zoom are prefix-hierarchical: the quadtree
          // decomposition of the bbox is a handful of contiguous cellId
          // BETWEENs (superset covering, so semantics-preserving), and
          // range predicates prune parquet row groups on the cell-sorted
          // layout just like the IN does — but keep working at zooms where
          // the flat cell list would be millions of literals
          val ranges = CellIndex.coverRanges(lonLo, latLo, lonHi, latHi, z,
            budget = RangeNodeBudget, maxRanges = MaxRanges)
          Some(ranges.map(r => And(
              GreaterThanOrEqual(cellAttr, Literal(r._1)),
              LessThanOrEqual(cellAttr, Literal(r._2))): Expression)
            .reduce(Or(_, _)))
        }
      }).flatten
    }

    /** Extract [lo, hi] for an attribute from range conjuncts. Strict
      * bounds are safe here: the covering-cell set of a superset range is a
      * superset, so the added IN never drops matching rows.
      */
    private def bounds(conjuncts: Seq[Expression], attr: Attribute): Option[(Double, Double)] = {
      var lo: Option[Double] = None
      var hi: Option[Double] = None
      def num(l: Literal): Option[Double] = l.value match {
        case d: java.lang.Double => Some(d)
        case f: java.lang.Float => Some(f.toDouble)
        case i: java.lang.Integer => Some(i.toDouble)
        case j: java.lang.Long => Some(j.toDouble)
        case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
        case _ => None
      }
      conjuncts.foreach {
        case GreaterThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
          num(l).foreach(v => lo = Some(lo.fold(v)(math.max(_, v))))
        case GreaterThan(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
          num(l).foreach(v => lo = Some(lo.fold(v)(math.max(_, v))))
        case LessThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
          num(l).foreach(v => hi = Some(hi.fold(v)(math.min(_, v))))
        case LessThan(a: Attribute, l: Literal) if a.semanticEquals(attr) =>
          num(l).foreach(v => hi = Some(hi.fold(v)(math.min(_, v))))
        case LessThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(attr) =>
          num(l).foreach(v => lo = Some(lo.fold(v)(math.max(_, v))))
        case GreaterThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(attr) =>
          num(l).foreach(v => hi = Some(hi.fold(v)(math.min(_, v))))
        case _ =>
      }
      for (l <- lo; h <- hi if l <= h) yield (l, h)
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — registers the
  * engine's optimizer rule(s) and SQL functions on session build.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CellPrune.CellPruneRule)
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("cell_id"),
      new ExpressionInfo("graft.expr.CellIdExpr", "cell_id"),
      (es: Seq[Expression]) => graft.expr.CellIdExpr(es(0), es(1), es(2))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("point_in_ring"),
      new ExpressionInfo("graft.expr.PointInRingExpr", "point_in_ring"),
      (es: Seq[Expression]) => graft.expr.PointInRingExpr(es(0), es(1), es(2))))
  }
}
