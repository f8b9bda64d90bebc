package graft

import org.apache.spark.sql.functions._
import graft.plans.CellPrune
import graft.index.CellIndex

/** The bbox→cell pruning optimizer rule: correct results, predicate
  * injected, and parquet row groups actually skipped on a cell-sorted
  * layout.
  */
class CellPruneSpec extends SparkSpecBase {

  private val Z = 6

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val df = CellPrune.withCellColumn(
      graft.geo.GeoFixtures.imagesLite(spark, 200000), "lon", "lat", Z)
    // cell-sorted layout: range partition + sort => row-group min/max locality
    df.repartitionByRange(16, col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(s"$d/imgs")
    d
  }

  /** stored cell column re-tagged with pruning metadata — stays a scan
    * attribute so the injected IN reaches the parquet reader
    */
  private def tagged = CellPrune.tagCellColumn(
    spark.read.parquet(s"$dir/imgs"), "cell", "lon", "lat", Z)

  // CellPruneRule is installed by GraftExtensions on the shared test
  // session (SparkSpecBase) — the same way the Verify/Bench gate sessions
  // and the job mains get it. Suites never add the rule to a live session:
  // that leaked it into whichever suites happened to run after this one.

  test("rule injects an IN(cell, covering...) conjunct for bbox filters") {
    val q = tagged.filter(col("lon").between(-80.0, -75.0) && col("lat").between(37.0, 40.0))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cell#") && optimized.contains(" IN "), optimized.take(1500))
  }

  test("pruned query returns exactly the same rows as the unpruned plan") {
    val pred = col("lon").between(-80.0, -75.0) && col("lat").between(37.0, 40.0)
    val withRule = tagged.filter(pred).select("image_id")
      .collect().map(_.getString(0)).toSet
    // bypass: same filter on a frame with no cell metadata
    val plain = spark.read.parquet(s"$dir/imgs").filter(pred).select("image_id")
      .collect().map(_.getString(0)).toSet
    assert(withRule === plain)
    assert(withRule.nonEmpty)
  }

  test("parquet scan skips row groups via the injected cell predicate") {
    val pred = col("lon").between(-77.5, -76.5) && col("lat").between(38.5, 39.5)
    val q = tagged.filter(pred)
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    // via the extensions pipeline the optimizer may fold a single-cell
    // cover's In(cell, [c]) to EqualTo(cell, c) — both push to parquet
    assert(scan.contains("PushedFilters") &&
      (scan.contains("In(cell") || scan.contains("EqualTo(cell")), scan.take(1200))
  }

  test("no full bbox -> rule leaves the plan alone") {
    val q = tagged.filter(col("lon") > -80.0) // lat unconstrained
    assert(!q.queryExecution.optimizedPlan.toString.contains(" IN "),
      "must not inject without both axes bounded")
  }

  test("whole-grid bbox leaves the plan alone (nothing to prune)") {
    val q = tagged.filter(col("lon").between(-180.0, 180.0) && col("lat").between(-85.0, 85.0))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains(" IN ") && !opt.contains("cell#6L >="), opt.take(800))
  }

  test("over-cap bbox at fine zoom gets BETWEEN ranges instead of an exploded IN") {
    // fine-zoom layout: same points, z=12 cell column -> a hemisphere bbox
    // covers ~3M cells (IN would bail); the quadtree range covering engages
    val zf = 12
    val d12 = java.nio.file.Files.createTempDirectory("graft_prune12").toString
    CellPrune.withCellColumn(graft.geo.GeoFixtures.imagesLite(spark, 50000),
        "lon", "lat", zf)
      .repartitionByRange(8, col("cell")).sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(s"$d12/imgs")
    val t = CellPrune.tagCellColumn(
      spark.read.parquet(s"$d12/imgs"), "cell", "lon", "lat", zf)
    val pred = col("lon").between(-170.0, -10.0) && col("lat").between(-60.0, 60.0)
    val q = t.filter(pred)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains(" IN "), opt.take(1200))
    assert(opt.contains(">=") && opt.contains("<="), opt.take(1200))
    // semantics preserved vs the metadata-free plan
    val withRule = q.select("image_id").collect().map(_.getString(0)).toSet
    val plain = spark.read.parquet(s"$d12/imgs").filter(pred)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(withRule === plain)
    assert(withRule.nonEmpty)
    // and the ranges reach the parquet reader as pushed filters
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters") &&
      (scan.contains("GreaterThanOrEqual(cell") || scan.contains("Or(And(")), scan.take(1500))
  }

  test("GraftExtensions SQL function registrations resolve and compute (cell_id, point_in_ring)") {
    // the injected builders (es(0), es(1), es(2)) are only ever exercised
    // through SQL text — the Column API constructs the Expressions
    // directly, so a broken registration would surface only in the gate
    val cid = spark.sql(s"SELECT cell_id(-77.0D, 38.9D, $Z) AS c")
      .head().getLong(0)
    assert(cid === CellIndex.cellId(-77.0, 38.9, Z))
    val ringSql = Seq((0, 0), (1, 0), (1, 1), (0, 1), (0, 0))
      .map { case (x, y) => s"struct(CAST($x AS DOUBLE) AS lon, CAST($y AS DOUBLE) AS lat)" }
      .mkString("array(", ", ", ")")
    val pir = spark.sql(
      s"SELECT point_in_ring(0.5D, 0.5D, $ringSql) AS a," +
      s" point_in_ring(1.5D, 0.5D, $ringSql) AS b").head()
    assert(pir.getBoolean(0) && !pir.getBoolean(1))
  }

  test("job sessions append GraftExtensions to a spark-submit extension list, never replace it") {
    val ext = classOf[graft.plans.GraftExtensions].getName
    assert(graft.jobs.Jobs.extensionList(None) === ext)
    assert(graft.jobs.Jobs.extensionList(Some("a.B, c.D")) === s"a.B,c.D,$ext")
    assert(graft.jobs.Jobs.extensionList(Some(s"$ext,a.B")) === s"$ext,a.B")
  }
}
