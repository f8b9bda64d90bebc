package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.geo.GeoFixtures
import graft.index.CellIndex
import graft.join.SpatialJoin

/** Hostile coordinates through both spatial-join plans: NaN and null
  * lon/lat must match no polygon, and must not disturb the clean rows.
  *
  * `CellIndex.tileX`/`tileY` send NaN to tile 0, so a NaN point is keyed
  * into the corner cells at lon −180 / lat 85. The corner polygon below
  * covers exactly those cells, so the NaN rows reach the exact refine step
  * of the cell join and the bbox lookup of the R-tree probe instead of
  * being dropped by the cell key alone.
  */
class HostileInputSpec extends SparkSpecBase {

  private val pointSchema = StructType(Seq(
    StructField("image_id", StringType, nullable = false),
    StructField("lon", DoubleType, nullable = true),
    StructField("lat", DoubleType, nullable = true)))

  private lazy val clean: DataFrame = {
    val fixture = GeoFixtures.imagesLite(spark, 2000).select("image_id", "lon", "lat")
    // one clean point inside the corner polygon, so that polygon is live
    val inCorner = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("in_corner", -175.0, 82.0))), pointSchema)
    spark.createDataFrame(fixture.rdd, pointSchema).union(inCorner)
  }

  private val hostileRows = Seq(
    Row("nan_lon", Double.NaN, 82.0),
    Row("nan_lat", -175.0, Double.NaN),
    Row("nan_both", Double.NaN, Double.NaN),
    Row("null_lon", null, 82.0),
    Row("null_lat", -175.0, null),
    Row("null_both", null, null))
  private val hostileIds = hostileRows.map(_.getString(0)).toSet

  private lazy val withHostile: DataFrame =
    clean.union(spark.createDataFrame(spark.sparkContext.parallelize(hostileRows, 2), pointSchema))

  /** The lon [−180, −170] × lat [80, 85] square, closed. */
  private val cornerId = 999999L
  private lazy val polys: DataFrame = {
    val fixture = GeoFixtures.boundaries(spark, 40).select("polygon_id", "ring")
    val corner = Seq((-180.0, 80.0), (-170.0, 80.0), (-170.0, 85.0), (-180.0, 85.0), (-180.0, 80.0))
      .map { case (x, y) => Row(x, y) }
    fixture.union(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(cornerId, corner))), fixture.schema))
  }

  private def pairs(df: DataFrame): Set[(String, Long)] =
    df.select(col("image_id"), col("polygon_id").cast(LongType))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("NaN coordinates are keyed into the corner cells the corner polygon covers") {
    val z = 7
    val covered = spark.range(1)
      .select(SpatialJoin.coverCells(lit(-180.0), lit(80.0), lit(-170.0), lit(85.0), z))
      .head().getSeq[Long](0).toSet
    Seq((Double.NaN, 82.0), (-175.0, Double.NaN), (Double.NaN, Double.NaN)).foreach {
      case (lon, lat) =>
        assert(covered.contains(CellIndex.cellId(lon, lat, z)),
          s"($lon, $lat) must be a cell-join candidate of the corner polygon")
    }
  }

  test("cellJoin: NaN and null coordinates match no polygon; clean rows are unchanged") {
    val expected = pairs(SpatialJoin.cellJoin(clean, "lon", "lat", polys, "ring"))
    assert(expected.contains(("in_corner", cornerId)))
    val got = pairs(SpatialJoin.cellJoin(withHostile, "lon", "lat", polys, "ring"))
    assert(got.filter(p => hostileIds(p._1)).isEmpty,
      s"hostile rows joined: ${got.filter(p => hostileIds(p._1))}")
    assert(got === expected)
  }

  test("broadcastRtreeJoin: NaN and null coordinates match no polygon; clean rows are unchanged") {
    val expected = pairs(
      SpatialJoin.broadcastRtreeJoin(clean, "lon", "lat", polys, "polygon_id", "ring"))
    assert(expected.contains(("in_corner", cornerId)))
    val got = pairs(
      SpatialJoin.broadcastRtreeJoin(withHostile, "lon", "lat", polys, "polygon_id", "ring"))
    assert(got.filter(p => hostileIds(p._1)).isEmpty,
      s"hostile rows joined: ${got.filter(p => hostileIds(p._1))}")
    assert(got === expected)
    assert(got === pairs(SpatialJoin.cellJoin(clean, "lon", "lat", polys, "ring")),
      "both plans agree on the clean rows")
  }
}
