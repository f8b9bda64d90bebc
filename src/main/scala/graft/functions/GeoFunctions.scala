package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.functions._
import graft.expr._

/** Column-level API over the engine's custom Catalyst expressions plus
  * built-in-composed geo helpers. Everything here is codegen-friendly:
  * either a builtin composition or a custom Expression with doGenCode.
  */
object GeoFunctions {

  /** Hierarchical Morton-quadkey cell id at zoom z. */
  def cell_id(lon: Column, lat: Column, z: Int): Column =
    toCol(CellIdExpr(toExpr(lon), toExpr(lat), toExpr(lit(z))))

  def tile_x(lon: Column, z: Int): Column =
    toCol(TileXExpr(toExpr(lon), toExpr(lit(z))))

  def tile_y(lat: Column, z: Int): Column =
    toCol(TileYExpr(toExpr(lat), toExpr(lit(z))))

  /** Bing-maps quadkey digit string for slippy tile (x, y) at zoom z —
    * digit i (most-significant level first) = x-bit + 2·y-bit at level
    * z−1−i, so a tile's quadkey is a PREFIX of every descendant tile's:
    * the interoperable string form of the engine's Morton cell ids
    * (equals `CellIndex.quadKeyString(cell_id(lon, lat, z))`). The
    * reference's tiling stops at (z, x, y) tuples (Node.Tile,
    * `/root/reference/osm/Node.go:26-33`); the quadkey string is the
    * industry key form for tile stores. Builtin-composed per level (z is
    * a plan-time constant), so it rides whole-stage codegen — no UDF.
    */
  def quadkey(x: Column, y: Column, z: Int): Column = {
    require(z >= 1 && z <= 23, s"quadkey: z $z out of [1,23]")
    val digits = (z - 1 to 0 by -1).map { i =>
      (shiftrightunsigned(x, i).bitwiseAND(lit(1L)) +
        shiftrightunsigned(y, i).bitwiseAND(lit(1L)) * lit(2L)).cast("string")
    }
    concat(digits: _*)
  }

  /** Quadkey of the tile containing a point, at zoom z. */
  def quadkey_at(lon: Column, lat: Column, z: Int): Column =
    quadkey(tile_x(lon, z), tile_y(lat, z), z)

  /** Boundary-inclusive point-in-polygon against a closed
    * array<struct<lon,lat>> ring column.
    */
  def point_in_ring(lon: Column, lat: Column, ring: Column): Column =
    toCol(PointInRingExpr(toExpr(lon), toExpr(lat), toExpr(ring)))

  /** Hamming distance between two 64-bit hash columns. */
  def hamming64(a: Column, b: Column): Column =
    toCol(Hamming64Expr(toExpr(a), toExpr(b)))

  /** |a ∩ b| for two sorted, duplicate-free array<string> columns —
    * the packed exact-Jaccard verification kernel (codegen merge pass).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    toCol(SortedIntersectCountExpr(toExpr(a), toExpr(b)))

  /** Squared euclidean distance in degree space (kNN metric). */
  def sq_dist_deg(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    (lon1 - lon2) * (lon1 - lon2) + (lat1 - lat2) * (lat1 - lat2)

  /** GeoJSON LineString / Polygon geometry from an array<struct<lon,lat>>
    * (reference WayToFeature, /root/reference/osm/Planet.go:59-78 — closed
    * rings become Polygons, open ways LineStrings; closure test first==last,
    * the documented intent of the reference's off-by-one at Planet.go:67).
    */
  def geojson_way_geometry(ring: Column): Column = {
    val coords = transform(ring, p => array(p.getField("lon"), p.getField("lat")))
    val closed = element_at(ring, 1).getField("lon") === element_at(ring, -1).getField("lon") &&
      element_at(ring, 1).getField("lat") === element_at(ring, -1).getField("lat")
    when(closed,
      to_json(struct(lit("Polygon").as("type"), array(coords).as("coordinates"))))
      .otherwise(
        to_json(struct(lit("LineString").as("type"), coords.as("coordinates"))))
  }

  /** GeoJSON Feature with tag map as properties (reference S6/S8 sinks). */
  def geojson_feature(id: Column, lon: Column, lat: Column, tags: Column): Column =
    to_json(struct(
      lit("Feature").as("type"),
      id.as("id"),
      tags.as("properties"),
      struct(lit("Point").as("type"), array(lon, lat).as("coordinates")).as("geometry")))
}
