package graft.geo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.io.ParquetTable

/** Deterministic geo views derived from the driver's testdata tables.
  *
  * The geospatial engine needs point and polygon inputs; the driver provides
  * only TPC-H-ish tables plus a DuckDB oracle that runs on those same
  * tables. So each geo table is *derived* with pure integer arithmetic that
  * is bit-identical in Spark and DuckDB (integer multiply/mod, then one
  * double division) — every query over these views is exactly checkable.
  *
  * - `points`  — one geotagged record per lineitem row (the Node analogue,
  *   `/root/reference/osm/Node.go:12-16`); `way_id` groups points into
  *   "ways" (orders) with `pos` ordering (`/root/reference/osm/Way.go:17-24`).
  * - `rects`   — one rectangular boundary polygon per part row (the
  *   ways-assembled-to-polygon analogue, closed ring first==last per
  *   `/root/reference/osm/Planet.go:67` intent).
  *
  * Coordinates live on a 1/1000-degree integer grid: `(k % range) / 1000.0
  * - offset`. Both engines perform the identical IEEE ops, so doubles are
  * bit-equal and even boundary-inclusive point-on-edge comparisons agree.
  */
object GeoTables {

  /** Cell-join resolution: rectangles are ≤ ~4.1° wide, z=7 cells are 2.8125°,
    * so a polygon covers ≤ 9 cells (usually ≤ 4).
    */
  val JoinZ = 7

  val LonMul = 2654435761L // Knuth multiplicative-hash constants
  val LatMul = 2246822519L

  // ---- points -------------------------------------------------------------

  def points(spark: SparkSession, dir: String): DataFrame = {
    // Scale-adaptive parallelism floor: a small lineitem file arrives as a
    // handful of row-group splits, and the groupBy's scan + aggregation map
    // stage inherits that parallelism — serialized on 3 of 32 cores, it was
    // the single largest stage of every pts-derived query. An EXPLICIT hash
    // repartition on the group keys (not a round-robin spread: keyless
    // repartition pays a local sort of the input for retry determinism,
    // guide §2.5 — measured as a real regression on the cheap pts queries)
    // satisfies the aggregate's required distribution, so the plan keeps
    // ONE exchange and the aggregate runs complete-mode at cluster width
    // (the bandedPairs/dedupDistinct precedent). Conditional on a few-split
    // scan, so on real many-split inputs this is the identity and the
    // normal partial-agg plan stands.
    val li0 = ParquetTable.read(spark, s"$dir/lineitem.parquet")
    val li = if (li0.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
      li0.repartition(Dedup.clusterWidth(spark), li0("l_orderkey"), li0("l_linenumber"))
    else li0
    // lineitem has duplicate (orderkey, linenumber) pairs — group to get a
    // unique point key with deterministic (order-insensitive) aggregates
    val g = li.groupBy(li("l_orderkey").as("way_id"), li("l_linenumber").as("pos"))
      .agg(max(li("l_quantity")).as("quantity"),
        min(li("l_returnflag")).as("tag_flag"),
        min(li("l_linestatus")).as("tag_status"))
    val pid = g("way_id") * lit(10L) + g("pos")
    // reduce pid mod the grid BEFORE the hash multiply: value-identical to
    // pmod(pid * Mul, grid) by modular arithmetic, but the intermediate
    // stays ≤ 360000·LonMul ≈ 9.6e14 (< 2^63) for ANY int64 pid — the raw
    // product overflowed past pid ≈ 3.5e9 (Spark ANSI throws, DuckDB
    // errors out-of-range), i.e. at exactly the 10^12-row scale the
    // engine targets. Same pattern as Corpus.mixHash.
    val lonM = pmod(pmod(pid, lit(360000L)) * lit(LonMul), lit(360000L))
    val latM = pmod(pmod(pid, lit(170000L)) * lit(LatMul), lit(170000L))
    g.select(
      pid.as("point_id"),
      g("way_id"),
      g("pos"),
      lonM.as("lon_milli"),
      latM.as("lat_milli"),
      (lonM / lit(1000.0) - lit(180.0)).as("lon"),
      (latM / lit(1000.0) - lit(85.0)).as("lat"),
      g("tag_flag"),
      g("tag_status"),
      g("quantity"))
  }

  /** DuckDB CTE body equivalent to [[points]]. */
  val pointsSql: String =
    """SELECT way_id * 10 + pos AS point_id,
      |       way_id,
      |       pos,
      |       ((way_id * 10 + pos) % 360000) * 2654435761 % 360000 AS lon_milli,
      |       ((way_id * 10 + pos) % 170000) * 2246822519 % 170000 AS lat_milli,
      |       (((way_id * 10 + pos) % 360000) * 2654435761 % 360000) / 1000.0 - 180.0 AS lon,
      |       (((way_id * 10 + pos) % 170000) * 2246822519 % 170000) / 1000.0 - 85.0 AS lat,
      |       tag_flag,
      |       tag_status,
      |       quantity
      |FROM (
      |  SELECT l_orderkey AS way_id, l_linenumber AS pos,
      |         MAX(l_quantity) AS quantity,
      |         MIN(l_returnflag) AS tag_flag,
      |         MIN(l_linestatus) AS tag_status
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  // ---- rectangles (boundary polygons) --------------------------------------

  def rects(spark: SparkSession, dir: String): DataFrame = {
    val pt = ParquetTable.read(spark, s"$dir/part.parquet")
    val k = pt("p_partkey")
    // mod-before-multiply, like points: overflow-free for any int64 key
    val cLon = pmod(pmod(k, lit(320000L)) * lit(40503L), lit(320000L))   // center milli
    val cLat = pmod(pmod(k, lit(150000L)) * lit(29251L), lit(150000L))   // center milli
    val hw = lit(50L) + pmod(pmod(k, lit(2000L)) * lit(7919L), lit(2000L)) // half-width milli
    val hh = lit(50L) + pmod(pmod(k, lit(2000L)) * lit(104729L), lit(2000L))
    def lonOf(m: org.apache.spark.sql.Column) = m / lit(1000.0) - lit(165.0)
    def latOf(m: org.apache.spark.sql.Column) = m / lit(1000.0) - lit(80.0)
    val w = pt.select(
      k.as("polygon_id"),
      (cLon - hw).as("lo_lon_m"), (cLon + hw).as("hi_lon_m"),
      (cLat - hh).as("lo_lat_m"), (cLat + hh).as("hi_lat_m"),
      cLon.as("c_lon_m"), cLat.as("c_lat_m"),
      pt("p_brand").as("tag_brand"))
    w.select(
      w("polygon_id"),
      lonOf(w("lo_lon_m")).as("min_lon"), latOf(w("lo_lat_m")).as("min_lat"),
      lonOf(w("hi_lon_m")).as("max_lon"), latOf(w("hi_lat_m")).as("max_lat"),
      lonOf(w("c_lon_m")).as("center_lon"), latOf(w("c_lat_m")).as("center_lat"),
      array(
        struct(lonOf(w("lo_lon_m")).as("lon"), latOf(w("lo_lat_m")).as("lat")),
        struct(lonOf(w("hi_lon_m")).as("lon"), latOf(w("lo_lat_m")).as("lat")),
        struct(lonOf(w("hi_lon_m")).as("lon"), latOf(w("hi_lat_m")).as("lat")),
        struct(lonOf(w("lo_lon_m")).as("lon"), latOf(w("hi_lat_m")).as("lat")),
        struct(lonOf(w("lo_lon_m")).as("lon"), latOf(w("lo_lat_m")).as("lat"))
      ).as("ring"),
      w("tag_brand"))
  }

  /** DuckDB CTE body equivalent to [[rects]] (bbox form; the oracle checks
    * containment with BETWEEN, valid because fixtures are axis-aligned).
    */
  val rectsSql: String =
    """SELECT p_partkey AS polygon_id,
      |       ((p_partkey % 320000) * 40503 % 320000 - (50 + (p_partkey % 2000) * 7919 % 2000)) / 1000.0 - 165.0 AS min_lon,
      |       ((p_partkey % 150000) * 29251 % 150000 - (50 + (p_partkey % 2000) * 104729 % 2000)) / 1000.0 - 80.0 AS min_lat,
      |       ((p_partkey % 320000) * 40503 % 320000 + (50 + (p_partkey % 2000) * 7919 % 2000)) / 1000.0 - 165.0 AS max_lon,
      |       ((p_partkey % 150000) * 29251 % 150000 + (50 + (p_partkey % 2000) * 104729 % 2000)) / 1000.0 - 80.0 AS max_lat,
      |       ((p_partkey % 320000) * 40503 % 320000) / 1000.0 - 165.0 AS center_lon,
      |       ((p_partkey % 150000) * 29251 % 150000) / 1000.0 - 80.0 AS center_lat,
      |       p_brand AS tag_brand
      |FROM part""".stripMargin
}
