package graft

import org.apache.spark.sql.functions._
import graft.ops.OsmOps
import graft.tiles.Tiles
import graft.index.CellIndex

/** OSM operator semantics: retention bypass truth table (J2), duplicate-id
  * union check (J4), tag algebra (F2/F3), way assembly + centroid (J1/A1),
  * tile cover vs direct formula (G6).
  */
class OsmOpsSpec extends SparkSpecBase {

  import spark.implicits._

  test("retention semi-join: way-referenced nodes bypass the node filter (J2)") {
    val nodes = Seq((1L, 10.0), (2L, 60.0), (3L, 10.0), (4L, 60.0))
      .toDF("id", "qty")
    // kept ways reference nodes 1 and 2; node filter keeps qty > 50
    val keptRefs = Seq(1L, 2L).toDF("ref")
    val out = OsmOps.retention(nodes, "id", col("qty") > 50, keptRefs, "ref")
      .select("id").collect().map(_.getLong(0)).toSet
    // 1: via way (fails filter), 2: both, 4: filter only, 3: dropped
    assert(out === Set(1L, 2L, 4L))
  }

  test("union duplicate-id check fails fast (J4)") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    assert(OsmOps.unionWithDupCheck(Seq(a, b), "id").count() === 3)
    val dup = Seq((2L, "w")).toDF("id", "v")
    // the check rides the consumer: CONSTRUCTION is action-free, the
    // raise-on-duplicate fires on the first action that reads the union
    val lazyUnion = OsmOps.unionWithDupCheck(Seq(a, dup), "id")
    val e = intercept[Exception](lazyUnion.count())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("duplicate id on union: 2")),
      messages(e).mkString(" | "))
  }

  test("tag keep/drop projection and key-existence filters (F2/F3)") {
    val df = Seq(
      (1L, Map("craft" -> "brewery", "name" -> "n1")),
      (2L, Map("shop" -> "bakery")),
      (3L, Map[String, String]())).toDF("id", "tags")
    val kept = df.select(col("id"), OsmOps.keepKeys(col("tags"), Seq("craft")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getMap[String, String](1).size).toMap
    assert(kept === Map(1L -> 1, 2L -> 0, 3L -> 0))
    val dropped = df.select(OsmOps.dropKeys(col("tags"), Seq("craft")).as("t"))
      .collect().map(_.getMap[String, String](0).keySet)
    assert(dropped(0).toString.contains("name"))
    assert(OsmOps.filterKeepKeys(df, "tags", Seq("craft", "shop")).count() === 2)
    assert(OsmOps.filterDropKeys(df, "tags", Seq("craft")).count() === 2)
  }

  test("way assembly preserves ref order and detects ring closure (J1/X7)") {
    val ways = Seq((10L, Seq(3L, 1L, 2L, 3L)), (11L, Seq(1L, 2L))).toDF("way_id", "refs")
    val nodes = Seq((1L, 0.0, 0.0), (2L, 1.0, 0.0), (3L, 1.0, 1.0)).toDF("node_id", "lon", "lat")
    val asm = OsmOps.assembleWays(
      OsmOps.resolveWayRefs(ways, "way_id", "refs", nodes, "node_id"))
    val rows = asm.collect().map(r => r.getLong(0) ->
      (r.getSeq[org.apache.spark.sql.Row](1).map(v => (v.getDouble(0), v.getDouble(1))),
        r.getBoolean(2))).toMap
    assert(rows(10L)._1 === Seq((1.0, 1.0), (0.0, 0.0), (1.0, 0.0), (1.0, 1.0)))
    assert(rows(10L)._2 === true, "closed ring")
    assert(rows(11L)._2 === false, "open way")
  }

  test("dangling way refs drop out of the join (reference errors; we surface via anti-join)") {
    val ways = Seq((10L, Seq(1L, 99L))).toDF("way_id", "refs")
    val nodes = Seq((1L, 0.0, 0.0)).toDF("node_id", "lon", "lat")
    val resolved = OsmOps.resolveWayRefs(ways, "way_id", "refs", nodes, "node_id")
    assert(resolved.count() === 1)
    // dangling detection = exploded refs anti-join nodes
    val dangling = ways.select(col("way_id"), explode(col("refs")).as("ref"))
      .join(nodes.withColumnRenamed("node_id", "ref"), Seq("ref"), "left_anti")
    assert(dangling.collect().map(_.getLong(0)).toSeq === Seq(99L))
  }

  test("way centroid = mean of resolved vertices; fresh ids deterministic (A1/W1)") {
    val ways = Seq((10L, Seq(1L, 2L)), (20L, Seq(2L, 3L))).toDF("way_id", "refs")
    val nodes = Seq((1L, 0.0, 0.0), (2L, 2.0, 2.0), (3L, 4.0, 0.0)).toDF("node_id", "lon", "lat")
    val cents = OsmOps.wayCentroids(
      OsmOps.resolveWayRefs(ways, "way_id", "refs", nodes, "node_id"), maxId = 100L)
      .collect().map(r => r.getAs[Long]("way_id") ->
        (r.getAs[Double]("lon"), r.getAs[Double]("lat"), r.getAs[Long]("new_id"))).toMap
    assert(cents(10L) === ((1.0, 1.0, 101L)))
    assert(cents(20L) === ((3.0, 1.0, 102L)))
  }

  test("sequentialIds: window and zipWithIndex plans produce identical ids (W1)") {
    val df = spark.range(1, 5001).toDF("k")
      .withColumn("k", (col("k") * 7919L) % 104729L) // scrambled, unique
    val viaWindow = OsmOps.sequentialIds(df, "k", 100L, "id", windowThreshold = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaZip = OsmOps.sequentialIds(df, "k", 100L, "id", windowThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a known row bound picks the plan in place of a count(): below the
    // threshold the window plan, above it the zipWithIndex plan
    def viaBound(threshold: Long) =
      OsmOps.sequentialIds(df, "k", 100L, "id", windowThreshold = threshold, maxRows = Some(5000L))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaWindow === viaZip)
    assert(viaBound(10_000L) === viaWindow)
    assert(viaBound(1_000L) === viaWindow)
    assert(viaWindow.size === 5000)
    // ids are a dense sequence starting at offset+1
    assert(viaWindow.map(_._2).min === 101L)
    assert(viaWindow.map(_._2).max === 5100L)
  }

  test("tagCardinality exact and approx (A2 TagsCache capability)") {
    val df = Seq(
      (1L, Map("a" -> "1", "b" -> "2")),
      (2L, Map("a" -> "1", "b" -> "3"))).toDF("id", "tags")
    val exact = OsmOps.tagCardinality(df, "tags").collect()(0)
    assert(exact.getLong(0) === 2L) // keys a, b
    assert(exact.getLong(1) === 3L) // a=1, b=2, b=3
    val approx = OsmOps.tagCardinality(df, "tags", approx = true).collect()(0)
    assert(approx.getLong(0) >= 1L && approx.getLong(1) >= 2L)
  }

  test("tile cover equals direct per-tile formula enumeration (G6)") {
    val df = Seq((1L, -77.03, 38.89), (2L, 179.99, 84.9)).toDF("id", "lon", "lat")
    val got = Tiles.coverFootprint(df, "lon", "lat", lit(0.3), lit(0.2), 8)
      .select("id", "tile_x", "tile_y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = df.collect().flatMap { r =>
      val (id, lon, lat) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      val x0 = CellIndex.tileX(lon - 0.3, 8); val x1 = CellIndex.tileX(lon + 0.3, 8)
      val y0 = CellIndex.tileY(lat + 0.2, 8); val y1 = CellIndex.tileY(lat - 0.2, 8)
      for (x <- x0 to x1; y <- y0 to y1) yield (id, x, y)
    }.toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("relation multipolygon assembly: stitching, reversal, inners, open chains") {
    val nodes = (1L to 10L).map(i => (i, i * 1.0, i * 0.5)).toDF("node_id", "lon", "lat")
    val ways = Seq(
      (100L, Seq(1L, 2L, 3L)),       // outer half A
      (101L, Seq(1L, 4L, 3L)),       // outer half B, REVERSED direction
      (102L, Seq(5L, 6L, 7L, 5L)),   // inner: already-closed ring
      (103L, Seq(8L, 9L)),           // open chain part 1
      (104L, Seq(9L, 10L))           // open chain part 2
    ).toDF("way_id", "refs")
    def m(ref: Long, role: String) = (("way", ref, role))
    val rels = Seq(
      (500L, Seq(m(100L, "outer"), m(101L, "outer"), m(102L, "inner"))),
      (501L, Seq(m(103L, "outer"), m(104L, "outer")))
    ).toDF("rel_id", "members")
      .withColumn("members", col("members").cast(
        "array<struct<type:string,ref:bigint,role:string>>"))

    val rings = OsmOps.assembleRelationRings(rels, "rel_id", "members",
      ways, "way_id", "refs", nodes, "node_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getSeq[org.apache.spark.sql.Row](3).map(v => (v.getDouble(0), v.getDouble(1))),
        r.getBoolean(4)))

    def coords(ids: Long*): Seq[(Double, Double)] = ids.map(i => (i * 1.0, i * 0.5))
    val outer = rings.find(r => r._1 == 500L && r._2 == "outer").get
    assert(outer._5, "outer ring must close")
    assert(outer._4 === coords(1L, 2L, 3L, 4L, 1L), "stitched with reversal")
    val inner = rings.find(r => r._1 == 500L && r._2 == "inner").get
    assert(inner._5 && inner._4 === coords(5L, 6L, 7L, 5L))
    val open = rings.find(_._1 == 501L).get
    assert(!open._5, "dangling chain must be flagged open")
    assert(open._4 === coords(8L, 9L, 10L))
    assert(rings.count(_._1 == 500L) === 2)
  }

  test("relationMultiPolygon: inner assignment by containment, JSON golden") {
    // rel 900: unit-square-ish outer (0..4) with a hole (1..2), plus a
    // second outer (10..12) with no hole; an orphan inner far away drops
    def ring(pts: (Double, Double)*) = pts.map { case (x, y) => (x, y) }
    val rows = Seq(
      (900L, "outer", 0, ring((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)), true),
      (900L, "inner", 1, ring((1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)), true),
      (900L, "outer", 2, ring((10.0, 10.0), (12.0, 10.0), (12.0, 12.0), (10.0, 12.0), (10.0, 10.0)), true),
      (900L, "inner", 3, ring((50.0, 50.0), (51.0, 50.0), (51.0, 51.0), (50.0, 51.0), (50.0, 50.0)), true),
      (900L, "outer", 4, ring((20.0, 20.0), (21.0, 20.0)), false) // open: dropped
    ).toDF("rel_id", "role", "ring_idx", "ring0", "closed")
      .withColumn("ring", org.apache.spark.sql.functions.transform(col("ring0"),
        p => org.apache.spark.sql.functions.struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))))
      .drop("ring0")
    val got = OsmOps.relationMultiPolygon(rows)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected =
      """{"type":"MultiPolygon","coordinates":[""" +
        """[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,4.0],[0.0,0.0]],""" +
        """[[1.0,1.0],[2.0,1.0],[2.0,2.0],[1.0,2.0],[1.0,1.0]]],""" +
        """[[[10.0,10.0],[12.0,10.0],[12.0,12.0],[10.0,12.0],[10.0,10.0]]]]}"""
    assert(got(900L) === expected)
  }

  test("relationMultiPolygon: nested outers — hole attaches to the innermost outer") {
    // island-in-lake-in-island: shell square (0..10) with lake hole (2..8),
    // island square (3..7) inside the lake with pond hole (4..6). The pond
    // is contained by BOTH outers; it must attach to the island (smallest
    // containing area), never the shell (which lowest-ring_idx would pick).
    def sq(a: Double, b: Double) =
      Seq((a, a), (b, a), (b, b), (a, b), (a, a))
    val rows = Seq(
      (7L, "outer", 0, sq(0.0, 10.0), true),
      (7L, "inner", 1, sq(2.0, 8.0), true),
      (7L, "outer", 2, sq(3.0, 7.0), true),
      (7L, "inner", 3, sq(4.0, 6.0), true)
    ).toDF("rel_id", "role", "ring_idx", "ring0", "closed")
      .withColumn("ring", org.apache.spark.sql.functions.transform(col("ring0"),
        p => org.apache.spark.sql.functions.struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))))
      .drop("ring0")
    val got = OsmOps.relationMultiPolygon(rows)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def js(pts: Seq[(Double, Double)]) =
      pts.map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    val expected =
      """{"type":"MultiPolygon","coordinates":[""" +
        s"[${js(sq(0.0, 10.0))},${js(sq(2.0, 8.0))}]," +
        s"[${js(sq(3.0, 7.0))},${js(sq(4.0, 6.0))}]]}"
    assert(got(7L) === expected)
  }

  test("summarizeByKey: per-key node/way/relation counts in one pass (A2)") {
    // the reference's Summarize golden-profile shape (Summary.go:25-39):
    // CountsByKey[key] = {nodes, ways, relations}
    val planet = graft.geo.OsmFixtures.planet(spark, 120, 30, 8)
    def expect(df: org.apache.spark.sql.DataFrame, tagsIdx: Int, key: String): Long =
      df.collect().count(_.getMap[String, String](tagsIdx).contains(key)).toLong
    val keys = Seq("amenity", "craft", "building")
    val res = OsmOps.summarizeByKey(planet.nodes, planet.ways, planet.relations, keys)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the result must hold EXACTLY the requested keys that occur at least
    // once — `keys.filter(res.contains)` would silently skip a key the
    // implementation dropped, instead of failing on it
    val expectedKeys = keys.filter(k => expect(planet.nodes, 8, k) +
      expect(planet.ways, 7, k) + expect(planet.relations, 7, k) > 0).toSet
    assert(res.keySet === expectedKeys, s"keys present: ${res.keySet}")
    expectedKeys.foreach { k =>
      assert(res(k)._1 === expect(planet.nodes, 8, k), s"nodes[$k]")
      assert(res(k)._2 === expect(planet.ways, 7, k), s"ways[$k]")
      assert(res(k)._3 === expect(planet.relations, 7, k), s"relations[$k]")
    }
    assert(res.nonEmpty && res.values.exists(v => v._1 > 0 && v._2 > 0))
    // keys = Nil profiles every key
    val all = OsmOps.summarizeByKey(planet.nodes, planet.ways, planet.relations)
    val allKeys = all.select("key").collect().map(_.getString(0)).toSet
    val everyKey = (planet.nodes.select(explode(map_keys(col("tags")))).collect() ++
      planet.ways.select(explode(map_keys(col("tags")))).collect() ++
      planet.relations.select(explode(map_keys(col("tags")))).collect())
      .map(_.getString(0)).toSet
    assert(allKeys === everyKey)
  }
}
