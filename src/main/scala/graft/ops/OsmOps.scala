package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's operator set (SURVEY.md §2) as declarative DataFrame
  * transforms — Catalyst handles pushdown, pruning, and codegen; nothing
  * here is hand-scheduled.
  */
object OsmOps {

  // ---- F2: tag-key projection (a projection on the map column, NOT a row
  //      filter — /root/reference/osm/PlanetResource.go:17-18) -------------

  def keepKeys(tags: Column, keys: Seq[String]): Column =
    map_filter(tags, (k, _) => k.isInCollection(keys))

  def dropKeys(tags: Column, keys: Seq[String]): Column =
    map_filter(tags, (k, _) => !k.isInCollection(keys))

  // ---- F3: key-existence row filter (KeepNode.go:23-47; keep/drop keys are
  //      mutually exclusive per cmd/osm/main.go:257-260) -------------------

  def hasAnyKey(tags: Column, keys: Seq[String]): Column =
    arrays_overlap(map_keys(tags), lit(keys.toArray))

  def filterKeepKeys(df: DataFrame, tagsCol: String, keys: Seq[String]): DataFrame =
    df.filter(hasAnyKey(col(tagsCol), keys))

  def filterDropKeys(df: DataFrame, tagsCol: String, keys: Seq[String]): DataFrame =
    df.filter(!hasAnyKey(col(tagsCol), keys))

  // ---- F1: attribute drop (Element.go:23-67, parse- and output-time) -----

  def dropAttrs(df: DataFrame, attrs: Seq[String]): DataFrame = df.drop(attrs: _*)

  // ---- F4: bbox extract (Filter.ContainsPoint Filter.go:65-70, with the
  //      lon/lat swap bug of Bounds.go:25 fixed) ---------------------------

  def bboxExtract(df: DataFrame, lonCol: String, latCol: String,
                  minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): DataFrame =
    df.filter(col(lonCol).between(minLon, maxLon) && col(latCol).between(minLat, maxLat))

  // ---- J1: way→node reference resolution (Planet.ConvertWayToNode
  //      :209-244) — THE join: refs exploded positionally, hash-joined to
  //      nodes, order restored by pos ---------------------------------------

  /** @param ways  (wayId, refs: array<long>, ...)
    * @param nodes (nodeId, lon, lat, ...)
    * @return one row per (way, position): wayId, pos, ref, lon, lat
    */
  def resolveWayRefs(ways: DataFrame, wayIdCol: String, refsCol: String,
                     nodes: DataFrame, nodeIdCol: String): DataFrame = {
    val exploded = ways.select(col(wayIdCol).as("way_id"),
      posexplode(col(refsCol)).as(Seq("pos", "ref")))
    exploded.join(nodes.withColumnRenamed(nodeIdCol, "ref"), Seq("ref"))
  }

  /** Assemble resolved refs into ordered vertex arrays (polyline/ring). */
  def assembleWays(resolved: DataFrame, lonCol: String = "lon", latCol: String = "lat"): DataFrame =
    resolved
      .groupBy(col("way_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("ref"),
        col(lonCol).as("lon"), col(latCol).as("lat"))))
        .as("verts"))
      .select(col("way_id"),
        transform(col("verts"), v => struct(v.getField("lon").as("lon"), v.getField("lat").as("lat")))
          .as("ring"),
        // ring-closure by NODE ID equality (the OSM definition of a closed
        // way, and what assembleRelationRings already uses) — coordinate
        // equality would mark a way closed when its distinct first/last
        // nodes merely COINCIDE (stacked nodes, common in imports)
        (element_at(col("verts"), 1).getField("ref") === element_at(col("verts"), -1).getField("ref"))
          .as("closed"))

  // ---- A1 + W1: ways→nodes centroid collapse with deterministic fresh ids
  //      (ConvertWayToNode :209-244; id sequencing MarshalPlanet.go:99-118 is
  //      iteration-order-dependent — we use dense_rank over way_id so ids are
  //      stable under any parallelism, required by the two-cluster-size
  //      equality check) ----------------------------------------------------

  def wayCentroids(resolved: DataFrame, maxId: Long): DataFrame = {
    val agg = resolved.groupBy(col("way_id"))
      .agg(avg(col("lon")).as("lon"), avg(col("lat")).as("lat"), count(lit(1)).as("n_refs"))
    sequentialIds(agg, "way_id", maxId, "new_id")
  }

  /** Deterministic sequential ids `offset+1, offset+2, …` in `orderCol`
    * order. Identical output at any parallelism — the scale-correct W1
    * (reference MarshalPlanet.go:99-118 is iteration-order-dependent; this
    * is not). Two physical plans with the same result:
    *
    *  - small inputs: `row_number` over a single-partition window (two
    *    narrow shuffles; cheapest below ~10M rows)
    *  - large inputs: range-repartition on the key + sortWithinPartitions +
    *    `zipWithIndex` — no single-partition stage anywhere, scales to
    *    10^12 rows
    *
    * The plan is picked by `df`'s row count against `windowThreshold`:
    * `maxRows`, a known upper bound on that count, stands in for it, and
    * so do the extreme thresholds; otherwise a count() pass pays for the
    * choice.
    */
  def sequentialIds(df: DataFrame, orderCol: String, offset: Long,
                    idName: String, windowThreshold: Long = 10_000_000L,
                    maxRows: Option[Long] = None): DataFrame = {
    val n = maxRows.getOrElse(
      if (windowThreshold == Long.MaxValue) 0L
      else if (windowThreshold <= 0L) Long.MaxValue
      else df.count())
    if (n <= windowThreshold) {
      df.withColumn(idName,
        lit(offset) + row_number().over(Window.orderBy(col(orderCol))).cast("long"))
    } else {
      val spark = df.sparkSession
      val sorted = df.repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
      val schema = org.apache.spark.sql.types.StructType(
        sorted.schema.fields :+
          org.apache.spark.sql.types.StructField(idName, org.apache.spark.sql.types.LongType, false))
      val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (offset + i + 1))
      }
      spark.createDataFrame(rdd, schema)
    }
  }

  // ---- J2: way-node retention semi-join (UnmarshalPlanet.go:139-177):
  //      nodes referenced by any kept way bypass the node filter -----------

  def retention(nodes: DataFrame, nodeIdCol: String, nodeKeep: Column,
                keptWayRefs: DataFrame, refCol: String): DataFrame = {
    val viaWays = nodes.join(
      keptWayRefs.select(col(refCol).as(nodeIdCol)).distinct(), Seq(nodeIdCol), "left_semi")
    nodes.filter(nodeKeep).unionByName(viaWays).dropDuplicates(nodeIdCol)
  }

  // ---- relation multipolygon assembly (engine addition: the reference
  //      models relation members — Relation.go — but never assembles their
  //      geometry; this is the standard OSM multipolygon stitching) --------

  /** Stitch relation members' ways into rings (OSM multipolygon
    * convention): per (relation, role), member polylines are joined
    * end-to-end on shared endpoint NODE IDS (exact, no float comparison),
    * reversing segments as needed; a ring closes when it returns to its
    * first vertex. Deterministic: segments are consumed in member order,
    * and extension always picks the lowest-position matching segment —
    * identical output at any parallelism. Stitching is per-relation
    * (relations are small; the group fits a task by construction).
    *
    * @param relations (relIdCol, members: array<struct<type,ref,role>>)
    * @param ways      (wayIdCol, refsCol: array<long>)
    * @param nodes     (nodeIdCol, lon, lat)
    * @return rel_id, role, ring_idx, ring: array<struct<lon,lat>>, closed
    */
  /** One stitched ring of [[assembleRelationRings]]. */
  case class StitchedRing(ring_idx: Int, ref_ring: Seq[Long], closed: Boolean)

  /** Per-(relation, role) segment stitcher: greedy endpoint matching with
    * reversal, exactly the procedural kernel the former flatMapGroups ran —
    * applied to the collected (member_pos, refs) segment list so the
    * surrounding aggregate controls its distribution (see call site).
    * Single-node members can't stitch but still carry data: they pass
    * through as their own degenerate open rings.
    */
  private val stitchSegsUdf = udf { segsRows: Seq[org.apache.spark.sql.Row] =>
    val segs = segsRows.sortBy(_.getInt(0))
      .map(_.getSeq[Long](1).toArray).filter(_.nonEmpty).toArray
    val used = new Array[Boolean](segs.length)
    val rings = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var start = 0
    while (start < segs.length) {
      if (!used(start)) {
        used(start) = true
        val ring = scala.collection.mutable.ArrayBuffer(segs(start): _*)
        var extended = true
        while (extended && ring.head != ring.last) {
          extended = false
          var j = 0
          while (j < segs.length && !extended) {
            if (!used(j)) {
              val s = segs(j)
              if (s.head == ring.last) { ring ++= s.drop(1); used(j) = true; extended = true }
              else if (s.last == ring.last) { ring ++= s.reverse.drop(1); used(j) = true; extended = true }
              else if (s.last == ring.head) { ring.prependAll(s.dropRight(1)); used(j) = true; extended = true }
              else if (s.head == ring.head) { ring.prependAll(s.reverse.dropRight(1)); used(j) = true; extended = true }
            }
            j += 1
          }
        }
        rings += ring.toArray
      }
      start += 1
    }
    rings.zipWithIndex.map { case (r, i) =>
      StitchedRing(i, r.toSeq, r.length >= 4 && r.head == r.last)
    }.toSeq
  }

  def assembleRelationRings(relations: DataFrame, relIdCol: String, membersCol: String,
                            ways: DataFrame, wayIdCol: String, refsCol: String,
                            nodes: DataFrame, nodeIdCol: String): DataFrame = {
    val spark = relations.sparkSession

    // refs cast to bigint up front: the former typed-Dataset decode
    // inserted an analyzer upcast that the stitch UDF's getSeq[Long] does
    // not — the cast keeps array<int> ref columns working for callers
    val memberWays = relations
      .select(col(relIdCol).as("rel_id"),
        posexplode(col(membersCol)).as(Seq("member_pos", "m")))
      .filter(col("m.type") === "way")
      .select(col("rel_id"), col("member_pos"),
        coalesce(col("m.role"), lit("")).as("role"), col("m.ref").as("way_id"))
      .join(ways.select(col(wayIdCol).as("way_id"),
        col(refsCol).cast("array<bigint>").as("refs")), Seq("way_id"))

    // stitch on node-id sequences per (relation, role). Shape: explicit
    // repartition on the group key + collect_list + a per-group stitch UDF
    // over the collected segments — NOT a groupByKey/flatMapGroups: its
    // required distribution is on lambda-derived key attributes that no
    // explicit repartition can pre-satisfy, so AQE's byte-based coalescing
    // squeezed the compute-heavy, byte-light stitch stage onto 1-3 tasks
    // (the relation groups are skinny arrays but each costs O(segs²)
    // stitching — the same blind spot as every other explicit-repartition
    // site here). The explicit clustering satisfies the aggregate, so the
    // stitch runs at cluster width with no extra exchange.
    val nPart = graft.dedup.Dedup.clusterWidth(spark)
    val stitched = memberWays
      .select(col("rel_id"), col("role"), col("member_pos"), col("refs"))
      .repartition(nPart, col("rel_id"), col("role"))
      .groupBy(col("rel_id"), col("role"))
      .agg(collect_list(struct(col("member_pos"), col("refs"))).as("__segs"))
      .select(col("rel_id"), col("role"),
        explode(stitchSegsUdf(col("__segs"))).as("sr"))
      .select(col("rel_id"), col("role"),
        col("sr.ring_idx").as("ring_idx"), col("sr.ref_ring").as("ref_ring"),
        col("sr.closed").as("closed"))

    // resolve ring node ids to coordinates, order restored by position
    val exploded = stitched
      .select(col("rel_id"), col("role"), col("ring_idx"), col("closed"),
        posexplode(col("ref_ring")).as(Seq("pos", "ref")))
      .join(nodes.select(col(nodeIdCol).as("ref"), col("lon"), col("lat")), Seq("ref"))
    exploded
      .groupBy(col("rel_id"), col("role"), col("ring_idx"), col("closed"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("lon").as("lon"), col("lat").as("lat")))),
        v => struct(v.getField("lon").as("lon"), v.getField("lat").as("lat"))).as("ring"))
      .select(col("rel_id"), col("role"), col("ring_idx"), col("ring"), col("closed"))
  }

  /** Twice the (unsigned) shoelace area of a closed ring column
    * (array<struct<lon,lat>> with first == last) — the codegen'd
    * [[graft.expr.RingShoelace2Expr]], bit-identical double summation to
    * the aggregate/sequence fold it replaced (which allocated the index
    * array per ring and, like every higher-order function, ran
    * interpreted; equality incl. float rounding order is spec-pinned).
    */
  def ringArea2(ring: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
    abs(toCol(graft.expr.RingShoelace2Expr(toExpr(ring))))
  }

  /** GeoJSON MultiPolygon per relation from [[assembleRelationRings]]
    * output: closed outer rings become polygons; each closed inner ring is
    * assigned to its INNERMOST containing outer — the smallest-area outer
    * whose interior holds the inner's first vertex (codegen point-in-ring),
    * so island-in-lake-in-island nestings attach the hole to the island,
    * not the outermost shell; ring_idx breaks exact-area ties
    * deterministically. Open rings and orphan inners are dropped — GeoJSON
    * has no representation for them. Output: rel_id, geometry
    * (MultiPolygon JSON string, polygons in outer-ring order).
    */
  def relationMultiPolygon(rings: DataFrame): DataFrame = {
    import graft.functions.GeoFunctions
    def coordsOf(ring: Column): Column =
      transform(ring, p => array(p.getField("lon"), p.getField("lat")))
    val closedR = rings.filter(col("closed"))
    val outers = closedR.filter(col("role") === "outer")
      .select(col("rel_id"), col("ring_idx").as("o_idx"), col("ring").as("o_ring"))
    val inners = closedR.filter(col("role") === "inner")
      .select(col("rel_id"), col("ring_idx").as("i_idx"), col("ring").as("i_ring"))
    val contained = inners.join(outers, Seq("rel_id"))
      .filter(GeoFunctions.point_in_ring(
        element_at(col("i_ring"), 1).getField("lon"),
        element_at(col("i_ring"), 1).getField("lat"), col("o_ring")))
    val w = Window.partitionBy(col("rel_id"), col("i_idx"))
      .orderBy(ringArea2(col("o_ring")), col("o_idx"))
    val assigned = contained
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("rel_id"), col("o_idx"), col("i_idx"), col("i_ring"))
    val polys = outers.join(assigned, Seq("rel_id", "o_idx"), "left")
      .groupBy(col("rel_id"), col("o_idx"))
      .agg(first(col("o_ring")).as("o_ring"),
        array_sort(collect_list(when(col("i_idx").isNotNull,
          struct(col("i_idx"), coordsOf(col("i_ring")).as("c"))))).as("__is"))
      .select(col("rel_id"), col("o_idx"),
        concat(array(coordsOf(col("o_ring"))),
          transform(col("__is"), s => s.getField("c"))).as("poly"))
    polys.groupBy(col("rel_id"))
      .agg(array_sort(collect_list(struct(col("o_idx"), col("poly")))).as("__ps"))
      .select(col("rel_id"),
        to_json(struct(lit("MultiPolygon").as("type"),
          transform(col("__ps"), s => s.getField("poly")).as("coordinates"))).as("geometry"))
  }

  // ---- J4: duplicate-id anti-check on multi-input union (AddNode
  //      Planet.go:158-173 — reference fails fast on duplicate ids) --------

  /** Single-pass: the duplicate check RIDES the consuming plan instead of
    * running as an eager extra action — a `count(1) over (partition by id)`
    * window column guarded by a raise-on-duplicate conditional inside a
    * filter (a projection would be pruned away; a filter survives). Each
    * input is scanned exactly once (asserted in PlanSpec); the fail-fast
    * fires on the first action that reads the union, wrapped in Spark's
    * task-failure exception. Single-input unions skip the check (nothing
    * to collide with).
    */
  def unionWithDupCheck(dfs: Seq[DataFrame], idCol: String): DataFrame = {
    val u = dfs.reduce(_.unionByName(_))
    if (dfs.lengthCompare(1) <= 0) return u
    u.withColumn("__dup_n", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(when(col("__dup_n") === 1, lit(true)).otherwise(raise_error(
        concat(lit("duplicate id on union: "), col(idCol).cast("string")))))
      .drop("__dup_n")
  }

  // ---- A2: summarize (Planet.Summarize:497-520) — one multi-aggregate
  //      pass; per-key counts via exploded map keys -------------------------

  /** Dataset profile: row count + distinct users + recomputed bounds (the
    * reference trusts the input header — Summary.go:9; we recompute
    * honestly, SURVEY A5). Distinct tag keys / key=value pairs are the
    * separate [[tagCardinality]] — the two ride different scans.
    */
  def summarize(df: DataFrame, uidCol: String,
                lonCol: String, latCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col(uidCol)).as("n_users"),
      min(col(lonCol)).as("min_lon"), min(col(latCol)).as("min_lat"),
      max(col(lonCol)).as("max_lon"), max(col(latCol)).as("max_lat"))

  /** Per-key / per-value counts (Summary per-key {node,way,relation} counts,
    * Summary.go:25-39).
    */
  def tagCounts(df: DataFrame, tagsCol: String): DataFrame =
    df.select(explode(col(tagsCol)).as(Seq("key", "value")))
      .groupBy(col("key"), col("value")).agg(count(lit(1)).as("n"))

  /** Per-key {node, way, relation} counts — the reference's Summary
    * CountsByKey shape (Planet.Summarize, Planet.go:497-520 /
    * Summary.go:25-39, where CountNodes/CountWays/CountRelations each
    * re-scan the planet per key): ONE pass over the unioned tag maps with
    * an element_type discriminator and a conditional aggregate per class —
    * map-side partial aggregation, no per-class or per-key re-scan.
    *
    * @param keys keys to profile (reference passes an explicit list);
    *             empty = every key in the planet
    */
  def summarizeByKey(nodes: DataFrame, ways: DataFrame, relations: DataFrame,
                     keys: Seq[String] = Nil, tagsCol: String = "tags"): DataFrame = {
    val u = nodes.select(lit("node").as("et"), col(tagsCol).as("tags"))
      .unionByName(ways.select(lit("way").as("et"), col(tagsCol).as("tags")))
      .unionByName(relations.select(lit("relation").as("et"), col(tagsCol).as("tags")))
    val k = u.select(col("et"), explode(map_keys(col("tags"))).as("key"))
    val kf = if (keys.isEmpty) k else k.filter(col("key").isin(keys: _*))
    kf.groupBy(col("key")).agg(
      count(when(col("et") === "node", 1)).as("n_nodes"),
      count(when(col("et") === "way", 1)).as("n_ways"),
      count(when(col("et") === "relation", 1)).as("n_relations"))
  }

  /** Distinct key and key=value cardinalities (TagsCache capability,
    * TagsCache.go:10-33; `approx_count_distinct` is the 10^12-scale variant).
    */
  def tagCardinality(df: DataFrame, tagsCol: String, approx: Boolean = false): DataFrame = {
    val kv = df.select(explode(col(tagsCol)).as(Seq("key", "value")))
    if (approx)
      // same quantity as the exact path, only the counting is approximate:
      // countDistinct(key, value) skips null values, so filter them here
      // too, and the pair is joined on NUL (cannot occur in an XML
      // attribute) — an '=' delimiter would collide ("a=b","c") with
      // ("a","b=c") and estimate a DIFFERENT quantity
      kv.agg(approx_count_distinct(col("key")).as("n_keys"),
        approx_count_distinct(when(col("value").isNotNull,
          concat_ws("\u0000", col("key"), col("value")))).as("n_tags"))
    else
      kv.agg(countDistinct(col("key")).as("n_keys"),
        countDistinct(col("key"), col("value")).as("n_tags"))
  }

  // ---- A3/A5: max-id and honest bounds ------------------------------------

  def maxId(df: DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).collect()(0) match {
      case r if r.isNullAt(0) => 0L // empty input: max() is NULL
      case r => r.getLong(0)
    }

  def bounds(df: DataFrame, lonCol: String, latCol: String): DataFrame =
    df.agg(min(col(lonCol)).as("min_lon"), min(col(latCol)).as("min_lat"),
      max(col(lonCol)).as("max_lon"), max(col(latCol)).as("max_lat"))
}
