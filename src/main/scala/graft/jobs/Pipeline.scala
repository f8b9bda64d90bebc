package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.OsmXml
import graft.ops.OsmOps

/** R3 — the reference's main execution shape: ONE shared ingest feeding N
  * concurrent outputs (`/root/reference/cmd/osm/main.go:716-890`), with
  * output-level requirements conjoined and pushed into the input scan the
  * way `Config.Init` does (`/root/reference/osm/Config.go:100-267`):
  *
  *  - an element class is dropped at ingest only if every output drops it;
  *  - an attribute (version/timestamp/changeset/uid/user) is dropped at
  *    ingest only if every output drops it;
  *  - tag keep-keys push down as the UNION of output keep sets, but only
  *    when every output declares one (else the scan keeps all);
  *  - tag drop-keys push down as the INTERSECTION of output drop sets;
  *  - ways→nodes conversion runs once, shared, when every output wants it.
  *
  * (The reference's `drop_ways` conjunction at Config.go:100-122 can never
  * re-set true from the output loop once an input keeps ways — we implement
  * the documented intent: dropped everywhere ⇔ all inputs drop OR all
  * outputs drop.)
  *
  * The post-ingest frames are `persist()`ed and every output write runs
  * concurrently against them (Spark's FIFO scheduler interleaves the
  * actions), mirroring the reference's parallel writer goroutines.
  *
  * J3 — usernames are normalized at ingest into a (uid → name) dimension
  * (reference `UnmarshalPlanet.go:75-80` keeps one name per uid in
  * `p.UserNames`) and broadcast-rejoined at output time
  * (`MarshalNode.go:33`); element frames carry only `uid`.
  */
object Pipeline {

  /** Composite row filter (reference Filter: KeepNode.go:11-58) —
    * keep-keys row test, drop-keys row test, bbox containment, DFL
    * expression over tags plus the version/timestamp/uid/user attributes.
    */
  case class FilterSpec(
      keepKeys: Seq[String] = Nil,
      dropKeys: Seq[String] = Nil,
      bbox: Option[(Double, Double, Double, Double)] = None,
      dfl: Option[String] = None)

  case class InputSpec(
      uri: String,
      filter: Option[FilterSpec] = None,
      /** Carried for reference parity but NOT consulted at read: the
        * reference's InputConfig.DropNodes is a dead field — neither
        * Config.Init (DropAllNodes loops over outputs only,
        * Config.go:100-106) nor UnmarshalPlanet ever reads it, so nodes
        * are always ingested regardless of this flag. The CLI's
        * -config_uri + -input_uri override still records it
        * (main.go:319 passes drop_nodes to NewInputConfig) with the same
        * (non-)effect.
        */
      dropNodes: Boolean = false,
      dropWays: Boolean = false,
      dropRelations: Boolean = false,
      dropVersion: Boolean = false,
      dropTimestamp: Boolean = false,
      dropChangeset: Boolean = false,
      dropUserId: Boolean = false,
      dropUserName: Boolean = false,
      keysToKeep: Seq[String] = Nil,
      keysToDrop: Seq[String] = Nil)

  case class OutputSpec(
      uri: String,
      format: Option[String] = None, // osm | geojson | geojsonl | parquet
      filter: Option[FilterSpec] = None,
      waysToNodes: Boolean = false,
      dropNodes: Boolean = false,
      dropWays: Boolean = false,
      dropRelations: Boolean = false,
      dropVersion: Boolean = false,
      dropTimestamp: Boolean = false,
      dropChangeset: Boolean = false,
      dropUserId: Boolean = false,
      dropUserName: Boolean = false,
      keysToKeep: Seq[String] = Nil,
      keysToDrop: Seq[String] = Nil,
      /** >0 routes a parquet output through [[graft.io.SnapshotTable]] with
        * `snapshotParts` id-hash partitions: a killed run resumes skipping
        * already-committed partitions (manifest protocol).
        */
      snapshotParts: Int = 0,
      /** Indented .osm XML (reference MarshalPlanet.go:63-65, `-pretty`). */
      pretty: Boolean = false)

  case class PipelineConfig(inputs: Seq[InputSpec], outputs: Seq[OutputSpec])

  /** Fail-fast on contradictory configs — reference Config.Validate parity
    * (`/root/reference/osm/Config.go:313-334`): ways_to_nodes+drop_ways is
    * an error, and dropping all three element classes is an error.
    */
  def validate(c: PipelineConfig): Unit = {
    require(c.inputs.nonEmpty, "pipeline needs at least one input")
    require(c.outputs.nonEmpty, "pipeline needs at least one output")
    c.inputs.foreach(in => require(in.uri.nonEmpty, "input uri is missing"))
    c.outputs.foreach { o =>
      require(!(o.waysToNodes && o.dropWays),
        s"output ${o.uri}: cannot enable ways_to_nodes and drop_ways at the same time")
      require(!(o.dropNodes && o.dropWays && o.dropRelations),
        s"output ${o.uri}: cannot drop nodes, ways, and relations — output would be empty")
      // fail BEFORE ingest, not with a MatchError after hours of scan:
      // runOutput's fmt match only knows these sinks
      o.format.foreach(f => require(KnownFormats(f),
        s"output ${o.uri}: unknown output format '$f' " +
          s"(have ${KnownFormats.toSeq.sorted.mkString(", ")})"))
    }
  }

  private val KnownFormats = Set("osm", "pbf", "geojson", "geojsonl", "parquet")

  /** What the shared scan may skip, conjoined across outputs (Config.Init). */
  case class IngestPlan(
      dropNodes: Boolean,
      dropWays: Boolean,
      dropRelations: Boolean,
      dropVersion: Boolean,
      dropTimestamp: Boolean,
      dropChangeset: Boolean,
      dropUserId: Boolean,
      dropUserName: Boolean,
      inputKeepKeys: Seq[Seq[String]], // per input; Nil = keep every key
      inputDropKeys: Seq[Seq[String]],
      convertAllWaysToNodes: Boolean) {

    /** Attribute columns an ingest scan must still read. */
    def neededAttrCols: Seq[String] =
      Seq("version" -> dropVersion, "ts" -> dropTimestamp,
        "changeset" -> dropChangeset, "uid" -> dropUserId)
        .collect { case (c, false) => c }
  }

  def plan(c: PipelineConfig): IngestPlan = {
    def allOut(f: OutputSpec => Boolean) = c.outputs.nonEmpty && c.outputs.forall(f)
    def allIn(f: InputSpec => Boolean) = c.inputs.nonEmpty && c.inputs.forall(f)

    // union of keep sets, only binding when every output declares one
    val outKeep: Seq[String] =
      if (allOut(_.keysToKeep.nonEmpty)) c.outputs.flatMap(_.keysToKeep).distinct
      else Nil
    // intersection of drop sets, only binding when every output declares one
    val outDrop: Seq[String] =
      if (allOut(_.keysToDrop.nonEmpty))
        c.outputs.map(_.keysToDrop.toSet).reduce(_ intersect _).toSeq.sorted
      else Nil

    // an output can spare nodes at ingest only when NOTHING it emits needs
    // node coordinates: it must drop nodes, not convert ways (centroids
    // resolve through nodes), and not keep ways (geojson way geometry
    // resolves through nodes — reference Planet.go:60-64 — and the planet
    // sinks retain way-referenced nodes even under drop_nodes —
    // MarshalPlanet.go:130-141). Without this, a drop_nodes output that
    // still emits ways would silently lose geometry.
    def sparesNodes(o: OutputSpec): Boolean =
      o.dropNodes && !o.waysToNodes && o.dropWays

    IngestPlan(
      dropNodes = allOut(sparesNodes),
      dropWays = allIn(_.dropWays) || allOut(_.dropWays),
      dropRelations = allIn(_.dropRelations) || allOut(_.dropRelations),
      dropVersion = allOut(_.dropVersion),
      dropTimestamp = allOut(_.dropTimestamp),
      dropChangeset = allOut(_.dropChangeset),
      dropUserId = allOut(_.dropUserId),
      dropUserName = allOut(_.dropUserName),
      inputKeepKeys = c.inputs.map { in =>
        if (in.keysToKeep.isEmpty) outKeep
        else if (outKeep.isEmpty) in.keysToKeep
        else outKeep.intersect(in.keysToKeep)
      },
      inputDropKeys = c.inputs.map(in => (in.keysToDrop ++ outDrop).distinct),
      convertAllWaysToNodes = allOut(_.waysToNodes))
  }

  // ---- filters ---------------------------------------------------------------

  /** Compile a FilterSpec to a Catalyst predicate over an element frame.
    * DFL `@name` resolves attributes the way KeepNode builds its map
    * (timestamp/version/uid/user), all other names via the tags map.
    */
  def filterPredicate(f: FilterSpec, hasCoords: Boolean): Column = {
    val tagKeys = map_keys(col("tags"))
    var pred: Column = lit(true)
    if (f.keepKeys.nonEmpty)
      pred = pred && arrays_overlap(tagKeys, lit(f.keepKeys.toArray))
    if (f.dropKeys.nonEmpty)
      pred = pred && !arrays_overlap(tagKeys, lit(f.dropKeys.toArray))
    f.bbox.foreach { case (minLon, minLat, maxLon, maxLat) =>
      if (hasCoords)
        pred = pred && col("lon").between(minLon, maxLon) &&
          col("lat").between(minLat, maxLat)
    }
    f.dfl.foreach { expr =>
      pred = pred && graft.dfl.Dfl.compile(expr, {
        case "timestamp" => col("ts")
        case "version" => col("version")
        case "uid" => col("uid")
        case "user" => col("user")
        case k => element_at(col("tags"), k)
      })
    }
    pred
  }

  // ---- ingest ----------------------------------------------------------------

  private def emptyOf(spark: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** Null out an attribute column (the reference's parse-time attribute
    * drop leaves the field unset; our writers omit null attributes).
    * `uid` survives unless names are dropped too: it is the J3 join key
    * for the username dimension even when no output prints it.
    */
  private def dropAttrs(df: DataFrame, p: IngestPlan): DataFrame = {
    var d = df
    def nullify(c: String, t: String): Unit =
      d = d.withColumn(c, lit(null).cast(t))
    if (p.dropVersion) nullify("version", "int")
    if (p.dropTimestamp) nullify("ts", "timestamp")
    if (p.dropChangeset) nullify("changeset", "long")
    if (p.dropUserId && p.dropUserName) nullify("uid", "long")
    if (p.dropUserName) nullify("user", "string")
    d
  }

  private def projectTags(df: DataFrame, keep: Seq[String], drop: Seq[String]): DataFrame = {
    var d = df
    if (keep.nonEmpty) d = d.withColumn("tags", OsmOps.keepKeys(col("tags"), keep))
    if (drop.nonEmpty) d = d.withColumn("tags", OsmOps.dropKeys(col("tags"), drop))
    d
  }

  /** Load one input as OSM XML (.osm/.osm.gz), OSM PBF (.osm.pbf — the
    * format the reference rejects with "not supported yet", Input.go:89-90;
    * here a distributed blob-fanout scan, [[graft.io.OsmPbf]]) or a parquet
    * planet directory (`<uri>/nodes|ways|relations`). Parquet scans read
    * only the columns the conjoined plan needs — Catalyst prunes the rest
    * out of the ReadSchema.
    */
  def loadInput(spark: SparkSession, in: InputSpec, idx: Int, p: IngestPlan): OsmXml.Planet = {
    val osmLike = in.uri.endsWith(".osm") || in.uri.endsWith(".osm.gz") ||
      in.uri.endsWith(".osm.bz2")
    val raw: OsmXml.Planet =
      if (in.uri.endsWith(".osm.pbf"))
        // through the V2 source (not the library scan): the pipeline's
        // scan-time bbox/id filters then push down into BLOB pruning
        // against the stats sidecar, and column pruning reaches the wire
        OsmXml.Planet(
          spark.read.format("osmpbf").load(in.uri),
          spark.read.format("osmpbf").option("element", "ways").load(in.uri),
          spark.read.format("osmpbf").option("element", "relations").load(in.uri),
          graft.io.OsmPbf.readBounds(spark, in.uri))
      else if (osmLike) OsmXml.readPlanet(spark, in.uri)
      else {
        def readClass(name: String, schema: org.apache.spark.sql.types.StructType,
                      bodyCols: Seq[String], skip: Boolean): DataFrame = {
          if (skip) return emptyOf(spark, schema)
          val path = s"${in.uri}/$name"
          // existence via Hadoop FS, not java.io — parquet planets can live
          // on any supported scheme (hdfs, s3a with its jars), not just file:
          val hPath = new org.apache.hadoop.fs.Path(path)
          val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(hPath)) return emptyOf(spark, schema)
          // a class dir produced by PbfIngestJob/ApplyChangeJob (or this
          // pipeline's own snapshotParts output) is a SNAPSHOT TABLE —
          // manifests/ + snapshots/ + CURRENT around the data — which a
          // plain parquet scan cannot read. Detect via CURRENT and read
          // through the manifest protocol; the partition column name is
          // whatever the data dir's key=value children carry.
          val scan =
            if (fs.exists(new org.apache.hadoop.fs.Path(hPath, "CURRENT"))) {
              val dataDir = new org.apache.hadoop.fs.Path(hPath, "data")
              val partCol =
                (if (fs.exists(dataDir)) fs.listStatus(dataDir).map(_.getPath.getName)
                  .find(_.contains("=")).map(_.takeWhile(_ != '=')) else None)
                  .getOrElse("part")
              graft.io.SnapshotTable.read(spark, path, partCol).drop(partCol)
            } else graft.io.ParquetTable.read(spark, path)
          // prune: id + body + tags + only the attrs some output still needs
          val needed = Seq("id") ++ p.neededAttrCols.filterNot(_ == "uid") ++
            (if (p.dropUserId && p.dropUserName) Nil else Seq("uid")) ++
            (if (p.dropUserName) Nil else Seq("user")) ++ bodyCols ++ Seq("tags")
          val pruned = scan.select(needed.map(col): _*)
          // restore dropped attrs as nulls so all inputs share one schema
          schema.fields.foldLeft(pruned) { (d, f) =>
            if (d.columns.contains(f.name)) d
            else d.withColumn(f.name, lit(null).cast(f.dataType))
          }.select(schema.fieldNames.map(col): _*)
        }
        OsmXml.Planet(
          readClass("nodes", OsmXml.nodeSchema, Seq("lon", "lat"), skip = p.dropNodes),
          readClass("ways", OsmXml.waySchema, Seq("refs"), skip = p.dropWays || in.dropWays),
          readClass("relations", OsmXml.relationSchema, Seq("members"),
            skip = p.dropRelations || in.dropRelations),
          None)
      }

    val keep = p.inputKeepKeys(idx)
    val drop = p.inputDropKeys(idx)
    // the conjoined plan's dropNodes means NO output reads nodes — skip the
    // class for xml/pbf inputs exactly like the parquet branch's readClass
    // skip (nodes are ~90% of a planet; decoding + dup-checking + caching
    // them for a relation-only extract would dominate the run), and keep
    // the formats' dup-check behavior consistent
    var nodes =
      if (p.dropNodes) emptyOf(spark, OsmXml.nodeSchema)
      else projectTags(dropAttrs(raw.nodes, p), keep, drop)
    var ways =
      if (p.dropWays || in.dropWays) emptyOf(spark, OsmXml.waySchema)
      else projectTags(dropAttrs(raw.ways, p), keep, drop)
    var rels =
      if (p.dropRelations || in.dropRelations) emptyOf(spark, OsmXml.relationSchema)
      else projectTags(dropAttrs(raw.relations, p), keep, drop)

    // input filter: ways/relations filter directly; nodes referenced by any
    // kept way bypass the node filter (UnmarshalPlanet.go:139-177, J2)
    in.filter.foreach { f =>
      ways = ways.filter(filterPredicate(f, hasCoords = false))
      rels = rels.filter(filterPredicate(f, hasCoords = false))
      val nodeKeep = filterPredicate(f, hasCoords = true)
      nodes =
        if (p.dropWays || in.dropWays) nodes.filter(nodeKeep)
        else OsmOps.retention(nodes, "id", nodeKeep,
          ways.select(explode(col("refs")).as("ref")), "ref")
    }
    OsmXml.Planet(nodes, ways, rels, raw.bounds)
  }

  // ---- shared state after ingest ----------------------------------------------

  /** @param wayCount rows of `ways`: the upper bound on the ways→nodes
    *                 conversion's rows, counted by ingest's `maxId` action
    */
  case class Shared(nodes: DataFrame, ways: DataFrame, relations: DataFrame,
                    users: DataFrame, maxId: Long, wayCount: Long,
                    bounds: Option[(Double, Double, Double, Double)],
                    inputUris: Seq[String] = Nil) {
    def unpersist(): Unit = {
      nodes.unpersist(); ways.unpersist(); relations.unpersist(); users.unpersist()
    }
  }

  /** Union the inputs (duplicate-id fail-fast per class, J4), normalize
    * usernames into the (uid, user) dimension (J3), persist everything.
    */
  def ingest(spark: SparkSession, c: PipelineConfig, p: IngestPlan): Shared = {
    val planets = c.inputs.zipWithIndex.map { case (in, i) => loadInput(spark, in, i, p) }
    def unite(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.size == 1) dfs.head else OsmOps.unionWithDupCheck(dfs, "id")
    val nodes0 = unite(planets.map(_.nodes))
    val ways0 = unite(planets.map(_.ways))
    val rels0 = unite(planets.map(_.relations))

    // J3: one name per uid — the reference's dict keeps the LAST name seen
    // (UnmarshalPlanet.go:75-80, parse-order-dependent); we take max(name)
    // per uid so the dimension is deterministic at any parallelism
    val users = Seq(nodes0, ways0, rels0)
      .map(_.select(col("uid"), col("user")).filter(col("uid").isNotNull && col("user").isNotNull))
      .reduce(_ unionByName _)
      .groupBy(col("uid")).agg(max(col("user")).as("user"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val nodes = nodes0.drop("user").persist(StorageLevel.MEMORY_AND_DISK)
    val ways = ways0.drop("user").persist(StorageLevel.MEMORY_AND_DISK)
    val rels = rels0.drop("user").persist(StorageLevel.MEMORY_AND_DISK)

    // fresh-id base for ways→nodes: max over every element id (Planet.maxId);
    // the same action counts the ways, which bounds the conversion's rows
    val ids = Seq(nodes -> false, ways -> true, rels -> false)
      .map { case (d, isWay) => d.select(col("id"), lit(isWay).as("is_way")) }
      .reduce(_ union _)
    val stats = ids.agg(max(col("id")), count_if(col("is_way"))).collect()(0)
    val maxId = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    // reference UnmarshalPlanet.go:69: each parsed file OVERWRITES
    // p.Bounds, so the LAST input that carries bounds wins (a file with
    // no <bounds> element leaves the previous value standing)
    Shared(nodes, ways, rels, users, maxId, stats.getLong(1),
      planets.reverse.flatMap(_.bounds).headOption,
      inputUris = c.inputs.map(_.uri))
  }

  /** Ways→nodes: centroid over the way's node references — including the
    * duplicated closing vertex of closed rings, as the reference sums every
    * NodeReference (Planet.go:209-244) — with fresh ids maxId+1.. assigned
    * in way-id order (W1; the reference's iteration order is insertion
    * order, which for parsed files IS id order). Version/timestamp/
    * changeset/uid/tags carry over from the way.
    */
  def waysToNodes(shared: Shared): DataFrame = {
    val resolved = OsmOps.resolveWayRefs(
      shared.ways.select(col("id").as("way_id"), col("refs")), "way_id", "refs",
      shared.nodes.select(col("id").as("node_id"), col("lon"), col("lat")), "node_id")
    val cent = resolved.groupBy(col("way_id"))
      .agg(avg(col("lon")).as("lon"), avg(col("lat")).as("lat"))
    val withIds = OsmOps.sequentialIds(
      cent.join(shared.ways.withColumnRenamed("id", "way_id"), Seq("way_id")),
      "way_id", shared.maxId, "new_id", maxRows = Some(shared.wayCount))
    withIds.select(
      col("new_id").as("id"), col("version"), col("ts"), col("changeset"),
      col("uid"), lit(null).cast("string").as("user"),
      col("lon"), col("lat"), col("tags"))
  }

  // ---- outputs ----------------------------------------------------------------

  /** Output format by explicit override, then by extension — the
    * reference's sniffing order (main.go:721-729) with parquet added as the
    * engine's canonical scale sink.
    */
  def formatOf(o: OutputSpec): String = o.format.getOrElse {
    val u = o.uri.stripSuffix(".gz").stripSuffix(".bz2")
    if (u.endsWith(".osm.pbf")) "pbf"
    else if (u.endsWith(".geojson")) "geojson"
    else if (u.endsWith(".geojsonl")) "geojsonl"
    else if (u.endsWith(".osm")) "osm"
    else "parquet"
  }

  case class OutputReport(uri: String, format: String, nodes: Long, ways: Long, relations: Long)

  /** J3 rejoin: the username dimension is broadcast back on uid
    * (MarshalNode.go:33) BEFORE the output filter, so `@user` resolves.
    */
  private def withUser(df: DataFrame, o: OutputSpec, users: DataFrame): DataFrame = {
    val base = df.drop("user")
    if (o.dropUserName) base.withColumn("user", lit(null).cast("string"))
    else base.join(broadcast(users), Seq("uid"), "left")
  }

  /** Output-time shaping (the reference does this in MarshalNode/MarshalWay,
    * AFTER filtering): tag projection + attribute nulls, schema order.
    */
  private def shapeCols(df: DataFrame, o: OutputSpec,
                        schema: org.apache.spark.sql.types.StructType): DataFrame = {
    var d = projectTags(df, o.keysToKeep, o.keysToDrop)
    if (o.dropVersion) d = d.withColumn("version", lit(null).cast("int"))
    if (o.dropTimestamp) d = d.withColumn("ts", lit(null).cast("timestamp"))
    if (o.dropChangeset) d = d.withColumn("changeset", lit(null).cast("long"))
    if (o.dropUserId) d = d.withColumn("uid", lit(null).cast("long"))
    d.select(schema.fieldNames.map(col): _*)
  }

  def runOutput(shared: Shared, o: OutputSpec, sharedConverted: Option[DataFrame]): OutputReport = {
    val spark = shared.nodes.sparkSession
    val fmt = formatOf(o)
    val convert = o.waysToNodes
    // planet-shaped sinks get MarshalPlanet's node-retention semantics;
    // feature sinks get GetFeatures' (no retention, geometry via all nodes)
    val planetSink = fmt == "osm" || fmt == "pbf" || fmt == "parquet"

    // ways this output keeps: KeepWay filter semantics — tags + attributes,
    // never bbox (KeepWay.go:7-50; ways carry no coordinates)
    val keptWays =
      if (convert || o.dropWays) emptyOf(spark, OsmXml.waySchema)
      else {
        var w = withUser(shared.ways, o, shared.users)
        o.filter.foreach(f => w = w.filter(filterPredicate(f, hasCoords = false)))
        w
      }

    // converted way-nodes: the WAY filter applies pre-conversion
    // (MarshalPlanet.go:104-118) and the result bypasses drop_nodes and the
    // node filter — tags/attrs carry over from the way, so filtering the
    // converted node WITHOUT bbox is exactly filtering the way
    val converted: Option[DataFrame] =
      if (!convert) None
      else {
        var d = withUser(sharedConverted.getOrElse(waysToNodes(shared)), o, shared.users)
        o.filter.foreach(f => d = d.filter(filterPredicate(f, hasCoords = false)))
        Some(d)
      }

    // original nodes: planet sinks keep nodes referenced by kept ways even
    // under drop_nodes or a failing filter (MarshalPlanet.go:130-148);
    // feature sinks emit no node features at all under drop_nodes
    // (Planet.go:88) but still resolve way geometry through every node
    val nodesWithUser = withUser(shared.nodes, o, shared.users)
    val keepPred: Column =
      if (o.dropNodes) lit(false)
      else o.filter.map(f => filterPredicate(f, hasCoords = true)).getOrElse(lit(true))
    val keptNodes0 =
      if (!o.dropNodes && o.filter.isEmpty) nodesWithUser
      else if (planetSink && !convert && !o.dropWays)
        OsmOps.retention(nodesWithUser, "id", keepPred,
          keptWays.select(explode(col("refs")).as("ref")), "ref")
      else nodesWithUser.filter(keepPred)
    val nodeCols = OsmXml.nodeSchema.fieldNames.map(col)
    val allKeptNodes = converted match {
      case Some(c) => keptNodes0.select(nodeCols: _*).unionByName(c.select(nodeCols: _*))
      case None => keptNodes0.select(nodeCols: _*)
    }

    val nodes = shapeCols(allKeptNodes, o, OsmXml.nodeSchema)
    val ways = shapeCols(keptWays, o, OsmXml.waySchema)
    val rels =
      if (o.dropRelations) emptyOf(spark, OsmXml.relationSchema)
      else {
        var r = withUser(shared.relations, o, shared.users)
        o.filter.foreach(f => r = r.filter(filterPredicate(f, hasCoords = false)))
        shapeCols(r, o, OsmXml.relationSchema)
      }

    // row accounting rides the write action itself: collected arrays for the
    // driver-side OSM sink, CollectMetrics (df.observe) for distributed
    // sinks, manifest metrics for snapshot commits — never a post-write
    // count() re-run of the shaped plan. The metrics node sits DIRECTLY
    // under the sink: any deeper and PropagateEmptyRelation can fold it
    // away with an empty join side, losing the observation.
    def metric(obs: org.apache.spark.sql.Observation, key: String): Long =
      obs.get.get(key).map(_.asInstanceOf[Long]).getOrElse(0L)

    val singleFile = o.uri.stripSuffix(".gz").stripSuffix(".bz2")
      .matches(".*\\.(osm|geojson|geojsonl)")
    fmt match {
      case "osm" =>
        val (nN, nW, nR) = OsmXml.writePlanet(
          OsmXml.Planet(nodes, ways, rels, shared.bounds), o.uri, pretty = o.pretty)
        OutputReport(o.uri, fmt, nN, nW, nR)
      case "pbf" =>
        val (nN, nW, nR) = graft.io.OsmPbf.writePlanet(
          OsmXml.Planet(nodes, ways, rels, shared.bounds), o.uri)
        OutputReport(o.uri, fmt, nN, nW, nR)
      case "geojson" | "geojsonl" =>
        val obs = new org.apache.spark.sql.Observation
        // observe ABOVE the global sort: the range partitioner's sampling
        // pass re-executes everything below the sort, which would double
        // every metric observed underneath it
        val ff = featureFrame(nodes, ways, shared.nodes).orderBy(col("id")).observe(obs,
          count(when(col("kind") === "node", 1)).as("n_nodes"),
          count(when(col("kind") === "way", 1)).as("n_ways"))
        if (fmt == "geojsonl" && !singleFile)
          // directory URI: distributed text write; orderBy range-partitions,
          // so part files concatenate to the same globally-ordered stream
          // the single-file sink produces
          ff.select(col("f")).write.mode("overwrite").text(o.uri)
        else
          writeGeoJson(ff, o.uri, featureCollection = fmt == "geojson")
        OutputReport(o.uri, fmt, metric(obs, "n_nodes"), metric(obs, "n_ways"), 0L)
      case "parquet" if o.snapshotParts > 0 =>
        // snapshot protocol: manifest-committed partitions survive a crash;
        // a rerun rewrites only the missing ones (SnapshotTable semantics)
        def commitClass(df: DataFrame, name: String): Long =
          graft.io.SnapshotTable.commit(
            df.withColumn("part", pmod(col("id"), lit(o.snapshotParts.toLong))),
            s"${o.uri}/$name", "part", operator = s"pipeline:$name",
            upstream = shared.inputUris).totalRows
        val nN = commitClass(nodes, "nodes")
        val nW = commitClass(ways, "ways")
        val nR = commitClass(rels, "relations")
        OutputReport(o.uri, fmt, nN, nW, nR)
      case "parquet" =>
        def writeCounted(df: DataFrame, path: String): Long = {
          val obs = new org.apache.spark.sql.Observation
          df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite").parquet(path)
          metric(obs, "n")
        }
        val nN = writeCounted(nodes, s"${o.uri}/nodes")
        val nW = writeCounted(ways, s"${o.uri}/ways")
        val nR = writeCounted(rels, s"${o.uri}/relations")
        OutputReport(o.uri, fmt, nN, nW, nR)
    }
  }

  /** GeoJSON features: nodes as Points, ways as LineString/Polygon with
    * geometry resolved through `geomNodes` — the FULL node frame, not the
    * output-filtered one, because the reference resolves way coordinates
    * through the in-RAM planet regardless of output drops/filters
    * (Planet.go:60-64). Returns (id, f) — the shared plan of both geojson
    * sinks.
    */
  def featureFrame(nodes: DataFrame, ways: DataFrame, geomNodes: DataFrame): DataFrame = {
    import graft.functions.GeoFunctions
    val nodeFeatures = nodes.select(col("id"), lit("node").as("kind"),
      GeoFunctions.geojson_feature(col("id"), col("lon"), col("lat"), col("tags")).as("f"))
    val resolved = OsmOps.resolveWayRefs(
      ways.select(col("id").as("way_id"), col("refs")), "way_id", "refs",
      geomNodes.select(col("id").as("node_id"), col("lon"), col("lat")), "node_id")
    val wayFeatures = OsmOps.assembleWays(resolved)
      .join(ways.select(col("id").as("way_id"), col("tags")), Seq("way_id"))
      .select(col("way_id").as("id"), lit("way").as("kind"),
        concat(lit("""{"type":"Feature","id":"""), col("way_id"),
          lit(""","properties":"""), to_json(col("tags")),
          lit(""","geometry":"""), GeoFunctions.geojson_way_geometry(col("ring")),
          lit("}")).as("f"))
    nodeFeatures.unionByName(wayFeatures)
  }

  /** Single-file GeoJSON sinks (reference parity: one FeatureCollection /
    * one feature-per-line file) — driver write at fixture scale; dir URIs
    * take the distributed `write.text` path in [[runOutput]].
    */
  /** `featureFrame` must already be id-ordered (the caller sorts below its
    * observation node).
    */
  private def writeGeoJson(featureFrame: DataFrame, path: String,
                           featureCollection: Boolean): Unit = {
    val features = featureFrame.select(col("f")).collect().map(_.getString(0))
    // codec by suffix, like OsmXml.writePlanet — a .geojson.gz URI must
    // hold gzip bytes, not plain text under a lying extension; UTF-8
    // explicitly (FileWriter would use the platform default charset)
    val rawOut = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    val byteOut: java.io.OutputStream =
      if (path.endsWith(".gz")) new java.util.zip.GZIPOutputStream(rawOut)
      else if (path.endsWith(".bz2"))
        new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(rawOut)
      else rawOut
    val out = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(byteOut, java.nio.charset.StandardCharsets.UTF_8)))
    try {
      if (featureCollection) {
        out.print("""{"type":"FeatureCollection","features":[""")
        out.print(features.mkString(","))
        out.println("]}")
      } else features.foreach(out.println)
    } finally out.close()
  }

  /** Execute the whole pipeline: plan → shared ingest → N concurrent
    * output writes (reference main.go:716-890's writer goroutines).
    */
  def run(spark: SparkSession, c: PipelineConfig): Seq[OutputReport] = {
    validate(c)
    val p = plan(c)
    val shared = ingest(spark, c, p)
    try {
      val sharedConverted =
        if (p.convertAllWaysToNodes)
          Some(waysToNodes(shared).persist(StorageLevel.MEMORY_AND_DISK))
        else None
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val futures = c.outputs.map(o => Future(runOutput(shared, o, sharedConverted)))
      val reports = Await.result(Future.sequence(futures), Duration.Inf)
      sharedConverted.foreach(_.unpersist())
      reports
    } finally shared.unpersist()
  }
}

/** Config-file-driven execution (reference LoadConfig.go:15-45 loads HCL;
  * we load the same shape as JSON): `PipelineJob <config.json>`.
  */
object PipelineJob {
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("graft-pipeline")
    val config = PipelineConfigIO.load(args(0))
    val reports = Pipeline.run(spark, config)
    reports.foreach { r =>
      println(s"""{"uri": "${r.uri}", "format": "${r.format}", "nodes": ${r.nodes}, "ways": ${r.ways}, "relations": ${r.relations}}""")
    }
    spark.stop()
  }
}
