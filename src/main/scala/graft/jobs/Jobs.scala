package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.GeoFixtures
import graft.io.SnapshotTable
import graft.join.SpatialJoin
import graft.ops.OsmOps
import graft.plans.GraftExtensions

/** spark-submit entry points (SURVEY.md §7.1.9). Every job writes through
  * [[graft.io.SnapshotTable]] — partitioned by a coarse cell key, with
  * per-partition row-count manifests and lineage — so a killed run resumes
  * from its last committed partition (`--class graft.jobs.<Job>`).
  *
  * Session config comes from spark-submit; these mains only `getOrCreate`.
  */
object Jobs {

  /** `spark.sql.extensions` for a job session: the list spark-submit
    * configured (if any) with [[GraftExtensions]] appended, never replaced.
    */
  private[graft] def extensionList(configured: Option[String]): String =
    (configured.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty) :+
      classOf[GraftExtensions].getName).distinct.mkString(",")

  def session(name: String): SparkSession = {
    val b = SparkSession.builder().appName(name)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", extensionList(sys.props.get("spark.sql.extensions")))
    // local fallback for ad-hoc runs outside spark-submit
    if (!sys.props.contains("spark.master") && sys.env.get("MASTER").isEmpty)
      b.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
        .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Coarse partition key for snapshot tables: cell at z=3 (64 partitions
    * worldwide; scale z with data volume).
    */
  def partitionKey(df: DataFrame, z: Int = 3): DataFrame =
    df.withColumn("part_cell",
      graft.functions.GeoFunctions.cell_id(col("lon"), col("lat"), z).cast("string"))

  /** Id-block partition key for the non-spatial planet classes (ways,
    * relations) — computable from the id alone, so merges can find a
    * changed element's partition without scanning the base table.
    */
  def idPartitionKey(df: DataFrame): DataFrame =
    df.withColumn("part", pmod(col("id"), lit(64L)).cast("string"))
}

/** Generate the synthetic geotagged image+caption table (fixture stand-in
  * for the 10^12-row ingest): `GenerateJob <outRoot> <nImages> [nPolys]`.
  */
object GenerateJob {
  def main(args: Array[String]): Unit = {
    val Array(out, n) = args.take(2)
    val nPolys = args.lift(2).map(_.toInt).getOrElse(500)
    val spark = Jobs.session("graft-generate")
    val imgs = Jobs.partitionKey(GeoFixtures.images(spark, n.toLong))
    val r1 = SnapshotTable.commit(imgs, s"$out/images", "part_cell",
      "generate-images", Seq("synthetic:seed=42"))
    val polys = GeoFixtures.boundaries(spark, nPolys)
      .withColumn("part_cell", lit("all"))
    val r2 = SnapshotTable.commit(polys, s"$out/boundaries", "part_cell",
      "generate-boundaries", Seq("synthetic:seed=7"))
    println(s"""{"images": ${r1.totalRows}, "written": ${r1.written.size}, "skipped": ${r1.skipped.size}, "boundaries": ${r2.totalRows}}""")
    spark.stop()
  }
}

/** bbox + tag extract (the go-osm CLI equivalent):
  * `ExtractJob <tableRoot> <outRoot> <minLon> <minLat> <maxLon> <maxLat> [dfl]`.
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    val in = args(0); val out = args(1)
    val Array(minLon, minLat, maxLon, maxLat) = args.slice(2, 6).map(_.toDouble)
    val dfl = args.lift(6)
    val spark = Jobs.session("graft-extract")
    var df = SnapshotTable.read(spark, s"$in/images", "part_cell")
    df = OsmOps.bboxExtract(df, "lon", "lat", minLon, minLat, maxLon, maxLat)
    dfl.foreach { expr =>
      df = df.filter(graft.dfl.Dfl.compile(expr, k => element_at(col("tags"), k)))
    }
    val rep = SnapshotTable.commit(Jobs.partitionKey(df.drop("part_cell")),
      s"$out/extract", "part_cell", s"extract bbox=[$minLon,$minLat,$maxLon,$maxLat] dfl=${dfl.getOrElse("-")}",
      Seq(s"$in/images@${SnapshotTable.currentSnapshotId(spark, s"$in/images").getOrElse("?")}"))
    println(s"""{"rows": ${rep.totalRows}, "written": ${rep.written.size}, "skipped": ${rep.skipped.size}}""")
    spark.stop()
  }
}

/** Spatial join + tile assignment: `SpatialJoinJob <tableRoot> <outRoot> [z] [tileZ]`. */
object SpatialJoinJob {
  def main(args: Array[String]): Unit = {
    val in = args(0); val out = args(1)
    val z = args.lift(2).map(_.toInt).getOrElse(6)
    val tileZ = args.lift(3).map(_.toInt).getOrElse(12)
    val spark = Jobs.session("graft-spatial-join")
    val imgs = SnapshotTable.read(spark, s"$in/images", "part_cell")
    val polys = SnapshotTable.read(spark, s"$in/boundaries", "part_cell")
    val joined = SpatialJoin.cellJoin(imgs.drop("part_cell"), "lon", "lat",
      polys.drop("part_cell"), "ring", z)
    val tiled = graft.tiles.Tiles.assignPoint(joined, "lon", "lat", tileZ)
      .select(col("image_id"), col("polygon_id"), col("tile_z"), col("tile_x"), col("tile_y"),
        col("lon"), col("lat"))
    val rep = SnapshotTable.commit(Jobs.partitionKey(tiled),
      s"$out/joined_tiles", "part_cell", s"spatial-join z=$z tiles z=$tileZ",
      Seq(s"$in/images", s"$in/boundaries"))
    println(s"""{"rows": ${rep.totalRows}, "written": ${rep.written.size}, "skipped": ${rep.skipped.size}}""")
    spark.stop()
  }
}

/** Planet ingest from the format the reference rejects
  * (`.osm.pbf`, Input.go:89-90): `PbfIngestJob <pbfPathOrGlob> <outRoot>
  * [cellZ]` — distributed blob-fanout decode ([[graft.io.OsmPbf]])
  * committed as a resumable snapshot parquet planet: nodes partitioned by
  * coarse spatial cell (so downstream spatial scans partition-prune),
  * ways/relations by id block. A killed ingest resumes from its last
  * committed partition; re-running over the same input is a no-op.
  */
object PbfIngestJob {
  /** Commit a planet's three frames as resumable snapshot tables (nodes by
    * coarse spatial cell, ways/relations by id block) — shared by the
    * initial ingest and [[ApplyChangeJob]]'s merged planet.
    */
  def commitPlanet(planet: graft.io.OsmXml.Planet, out: String, cellZ: Int,
                   operator: String, upstream: Seq[String]): (Long, Long, Long) = {
    val n = SnapshotTable.commit(Jobs.partitionKey(planet.nodes, cellZ),
      s"$out/nodes", "part_cell", s"$operator:nodes", upstream).totalRows
    val w = SnapshotTable.commit(Jobs.idPartitionKey(planet.ways),
      s"$out/ways", "part", s"$operator:ways", upstream).totalRows
    val r = SnapshotTable.commit(Jobs.idPartitionKey(planet.relations),
      s"$out/relations", "part", s"$operator:relations", upstream).totalRows
    (n, w, r)
  }
  def run(spark: SparkSession, in: String, out: String, cellZ: Int = 3): (Long, Long, Long) =
    commitPlanet(graft.io.OsmPbf.readPlanet(spark, in), out, cellZ, "pbf-ingest", Seq(in))
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val cellZ = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Jobs.session("graft-pbf-ingest")
    val (n, w, r) = run(spark, in, out, cellZ)
    println(s"""{"job": "pbf_ingest", "nodes": $n, "ways": $w, "relations": $r}""")
    spark.stop()
  }
}

/** Incremental planet update — the replication path the reference lacks
  * entirely: `ApplyChangeJob <planetPbf> <diff.osc[,diff2.osc…]> <outRoot>
  * [cellZ]` merges OsmChange diffs into the planet (CDC: delete removes,
  * create/modify upsert, last occurrence wins) and commits the result as
  * a fresh snapshot planet. Diffs apply in argument order.
  */
object ApplyChangeJob {
  def run(spark: SparkSession, planetPbf: String, oscs: Seq[String], out: String,
          cellZ: Int = 3): (Long, Long, Long) = {
    var planet = graft.io.OsmPbf.readPlanet(spark, planetPbf)
    oscs.foreach(o => planet = graft.io.OsmChange.applyChange(planet, spark, o))
    PbfIngestJob.commitPlanet(planet, out, cellZ, "apply-change", planetPbf +: oscs)
  }
  def main(args: Array[String]): Unit = {
    val Array(in, oscArg, out) = args.take(3)
    val cellZ = args.lift(3).map(_.toInt).getOrElse(3)
    val spark = Jobs.session("graft-apply-change")
    val (n, w, r) = run(spark, in, oscArg.split(",").toSeq.filter(_.nonEmpty), out, cellZ)
    println(s"""{"job": "apply_change", "nodes": $n, "ways": $w, "relations": $r}""")
    spark.stop()
  }
}

/** Continuous replication consumer — the streaming form of
  * [[ApplyChangeJob]], the shape of a real OSM replication feed (minutely/
  * daily `.osc.gz` drops landing in a directory):
  * `ReplicationStreamJob <planetRoot> <oscDir> <outRoot> [cellZ] [--continuous]`.
  *
  * A file-arrival stream watches `oscDir` for `*.osc*` files (checkpointed,
  * so every diff is consumed exactly once across restarts); each micro-batch
  * folds its diffs — path-sorted, the replication sequence order — into the
  * current planet version and commits a NEW copy-on-write version
  * `outRoot/b<batchId>`: only partitions holding a changed element are
  * rewritten, everything else is inherited from the parent by manifest
  * pointer ([[graft.io.SnapshotTable.commitCow]]). A minutely diff against a
  * 10^9-row planet therefore costs its touched partitions, not a planet
  * rewrite. `outRoot/LATEST` advances atomically after all three classes
  * commit; a batch replayed after a crash either recomputes byte-identically
  * (manifest-gated resume) or, if LATEST already names it, no-ops.
  *
  * Old-partition discovery: ways/relations partition by id block, so a
  * changed element's partition is computed from the diff alone; nodes
  * partition spatially, so one column-pruned (id, part_cell) scan of the
  * base semi-joined against the (broadcast-tiny) changed-id set finds the
  * partitions a moved/deleted node leaves.
  */
object ReplicationStreamJob {
  import graft.io.{OsmChange, SnapshotTable}

  /** Union change frames from several `.osc` files with each file's document
    * order offset, so last-occurrence-wins holds across files in
    * replication-sequence order.
    */
  private def unionChanges(frames: Seq[DataFrame]): DataFrame =
    frames.zipWithIndex.map { case (df, i) =>
      df.withColumn("ord", col("ord") + lit(i.toLong * (1L << 40)))
    }.reduce(_.unionByName(_))

  /** COW-merge one element class: rewrite only the touched partitions (old
    * partitions of changed ids + new partitions of upserts), inherit the
    * rest from the parent version by manifest pointer.
    */
  private def mergeClass(spark: SparkSession, parentRoot: String, outRoot: String,
                         table: String, partCol: String, change: DataFrame,
                         partKey: DataFrame => DataFrame, oldPartsNeedScan: Boolean,
                         operator: String, upstream: Seq[String]): Long = {
    val root = s"$parentRoot/$table"
    val refs = SnapshotTable.partitionRefs(spark, root, partCol)
    val last = OsmChange.lastPerId(change)
    val upserts = last.filter(col("op") =!= "delete").drop("op", "ord")
    val newParts = partKey(upserts).select(col(partCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val oldParts: Set[String] =
      if (oldPartsNeedScan)
        // spatial partitioning: a changed node's OLD cell is in the base, not
        // the diff — one column-pruned scan, changed ids broadcast
        SnapshotTable.read(spark, root, partCol)
          .join(broadcast(last.select("id")), Seq("id"), "left_semi")
          .select(col(partCol).cast("string")).distinct()
          .collect().map(_.getString(0)).toSet
      else // id-block partitioning: computable from the diff alone
        partKey(last.select("id")).select(col(partCol)).distinct()
          .collect().map(_.getString(0)).toSet
    val touched = (newParts ++ oldParts).toSeq.sorted
    val present = touched.filter(refs.contains)
    val baseSlice =
      if (present.nonEmpty)
        SnapshotTable.readPartitions(spark, root, partCol, present).drop(partCol)
      else SnapshotTable.read(spark, root, partCol).limit(0).drop(partCol)
    val merged = partKey(OsmChange.applyClass(baseSlice, change))
    SnapshotTable.commitCow(merged, s"$outRoot/$table", partCol, operator,
      upstream, inherited = refs -- touched).totalRows
  }

  /** Apply one micro-batch of diff files (path-sorted) on top of the current
    * version, committing `outRoot/b<batchId>` and advancing LATEST.
    */
  def applyBatch(spark: SparkSession, planetRoot: String, outRoot: String,
                 cellZ: Int, batchId: Long, paths: Seq[String]): Unit = {
    val version = s"b$batchId"
    val latest = SnapshotTable.readPointer(spark, s"$outRoot/LATEST")
    if (latest.contains(version)) return // replayed after LATEST advanced: done
    val baseRoot = latest.map(v => s"$outRoot/$v").getOrElse(planetRoot)
    val changes = paths.map(p => OsmChange.read(spark, p))
    val cn = unionChanges(changes.map(_._1))
    val cw = unionChanges(changes.map(_._2))
    val cr = unionChanges(changes.map(_._3))
    val vRoot = s"$outRoot/$version"
    val upstream = baseRoot +: paths
    val op = s"replication:$version"
    mergeClass(spark, baseRoot, vRoot, "nodes", "part_cell", cn,
      Jobs.partitionKey(_, cellZ), oldPartsNeedScan = true, op, upstream)
    mergeClass(spark, baseRoot, vRoot, "ways", "part", cw,
      Jobs.idPartitionKey, oldPartsNeedScan = false, op, upstream)
    mergeClass(spark, baseRoot, vRoot, "relations", "part", cr,
      Jobs.idPartitionKey, oldPartsNeedScan = false, op, upstream)
    SnapshotTable.writePointer(spark, s"$outRoot/LATEST", version)
  }

  def run(spark: SparkSession, planetRoot: String, oscDir: String,
          outRoot: String, cellZ: Int = 3,
          continuous: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("binaryFile")
      // the binaryFile schema is fixed, but file STREAM sources still demand
      // it explicitly (schema inference is off by default for streams)
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", "*.osc*")
      .load(oscDir)
      .select(col("path")) // content never projected: binaryFile prunes it
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val paths = batch.collect().map(_.getString(0)).sorted.toSeq
        if (paths.nonEmpty) applyBatch(spark, planetRoot, outRoot, cellZ, batchId, paths)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoint")
      .trigger(
        if (continuous) org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds")
        else org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  def main(args: Array[String]): Unit = {
    val Array(planetRoot, oscDir, outRoot) = args.take(3)
    val cellZ = args.lift(3).filterNot(_.startsWith("--")).map(_.toInt).getOrElse(3)
    val continuous = args.contains("--continuous")
    val spark = Jobs.session("graft-replication-stream")
    run(spark, planetRoot, oscDir, outRoot, cellZ, continuous).awaitTermination()
    val latest = SnapshotTable.readPointer(spark, s"$outRoot/LATEST")
    println(s"""{"job": "replication_stream", "latest": ${latest.map("\"" + _ + "\"").getOrElse("null")}}""")
    spark.stop()
  }
}

/** kNN per polygon centroid: `KnnJob <tableRoot> <outRoot> [k]`. */
object KnnJob {
  def main(args: Array[String]): Unit = {
    val in = args(0); val out = args(1)
    val k = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = Jobs.session("graft-knn")
    val imgs = SnapshotTable.read(spark, s"$in/images", "part_cell")
    val polys = SnapshotTable.read(spark, s"$in/boundaries", "part_cell")
    val (mnLon, mnLat, mxLon, mxLat) = SpatialJoin.ringBounds(col("ring"))
    val queries = polys.select(col("polygon_id"),
      ((mnLon + mxLon) / 2).as("qlon"), ((mnLat + mxLat) / 2).as("qlat"))
    val knn = graft.knn.Knn.cellRing(queries, "polygon_id", "qlon", "qlat",
      imgs.withColumn("pid", expr("cast(substring(image_id, 4, 9) as long)")),
      "pid", "lon", "lat", k)
    val rep = SnapshotTable.commit(
      knn.withColumn("part_cell", pmod(col("query_id"), lit(16L)).cast("string")),
      s"$out/knn", "part_cell", s"knn k=$k", Seq(s"$in/images", s"$in/boundaries"))
    println(s"""{"rows": ${rep.totalRows}, "written": ${rep.written.size}, "skipped": ${rep.skipped.size}}""")
    spark.stop()
  }
}

/** Continuous ingestion of the event firehose (§2.8):
  * `StreamJob <eventsParquetDir> <outRoot> [windowLen] [--continuous]`.
  *
  * File-arrival stream → 2h watermark → tumbling window aggregation →
  * parquet sink with checkpointing (crash-resume via the checkpoint, the
  * streaming analogue of SnapshotTable). Default trigger AvailableNow:
  * drain everything present, commit, exit — rerunnable and incremental;
  * `--continuous` keeps a 10s micro-batch cadence. Append mode emits a
  * window once the watermark passes it, so the trailing 2h of event time
  * stays pending until more data arrives (documented watermark semantics).
  */
object StreamJob {
  def main(args: Array[String]): Unit = {
    val in = args(0); val out = args(1)
    val windowLen = args.lift(2).filterNot(_.startsWith("--")).getOrElse("1 hour")
    val continuous = args.contains("--continuous")
    val spark = Jobs.session("graft-stream")
    val events = graft.streaming.Streams.readEventStream(spark, in)
      // driver tables carry TIMESTAMP_NTZ; watermarks need TIMESTAMP
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
    val agg = graft.streaming.Streams.windowedCounts(events, "ts", "event_type", windowLen)
    val q = agg.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", s"$out/event_windows")
      .option("checkpointLocation", s"$out/_checkpoints/event_windows")
      .trigger(
        if (continuous) org.apache.spark.sql.streaming.Trigger.ProcessingTime("10 seconds")
        else org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // --continuous runs until the process is stopped (the JSON summary
    // below is only reached in AvailableNow mode — a continuous stream
    // has no final row count by definition)
    q.awaitTermination()
    val rows = spark.read.parquet(s"$out/event_windows").count()
    println(s"""{"rows": $rows, "sink": "$out/event_windows"}""")
    spark.stop()
  }
}

/** Dataset profile: `SummarizeJob <tableRoot>` — prints one JSON line. */
object SummarizeJob {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val spark = Jobs.session("graft-summarize")
    val imgs = SnapshotTable.read(spark, s"$in/images", "part_cell")
    val s = imgs.agg(
      count(lit(1)).as("rows"),
      min(col("lon")).as("min_lon"), min(col("lat")).as("min_lat"),
      max(col("lon")).as("max_lon"), max(col("lat")).as("max_lat")).collect()(0)
    val card = OsmOps.tagCardinality(imgs, "tags", approx = true).collect()(0)
    // Locale.ROOT: the f-interpolator is locale-sensitive and this line is
    // machine-parsed JSON — comma decimals would corrupt it
    val bbox = String.format(java.util.Locale.ROOT, "%.6f,%.6f,%.6f,%.6f",
      java.lang.Double.valueOf(s.getDouble(1)), java.lang.Double.valueOf(s.getDouble(2)),
      java.lang.Double.valueOf(s.getDouble(3)), java.lang.Double.valueOf(s.getDouble(4)))
    println(s"""{"rows": ${s.getLong(0)}, "bbox": "$bbox", "approx_keys": ${card.getLong(0)}, "approx_tags": ${card.getLong(1)}}""")
    spark.stop()
  }
}