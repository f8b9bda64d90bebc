package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.ann.Ann
import graft.dedup.Dedup
import graft.dfl.Dfl
import graft.functions.GeoFunctions.cell_id
import graft.geo.{GeoFixtures, GeoTables, OsmFixtures}
import graft.io.{OsmPbf, SnapshotTable}
import graft.jobs.{Jobs, OsmCli}
import graft.join.SpatialJoin
import graft.knn.Knn
import graft.media.Media
import graft.ops.OsmOps
import graft.streaming.Streams
import graft.text.Corpus
import graft.tiles.Tiles

/** One operation of a workload. `plain` runs it as a user would; `traced`
  * runs the same composition of public layer calls with each layer's output
  * forced inside its own span, and with `keep` set keeps its final output
  * for the correctness check, as `op.traced`.
  */
final case class Op(name: String, plain: () => Unit, traced: Boolean => Unit)

/** Outcome of an untimed correctness check: `None` when the output is right. */
final case class Check(op: String, error: Option[String])

abstract class Workload(val spark: SparkSession, val probe: Probe, val data: String,
                        val work: String) {
  def ops: Seq[Op]
  /** Rows of input one pass reads (for rows_per_s). */
  def inputRows: Long
  /** Read the inputs' metadata once (part of set-up). */
  def load(): Unit
  /** Outputs kept for the correctness check live here. */
  def checkDir: String = s"$work/check"
  /** The warm-up run of `op`; may keep its output under [[checkDir]]. */
  def warm(op: Op): Unit = op.plain()
  /** Check the kept outputs (untimed); SparkEntry outputs go to the DuckDB oracle. */
  def check(): Seq[Check]
  /** (output, DuckDB oracle SQL) for the outputs the Python runner checks. */
  def oracleSql: Seq[(String, String)] = Nil

  /** Evaluate every output column and the final sort, keep nothing. */
  def sink(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  def layer[T](name: String)(body: => T): T = probe.span("layer", name)(body)

  /** Materialize `df` at the current span boundary; later layers read it. */
  def force(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    sink(p)
    p
  }

  /** Counting work that belongs to no layer (kept out of layer counters). */
  def counter[T](name: String)(body: => T): T = probe.span("counter", name)(body)

  def note(key: String, v: Double): Unit =
    Workload.extra(key) = Workload.extra.getOrElse(key, 0.0) + v

  /** A new output path under the work directory. */
  def fresh(kind: String): String = new File(work, s"$kind-${System.nanoTime()}").getPath
}

object Workload {
  /** Layer counters that are not Spark counters (candidates, bytes written),
    * summed over the traced passes.
    */
  val extra = scala.collection.mutable.LinkedHashMap[String, Double]()
}

/** Several workload parts run as one: their ops share each pass. */
final class Composite(parts: Seq[Workload])
    extends Workload(parts.head.spark, parts.head.probe, parts.head.data, parts.head.work) {
  val ops: Seq[Op] = parts.flatMap(_.ops)
  lazy val inputRows: Long = parts.map(_.inputRows).sum
  def load(): Unit = parts.foreach(_.load())
  override def warm(op: Op): Unit = parts.find(_.ops.contains(op)).get.warm(op)
  def check(): Seq[Check] = parts.flatMap(_.check())
  override def oracleSql: Seq[(String, String)] = parts.flatMap(_.oracleSql)
}

/** SparkEntry ops over the seeded TPC-H-ish tables; outputs are checked
  * against `SparkEntry.oracleSql` in DuckDB by the Python runner.
  */
abstract class EntryWorkload(s: SparkSession, p: Probe, d: String, w: String)
    extends Workload(s, p, d, w) {
  def names: Seq[String]
  /** The traced composition of each op; returns the op's final output. */
  def tracedOf: PartialFunction[String, () => DataFrame]

  lazy val ops: Seq[Op] = names.map { n =>
    val q = SparkEntry.queries(n)
    Op(n, () => sink(q(spark, data)), keep => {
      val out = tracedOf(n)()
      if (keep) save(out, s"$n.traced")
    })
  }

  def tables: Seq[String]
  def load(): Unit = inputRows

  private def save(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")

  override def warm(op: Op): Unit = save(SparkEntry.queries(op.name)(spark, data), op.name)

  def check(): Seq[Check] = Nil
  override def oracleSql: Seq[(String, String)] = names.map(n => n -> SparkEntry.oracleSql(n))

  /** Row count from the parquet footer (no Spark job). */
  def rows(table: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$data/$table.parquet"),
        spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }
}

final class SpatialOps(s: SparkSession, p: Probe, d: String, w: String)
    extends EntryWorkload(s, p, d, w) {
  val names = Seq("q03_cell_id", "q07_spatial_join_cells", "q16_knn_scan", "q43_region_rates")
  val tables = Seq("lineitem", "part")
  lazy val inputRows: Long = tables.map(rows).sum

  /** The derivation's own exchanges are counted from its plan: once forced,
    * later plans only see the cached relation.
    */
  private def geo(df: DataFrame): DataFrame = {
    note("geo.exchanges", Probe.planShape(df.queryExecution.executedPlan)._1.toDouble)
    force(df)
  }
  private def pts(): DataFrame = geo(GeoTables.points(spark, data))
  private def rects(): DataFrame = geo(GeoTables.rects(spark, data))

  private def knnQueries(r: DataFrame): DataFrame =
    r.filter(pmod(col("polygon_id"), lit(10L)) === 0)
      .select(col("polygon_id"), col("center_lon"), col("center_lat"))

  private def knnOut(df: DataFrame): DataFrame =
    df.select(col("query_id").as("polygon_id"), col("rank"), col("point_id"))
      .orderBy("polygon_id", "rank")

  val tracedOf: PartialFunction[String, () => DataFrame] = {
    case "q03_cell_id" => () =>
      val p = layer("geo")(pts())
      layer("expr")(sink(p.select(col("point_id"), cell_id(col("lon"), col("lat"), 7).as("cell"))
        .orderBy("point_id")))
    case "q07_spatial_join_cells" => () =>
      val (p, r) = layer("geo")((pts(), rects()))
      val out = layer("join")(force(
        SpatialJoin.cellJoin(p, "lon", "lat", r, "ring", GeoTables.JoinZ)
          .select(col("point_id"), col("polygon_id")).orderBy("point_id", "polygon_id")))
      joinCounters(p, r, out, GeoTables.JoinZ)
      out
    case "q16_knn_scan" => () =>
      val (p, r) = layer("geo")((pts(), rects()))
      layer("knn")(sink(knnOut(Knn.scan(knnQueries(r), "polygon_id", "center_lon",
        "center_lat", p, "point_id", "lon", "lat", k = 5))))
    case "q43_region_rates" => () =>
      val (p0, r) = layer("geo")((pts(), rects()))
      layer("streaming") {
        val p = p0.withColumn("ts", timestamp_seconds(lit(1704067200L) +
          pmod(pmod(col("point_id"), lit(604800L)) * lit(2654435761L), lit(604800L))))
        sink(Streams.regionRates(p, "ts", "lon", "lat", r, "polygon_id", "ring",
            windowLen = "1 hour", delay = "0 seconds")
          .select(col("polygon_id"),
            unix_timestamp(col("window_start")).as("window_start_sec"), col("n"))
          .orderBy("polygon_id", "window_start_sec"))
      }
  }

  /** join.candidates: point/polygon pairs sharing a cell before the PIP
    * refine; join.pairs: pairs the refine kept.
    */
  def joinCounters(p: DataFrame, r: DataFrame, out: DataFrame, z: Int): Unit = counter("join") {
    note("join.candidates", Workloads.cellCandidates(p, r, z).toDouble)
    note("join.pairs", out.count().toDouble)
  }
}

final class CorpusDedup(s: SparkSession, p: Probe, d: String, w: String)
    extends EntryWorkload(s, p, d, w) {
  val names = Seq("q25_minhash_lsh", "q46_decontaminate", "q34_ann_ivf")
  val tables = Seq("documents", "embeddings")
  lazy val inputRows: Long = tables.map(rows).sum

  private def docs(): DataFrame = layer("io")(force(spark.read.parquet(s"$data/documents.parquet")))
  private def emb(): DataFrame = layer("io")(force(spark.read.parquet(s"$data/embeddings.parquet")))
  private def src67(d: DataFrame): DataFrame = d.filter(col("source").isin("src6", "src7"))
  private def benchSplit(d: DataFrame) =
    (d.filter(pmod(col("doc_id"), lit(97L)) === 0), d.filter(pmod(col("doc_id"), lit(97L)) =!= 0))
  private def annQueries(e: DataFrame): DataFrame = e.filter(pmod(col("vec_id"), lit(50L)) === 0)

  val tracedOf: PartialFunction[String, () => DataFrame] = {
    case "q25_minhash_lsh" => () =>
      val d = src67(docs())
      val packed = layer("dedup")(force(Dedup.packedShingles(Dedup.spreadToCores(d), "doc_id", "text", 5)))
      val sigs = layer("dedup")(force(Dedup.minhashSignaturesPacked(packed, "doc_id", 5, 8)))
      val cand = layer("dedup")(force(Dedup.lshCandidates(sigs, "doc_id", 8, 2)))
      val ver = layer("dedup")(force(Dedup.verifyCandidatesPacked(packed, "doc_id", cand, 0.25)
        .select(col("id_1"), col("id_2"), col("n_inter")).orderBy("id_1", "id_2")))
      counter("dedup") {
        note("dedup.candidates", cand.count().toDouble)
        note("dedup.verified", ver.count().toDouble)
      }
      ver
    case "q46_decontaminate" => () =>
      val (bench, train) = benchSplit(docs())
      layer("text")(sink(Corpus.contaminationFlags(train, bench, "doc_id", "text", n = 20)
        .select(col("doc_id"), col("contaminated")).orderBy("doc_id")))
    case "q34_ann_ivf" => () =>
      val e = emb()
      layer("ann")(sink(Ann.ivfTopK(annQueries(e), "vec_id", "embedding", e, "vec_id", "embedding",
        k = 10, centroidEvery = 25L, nprobe = 4).orderBy("query_id", "rank")))
  }
}

/** The north-star pipeline: snapshot read → bbox + DFL extract → payload
  * decode → cell join → tile assignment → snapshot commit.
  */
final class ImageTiles(s: SparkSession, p: Probe, d: String, w: String)
    extends Workload(s, p, d, w) {
  val Bbox = (-180.0, -60.0, 180.0, 60.0)
  val JoinZ = 6
  val TileZ = 12
  private def images = SnapshotTable.read(spark, s"$data/images", "part_cell").drop("part_cell")
  private def polys = SnapshotTable.read(spark, s"$data/boundaries", "part_cell").drop("part_cell")
  lazy val inputRows: Long = SnapshotTable.manifestRows(spark, s"$data/images").values.sum +
    SnapshotTable.manifestRows(spark, s"$data/boundaries").values.sum
  def load(): Unit = inputRows

  private def extract(df: DataFrame): DataFrame =
    OsmOps.bboxExtract(df, "lon", "lat", Bbox._1, Bbox._2, Bbox._3, Bbox._4)
      .filter(Dfl.compile("@craft like brewery", k => element_at(col("tags"), k)))

  private def decode(sel: DataFrame): DataFrame =
    Media.imageFeaturesColumnar(sel).select(col("image_id"), col("phash").as("decoded_phash"))
      .join(sel.drop("bytes"), "image_id")

  private def tiled(joined: DataFrame): DataFrame =
    Tiles.assignPoint(joined, "lon", "lat", TileZ)
      .select(col("image_id"), col("polygon_id"), col("tile_z"), col("tile_x"), col("tile_y"),
        col("lon"), col("lat"), col("decoded_phash"))

  private def commit(df: DataFrame, root: String): SnapshotTable.CommitReport =
    SnapshotTable.commit(Jobs.partitionKey(df), root, "part_cell", "perfbench-image-tiles",
      Seq(s"$data/images", s"$data/boundaries"))

  private def pipeline(root: String): SnapshotTable.CommitReport =
    commit(tiled(SpatialJoin.cellJoin(decode(extract(images)), "lon", "lat", polys, "ring", JoinZ)), root)

  /** Committed outputs kept for the check: label → (root, report). */
  private val committed =
    scala.collection.mutable.LinkedHashMap[String, (String, SnapshotTable.CommitReport)]()

  val ops: Seq[Op] = Seq(Op("image_pipeline",
    () => {
      val root = fresh("tiles")
      pipeline(root)
      Main.delete(root)
    },
    keep => {
      val root = if (keep) s"$checkDir/tiles.traced" else fresh("tiles")
      val (im, pl) = layer("io")((force(images), force(polys)))
      val sel = layer("ops")(force(extract(im)))
      val dec = layer("media")(force(decode(sel)))
      val joined = layer("join")(force(SpatialJoin.cellJoin(dec, "lon", "lat", pl, "ring", JoinZ)))
      val t = layer("tiles")(force(tiled(joined)))
      val report = layer("io")(commit(t, root))
      counter("join") {
        note("join.candidates", Workloads.cellCandidates(dec, pl, JoinZ).toDouble)
        note("join.pairs", joined.count().toDouble)
      }
      note("io.written_bytes", Main.bytesUnder(root).toDouble)
      note("io.files", Main.filesUnder(root).toDouble)
      note("io.input_bytes", Main.bytesUnder(s"$data/images").toDouble)
      if (keep) committed("image_pipeline.traced") = (root, report) else Main.delete(root)
    }))

  override def warm(op: Op): Unit = {
    val root = s"$checkDir/tiles"
    committed(op.name) = (root, pipeline(root))
  }

  def check(): Seq[Check] = {
    val rtree = SpatialJoin.broadcastRtreeJoin(extract(images), "lon", "lat", polys, "polygon_id", "ring")
      .select("image_id", "polygon_id")
    committed.toSeq.map { case (label, (root, report)) => Check(label, checkCommit(root, report, rtree)) }
  }

  /** A committed table is right when its decoded phash equals the stored
    * phash, its (image, polygon) pairs equal the broadcast R-tree join's,
    * and manifest, stored and reported row counts agree.
    */
  private def checkCommit(root: String, report: SnapshotTable.CommitReport,
                          rtree: DataFrame): Option[String] = {
    val out = SnapshotTable.read(spark, root, "part_cell")
    val badHash = out.join(images.select("image_id", "phash"), "image_id")
      .filter(col("phash") =!= col("decoded_phash")).count()
    val pairs = out.select("image_id", "polygon_id")
    val diff = pairs.exceptAll(rtree).count() + rtree.exceptAll(pairs).count()
    val stored = out.count()
    val manifest = SnapshotTable.manifestRows(spark, root).values.sum
    val reported = report.totalRows
    Main.release(spark)
    val errs = Seq(
      (badHash != 0) -> s"decode: $badHash phash mismatches",
      (diff != 0) -> s"join: cellJoin and broadcastRtreeJoin differ in $diff pairs",
      (stored == 0) -> "join: no pairs",
      (manifest != stored || stored != reported) ->
        s"commit: manifest $manifest, stored $stored, reported $reported")
      .collect { case (true, m) => m }
    errs.headOption.map(_ => errs.mkString("; "))
  }
}

object ImageTiles {
  /** Write the seeded images and boundaries snapshot tables once per seed. */
  def prepare(spark: SparkSession, data: String, seed: Long, nImages: Long, nPolys: Int): Unit =
    if (!new File(s"$data/_DONE").exists()) {
      Main.delete(data)
      // persisted: the commit's inventory and write would each re-encode the
      // PNGs; z=1 keys keep this one-off input commit to a few partitions
      val imgs = Jobs.partitionKey(GeoFixtures.images(spark, nImages, seed), z = 1).persist()
      SnapshotTable.commit(imgs, s"$data/images", "part_cell", "generate-images",
        Seq(s"synthetic:seed=$seed"))
      imgs.unpersist()
      SnapshotTable.commit(GeoFixtures.boundaries(spark, nPolys, seed).withColumn("part_cell", lit("all")),
        s"$data/boundaries", "part_cell", "generate-boundaries", Seq(s"synthetic:seed=$seed"))
      new File(s"$data/_DONE").createNewFile()
    }
}

/** The reference's own command over a seeded `.osm.pbf`: the go-osm flag
  * surface (DFL filter, ways→nodes, summarize, profile).
  */
final class PlanetCli(s: SparkSession, p: Probe, d: String, w: String, seed: Long,
                      nNodes: Int, nWays: Int, nRels: Int)
    extends Workload(s, p, d, w) {
  val pbf = s"$data/planet.osm.pbf"
  lazy val inputRows: Long = (nNodes + nWays + nRels).toLong
  def load(): Unit = ()

  val DflExpr = "@craft like brewery"
  val cliArgs: Array[String] = Array("-input_uri", pbf,
    "-dfl", DflExpr, "-ways_to_nodes", "-summarize", "-profile")
  /** Lines printed by the timed command, kept for the check: label → lines. */
  private val printed = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()

  /** Run the CLI, returning its printed lines. */
  def cli(args: Array[String]): Seq[String] = {
    val bos = new java.io.ByteArrayOutputStream()
    val code = OsmCli.run(spark, args, new java.io.PrintStream(bos, true, "UTF-8"))
    require(code == 0, s"OsmCli exited with $code")
    new String(bos.toByteArray, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  val ops: Seq[Op] = Seq(
    Op("osm_cli", () => cli(cliArgs), keep => {
      val lines = layer("jobs")(cli(cliArgs))
      val Stage = """profile: (\S+).* took ([0-9.]+) s""".r
      lines.foreach {
        case Stage(st, sec) => note(s"jobs.stage_s.$st", sec.toDouble)
        case _ =>
      }
      if (keep) printed("osm_cli.traced") = lines
    }))

  override def warm(op: Op): Unit = printed(op.name) = cli(cliArgs)

  /** The timed command's summary must equal the fixture planet's after the
    * same DFL filter (kept ways keep the nodes they reference) and the
    * ways→nodes conversion, computed over the fixture DataFrames without the
    * PBF decode; a bare `-summarize` must equal the whole planet's.
    */
  def check(): Seq[Check] = {
    val planet = OsmFixtures.planet(spark, nNodes, nWays, nRels, seed)
    val keepPred = Dfl.compile(DflExpr, k => element_at(col("tags"), k))
    val ways = planet.ways.filter(keepPred)
    val refs = ways.select(explode(col("refs")).as("ref")).distinct()
    val nodes = planet.nodes.join(refs, col("id") === col("ref"), "left")
      .filter(keepPred || col("ref").isNotNull).drop("ref")
    val rels = planet.relations.filter(keepPred)
    val bb = planet.bounds.get
    val wantFiltered = summary(bb, nodes, ways, rels, waysAsNodes = true)
    val wantAll = summary(bb, planet.nodes, planet.ways, planet.relations, waysAsNodes = false)
    val bare = cli(Array("-input_uri", pbf, "-summarize"))
    Main.release(spark)
    def cmp(got: Seq[String], want: Seq[String]) =
      if (got == want) None else Some(s"summary ${got.mkString("|")} != fixture ${want.mkString("|")}")
    Check("osm_cli -summarize", cmp(bare, wantAll)) +: printed.toSeq.map { case (label, lines) =>
      Check(label, cmp(lines.filterNot(_.startsWith("profile:")), wantFiltered))
    }
  }

  /** The `-summarize` lines for these element classes; with `waysAsNodes`
    * every way counts as the node the conversion makes of it.
    */
  private def summary(bb: (Double, Double, Double, Double), nodes: DataFrame, ways: DataFrame,
                      rels: DataFrame, waysAsNodes: Boolean): Seq[String] = {
    val all = Seq(nodes, ways, rels).map(_.select("uid", "user", "tags")).reduce(_.unionByName(_))
    val kv = all.select(explode(col("tags")).as(Seq("k", "v")))
    val (nNode, nWay) =
      if (waysAsNodes) (nodes.count() + ways.count(), 0L) else (nodes.count(), ways.count())
    Seq(
      "Bounding Box: " + Seq(bb._1, bb._2, bb._3, bb._4)
        .map(v => String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))).mkString(","),
      s"Total Number of Users: ${all.filter(col("uid").isNotNull && col("user").isNotNull)
        .select("uid").distinct().count()}",
      s"Total Number of Nodes: $nNode",
      s"Total Number of Ways: $nWay",
      s"Total Number of Relations: ${rels.count()}",
      s"Total Number of Keys: ${kv.select("k").distinct().count()}",
      s"Total Number of Tags: ${kv.distinct().count()}")
  }
}

object PlanetCli {
  def prepare(spark: SparkSession, data: String, seed: Long, n: Int, w: Int, r: Int): Unit =
    if (!new File(s"$data/_DONE").exists()) {
      Main.delete(data)
      new File(data).mkdirs()
      OsmPbf.writePlanet(OsmFixtures.planet(spark, n, w, r, seed), s"$data/planet.osm.pbf")
      new File(s"$data/_DONE").createNewFile()
    }
}

object Workloads {
  /** Point/polygon pairs that share a cell at zoom `z` (the cell join's
    * candidates before the point-in-ring refine).
    */
  def cellCandidates(points: DataFrame, polys: DataFrame, z: Int): Long = {
    val (a, b, c, d) = SpatialJoin.ringBounds(col("ring"))
    val pc = polys.select(explode(SpatialJoin.coverCells(a, b, c, d, z)).as("__cell"))
    points.select(cell_id(col("lon"), col("lat"), z).as("__cell")).join(pc, "__cell").count()
  }
}
