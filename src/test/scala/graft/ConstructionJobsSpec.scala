package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.grafttest.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.geo.{GeoTables, OsmFixtures}
import graft.io.{OsmXml, ParquetTable, SnapshotTable}
import graft.jobs.Pipeline
import graft.jobs.Pipeline.{InputSpec, OutputSpec, PipelineConfig}

/** Building a query runs no Spark job: no schema-inference job for the
  * input tables (plain parquet or snapshot), no `.rdd` width probe on an
  * exchange-bearing frame, no count() to pick a plan. Each spec pins one
  * such job that used to run.
  */
class ConstructionJobsSpec extends SparkSpecBase {

  /** The input tables: the flagship [[SparkEntry.entry]] reads sf0.001,
    * and sf0.01 sits beside it.
    */
  private lazy val sf0001 =
    new java.io.File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent
  private lazy val sf001 = new java.io.File(new java.io.File(sf0001).getParentFile, "sf0.01").getPath

  private def sc = spark.sparkContext

  test("ParquetTable.schema equals spark.read.parquet's schema on every sf0.01 table") {
    val tables = new java.io.File(sf001).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    assert(tables.length >= 6, tables.mkString(","))
    tables.foreach { t =>
      assert(ParquetTable.schema(spark, t) === spark.read.parquet(t).schema, t)
    }
  }

  test("ParquetTable.schema equals spark.read.parquet's on a multi-file directory") {
    val dir = Files.createTempDirectory("graft_pq").resolve("t").toString
    spark.range(0, 1000, 1, 4)
      .select(col("id"), timestamp_seconds(col("id") * 3600L).as("ts"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
        array(col("id"), col("id") + 1).as("xs"))
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS") && names.count(_.endsWith(".parquet")) > 1, names)
    val want = spark.read.parquet(dir).schema
    assert(ParquetTable.schema(spark, dir) === want)
    val (df, jobs) = TestBus.jobsDuring(sc)(ParquetTable.read(spark, dir))
    assert(jobs === 0, "a footer read runs no job")
    assert(df.schema === want)
    assert(df.count() === 1000L)
  }

  test("SnapshotTable.read and readPartitions launch no job and keep the inferred schema") {
    import spark.implicits._
    def root() = Files.createTempDirectory("graft_snapread").toString
    def table(keys: Seq[String]) =
      keys.zipWithIndex.flatMap { case (k, i) => (0 to i).map(j => (s"id_${i}_$j", j.toDouble, k)) }
        .toDF("id", "v", "k")
    // what `spark.read.parquet` infers for the same partition dirs, one
    // basePath scan per parent data dir
    def inferred(root: String, keys: Set[String]) =
      SnapshotTable.partitionRefs(spark, root, "k").filter(kv => keys(kv._1)).values
        .map(_.location).toSeq.groupBy(l => new org.apache.hadoop.fs.Path(l).getParent.toString)
        .toSeq.sortBy(_._1)
        .map { case (base, dirs) => spark.read.option("basePath", base).parquet(dirs.sorted: _*) }
        .reduce(_.unionByName(_)).schema
    def check(label: String, root: String, subset: Seq[String]): Unit = {
      val all = SnapshotTable.manifestRows(spark, root).keySet
      val (df, jobs) = TestBus.jobsDuring(sc)(SnapshotTable.read(spark, root, "k"))
      assert(jobs === 0, s"$label: read")
      assert(df.schema === inferred(root, all), label)
      val (part, partJobs) =
        TestBus.jobsDuring(sc)(SnapshotTable.readPartitions(spark, root, "k", subset))
      assert(partJobs === 0, s"$label: readPartitions")
      assert(part.schema === inferred(root, subset.toSet), label)
    }

    val digits = root()
    SnapshotTable.commit(table(Seq("3", "17", "250")), digits, "k", "digits")
    assert(SnapshotTable.read(spark, digits, "k").schema("k").dataType ===
      org.apache.spark.sql.types.IntegerType)
    check("all-digit keys", digits, Seq("3", "17"))

    val specials = root()
    val specialKeys = Seq("2024-01-01 00:00:00", "a/b", "pct%20done", "qu\"ote", "plain")
    SnapshotTable.commit(table(specialKeys), specials, "k", "specials")
    check("path-special keys", specials, Seq("a/b", "qu\"ote"))

    // copy-on-write: "3" and "17" inherited from `digits`, "9" written here
    val cow = root()
    SnapshotTable.commitCow(table(Seq("9")), cow, "k", "cow", Seq(digits),
      inherited = SnapshotTable.partitionRefs(spark, digits, "k") - "250")
    assert(SnapshotTable.read(spark, cow, "k").count() === 1L + 1L + 2L)
    check("copy-on-write", cow, Seq("3", "9"))
  }

  test("Pipeline.loadInput on a plain parquet planet launches no job") {
    val tmp = Files.createTempDirectory("graft_pqplanet").toString
    val planet = OsmFixtures.planet(spark, 300, 60, 10)
    val dir = s"$tmp/planet"
    planet.nodes.write.parquet(s"$dir/nodes")
    planet.ways.write.parquet(s"$dir/ways")
    planet.relations.write.parquet(s"$dir/relations")
    val in = InputSpec(uri = dir)
    val p = Pipeline.plan(PipelineConfig(Seq(in), Seq(OutputSpec(uri = s"$tmp/out", format = Some("parquet")))))
    val (loaded, jobs) = TestBus.jobsDuring(sc)(Pipeline.loadInput(spark, in, 0, p))
    assert(jobs === 0)
    assert((loaded.nodes.count(), loaded.ways.count(), loaded.relations.count()) === ((300L, 60L, 10L)))
  }

  test("constructing GeoTables.points and rects launches no job") {
    val (_, jobs) = TestBus.jobsDuring(sc) {
      (GeoTables.points(spark, sf0001), GeoTables.rects(spark, sf0001))
    }
    assert(jobs === 0)
  }

  test("q16_knn_scan writes the point-derivation shuffle exactly once") {
    val liRows = ParquetTable.read(spark, s"$sf0001/lineitem.parquet").count()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.add(e.stageInfo)
    }
    TestBus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries("q16_knn_scan")(spark, sf0001).write.format("noop").mode("overwrite").save()
      TestBus.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    // the derivation's map side: the stage that scans all of lineitem and
    // writes a shuffle
    val derivation = stages.asScala.filter { s =>
      s.taskMetrics.inputMetrics.recordsRead == liRows &&
        s.taskMetrics.shuffleWriteMetrics.bytesWritten > 0
    }
    assert(derivation.size === 1, stages.asScala.map(_.name).mkString("; "))
  }

  test("Pipeline.waysToNodes after ingest launches no job") {
    val tmp = Files.createTempDirectory("graft_w2n").toString
    val planet = OsmFixtures.planet(spark, 300, 60, 10)
    val in = s"$tmp/in.osm"
    OsmXml.writePlanet(planet, in)
    val c = PipelineConfig(Seq(InputSpec(uri = in)), Nil)
    val shared = Pipeline.ingest(spark, c, Pipeline.plan(c))
    try {
      assert(shared.wayCount === 60L)
      val (conv, jobs) = TestBus.jobsDuring(sc)(Pipeline.waysToNodes(shared))
      assert(jobs === 0, "the id plan must come from the ingest count, not a count()")
      val ids = conv.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === (shared.maxId + 1 to shared.maxId + 60L))
    } finally shared.unpersist()
  }

  test("spreadToCores decides from the plan: no job on an aggregated frame") {
    val agg = spark.range(0, 1000).groupBy((col("id") % 7).as("k")).count()
    val (same, jobs) = TestBus.jobsDuring(sc)(Dedup.spreadToCores(agg))
    assert(jobs === 0)
    assert(same eq agg, "an exchange-bearing frame keeps its exchange's width")
    // a few-split scan is still spread to the core count
    val scan = ParquetTable.read(spark, s"$sf0001/documents.parquet")
    assert(scan.rdd.getNumPartitions < sc.defaultParallelism)
    val (spread, scanJobs) = TestBus.jobsDuring(sc)(Dedup.spreadToCores(scan))
    assert(scanJobs === 0)
    assert(spread.rdd.getNumPartitions === sc.defaultParallelism)
  }
}
