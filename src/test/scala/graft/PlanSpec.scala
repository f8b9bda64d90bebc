package graft

import org.apache.spark.sql.functions._
import graft.join.SpatialJoin

/** Physical-plan shape assertions: predicate pushdown reaches the parquet
  * scan, column pruning drops unused columns, the polygon side broadcasts,
  * and the PIP refinement runs inside whole-stage codegen.
  */
class PlanSpec extends SparkSpecBase {

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_plan").toString
    graft.geo.GeoFixtures.imagesLite(spark, 20000).write.mode("overwrite").parquet(s"$d/imgs")
    graft.geo.GeoFixtures.boundaries(spark, 30).write.mode("overwrite").parquet(s"$d/polys")
    d
  }

  test("bbox filter pushes down to the parquet scan; columns pruned") {
    val df = spark.read.parquet(s"$dir/imgs")
      .filter(col("lon").between(-80.0, -70.0) && col("lat").between(35.0, 42.0))
      .select("image_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThanOrEqual(lon,-80.0)"), plan)
    // the plan string elides long filter lists — check the survived ones
    assert(plan.contains("(lat#") && plan.contains(">= 35.0)"), plan)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("lon") && readSchema.contains("image_id"), readSchema)
    assert(!readSchema.contains("craft"), s"craft not pruned: $readSchema")
  }

  test("cell spatial join broadcasts the (small) polygon side") {
    val imgs = spark.read.parquet(s"$dir/imgs")
    val polys = spark.read.parquet(s"$dir/polys")
    val plan = SpatialJoin.cellJoin(imgs, "lon", "lat", polys, "ring", z = 6)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "polygon side must broadcast, not sort-merge")
  }

  test("point_in_ring refine runs inside whole-stage codegen (final AQE plan)") {
    val imgs = spark.read.parquet(s"$dir/imgs")
    val polys = spark.read.parquet(s"$dir/polys")
    val joined = SpatialJoin.cellJoin(imgs, "lon", "lat", polys, "ring", z = 6)
    joined.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan.take(500))
    // PIP is fused into the broadcast join condition, inside a '*(n)' span
    val line = plan.linesIterator.find(_.contains("point_in_ring")).getOrElse("")
    assert(line.contains("*("), s"PIP join stage not codegen'd: $line")
  }

  test("cell_id expression is codegen'd on the point side") {
    val imgs = spark.read.parquet(s"$dir/imgs")
    val df = imgs.select(graft.functions.GeoFunctions.cell_id(col("lon"), col("lat"), 7).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("cell_id")).getOrElse("")
    assert(line.contains("*(") || plan.startsWith("*("), s"cell_id not in WSCG: $line")
  }

  test("broadcast R-tree probe is a codegen expression, not a ScalaUDF") {
    val imgs = spark.read.parquet(s"$dir/imgs")
    val polys = spark.read.parquet(s"$dir/polys")
    val joined = SpatialJoin.broadcastRtreeJoin(imgs, "lon", "lat", polys, "polygon_id", "ring")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("rtree_probe"), plan.take(2000))
    assert(!plan.contains("ScalaUDF"), "probe must not fall back to a ScalaUDF")
    // zero shuffle: the point side flows scan -> generate with no Exchange
    assert(!plan.contains("Exchange"), s"broadcast plan must not shuffle points:\n${plan.take(2000)}")
  }

  test("regionRates plan: one exchange (the windowed agg), none on the enrich path") {
    val imgs = spark.read.parquet(s"$dir/imgs")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_seconds(
        org.apache.spark.sql.functions.lit(1704067200L)))
    val polys = spark.read.parquet(s"$dir/polys")
    val rates = graft.streaming.Streams.regionRates(imgs, "ts", "lon", "lat",
      polys, "polygon_id", "ring", windowLen = "1 hour", delay = "0 seconds")
    val plan = rates.queryExecution.executedPlan.toString
    assert(plan.contains("rtree_probe"), plan.take(2000))
    // exactly the aggregation's exchange: the broadcast enrichment itself
    // must add NO shuffle of the point side
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges === 1, s"expected only the groupBy exchange:\n${plan.take(2500)}")
  }

  test("exact embedding near-dup plan has no cartesian/broadcast-nested-loop join") {
    import spark.implicits._
    val emb = (0 until 200).map(i =>
      (i.toLong, (0 until 8).map(d => (i % 7 + d).toFloat / 10f))).toDF("vec_id", "embedding")
    val pairs = graft.ann.Ann.embeddingNearDupPairs(emb, "vec_id", "embedding", 9, 10)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the all-pairs work happens inside the task loops after ONE identity
    // partitionBy on the dense block-pair rank — one reduce partition per
    // triangle task (hash-partitioning the task keys instead collides ~2×
    // cores' keys into ~cores bins and the stage waits on the worst bin)
    val b = math.max(2, math.ceil(math.sqrt(
      16.0 * spark.sparkContext.defaultParallelism)).toInt)
    val nTasks = b * (b + 1) / 2
    assert(pairs.rdd.getNumPartitions === nTasks)
    // lineage shape: round-robin repartition (cluster parallelism) →
    // b-way groupByKey (block pack) → identity partitionBy (nTasks).
    // The identity shuffle's map side is the b-partition pack stage; the
    // pack stage's own map side must run at CLUSTER parallelism — without
    // the pre-fan-out round-robin repartition the whole per-vector pass
    // (quantize, serialize) runs on however few input splits the corpus
    // arrived as — measured as a ~18 s parallelism-independent floor on
    // the 96k-vector scaling leg
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.ShuffleDependency[_, _, _]] =
      r.dependencies.flatMap {
        case s: org.apache.spark.ShuffleDependency[_, _, _] => s +: shuffles(s.rdd)
        case d => shuffles(d.rdd)
      }.toSeq
    val identityShuffle = shuffles(pairs.rdd)
      .find(_.partitioner.numPartitions == nTasks)
      .getOrElse(fail("identity partitionBy shuffle not found in lineage"))
    assert(identityShuffle.rdd.getNumPartitions === b,
      "identity shuffle map side must be the b-partition block-pack stage")
    val packShuffle = shuffles(identityShuffle.rdd)
      .find(_.partitioner.numPartitions == b)
      .getOrElse(fail("b-way groupByKey (block pack) shuffle not found in lineage"))
    assert(packShuffle.rdd.getNumPartitions ===
      math.max(2, spark.sparkContext.defaultParallelism))
  }

  test("pipeline username rejoin broadcasts the dimension") {
    import graft.jobs.Pipeline
    val planet = graft.geo.OsmFixtures.planet(spark, 100, 10, 2)
    val tmp = java.nio.file.Files.createTempDirectory("planspec_pq").toString
    planet.nodes.write.mode("overwrite").parquet(s"$tmp/nodes")
    planet.ways.write.mode("overwrite").parquet(s"$tmp/ways")
    planet.relations.write.mode("overwrite").parquet(s"$tmp/relations")
    val c = Pipeline.PipelineConfig(
      Seq(Pipeline.InputSpec(uri = tmp)),
      Seq(Pipeline.OutputSpec(uri = s"$tmp/out", format = Some("parquet"))))
    val shared = Pipeline.ingest(spark, c, Pipeline.plan(c))
    // capture the plans runOutput ACTUALLY executes (a hand-built join
    // with its own broadcast() hint would be tautological): the writer
    // commands flow through the QueryExecutionListener
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try {
      Pipeline.runOutput(shared, c.outputs.head, None)
      val written = spark.read.parquet(s"$tmp/out/nodes")
      assert(written.filter(col("user").isNull).count() === 0)
      org.apache.spark.grafttest.TestBus.waitUntilEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val all = plans.asScala.mkString("\n====\n")
      assert(all.contains("BroadcastHashJoin"), all.take(2000))
      assert(!all.contains("SortMergeJoin"), all.take(2000))
    } finally {
      spark.listenerManager.unregister(ql)
      shared.unpersist()
    }
  }

  test("unionWithDupCheck scans each input exactly once (single-pass J4)") {
    // two parquet inputs with disjoint ids
    val d = java.nio.file.Files.createTempDirectory("graft_dup").toString
    import spark.implicits._
    (1L to 100L).map(i => (i, s"a$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$d/a")
    (101L to 200L).map(i => (i, s"b$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$d/b")
    val a = spark.read.parquet(s"$d/a")
    val b = spark.read.parquet(s"$d/b")
    // construction runs NO job (the old implementation collected eagerly)
    val (u, jobs) = org.apache.spark.grafttest.TestBus.jobsDuring(spark.sparkContext) {
      graft.ops.OsmOps.unionWithDupCheck(Seq(a, b), "id")
    }
    assert(jobs === 0, "construction must be action-free")
    // one linear plan: each input appears as exactly one scan (AQE wraps
    // the tree, so count scans in the plan text), under ONE union
    val planStr = u.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(planStr).size === 2, planStr.take(2000))
    assert("Union".r.findAllIn(planStr).size === 1, planStr.take(2000))
    assert(u.count() === 200L)
  }

  test("tag key-existence filter keeps exactly the matching rows and prunes columns") {
    // a discriminating fixture: only rows whose id-hash is even carry the
    // craft key — an always-true (or always-false) filter regression can't
    // hide behind an all-match fixture
    val hasKey = pmod(xxhash64(col("image_id")), lit(2)) === 0
    val tagged = spark.read.parquet(s"$dir/imgs")
      .withColumn("tags",
        when(hasKey, map(lit("craft"), col("craft")))
          .otherwise(map(lit("other"), col("craft"))))
    val expected = tagged.filter(hasKey).count()
    assert(expected > 0 && expected < 20000) // fixture is discriminating
    val q = graft.ops.OsmOps.filterKeepKeys(tagged, "tags", Seq("craft"))
      .select("image_id")
    assert(q.count() === expected)
    // column pruning: the projection reads only what the filter + select
    // need (the tags map is derived from image_id/craft; lon/lat pruned)
    val readSchema = "ReadSchema: [^\\n]*".r
      .findFirstIn(q.queryExecution.executedPlan.toString).getOrElse("")
    assert(!readSchema.contains("lon") && !readSchema.contains("lat"),
      s"lon/lat not pruned: $readSchema")
  }
}
