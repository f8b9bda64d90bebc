package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.geo.OsmFixtures
import graft.io.OsmXml
import graft.jobs.{Pipeline, PipelineConfigIO}
import graft.jobs.Pipeline._

/** R3 multi-output shared-ingest pipeline: planner conjunction semantics,
  * the reference README composite scenario with independently recomputed
  * golden counts, shared-scan column pruning, config-file equivalence, and
  * the J3 normalized-username byte round-trip.
  */
class PipelineSpec extends SparkSpecBase {

  private lazy val planet = OsmFixtures.planet(spark, 300, 60, 10)
  private lazy val tmp = Files.createTempDirectory("pipeline").toString
  private lazy val inOsm = { val p = s"$tmp/in.osm"; OsmXml.writePlanet(planet, p); p }

  private val K = Seq("amenity", "craft", "shop")

  test("planner conjoins output requirements into the ingest scan (Config.Init)") {
    val c = PipelineConfig(
      inputs = Seq(InputSpec(uri = "x.osm")),
      outputs = Seq(
        OutputSpec(uri = "a.osm", keysToKeep = Seq("amenity", "craft"), dropVersion = true,
          dropTimestamp = true, dropRelations = true, waysToNodes = true),
        OutputSpec(uri = "b.geojsonl", keysToKeep = Seq("craft"), dropTimestamp = true,
          dropChangeset = true, dropRelations = true)))
    val p = Pipeline.plan(c)
    assert(p.inputKeepKeys.head.toSet === Set("amenity", "craft")) // union of keeps
    assert(p.dropTimestamp) // every output drops it
    assert(!p.dropVersion && !p.dropChangeset) // only one output drops
    assert(p.dropRelations && !p.dropWays && !p.dropNodes)
    assert(!p.convertAllWaysToNodes) // only one output converts

    // keep-pushdown binds only when every output declares a keep set
    val c2 = c.copy(outputs = Seq(c.outputs.head, c.outputs(1).copy(keysToKeep = Nil)))
    assert(Pipeline.plan(c2).inputKeepKeys.head.isEmpty)

    // drop-keys push down as the intersection of output drop sets
    val c3 = PipelineConfig(c.inputs, Seq(
      OutputSpec(uri = "a.osm", keysToDrop = Seq("x", "y")),
      OutputSpec(uri = "b.osm", keysToDrop = Seq("y", "z"))))
    assert(Pipeline.plan(c3).inputDropKeys.head === Seq("y"))

    // input keep narrows against the output union
    val c4 = PipelineConfig(
      Seq(InputSpec(uri = "x.osm", keysToKeep = Seq("craft", "building"))),
      c.outputs)
    assert(Pipeline.plan(c4).inputKeepKeys.head === Seq("craft"))
  }

  /** The composite config both scenario tests share (README.md:79-90 +
    * breweries&distilleries geojsonl example): two outputs, shared ingest.
    */
  private def compositeConfig(a: String, b: String) = PipelineConfig(
    inputs = Seq(InputSpec(uri = inOsm)),
    outputs = Seq(
      OutputSpec(uri = a, filter = Some(FilterSpec(keepKeys = K)),
        keysToKeep = K, waysToNodes = true,
        dropVersion = true, dropTimestamp = true, dropChangeset = true,
        dropRelations = true),
      OutputSpec(uri = b,
        filter = Some(FilterSpec(dfl = Some("(@craft like brewery) or (@craft like distillery)"))),
        keysToKeep = Seq("craft"), waysToNodes = true,
        dropTimestamp = true, dropRelations = true)))

  /** independent expectations from the raw fixture rows (plain Scala) */
  private lazy val nodeTags: Seq[(Long, Map[String, String])] =
    planet.nodes.collect().map(r => r.getLong(0) -> r.getMap[String, String](8).toMap).toSeq
  private lazy val wayTags: Seq[(Long, Map[String, String])] =
    planet.ways.collect().map(r => r.getLong(0) -> r.getMap[String, String](7).toMap).toSeq
  private def crafty(m: Map[String, String]) =
    m.get("craft").exists(v => v == "brewery" || v == "distillery")
  private lazy val expA =
    nodeTags.count(_._2.keySet.intersect(K.toSet).nonEmpty) +
      wayTags.count(_._2.keySet.intersect(K.toSet).nonEmpty)
  private lazy val expB = nodeTags.count(t => crafty(t._2)) + wayTags.count(t => crafty(t._2))

  test("README composite scenario: shared ingest, two outputs, golden counts") {
    val a = s"$tmp/a.osm"
    val b = s"$tmp/b.geojsonl"
    val reports = Pipeline.run(spark, compositeConfig(a, b))
    val ra = reports.find(_.uri == a).get
    val rb = reports.find(_.uri == b).get

    assert(expA > 0 && expB > 0 && expB < expA) // fixture is non-trivial
    assert(ra.nodes === expA.toLong)
    assert(ra.ways === 0L && ra.relations === 0L) // converted + dropped
    assert(rb.nodes === expB.toLong)

    // geojsonl: one feature line per kept node, nothing else
    val lines = scala.io.Source.fromFile(b).getLines().toSeq
    assert(lines.size === expB)
    assert(lines.forall(_.startsWith("{\"type\":\"Feature\"")))

    // .osm output round-trips: keys projected to K, version dropped,
    // usernames rejoined from the normalized dimension (J3)
    val backA = OsmXml.readPlanet(spark, a)
    assert(backA.nodes.count() === expA.toLong)
    val keysInA = backA.nodes.select(explode(map_keys(col("tags"))))
      .distinct().collect().map(_.getString(0)).toSet
    assert(keysInA.subsetOf(K.toSet), keysInA)
    assert(backA.nodes.filter(col("version").isNotNull).count() === 0L)
    assert(backA.nodes.filter(col("ts").isNotNull).count() === 0L)
    assert(backA.nodes.filter(col("user").isNull).count() === 0L)
  }

  test("parquet shared scan reads only the union of needed columns") {
    val pq = s"$tmp/planet_pq"
    planet.nodes.write.mode("overwrite").parquet(s"$pq/nodes")
    planet.ways.write.mode("overwrite").parquet(s"$pq/ways")
    planet.relations.write.mode("overwrite").parquet(s"$pq/relations")
    def readSchemaOf(c: PipelineConfig): String = {
      val loaded = Pipeline.loadInput(spark, c.inputs.head, 0, Pipeline.plan(c))
      "ReadSchema: [^\\n]*".r
        .findFirstIn(loaded.nodes.queryExecution.executedPlan.toString).getOrElse("")
    }
    def out(uri: String) = OutputSpec(uri = uri, format = Some("parquet"),
      dropVersion = true, dropTimestamp = true, dropChangeset = true,
      dropUserId = true, dropUserName = true)
    val cAllDrop = PipelineConfig(Seq(InputSpec(uri = pq)),
      Seq(out(s"$tmp/o1"), out(s"$tmp/o2")))
    val rs = readSchemaOf(cAllDrop)
    assert(!rs.contains("version") && !rs.contains("changeset") &&
      !rs.contains("uid") && !rs.contains("user"), rs)
    assert(rs.contains("id") && rs.contains("lon") && rs.contains("tags"), rs)

    // one output keeping changeset forces it back into the shared scan
    val cKeep = cAllDrop.copy(outputs =
      Seq(cAllDrop.outputs.head, cAllDrop.outputs(1).copy(dropChangeset = false)))
    val rs2 = readSchemaOf(cKeep)
    assert(rs2.contains("changeset") && !rs2.contains("version"), rs2)

    // names needed by some output keep uid (the J3 join key) in the scan
    val cNames = cAllDrop.copy(outputs =
      Seq(cAllDrop.outputs.head, cAllDrop.outputs(1).copy(dropUserName = false)))
    val rs3 = readSchemaOf(cNames)
    assert(rs3.contains("uid") && rs3.contains("user"), rs3)
  }

  test("config-file run is equivalent to the programmatic run, byte for byte") {
    // programmatic leg (fresh paths so the test is order-independent)
    val pa = s"$tmp/prog_a.osm"
    val pb = s"$tmp/prog_b.geojsonl"
    Pipeline.run(spark, compositeConfig(pa, pb))

    val ca = s"$tmp/cfg_a.osm"
    val cb = s"$tmp/cfg_b.geojsonl"
    val json =
      s"""{
         |  "inputs": [{"uri": "$inOsm"}],
         |  "outputs": [
         |    {"uri": "$ca", "keys_to_keep": ["amenity", "craft", "shop"],
         |     "ways_to_nodes": true, "drop_version": true, "drop_timestamp": true,
         |     "drop_changeset": true, "drop_relations": true,
         |     "filter": {"keep_keys": ["amenity", "craft", "shop"]}},
         |    {"uri": "$cb", "keys_to_keep": ["craft"], "ways_to_nodes": true,
         |     "drop_timestamp": true, "drop_relations": true,
         |     "filter": {"dfl": "(@craft like brewery) or (@craft like distillery)"}}
         |  ]
         |}""".stripMargin
    val cfgPath = s"$tmp/pipeline.json"
    Files.write(Paths.get(cfgPath), json.getBytes("UTF-8"))
    val parsed = PipelineConfigIO.load(cfgPath)
    assert(parsed === compositeConfig(ca, cb)) // codec fidelity

    Pipeline.run(spark, parsed)
    assert(Files.readAllBytes(Paths.get(ca)).sameElements(Files.readAllBytes(Paths.get(pa))))
    assert(Files.readAllBytes(Paths.get(cb)).sameElements(Files.readAllBytes(Paths.get(pb))))
  }

  test("distributed geojsonl dir sink emits the same ordered stream as the file sink") {
    val fileOut = s"$tmp/stream_file.geojsonl"
    val dirOut = s"$tmp/stream_dir"
    def out(uri: String) = OutputSpec(uri = uri, format = Some("geojsonl"),
      keysToKeep = K, waysToNodes = true, dropRelations = true)
    Pipeline.run(spark, PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(out(fileOut), out(dirOut))))
    val fromFile = scala.io.Source.fromFile(fileOut).getLines().toSeq
    // part files concatenate in name order = range-partition order
    val parts = new java.io.File(dirOut).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val fromDir = parts.flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(fromDir === fromFile)
    assert(fromFile.nonEmpty)
  }

  test("dropNodes plan skips the node class for xml inputs (like parquet readClass)") {
    // two planet files sharing node id 1: any plan that READS nodes must
    // fail the J4 duplicate check on union; a relation-only plan
    // (dropNodes conjoined) must skip the class entirely and succeed —
    // the same skip the parquet branch's readClass has always had
    def planetFile(name: String, relId: Long): String = {
      val p = s"$tmp/$name"
      Files.write(Paths.get(p),
        s"""<osm version="0.6"><node id="1" lon="1.0" lat="1.0"/>
           |<relation id="$relId"><member type="node" ref="1" role=""/>
           |<tag k="type" v="multipolygon"/></relation></osm>""".stripMargin
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p
    }
    val ins = Seq(InputSpec(uri = planetFile("dup_a.osm", 10L)),
      InputSpec(uri = planetFile("dup_b.osm", 11L)))
    val relOnly = PipelineConfig(ins, Seq(OutputSpec(uri = s"$tmp/rel_only.osm",
      dropNodes = true, dropWays = true)))
    assert(Pipeline.plan(relOnly).dropNodes)
    val rep = Pipeline.run(spark, relOnly).head
    assert(rep.relations === 2L && rep.nodes === 0L)

    val readsNodes = PipelineConfig(ins,
      Seq(OutputSpec(uri = s"$tmp/with_nodes.osm", dropWays = true)))
    val e = intercept[Exception] { Pipeline.run(spark, readsNodes) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("duplicate id on union: 1")),
      s"expected the J4 duplicate failure, got $e")
  }

  test("a .geojsonl.gz URI writes gzip bytes that gunzip to the plain sink's stream") {
    val plainOut = s"$tmp/gz_plain.geojsonl"
    val gzOut = s"$tmp/gz_comp.geojsonl.gz"
    def out(uri: String) = OutputSpec(uri = uri,
      keysToKeep = K, waysToNodes = true, dropRelations = true)
    Pipeline.run(spark, PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(out(plainOut), out(gzOut))))
    val plain = scala.io.Source.fromFile(plainOut).getLines().toSeq
    val gz = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(gzOut)),
      java.nio.charset.StandardCharsets.UTF_8))
    val unzipped = try Iterator.continually(gz.readLine()).takeWhile(_ != null).toSeq
      finally gz.close()
    assert(plain.nonEmpty)
    assert(unzipped === plain)
  }

  test("validate fails fast on contradictory configs (reference Config.Validate)") {
    val in = Seq(InputSpec(uri = "x.osm"))
    intercept[IllegalArgumentException] {
      Pipeline.validate(PipelineConfig(in,
        Seq(OutputSpec(uri = "a.osm", waysToNodes = true, dropWays = true))))
    }
    intercept[IllegalArgumentException] {
      Pipeline.validate(PipelineConfig(in, Seq(
        OutputSpec(uri = "a.osm", dropNodes = true, dropWays = true, dropRelations = true))))
    }
  }

  test("drop_nodes output that still emits ways keeps node coords end to end") {
    // the ingest plan must NOT starve the node scan: way geometry (geojson)
    // and way-referenced retention (osm) both need node coordinates
    val cDrop = PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(OutputSpec(uri = "a.geojsonl", dropNodes = true, dropRelations = true)))
    assert(!Pipeline.plan(cDrop).dropNodes)
    // only a relations-only output spares the node scan
    val cRelOnly = PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(OutputSpec(uri = "a.osm", dropNodes = true, dropWays = true)))
    assert(Pipeline.plan(cRelOnly).dropNodes)

    // geojsonl: zero node features, but every way feature has real geometry
    val gj = s"$tmp/dropnodes.geojsonl"
    val r = Pipeline.run(spark, PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(OutputSpec(uri = gj, dropNodes = true, dropRelations = true))))
    assert(r.head.nodes === 0L)
    assert(r.head.ways === 60L)
    val lines = scala.io.Source.fromFile(gj).getLines().toSeq
    assert(lines.size === 60)
    assert(lines.forall(_.contains(""""coordinates":[""")), "way geometry must resolve")

    // osm: way-referenced nodes survive drop_nodes (MarshalPlanet.go:130-141)
    val osmOut = s"$tmp/dropnodes.osm"
    val r2 = Pipeline.run(spark, PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(OutputSpec(uri = osmOut, dropNodes = true, dropRelations = true))))
    val refIds = planet.ways.select(explode(col("refs"))).distinct().count()
    assert(r2.head.nodes === refIds)
    val back = OsmXml.readPlanet(spark, osmOut)
    assert(back.nodes.count() === refIds)
    assert(back.ways.count() === 60L)
  }

  test("osm output filter: nodes referenced by kept ways bypass the node filter") {
    val out = s"$tmp/retention.osm"
    val r = Pipeline.run(spark, PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(OutputSpec(uri = out, filter = Some(FilterSpec(keepKeys = K)),
        dropRelations = true))))
    // expectation straight from the fixture rows: filter-passing nodes ∪
    // refs of filter-passing ways (KeepWay has no bbox, tags only)
    val keptWayIds = wayTags.filter(_._2.keySet.intersect(K.toSet).nonEmpty).map(_._1).toSet
    val refs = planet.ways.select(col("id"), explode(col("refs")).as("ref"))
      .collect().filter(r0 => keptWayIds.contains(r0.getLong(0))).map(_.getLong(1)).toSet
    val passing = nodeTags.filter(_._2.keySet.intersect(K.toSet).nonEmpty).map(_._1).toSet
    assert(r.head.nodes === (passing ++ refs).size.toLong)
    assert(r.head.ways === keptWayIds.size.toLong)
    assert((refs -- passing).nonEmpty, "fixture must exercise the bypass")
  }

  test("output accounting rides the write: no post-write count() re-runs") {
    val c = PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(OutputSpec(uri = s"$tmp/acct_pq", format = Some("parquet"))))
    Pipeline.validate(c)
    val p = Pipeline.plan(c)
    val shared = Pipeline.ingest(spark, c, p)
    try {
      Pipeline.runOutput(shared, c.outputs.head, None) // warm the persisted frames
      val (rep, jobs) = org.apache.spark.grafttest.TestBus.jobsDuring(spark.sparkContext) {
        Pipeline.runOutput(shared, c.outputs.head.copy(uri = s"$tmp/acct_pq2"), None)
      }
      assert(rep.nodes === 300L && rep.ways === 60L && rep.relations === 10L)
      // 3 class writes + up to 3 broadcast-build jobs for the user dim;
      // the old post-write count() path needed 3 more full re-runs
      assert(jobs <= 6, s"parquet output ran $jobs jobs")
      // counts match what actually landed on disk
      assert(spark.read.parquet(s"$tmp/acct_pq2/nodes").count() === 300L)
      assert(spark.read.parquet(s"$tmp/acct_pq2/ways").count() === 60L)
    } finally shared.unpersist()
  }

  test("snapshot parquet outputs resume after a kill: committed partitions skipped") {
    val s1 = s"$tmp/snap_out1"
    val s2 = s"$tmp/snap_out2"
    def cfg = PipelineConfig(Seq(InputSpec(uri = inOsm)), Seq(
      OutputSpec(uri = s1, format = Some("parquet"), snapshotParts = 4, dropRelations = true),
      OutputSpec(uri = s2, format = Some("parquet"), snapshotParts = 4,
        dropWays = true, dropRelations = true)))
    val r1 = Pipeline.run(spark, cfg)
    assert(r1.find(_.uri == s1).get.nodes === 300L)
    assert(r1.find(_.uri == s2).get.nodes === 300L)

    // simulate a kill: two of snap_out1's node partitions lose their commit
    // markers (and one data dir is half-written garbage)
    val manDir = java.nio.file.Paths.get(s"$s1/nodes/manifests")
    Seq("0", "1").foreach(k => Files.delete(manDir.resolve(s"$k.json")))
    val survivor = manDir.resolve("2.json")
    val survivorStamp = Files.getLastModifiedTime(survivor)
    Thread.sleep(1100) // FS mtime granularity

    val r2 = Pipeline.run(spark, cfg)
    assert(r2.find(_.uri == s1).get.nodes === 300L)
    // committed partitions were skipped, not rewritten
    assert(Files.getLastModifiedTime(survivor) === survivorStamp)
    assert(Files.exists(manDir.resolve("0.json")) && Files.exists(manDir.resolve("1.json")))

    // resumed table content equals a plain parquet output of the same shape
    val plain = s"$tmp/snap_plain"
    Pipeline.run(spark, PipelineConfig(Seq(InputSpec(uri = inOsm)),
      Seq(OutputSpec(uri = plain, format = Some("parquet"), dropRelations = true))))
    def comparable(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("tags", to_json(col("tags"))) // map type bars set ops
    val snapNodes = comparable(
      graft.io.SnapshotTable.read(spark, s"$s1/nodes", "part").drop("part"))
    val plainNodes = comparable(spark.read.parquet(s"$plain/nodes"))
    assert(snapNodes.count() === 300L)
    assert(snapNodes.except(plainNodes).isEmpty && plainNodes.except(snapNodes).isEmpty)
  }

  test("J3: normalized-username pipeline round-trips byte-identical to inline") {
    val out = s"$tmp/roundtrip.osm"
    val r = Pipeline.run(spark,
      PipelineConfig(Seq(InputSpec(uri = inOsm)), Seq(OutputSpec(uri = out))))
    assert(r.head.nodes === 300L && r.head.ways === 60L && r.head.relations === 10L)
    assert(Files.readAllBytes(Paths.get(out))
      .sameElements(Files.readAllBytes(Paths.get(inOsm))),
      "pipeline output (users normalized to a dimension and rejoined) must " +
        "be byte-identical to the inline-username write")
  }
}
