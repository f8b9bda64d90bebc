package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.geo.OsmFixtures
import graft.io.OsmXml
import graft.jobs.OsmCli
import graft.jobs.Pipeline._

/** The reference `osm` CLI flag surface (cmd/osm/main.go:139-196) mapped to
  * the pipeline: README brewery scenario end to end, Summary.Print golden
  * shape, flag→config translation, mutual exclusions, overwrite protection.
  */
class OsmCliSpec extends SparkSpecBase {

  private lazy val tmp = Files.createTempDirectory("osmcli").toString
  private lazy val planet = OsmFixtures.planet(spark, 300, 60, 10)
  private lazy val inOsm = { val p = s"$tmp/in.osm"; OsmXml.writePlanet(planet, p); p }

  private def runCli(args: String*): (Int, Seq[String]) = {
    val bos = new java.io.ByteArrayOutputStream()
    val code = OsmCli.run(spark, args.toArray, new java.io.PrintStream(bos, true, "UTF-8"))
    (code, new String(bos.toByteArray, "UTF-8").split("\n").toSeq.filter(_.nonEmpty))
  }

  test("flag surface translates to the reference's config shape") {
    val (strs, bools) = OsmCli.parseArgs(Array(
      "-input_uri", "a.osm:b.osm", "-input_uri_separator", ":",
      "-filter_keys_keep", "craft,amenity", "-bbox", "-77.2,38.7,-76.9,39.0",
      "-ways_to_nodes", "-drop", "relations,timestamp,author",
      "-output_uri", "x.geojsonl", "-output_keys_keep", "craft"))
    val c = OsmCli.toConfig(strs, bools)
    assert(c.inputs.map(_.uri) === Seq("a.osm", "b.osm"))
    assert(c.inputs.head.filter.get.keepKeys === Seq("craft", "amenity"))
    assert(c.inputs.head.filter.get.bbox === Some((-77.2, 38.7, -76.9, 39.0)))
    val o = c.outputs.head
    assert(o.waysToNodes && o.dropRelations && o.dropTimestamp)
    assert(o.dropUserId && o.dropUserName) // author = uid + user
    assert(!o.dropVersion && !o.dropChangeset)
    assert(o.keysToKeep === Seq("craft"))
  }

  test("mutually exclusive keep/drop filter keys fail fast like the reference") {
    intercept[IllegalArgumentException] {
      OsmCli.toConfig(Map("input_uri" -> "x.osm",
        "filter_keys_keep" -> "a", "filter_keys_drop" -> "b"), Set.empty)
    }
  }

  test("unknown flags fail fast; a typo'd boolean never swallows the next flag") {
    val e = intercept[IllegalArgumentException] {
      OsmCli.parseArgs(Array("-input_uri", "x.osm", "-sumarize", "-drop_relations"))
    }
    assert(e.getMessage.contains("-sumarize"))
    // accepted reference no-ops still parse
    val (strs, _) = OsmCli.parseArgs(Array("-aws_default_region", "us-east-1",
      "-input_uri", "x.osm"))
    assert(strs("input_uri") === "x.osm")
  }

  test("README brewery scenario: summarize + ways_to_nodes + output") {
    val outFile = s"$tmp/breweries.osm"
    val (code, lines) = runCli(
      "-input_uri", inOsm, "-summarize",
      "-dfl", "(@craft like brewery) or (@craft like distillery)",
      "-ways_to_nodes", "-drop_relations", "-output_uri", outFile)
    assert(code === 0)

    // independent expectation straight off the fixture rows. Ingest keeps
    // crafty nodes PLUS nodes referenced by kept ways (J2 retention,
    // UnmarshalPlanet.go:139-177) — those ref nodes feed way GEOMETRY.
    // But the reference passes the input filter into every output
    // (main.go:395, NewOutputConfig) and re-applies it at marshal time
    // with retention only through ways the OUTPUT keeps
    // (MarshalPlanet.go:130-148) — under ways_to_nodes no ways survive,
    // so the geometry-only ref nodes are NOT emitted: the file carries
    // exactly the crafty nodes plus one converted node per crafty way.
    def crafty(m: Map[String, String]) =
      m.get("craft").exists(v => v == "brewery" || v == "distillery")
    val craftyNodeIds = planet.nodes.collect()
      .filter(r => crafty(r.getMap[String, String](8).toMap)).map(_.getLong(0)).toSet
    val craftyWays = planet.ways.collect()
      .filter(r => crafty(r.getMap[String, String](7).toMap))
    val expNodes = craftyNodeIds.size + craftyWays.length

    // the written planet: filtered nodes + converted filtered ways
    val back = OsmXml.readPlanet(spark, outFile)
    assert(back.nodes.count() === expNodes.toLong)
    assert(back.ways.count() === 0L)
    assert(back.relations.count() === 0L)

    // Summary.Print golden shape over the ingested (filtered) planet
    assert(lines.exists(_.startsWith("Bounding Box: ")))
    def stat(prefix: String): Long =
      lines.find(_.startsWith(prefix)).get.stripPrefix(prefix).trim.toLong
    assert(stat("Total Number of Ways:") === 0L) // converted away
    assert(stat("Total Number of Relations:") === 0L)
    assert(stat("Total Number of Nodes:") > 0L)
    assert(stat("Total Number of Keys:") > 0L)
  }

  test("summarize_keys prints per-key node/way/relation blocks") {
    val (code, lines) = runCli("-input_uri", inOsm, "-summarize",
      "-summarize_keys", "craft,amenity")
    assert(code === 0)
    assert(lines.count(_ == "-----------") === 2)
    assert(lines.contains("Key: craft") && lines.contains("Key: amenity"))
    val craftNodes = lines(lines.indexOf("Key: craft") + 1)
    assert(craftNodes.startsWith("Number of Nodes: "))
    // matches the operator's own answer
    val byKey = graft.ops.OsmOps.summarizeByKey(
        planet.nodes, planet.ways, planet.relations, Seq("craft"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(craftNodes === s"Number of Nodes: ${byKey("craft")}")
  }

  test("-profile prints per-stage wall clock like the reference") {
    val (code, lines) = runCli("-input_uri", inOsm, "-summarize", "-profile")
    assert(code === 0)
    assert(lines.exists(_.matches("profile: ingest took \\d+\\.\\d+ s")), lines.mkString("|"))
    assert(lines.exists(_.startsWith("profile: summarize took ")))
  }

  test("overwrite protection and dry_run") {
    val existing = s"$tmp/exists.osm"
    Files.write(java.nio.file.Paths.get(existing), "x".getBytes)
    intercept[IllegalArgumentException] {
      OsmCli.run(spark, Array("-input_uri", inOsm, "-output_uri", existing))
    }
    // -overwrite allows the same write to proceed (the escape hatch must
    // actually be plumbed into the existence check, not just parsed)
    val (owCode, _) = runCli(
      "-input_uri", inOsm, "-output_uri", existing, "-overwrite")
    assert(owCode === 0)
    assert(Files.size(java.nio.file.Paths.get(existing)) > 1L,
      "-overwrite run must have replaced the 1-byte placeholder")
    // -dry_run must not write anything
    val fresh = s"$tmp/fresh.osm"
    val (code, lines) = runCli("-input_uri", inOsm, "-output_uri", fresh, "-dry_run")
    assert(code === 0)
    assert(lines.exists(_.startsWith("dry_run:")))
    assert(!Files.exists(java.nio.file.Paths.get(fresh)))
  }

  test("-flag=value forms parse like Go's flag package") {
    val (strs, bools) = OsmCli.parseArgs(Array(
      "-input_uri=a.osm", "-summarize=true", "-ways_to_nodes",
      "-drop_relations=false", "-bbox=1,2,3,4"))
    assert(strs("input_uri") === "a.osm")
    assert(strs("bbox") === "1,2,3,4")
    assert(bools("summarize") && bools("ways_to_nodes"))
    assert(!bools("drop_relations"))
    // strconv.ParseBool grammar; anything else is an error
    val (_, b2) = OsmCli.parseArgs(Array("-summarize=1", "-pretty=F"))
    assert(b2("summarize") && !b2("pretty"))
    intercept[IllegalArgumentException](OsmCli.parseArgs(Array("-summarize=maybe")))
    // last one wins, like Go
    val (_, b3) = OsmCli.parseArgs(Array("-summarize=true", "-summarize=false"))
    assert(!b3("summarize"))
  }

  test("output_format defaults to osm like the reference (sniff unreachable)") {
    val geo = s"$tmp/sniff.geojson"
    val (code, _) = runCli("-input_uri", inOsm, "-output_uri", geo)
    assert(code === 0)
    val head = new String(Files.readAllBytes(java.nio.file.Paths.get(geo)), "UTF-8").take(30)
    assert(head.startsWith("<?xml"),
      s"reference writes OSM XML when -output_format is not given, got: $head")
    // explicit -output_format geojson does write GeoJSON
    val geo2 = s"$tmp/sniff2.geojson"
    val (code2, _) = runCli("-input_uri", inOsm, "-output_uri", geo2,
      "-output_format", "geojson")
    assert(code2 === 0)
    val head2 = new String(Files.readAllBytes(java.nio.file.Paths.get(geo2)), "UTF-8").take(40)
    assert(head2.startsWith("""{"type":"FeatureCollection""""), head2)
  }

  test("drop_uid without drop_user fails fast like the reference (main.go:278)") {
    val e = intercept[IllegalArgumentException] {
      OsmCli.toConfig(Map("input_uri" -> "x.osm"), Set("drop_uid"))
    }
    assert(e.getMessage.contains("You cannot drop the user id but keep the user name."))
    // fine together, via -drop author, or via drop_author
    OsmCli.toConfig(Map("input_uri" -> "x.osm"), Set("drop_uid", "drop_user"))
    OsmCli.toConfig(Map("input_uri" -> "x.osm", "drop" -> "author"), Set.empty)
    OsmCli.toConfig(Map("input_uri" -> "x.osm"), Set("drop_author"))
  }

  test("gdal ini merge: attribute drops + keep-keys per section (main.go:411-425)") {
    val ini = s"$tmp/osmconf.ini"
    Files.write(java.nio.file.Paths.get(ini),
      """# GDAL OSM driver config
        |[points]
        |osm_id=yes
        |osm_version=no
        |osm_changeset=no
        |osm_timestamp=yes
        |osm_uid=yes
        |osm_user=yes
        |attributes=name,craft
        |[lines]
        |osm_timestamp=no
        |attributes=highway
        |""".stripMargin.getBytes("UTF-8"))
    val (strs, bools) = OsmCli.parseArgs(Array(
      "-input_uri", "x.osm", "-output_uri", "y.osm", "-gdal_ini_uri", ini))
    val o = OsmCli.toConfig(strs, bools).outputs.head
    assert(o.dropVersion && o.dropChangeset)
    assert(!o.dropTimestamp && !o.dropUserId && !o.dropUserName)
    assert(o.keysToKeep === Seq("name", "craft"))
    // section selection (default is "points", like the reference)
    val (s2, b2) = OsmCli.parseArgs(Array("-input_uri", "x.osm", "-output_uri", "y.osm",
      "-gdal_ini_uri", ini, "-gdal_ini_section", "lines"))
    val o2 = OsmCli.toConfig(s2, b2).outputs.head
    assert(o2.keysToKeep === Seq("highway") && o2.dropTimestamp)
    // -output_keys_keep wins over the ini attributes (applied after, main.go:427)
    val (s3, b3) = OsmCli.parseArgs(Array("-input_uri", "x.osm", "-output_uri", "y.osm",
      "-gdal_ini_uri", ini, "-output_keys_keep", "amenity"))
    assert(OsmCli.toConfig(s3, b3).outputs.head.keysToKeep === Seq("amenity"))
  }

  test("-config_uri loads the reference's HCL shape, equal to flags byte for byte") {
    // the README composite scenario (README.md:111-115) as an HCL config
    val hclOut = s"$tmp/hcl_eq.osm"
    val flagOut = s"$tmp/flag_eq.osm"
    val hcl = s"$tmp/composite.hcl"
    Files.write(java.nio.file.Paths.get(hcl),
      s"""# go-osm config (LoadConfig.go shape)
         |inputs {
         |  uri = "$inOsm"
         |  filter {
         |    expression = "(@craft like brewery) or (@craft like distillery)"
         |  }
         |}
         |
         |outputs {
         |  uri = "$hclOut"
         |  # the flag path passes the input filter into every output
         |  # (main.go:395) - the equivalent config spells it out
         |  filter {
         |    expression = "(@craft like brewery) or (@craft like distillery)"
         |  }
         |  ways_to_nodes = true
         |  drop_relations = true
         |  drop_version = true
         |  drop_timestamp = true
         |  drop_changeset = true
         |  keep_keys = ["craft"]
         |  pretty = true
         |}
         |""".stripMargin.getBytes("UTF-8"))
    val (code, _) = runCli("-config_uri", hcl)
    assert(code === 0)
    val (code2, _) = runCli("-input_uri", inOsm,
      "-dfl", "(@craft like brewery) or (@craft like distillery)",
      "-ways_to_nodes", "-drop", "relations,version,timestamp,changeset",
      "-output_keys_keep", "craft", "-pretty", "-output_uri", flagOut)
    assert(code2 === 0)
    val a = Files.readAllBytes(java.nio.file.Paths.get(hclOut))
    assert(a.sameElements(Files.readAllBytes(java.nio.file.Paths.get(flagOut))))
    assert(new String(a, "UTF-8").contains("\n    <node"), "pretty indentation present")
  }

  test("-summarize computes all headline numbers in at most two actions") {
    val c = PipelineConfig(Seq(InputSpec(uri = inOsm)), Nil)
    val shared = graft.jobs.Pipeline.ingest(spark, c, graft.jobs.Pipeline.plan(c))
    try {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          n.incrementAndGet()
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
          n.incrementAndGet()
      }
      // drain first: ingest's own collect() may still be on the bus, and a
      // listener registered before it is delivered would count it
      org.apache.spark.grafttest.TestBus.waitUntilEmpty(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        OsmCli.printSummary(new java.io.PrintStream(bos, true, "UTF-8"), shared, None, Nil)
        org.apache.spark.grafttest.TestBus.waitUntilEmpty(spark.sparkContext)
        assert(n.get() <= 1, s"summarize without keys must be ONE action, saw ${n.get()}")
        n.set(0)
        OsmCli.printSummary(new java.io.PrintStream(bos, true, "UTF-8"), shared, None,
          Seq("craft", "amenity"))
        org.apache.spark.grafttest.TestBus.waitUntilEmpty(spark.sparkContext)
        assert(n.get() <= 2, s"summarize with keys must be TWO actions, saw ${n.get()}")
      } finally spark.listenerManager.unregister(listener)
    } finally shared.unpersist()
  }

  test("CLI run equals the equivalent config-file pipeline run byte for byte") {
    val cliOut = s"$tmp/cli_eq.osm"
    val cfgOut = s"$tmp/cfg_eq.osm"
    val (code, _) = runCli("-input_uri", inOsm, "-output_uri", cliOut,
      "-filter_keys_keep", "amenity,craft,shop", "-output_keys_keep", "amenity,craft,shop",
      "-ways_to_nodes", "-drop", "relations,version,timestamp,changeset")
    assert(code === 0)
    graft.jobs.Pipeline.run(spark, PipelineConfig(
      Seq(InputSpec(uri = inOsm,
        filter = Some(FilterSpec(keepKeys = Seq("amenity", "craft", "shop"))))),
      Seq(OutputSpec(uri = cfgOut, keysToKeep = Seq("amenity", "craft", "shop"),
        // the flag path passes the input filter into every output
        // (main.go:395) — the equivalent programmatic config spells it out
        filter = Some(FilterSpec(keepKeys = Seq("amenity", "craft", "shop"))),
        waysToNodes = true, dropRelations = true, dropVersion = true,
        dropTimestamp = true, dropChangeset = true))))
    assert(Files.readAllBytes(java.nio.file.Paths.get(cliOut))
      .sameElements(Files.readAllBytes(java.nio.file.Paths.get(cfgOut))))
  }

  test("-config_uri + -input_uri override merges -drop and validates like the flags path") {
    val hcl = s"$tmp/override.hcl"
    Files.write(java.nio.file.Paths.get(hcl),
      s"""inputs {
         |  uri = "$inOsm"
         |}
         |outputs {
         |  uri = "$tmp/override_out.osm"
         |}
         |""".stripMargin.getBytes("UTF-8"))
    // main.go:263 merges the -drop list BEFORE the config branch, so the
    // replacement InputConfigs see the merged flags (main.go:319) —
    // including drop_nodes, which the reference carries on the input
    // struct (dead there and here; InputSpec scaladoc)
    val c = OsmCli.toConfig(
      Map("config_uri" -> hcl, "input_uri" -> inOsm,
        "drop" -> "nodes,ways,relations"), Set.empty)
    assert(c.inputs.map(_.uri) === Seq(inOsm))
    assert(c.inputs.head.dropNodes && c.inputs.head.dropWays &&
      c.inputs.head.dropRelations)
    // keep/drop mutual exclusivity is validated BEFORE the config branch
    // (main.go:257-260 precede the :285 load)
    intercept[IllegalArgumentException] {
      OsmCli.toConfig(
        Map("config_uri" -> hcl, "input_uri" -> inOsm,
          "filter_keys_keep" -> "amenity", "filter_keys_drop" -> "craft"),
        Set.empty)
    }
    // the uid-without-user rejection guards the override path too
    // (main.go:278-281)
    intercept[IllegalArgumentException] {
      OsmCli.toConfig(
        Map("config_uri" -> hcl, "input_uri" -> inOsm, "drop" -> "uid"),
        Set.empty)
    }
  }
}
