package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.geo.GeoTables
import graft.io.ParquetTable
import graft.ops.OsmOps
import graft.join.SpatialJoin
import graft.knn.Knn
import graft.tiles.Tiles
import graft.dfl.Dfl
import graft.functions.GeoFunctions._
import graft.text.{Corpus, TextOps}
import graft.dedup.Dedup
import graft.ann.Ann

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB oracle over the same parquet tables.
  *
  * Geospatial inputs are deterministic integer-arithmetic derivations from
  * the driver tables (see [[graft.geo.GeoTables]]) so Spark and DuckDB
  * compute bit-identical doubles and every operator — including the spatial
  * join, kNN, and tiling — has an exact oracle.
  */
object SparkEntry {

  // ---- derived geo views ----------------------------------------------------

  private def pts(s: SparkSession, dir: String): DataFrame = GeoTables.points(s, dir)
  private def rect(s: SparkSession, dir: String): DataFrame = GeoTables.rects(s, dir)

  /** points with an OSM-style tags map (flag/status always present; bulk /
    * tiny keys conditionally — exercises map-typed tag algebra F2/F3).
    */
  private def taggedPts(s: SparkSession, dir: String): DataFrame =
    withTags(pts(s, dir))

  private def withTags(p: DataFrame): DataFrame =
    p.withColumn("tags",
      map_concat(
        map(lit("flag"), col("tag_flag"), lit("status"), col("tag_status")),
        when(col("quantity") > 30, map(lit("bulk"), lit("y"))).otherwise(map()),
        when(col("quantity") < 5, map(lit("tiny"), lit("y"))).otherwise(map())))

  /** An input table; its schema comes from one footer, not an inference job. */
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetTable.read(s, s"$dir/$name.parquet")

  private def docs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")

  /** Stopword list for the quality-signal suite (pluggable). */
  val StopWords: Seq[String] = Seq("the", "a", "and", "of", "is")

  /** Pluggable language-ID marker sets (order = tie-break priority). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a "),
    "de" -> Seq(" der ", " und "),
    "es" -> Seq(" el ", " los "),
    "fr" -> Seq(" le ", " et "),
    "zh" -> Seq(" zh ", " han "))

  private val withPts = s"WITH pts AS (\n${GeoTables.pointsSql}\n)"
  private val withBoth = s"WITH pts AS (\n${GeoTables.pointsSql}\n), rect AS (\n${GeoTables.rectsSql}\n)"

  /** DuckDB SQL for the Morton interleave of two z-bit tile coords. */
  private def mortonSql(x: String, y: String, z: Int): String =
    (0 until z).map(i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")

  private def tileXSql(lon: String, z: Int): String = {
    val n = 1L << z
    s"GREATEST(0, LEAST(${n - 1}, CAST(FLOOR((($lon) + 180.0) / 360.0 * $n) AS BIGINT)))"
  }

  private def tileYSql(lat: String, z: Int): String = {
    val n = 1L << z
    s"GREATEST(0, LEAST(${n - 1}, CAST(FLOOR((1.0 - LN(TAN(RADIANS($lat)) + 1.0/COS(RADIANS($lat))) / PI()) / 2.0 * $n) AS BIGINT)))"
  }

  /** DuckDB SQL for the Bing quadkey digit string of z-bit tile coords. */
  private def quadkeySql(x: String, y: String, z: Int): String =
    (z - 1 to 0 by -1).map(i =>
      s"CAST(((($x) >> $i) & 1) + 2 * ((($y) >> $i) & 1) AS VARCHAR)")
      .mkString(" || ")

  // ---- flagship -------------------------------------------------------------

  /** Flagship: full spatial join (cell equi-join + PIP refine) on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    SpatialJoin.cellJoin(pts(spark, dir), "lon", "lat", rect(spark, dir), "ring", GeoTables.JoinZ)
      .select(col("point_id"), col("polygon_id"), col("lon"), col("lat"), col("tag_brand"))
  }

  // ---- queries ---------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // F4: bbox extract (reference Filter.ContainsPoint, lon/lat-swap bug fixed)
    "q01_bbox_extract" -> ((s, dir) =>
      OsmOps.bboxExtract(pts(s, dir), "lon", "lat", -100.0, -40.0, 60.0, 70.0)
        .select(col("point_id"), col("lon"), col("lat"))
        .orderBy("point_id")),

    // X1: slippy-map tile assignment (reference Node.Tile)
    "q02_tile_xy" -> ((s, dir) =>
      pts(s, dir).select(
        col("point_id"),
        tile_x(col("lon"), 10).as("tx"),
        tile_y(col("lat"), 10).as("ty"))
        .orderBy("point_id")),

    // Cell index: Morton quadkey cell id at z=7
    "q03_cell_id" -> ((s, dir) =>
      pts(s, dir).select(
        col("point_id"),
        cell_id(col("lon"), col("lat"), 7).as("cell"))
        .orderBy("point_id")),

    // X1 extension: Bing quadkey string form of the tile assignment (the
    // prefix-hierarchical tile-store key; z=10 pairs with q02's tiles,
    // z=4 is its level-4 ancestor — the oracle re-proves the prefix math
    // at two levels)
    "q42_quadkey" -> ((s, dir) =>
      pts(s, dir).select(
        col("point_id"),
        quadkey_at(col("lon"), col("lat"), 10).as("qk"),
        quadkey_at(col("lon"), col("lat"), 4).as("qk_parent"))
        .orderBy("point_id")),

    // streaming §2.8 composite, batch form: spatial enrichment → per-region
    // tumbling-window ingest rate (Streams.regionRates — the identical plan
    // the firehose runs; the batch watermark node is eliminated by the
    // analyzer). Event time derives from point_id via pure integer
    // arithmetic (epoch-aligned base so Spark's epoch-aligned windows equal
    // the oracle's modulo bucketing); output as epoch seconds so the
    // cross-engine compare never touches timestamp encodings.
    "q43_region_rates" -> ((s, dir) => {
      // reduce point_id mod the window span BEFORE the hash multiply: the
      // raw product overflows int64 past point_id ~3.5e9 (ANSI: throws;
      // DuckDB: out-of-range) — value-identical by modular arithmetic
      val p = pts(s, dir).withColumn("ts", timestamp_seconds(
        lit(1704067200L) +
          pmod(pmod(col("point_id"), lit(604800L)) * lit(2654435761L), lit(604800L))))
      graft.streaming.Streams.regionRates(p, "ts", "lon", "lat",
        rect(s, dir), "polygon_id", "ring",
        windowLen = "1 hour", delay = "0 seconds")
        .select(col("polygon_id"),
          unix_timestamp(col("window_start")).as("window_start_sec"), col("n"))
        .orderBy("polygon_id", "window_start_sec")
    }),

    // F5 long tail: the engine-addition DFL functions (substr, contains,
    // mod, first/last over split) compiled to codegen'd built-ins and
    // proven against a plain-SQL oracle
    "q44_dfl_longtail" -> ((s, dir) => {
      val p = pts(s, dir).withColumn("code",
        concat_ws("-", col("tag_flag"), col("tag_status")))
      val pred = Dfl.compile(
        "contains(@code, '-') and (mod(@quantity, 7) == 3) and " +
          "(first(split(@code, '-')) == R) and (last(split(@code, '-')) == F) and " +
          "(substr(@code, 1, 1) == @flag)",
        { case "quantity" => col("quantity")
          case "flag" => col("tag_flag")
          case "code" => col("code") })
      p.filter(pred)
        .select(col("point_id"), col("code"), col("quantity"))
        .orderBy("point_id")
    }),

    // F3: key-existence row filter over the tags map
    "q04_tag_keep_filter" -> ((s, dir) =>
      OsmOps.filterKeepKeys(taggedPts(s, dir), "tags", Seq("bulk", "tiny"))
        .select(col("point_id"), col("quantity"))
        .orderBy("point_id")),

    // F2: tag-key projection (map projection, not a row filter)
    "q05_tag_project" -> ((s, dir) =>
      taggedPts(s, dir)
        .select(col("point_id"), explode(OsmOps.keepKeys(col("tags"), Seq("flag"))).as(Seq("key", "value")))
        .orderBy("point_id")),

    // F5: DFL expression filter compiled to Catalyst columns
    "q06_dfl_filter" -> ((s, dir) => {
      val p = taggedPts(s, dir)
      val pred = Dfl.compile("(@flag like R) and (@quantity > 20)", {
        case "quantity" => col("quantity")
        case k => element_at(col("tags"), k)
      })
      p.filter(pred).select(col("point_id"), col("tag_flag"), col("quantity"))
        .orderBy("point_id")
    }),

    // J5 realized, plan 1: cell equi-join + point_in_ring refine
    "q07_spatial_join_cells" -> ((s, dir) =>
      SpatialJoin.cellJoin(pts(s, dir), "lon", "lat", rect(s, dir), "ring", GeoTables.JoinZ)
        .select(col("point_id"), col("polygon_id"))
        .orderBy("point_id", "polygon_id")),

    // J5 realized, plan 2: broadcast JTS STRtree probe (zero point shuffle)
    "q08_spatial_join_rtree" -> ((s, dir) =>
      SpatialJoin.broadcastRtreeJoin(pts(s, dir), "lon", "lat", rect(s, dir), "polygon_id", "ring")
        .select(col("point_id"), col("polygon_id"))
        .orderBy("point_id", "polygon_id")),

    // J1: way→node reference resolution (posexplode + hash join + reassembly)
    "q09_way_assembly" -> ((s, dir) => {
      // share ONE evaluation of the point derivation between the ways and
      // nodes branches: an isnotnull(join key) filter is pushed into the
      // nodes branch only, so the two subtrees are not canonically equal
      // and exchange reuse cannot dedup them — without the checkpoint the
      // full scan+groupBy derivation executed once per branch (plan-
      // audited). Lazy: the query's first action materializes it in-job.
      // Projected to the branches' columns first, so the pinned blocks
      // hold only what the query reads.
      val p = pts(s, dir)
        .select(col("point_id"), col("way_id"), col("pos"), col("lon"), col("lat"))
        .localCheckpoint(eager = false)
      val ways = p.groupBy(col("way_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("point_id")))),
          v => v.getField("point_id")).as("refs"))
      val nodes = p.select(col("point_id").as("node_id"), col("lon"), col("lat"))
      OsmOps.resolveWayRefs(ways, "way_id", "refs", nodes, "node_id")
        .select(col("way_id"), col("pos"), col("lon"), col("lat"))
        .orderBy("way_id", "pos")
    }),

    // A1 + W1: way centroid collapse with deterministic fresh ids.
    // Runs the scale plan (range-partition + zipWithIndex — no global
    // single-partition window anywhere; spec'd equal to the window plan),
    // and folds the id offset in via a broadcast scalar join instead of a
    // separate driver collect() action.
    "q10_way_centroid" -> ((s, dir) => {
      val p = pts(s, dir)
      // one pass over the input: max point id rides along the per-way agg
      val agg = p.groupBy(col("way_id")).agg(
        sum(col("lon_milli")).as("sl"), sum(col("lat_milli")).as("st"),
        count(lit(1)).as("n_refs"), max(col("point_id")).as("way_max_pid"))
        .persist()
      val base = agg.agg(max(col("way_max_pid")).as("base"))
      OsmOps.sequentialIds(agg, "way_id", 0L, "seq", windowThreshold = 0L)
        .crossJoin(broadcast(base))
        .select(
          col("way_id"),
          (col("base") + col("seq")).as("new_id"),
          ((col("sl").cast("double") / col("n_refs")) / lit(1000.0) - lit(180.0)).as("clon"),
          ((col("st").cast("double") / col("n_refs")) / lit(1000.0) - lit(85.0)).as("clat"),
          col("n_refs"))
        .orderBy("way_id")
    }),

    // A2: per-key/value tag counts (Summarize per-key counts)
    "q11_tag_counts" -> ((s, dir) =>
      OsmOps.tagCounts(
        pts(s, dir).withColumn("tags",
          map(lit("flag"), col("tag_flag"), lit("status"), col("tag_status"))), "tags")
        .orderBy("key", "value")),

    // A2/A5: dataset profile with honestly recomputed bounds
    "q12_summarize" -> ((s, dir) =>
      OsmOps.summarize(pts(s, dir), "way_id", "lon", "lat")),

    // J2: way-node retention semi-join (way-referenced nodes bypass filter)
    "q13_retention_semijoin" -> ((s, dir) => {
      // three consumers of the point derivation (way-ref semi-join, keep
      // filter, retention union) — share one evaluation (see q09),
      // projected to the consumed columns
      val p = pts(s, dir)
        .select(col("point_id"), col("way_id"), col("quantity"))
        .localCheckpoint(eager = false)
      val orders = table(s, dir, "orders")
      val keptWayRefs = p.join(
        orders.filter(col("o_totalprice") > 300000.0)
          .select(col("o_orderkey").as("way_id")), Seq("way_id"), "left_semi")
        .select(col("point_id").as("ref"))
      OsmOps.retention(p, "point_id", col("quantity") > 45, keptWayRefs, "ref")
        .select(col("point_id"))
        .orderBy("point_id")
    }),

    // Raster→vector tile assignment: footprint covering tiles at z=9
    "q14_tile_cover" -> ((s, dir) => {
      val p = pts(s, dir)
      val hx = (lit(50L) + pmod(col("point_id") * lit(3571L), lit(500L))) / lit(1000.0)
      val hy = (lit(50L) + pmod(col("point_id") * lit(7573L), lit(500L))) / lit(1000.0)
      Tiles.coverFootprint(p, "lon", "lat", hx, hy, 9)
        .select(col("point_id"), col("tile_x"), col("tile_y"))
        .orderBy("point_id", "tile_x", "tile_y")
    }),

    // kNN via cell-ring expansion (k nearest points per polygon centroid)
    "q15_knn_cellring" -> ((s, dir) => {
      val queries = rect(s, dir).filter(pmod(col("polygon_id"), lit(10L)) === 0)
        .select(col("polygon_id"), col("center_lon"), col("center_lat"))
      Knn.cellRing(queries, "polygon_id", "center_lon", "center_lat",
        pts(s, dir), "point_id", "lon", "lat", k = 5, z = 7)
        .select(col("query_id").as("polygon_id"), col("rank"), col("point_id"))
        .orderBy("polygon_id", "rank")
    }),

    // kNN scan plan (broadcast queries, per-partition heaps) — same oracle
    "q16_knn_scan" -> ((s, dir) => {
      val queries = rect(s, dir).filter(pmod(col("polygon_id"), lit(10L)) === 0)
        .select(col("polygon_id"), col("center_lon"), col("center_lat"))
      Knn.scan(queries, "polygon_id", "center_lon", "center_lat",
        pts(s, dir), "point_id", "lon", "lat", k = 5)
        .select(col("query_id").as("polygon_id"), col("rank"), col("point_id"))
        .orderBy("polygon_id", "rank")
    }),

    // event-time tumbling window aggregation (batch form of the streaming op)
    "q17_event_window" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .select(col("event_type"), col("window.start").as("window_start"),
          col("n"), col("min_value"), col("max_value"))
        .orderBy("event_type", "window_start")),

    // event-time gap sessionization through the custom-state operator
    // (flatMapGroupsWithState, batch form) — epoch-millis outputs so the
    // cross-engine compare is pure integer; oracle = lag + cumulative-sum
    // session ids. Double `value` sums are order-dependent, so the query
    // emits only order-independent session columns
    "q36_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("value"))
        .as[graft.streaming.Streams.Event]
      graft.streaming.Streams.sessionize(ev, gapMs = 1800000L, streaming = false)
        .toDF()
        .select(col("user_id"), unix_millis(col("start")).as("start_ms"),
          unix_millis(col("end")).as("end_ms"), col("n_events"))
        .orderBy("user_id", "start_ms")
    }),

    // semi-structured props extraction + aggregation
    "q18_event_props" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "[0-9]+", 0).cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // text analysis: token counting + character-class, punctuation, and
    // stopword quality signals
    "q19_text_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"),
        TextOps.wsTokenCount(col("text")).as("n_ws"),
        TextOps.alphaCount(col("text")).as("n_alpha"),
        length(col("text")).as("n_len"),
        // nullif on every ratio denominator: a zero-length or token-less
        // document must yield NULL on both engines (a bare /0 THROWS under
        // Spark ANSI but is NULL in DuckDB — fixture luck hid this)
        (TextOps.alphaCount(col("text")) / nullif(length(col("text")), lit(0)))
          .as("alpha_ratio"),
        TextOps.punctCount(col("text")).as("n_punct"),
        (TextOps.punctCount(col("text")) / nullif(length(col("text")), lit(0)))
          .as("punct_ratio"),
        TextOps.stopwordCount(col("text"), StopWords).as("n_stop"),
        (TextOps.stopwordCount(col("text"), StopWords) /
          nullif(TextOps.tokenCount(col("text")), lit(0L))).as("stop_ratio"))
        .orderBy("doc_id")
    }),

    // language-ID marker scoring + deterministic argmax
    "q20_lang_id" -> ((s, dir) => {
      val d = docs(s, dir)
      val scores = TextOps.langScores(col("text"), LangMarkers)
      val cols = scores.map { case (l, c) => c.as(s"s_$l") }
      d.select((col("doc_id") +: cols :+
        TextOps.langPredict(scores).as("pred_lang")): _*)
        .orderBy("doc_id")
    }),

    // quality scoring (length/alpha-ratio heuristic)
    "q21_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.qualityScore(col("text"), length(col("text"))).as("quality"))
        .orderBy("doc_id")),

    // document fingerprinting: positional (commutative) + rolling polynomial
    "q22_fingerprint" -> ((s, dir) => {
      // non-empty docs only, matching the oracle: generate_series(1, 0) is
      // empty so DuckDB's position CTE drops an empty document entirely,
      // while split('', '') here yields one '' element (ascii 0) — a row
      // the oracle would never produce
      val d = docs(s, dir).filter(length(col("text")) > 0)
      TextOps.fingerprintPositional(d, "doc_id", "text")
        .join(d.select(col("doc_id"),
          TextOps.fingerprintRolling(col("text")).as("rolling")), "doc_id")
        .select(col("doc_id"), col("fingerprint"), col("rolling"))
        .orderBy("doc_id")
    }),

    // exact dedup by normalized content key
    "q23_dedup_exact" -> ((s, dir) =>
      Dedup.exactCanonical(docs(s, dir), "doc_id", Dedup.normKey(col("text")))
        .orderBy("doc_id")),

    // exact n-gram Jaccard near-dup pairs within a blocking key
    "q24_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("source").isin("src6", "src7"))
      // spread the scan before the shingle explode: the filtered doc set
      // arrives as one split, which serialized the whole explode+distinct
      // map stage on one core (same scale-adaptive floor as Corpus §2)
      val sh = Dedup.shingles(Dedup.spreadToCores(d), "doc_id", "text", 5,
        carry = Seq("lang"))
      Dedup.jaccardPairs(sh, "doc_id", Seq("lang"))
        .filter(col("jaccard") >= 0.25)
        .select(col("id_1"), col("id_2"), col("n_inter"), col("n_1"), col("n_2"))
        .orderBy("id_1", "id_2")
    }),

    // MinHash + LSH banding near-dup pipeline, candidates verified exactly.
    // Packed-first: one shuffle builds the per-doc shingle arrays, which
    // feed signatures (per-row array expressions) AND the exact verifier;
    // the packed frame is recomputed rather than cached (BASELINE.md q39
    // attribution: recompute wins — the build fuses into one codegen stage)
    // Plain banding here: the fixture corpus is homogeneous-size, so the
    // size-bucketed variant (lshCandidatesSizeBucketed — provably lossless
    // above the verification bar, and interchangeable under this oracle)
    // would double band rows without cutting candidates (measured +15%)
    "q25_minhash_lsh" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("source").isin("src6", "src7"))
      // spread the scan before the shingle explode (see q24)
      val packed = Dedup.packedShingles(Dedup.spreadToCores(d), "doc_id", "text", 5)
      val sigs = Dedup.minhashSignaturesPacked(packed, "doc_id", 5, 8)
      val cand = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
      // candidate-first verification: per-doc packed shingle arrays attach
      // to the linear candidate list (the oracle's `ver` shape) — never the
      // shingle self-join whose co-shingled-pairs blowup LSH exists to avoid
      Dedup.verifyCandidatesPacked(packed, "doc_id", cand, 0.25)
        .select(col("id_1"), col("id_2"), col("n_inter"))
        .orderBy("id_1", "id_2")
    }),

    // near-dup cluster assignment: CONVERGENT connected components over the
    // verified jaccard pairs (min-label propagation + pointer jumping to a
    // fixpoint — exact for any component diameter, the keep-one-per-cluster
    // dedup decision); oracle computes true CC via a recursive CTE. This
    // query FORCES the distributed fixpoint loop (threshold 0) so the gate
    // exercises the big-graph production path every round; q39/q41 take
    // the default driver union-find fast path — both proven identical.
    "q35_dedup_clusters" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("source").isin("src6", "src7"))
      // spread the scan before the shingle explode (see q24)
      val sh = Dedup.shingles(Dedup.spreadToCores(d), "doc_id", "text", 5,
        carry = Seq("lang"))
      val pairs = Dedup.jaccardPairs(sh, "doc_id", Seq("lang"))
        .filter(col("jaccard") >= 0.25)
      Dedup.clusterLabelsConverged(pairs, "id_1", "id_2", d, "doc_id",
        driverEdgeThreshold = 0L)
        .orderBy("id")
    }),

    // the END-TO-END dedup decision users run: LSH candidates (with the
    // mega-bucket guard armed — provably output-identical) → exact verify
    // → convergent CC → keep-one-per-cluster; oracle composes the full
    // minhash math with a recursive reachability CTE
    "q39_dedup_decision" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("source").isin("src6", "src7"))
      Dedup.dedupeDecision(d, "doc_id", "text", shingleN = 5, numHashes = 8,
        rowsPerBand = 2, threshold = 0.25, bucketCap = 256)
        .orderBy("id")
    }),

    // SimHash document fingerprint (16-bit, token sign votes)
    "q26_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text", bits = 16)
        .orderBy("doc_id")),

    // EXACT Hamming near-dup pairs over the simhash fingerprint via
    // pigeonhole banding (3 bands over 16 bits for maxDist=2): candidates
    // from one band-key shuffle, never an all-pairs join, yet provably
    // complete at the distance bar — the oracle IS the brute-force join
    "q45_hamming_neardup" -> ((s, dir) => {
      val sim = Dedup.simhash(docs(s, dir), "doc_id", "text", bits = 16)
      Dedup.hammingNearDupPairs(sim, "doc_id", "simhash", maxDist = 2,
        bits = 16, bucketCap = 64)
        .orderBy("id_1", "id_2")
    }),

    // benchmark decontamination: train docs sharing any 20-char shingle
    // with the (broadcast) benchmark set get contaminated=true — exact
    // n-gram overlap, the oracle mirrors the semi-join as EXISTS
    "q46_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(pmod(col("doc_id"), lit(97L)) === 0)
      val train = d.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      Corpus.contaminationFlags(train, bench, "doc_id", "text", n = 20)
        .select(col("doc_id"), col("contaminated"))
        .orderBy("doc_id")
    }),

    // deterministic train/val/test split: pure per-row mix-hash arithmetic,
    // stable under repartitioning and appends (no RNG, no shuffle)
    "q47_split_assign" -> ((s, dir) =>
      Corpus.splitAssign(docs(s, dir), "doc_id",
        Seq("train" -> 9000, "val" -> 500, "test" -> 500))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // per-domain quota sampling: keep at most 12 docs per source, selected
    // deterministically by mix-hash order (the domain-cap mixture step).
    // Runs the SKEW-SAFE composition (map-side bounded per-domain top-k
    // prefilter, then the exact window) — proven output-identical to the
    // plain window, so the oracle needn't model the prefilter
    "q48_quota_sample" -> ((s, dir) =>
      Corpus.quotaSampleSkewSafe(docs(s, dir), "source", "doc_id", k = 12)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // token-budget shard packing: concat-and-chunk assignment within hash
    // buckets — (bucket, pack) is the training-shard key; cost = n_chars
    "q49_pack_budget" -> ((s, dir) =>
      Corpus.packBudget(docs(s, dir), "doc_id", "n_chars",
        budget = 4000L, buckets = 8)
        .select(col("doc_id"), col("bucket"), col("pack"))
        .orderBy("doc_id")),

    // mixture-epoch expansion: 2.5 epochs of src0/src1, quarter-epoch
    // downsample of src2/src3, one epoch elsewhere — fractional copies
    // decided deterministically per doc by mix-hash bucket
    "q50_mixture_expand" -> ((s, dir) =>
      Corpus.mixtureExpand(docs(s, dir), "doc_id", "source",
        Map("src0" -> 25000, "src1" -> 25000, "src2" -> 2500, "src3" -> 2500))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")),

    // THE END-TO-END corpus assembly: exact dedup → decontaminate →
    // skew-safe quota → split → per-split shard packing, one call — the
    // oracle composes every stage's SQL into one statement
    "q51_corpus_assemble" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(pmod(col("doc_id"), lit(97L)) === 0)
      val base = d.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
      Corpus.assemble(base, bench, "doc_id", "text", "source", "n_chars",
        shingleN = 20, quota = 15,
        splits = Seq("train" -> 9000, "val" -> 500, "test" -> 500),
        budget = 2000L, buckets = 4)
        .orderBy("doc_id")
    }),

    // similarity search: exact top-k by int-quantized dot product
    "q27_ann_dot_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(pmod(col("vec_id"), lit(50L)) === 0)
      Ann.bruteTopK(queries, "vec_id", "embedding", emb, "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),

    // similarity search: sign-random-projection LSH (bucket join, multi-probe)
    // — full DuckDB oracle (annLshSql unrolls the 12 plane projections and
    // radius-1 probe buckets); recall vs brute force additionally in AnnSpec
    "q28_ann_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(pmod(col("vec_id"), lit(50L)) === 0)
      Ann.lshTopK(queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 10, bits = 12, dims = 64, probeRadius = 1)
        .orderBy("query_id", "rank")
    }),

    // similarity search: IVF coarse-quantizer path — deterministic
    // centroids, inverted-list assignment by integer L2, nprobe probing
    "q34_ann_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(pmod(col("vec_id"), lit(50L)) === 0)
      Ann.ivfTopK(queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 10, centroidEvery = 25L, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // similarity search: product quantization + asymmetric distance — the
    // COMPRESSION scale path next to LSH/IVF's pruning (scan m byte-sized
    // codes per vector, not dims floats); deterministic sampled codebook
    // keeps the whole path integer-exact and DuckDB-expressible (q34's
    // precedent); Lloyd's-refined codebooks + exact refine in PqSpec
    "q52_ann_pq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(pmod(col("vec_id"), lit(50L)) === 0)
      Ann.pqTopK(queries, "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 10, dims = 64, m = 8, codeEvery = 10L)
        .orderBy("query_id", "rank")
    }),

    // embedding-cosine near-dup pairs (dedup mode 5) — integer-exact
    // cross-multiplied cosine threshold on quantized vectors
    "q30_embedding_neardup" -> ((s, dir) =>
      Ann.embeddingNearDupPairs(
        table(s, dir, "embeddings"), "vec_id", "embedding",
        tauNum = 2, tauDen = 5)
        .orderBy("id_1", "id_2")),

    // embedding-modality dedup DECISION: exact cosine pairs → convergent
    // CC → keep-one-per-cluster (the q39 composition for the vector column)
    "q41_embedding_dedup" -> ((s, dir) =>
      Dedup.embeddingDedupeDecision(table(s, dir, "embeddings"),
        "vec_id", "embedding", tauNum = 2, tauDen = 5)
        .orderBy("id")),

    // S4/E2/J4: multi-input union with duplicate-id fail-fast — points from
    // lineitem unioned with a second "input file" derived from orders
    // (disjoint id space, so the dup check passes)
    "q31_multi_union" -> ((s, dir) => {
      val a = pts(s, dir).select(col("point_id").as("id"), col("lon"), col("lat"))
      val o = table(s, dir, "orders")
      // side-b ids are NEGATED order keys: structurally disjoint from pts'
      // positive point_ids for ANY input (the old slot-9 encoding collided
      // with a lineitem carrying l_linenumber = 9 — then the dup check
      // aborted while the plain UNION ALL oracle kept both rows). Coords
      // still derive from the positive slot-9 value, with the id reduced
      // mod the grid BEFORE the hash multiply (int64-overflow-free,
      // value-identical — see GeoTables).
      val slot9 = col("o_orderkey") * lit(10L) + lit(9L)
      val b = o.select(
        (-col("o_orderkey")).as("id"),
        (pmod(pmod(slot9, lit(360000L)) * lit(GeoTables.LonMul), lit(360000L)) / lit(1000.0) - lit(180.0)).as("lon"),
        (pmod(pmod(slot9, lit(170000L)) * lit(GeoTables.LatMul), lit(170000L)) / lit(1000.0) - lit(85.0)).as("lat"))
      OsmOps.unionWithDupCheck(Seq(a, b), "id").orderBy("id")
    }),

    // A4: global distinct tag dictionary (TagsCache capability)
    "q32_tag_dictionary" -> ((s, dir) =>
      taggedPts(s, dir)
        .select(explode(col("tags")).as(Seq("key", "value")))
        .distinct()
        .orderBy("key", "value")),

    // X2/X4: bbox + coordinate formatting (reference Bounds.BoundingBox
    // "%.6f" — exact here because coords have ≤3 decimal digits)
    "q33_formats" -> ((s, dir) => {
      val b = OsmOps.bounds(pts(s, dir), "lon", "lat")
      b.select(format_string("%.6f,%.6f,%.6f,%.6f",
        col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat")).as("bbox"))
    }),

    // X8/S6 way geometry: assembled ways → LineString/Polygon GeoJSON
    // (closure first==last picks Polygon); exact string oracle via ordered
    // STRING_AGG of the same double renderings
    "q37_geojson_ways" -> ((s, dir) => {
      // ways + nodes branches share one point-derivation evaluation (q09)
      val p = pts(s, dir)
        .select(col("point_id"), col("way_id"), col("pos"), col("lon"), col("lat"))
        .localCheckpoint(eager = false)
      val ways = p.groupBy(col("way_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("point_id")))),
          v => v.getField("point_id")).as("refs"))
      val nodes = p.select(col("point_id").as("node_id"), col("lon"), col("lat"))
      val assembled = OsmOps.assembleWays(
        OsmOps.resolveWayRefs(ways, "way_id", "refs", nodes, "node_id"))
      assembled.select(col("way_id"),
        graft.functions.GeoFunctions.geojson_way_geometry(col("ring")).as("geometry"))
        .orderBy("way_id")
    }),

    // relation multipolygon assembly (engine addition — the reference
    // models relation members but never assembles their geometry):
    // synthetic relations group the derived ways as ordered members. The
    // fixture's ways share no endpoints, so each member forms its own open
    // ring — the distributed plumbing (member explode, per-relation stitch
    // pass, coordinate resolution, ordering, ring indexing) is fully
    // oracle-checked; the stitch-merge/reversal branches are unit-spec'd
    // on hand-built geometries (OsmOpsSpec)
    "q40_relation_rings" -> ((s, dir) => {
      // p feeds ways + nodes; ways feeds the member list, the stitch
      // resolve AND the rels derivation — share one evaluation of each
      // (the pruned rels branch was a third full lineitem chain and the
      // collect_list aggregate executed twice; plan-audited, see q09)
      val p = pts(s, dir)
        .select(col("point_id"), col("way_id"), col("pos"), col("lon"), col("lat"))
        .localCheckpoint(eager = false)
      val ways = p.groupBy(col("way_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("point_id")))),
          v => v.getField("point_id")).as("refs"))
        .localCheckpoint(eager = false)
      val rels = ways.select(col("way_id"))
        .withColumn("rel_id", pmod(col("way_id"), lit(25L)))
        .groupBy(col("rel_id"))
        .agg(transform(array_sort(collect_list(col("way_id"))),
          w => struct(lit("way").as("type"), w.as("ref"), lit("outer").as("role"))).as("members"))
      val nodes = p.select(col("point_id").as("node_id"), col("lon"), col("lat"))
      OsmOps.assembleRelationRings(rels, "rel_id", "members",
          ways, "way_id", "refs", nodes, "node_id")
        .select(col("rel_id"), col("role"), col("ring_idx"), col("closed"),
          posexplode(col("ring")).as(Seq("vpos", "v")))
        .select(col("rel_id"), col("role"), col("ring_idx"), col("vpos"),
          col("v.lon").as("lon"), col("v.lat").as("lat"), col("closed"))
        .orderBy("rel_id", "ring_idx", "vpos")
    }),

    // A2: per-key {node, way, relation} counts (reference Summary
    // CountsByKey, Planet.go:497-520) — one pass over the unioned tag maps
    // of three derived element classes, conditional aggregate per class
    "q38_summarize_by_key" -> ((s, dir) => {
      // nodes (tag map) and ways (per-way rollup) share one evaluation of
      // the point derivation (see q09), projected to the consumed columns
      val p = pts(s, dir)
        .select(col("way_id"), col("quantity"), col("tag_flag"), col("tag_status"))
        .localCheckpoint(eager = false)
      val nodes = withTags(p)
      val ways = p.groupBy(col("way_id"))
        .agg(count(lit(1)).as("n_refs"), sum(col("quantity")).as("q"))
        .withColumn("tags", map_concat(
          map(lit("status"), when(col("n_refs") > 2, lit("big")).otherwise(lit("small"))),
          when(col("q") > 100, map(lit("bulk"), lit("y"))).otherwise(map())))
      val rels = table(s, dir, "orders")
        .withColumn("tags", map_concat(
          map(lit("flag"), col("o_orderstatus")),
          when(col("o_totalprice") < 10000.0, map(lit("tiny"), lit("y"))).otherwise(map())))
      OsmOps.summarizeByKey(nodes, ways, rels, Seq("flag", "status", "bulk", "tiny"))
        .orderBy("key")
    }),

    // S6/S7: GeoJSON feature sink projection — exact string oracle: DuckDB's
    // shortest-roundtrip double rendering (CAST AS VARCHAR) byte-matches Java
    // 17's Double.toString on every fixture coordinate (verified over all
    // 91,664 sf0.01 values), and to_json emits struct fields / map keys in
    // declaration order, so the feature string is printf-composable
    "q29_geojson" -> ((s, dir) =>
      OsmOps.bboxExtract(taggedPts(s, dir), "lon", "lat", -100.0, -40.0, 0.0, 40.0)
        .select(col("point_id"),
          graft.functions.GeoFunctions.geojson_feature(
            col("point_id"), col("lon"), col("lat"), col("tags")).as("feature"))
        .orderBy("point_id"))
  )

  // ---- oracle SQL -------------------------------------------------------------

  def oracleSql: Map[String, String] = {
    val knnOracle =
      s"""$withBoth, q AS (
         |  SELECT polygon_id, center_lon, center_lat FROM rect WHERE polygon_id % 10 = 0
         |), d AS (
         |  SELECT q.polygon_id, p.point_id,
         |         (p.lon - q.center_lon) * (p.lon - q.center_lon) +
         |         (p.lat - q.center_lat) * (p.lat - q.center_lat) AS dist
         |  FROM q CROSS JOIN pts p
         |), r AS (
         |  SELECT polygon_id, point_id,
         |         ROW_NUMBER() OVER (PARTITION BY polygon_id ORDER BY dist, point_id) AS rank
         |  FROM d
         |)
         |SELECT polygon_id, rank, point_id FROM r WHERE rank <= 5
         |ORDER BY polygon_id, rank""".stripMargin

    Map(
      "q01_bbox_extract" ->
        s"""$withPts
           |SELECT point_id, lon, lat FROM pts
           |WHERE lon BETWEEN -100.0 AND 60.0 AND lat BETWEEN -40.0 AND 70.0
           |ORDER BY point_id""".stripMargin,

      "q02_tile_xy" ->
        s"""$withPts
           |SELECT point_id, ${tileXSql("lon", 10)} AS tx, ${tileYSql("lat", 10)} AS ty
           |FROM pts ORDER BY point_id""".stripMargin,

      "q03_cell_id" ->
        s"""$withPts, t AS (
           |  SELECT point_id, ${tileXSql("lon", 7)} AS tx, ${tileYSql("lat", 7)} AS ty FROM pts
           |)
           |SELECT point_id, ${mortonSql("tx", "ty", 7)} * 32 + 7 AS cell
           |FROM t ORDER BY point_id""".stripMargin,

      "q42_quadkey" ->
        s"""$withPts, t AS (
           |  SELECT point_id,
           |         ${tileXSql("lon", 10)} AS tx, ${tileYSql("lat", 10)} AS ty,
           |         ${tileXSql("lon", 4)} AS px, ${tileYSql("lat", 4)} AS py
           |  FROM pts
           |)
           |SELECT point_id, ${quadkeySql("tx", "ty", 10)} AS qk,
           |       ${quadkeySql("px", "py", 4)} AS qk_parent
           |FROM t ORDER BY point_id""".stripMargin,

      // Spark's tumbling windows are epoch-aligned and the base epoch
      // 1704067200 is divisible by 3600, so window_start ==
      // ts_sec - ts_sec % 3600 exactly.
      "q43_region_rates" ->
        s"""$withBoth, evts AS (
           |  SELECT point_id, lon, lat,
           |         1704067200 + (point_id % 604800) * 2654435761 % 604800 AS ts_sec
           |  FROM pts
           |)
           |SELECT g.polygon_id AS polygon_id,
           |       e.ts_sec - e.ts_sec % 3600 AS window_start_sec,
           |       COUNT(*) AS n
           |FROM evts e JOIN rect g
           |  ON e.lon BETWEEN g.min_lon AND g.max_lon
           | AND e.lat BETWEEN g.min_lat AND g.max_lat
           |GROUP BY 1, 2
           |ORDER BY polygon_id, window_start_sec""".stripMargin,

      "q04_tag_keep_filter" ->
        s"""$withPts
           |SELECT point_id, quantity FROM pts
           |WHERE quantity > 30 OR quantity < 5
           |ORDER BY point_id""".stripMargin,

      "q05_tag_project" ->
        s"""$withPts
           |SELECT point_id, 'flag' AS key, tag_flag AS value FROM pts
           |ORDER BY point_id""".stripMargin,

      "q06_dfl_filter" ->
        s"""$withPts
           |SELECT point_id, tag_flag, quantity FROM pts
           |WHERE tag_flag = 'R' AND quantity > 20
           |ORDER BY point_id""".stripMargin,

      "q44_dfl_longtail" ->
        s"""$withPts
           |SELECT point_id, tag_flag || '-' || tag_status AS code, quantity
           |FROM pts
           |WHERE quantity % 7 = 3 AND tag_flag = 'R' AND tag_status = 'F'
           |ORDER BY point_id""".stripMargin,

      "q07_spatial_join_cells" ->
        s"""$withBoth
           |SELECT p.point_id AS point_id, g.polygon_id AS polygon_id
           |FROM pts p JOIN rect g
           |  ON p.lon BETWEEN g.min_lon AND g.max_lon
           | AND p.lat BETWEEN g.min_lat AND g.max_lat
           |ORDER BY point_id, polygon_id""".stripMargin,

      "q08_spatial_join_rtree" ->
        s"""$withBoth
           |SELECT p.point_id AS point_id, g.polygon_id AS polygon_id
           |FROM pts p JOIN rect g
           |  ON p.lon BETWEEN g.min_lon AND g.max_lon
           | AND p.lat BETWEEN g.min_lat AND g.max_lat
           |ORDER BY point_id, polygon_id""".stripMargin,

      "q09_way_assembly" ->
        s"""$withPts
           |SELECT way_id,
           |       ROW_NUMBER() OVER (PARTITION BY way_id ORDER BY pos) - 1 AS pos,
           |       lon, lat
           |FROM pts ORDER BY way_id, pos""".stripMargin,

      "q10_way_centroid" ->
        s"""$withPts, agg AS (
           |  SELECT way_id, SUM(lon_milli) AS sl, SUM(lat_milli) AS st, COUNT(*) AS n_refs
           |  FROM pts GROUP BY way_id
           |)
           |SELECT way_id,
           |       (SELECT MAX(point_id) FROM pts) + DENSE_RANK() OVER (ORDER BY way_id) AS new_id,
           |       (CAST(sl AS DOUBLE) / n_refs) / 1000.0 - 180.0 AS clon,
           |       (CAST(st AS DOUBLE) / n_refs) / 1000.0 - 85.0 AS clat,
           |       n_refs
           |FROM agg ORDER BY way_id""".stripMargin,

      "q11_tag_counts" ->
        s"""$withPts
           |SELECT key, value, n FROM (
           |  SELECT 'flag' AS key, tag_flag AS value, COUNT(*) AS n FROM pts GROUP BY tag_flag
           |  UNION ALL
           |  SELECT 'status' AS key, tag_status AS value, COUNT(*) AS n FROM pts GROUP BY tag_status
           |) ORDER BY key, value""".stripMargin,

      "q12_summarize" ->
        s"""$withPts
           |SELECT COUNT(*) AS n_rows, COUNT(DISTINCT way_id) AS n_users,
           |       MIN(lon) AS min_lon, MIN(lat) AS min_lat,
           |       MAX(lon) AS max_lon, MAX(lat) AS max_lat
           |FROM pts""".stripMargin,

      "q13_retention_semijoin" ->
        s"""$withPts
           |SELECT point_id FROM pts
           |WHERE quantity > 45
           |   OR way_id IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0)
           |ORDER BY point_id""".stripMargin,

      "q14_tile_cover" ->
        s"""$withPts, f AS (
           |  SELECT point_id,
           |         lon - (50 + (point_id * 3571) % 500) / 1000.0 AS lon_lo,
           |         lon + (50 + (point_id * 3571) % 500) / 1000.0 AS lon_hi,
           |         lat - (50 + (point_id * 7573) % 500) / 1000.0 AS lat_lo,
           |         lat + (50 + (point_id * 7573) % 500) / 1000.0 AS lat_hi
           |  FROM pts
           |), b AS (
           |  SELECT point_id,
           |         ${tileXSql("lon_lo", 9)} AS txmin, ${tileXSql("lon_hi", 9)} AS txmax,
           |         ${tileYSql("lat_hi", 9)} AS tymin, ${tileYSql("lat_lo", 9)} AS tymax
           |  FROM f
           |), xs AS (
           |  SELECT point_id, UNNEST(generate_series(txmin, txmax)) AS tile_x, tymin, tymax FROM b
           |)
           |SELECT point_id, tile_x, UNNEST(generate_series(tymin, tymax)) AS tile_y
           |FROM xs ORDER BY point_id, tile_x, tile_y""".stripMargin,

      "q15_knn_cellring" -> knnOracle,
      "q16_knn_scan" -> knnOracle,

      "q17_event_window" ->
        """SELECT event_type, date_trunc('hour', ts) AS window_start,
          |       COUNT(*) AS n, MIN(value) AS min_value, MAX(value) AS max_value
          |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      // CAST(SUM(..) AS BIGINT): DuckDB types SUM(BIGINT) as HUGEINT (int128)
      // while Spark writes int64 — the driver's typed-value hash diverges
      // without the cast even when the values are equal.
      "q18_event_props" ->
        """SELECT event_type, CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
          |       COUNT(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

      "q37_geojson_ways" ->
        s"""$withPts, coords AS (
           |  SELECT way_id,
           |         STRING_AGG('[' || CAST(lon AS VARCHAR) || ',' || CAST(lat AS VARCHAR) || ']',
           |                    ',' ORDER BY pos) AS cs,
           |         FIRST(lon ORDER BY pos) = LAST(lon ORDER BY pos)
           |           AND FIRST(lat ORDER BY pos) = LAST(lat ORDER BY pos) AS closed
           |  FROM pts GROUP BY way_id
           |)
           |SELECT way_id,
           |       CASE WHEN closed
           |            THEN '{"type":"Polygon","coordinates":[[' || cs || ']]}'
           |            ELSE '{"type":"LineString","coordinates":[' || cs || ']}'
           |       END AS geometry
           |FROM coords ORDER BY way_id""".stripMargin,

      "q40_relation_rings" ->
        s"""$withPts, w AS (
           |  SELECT way_id, way_id % 25 AS rel_id, COUNT(*) AS nv,
           |         FIRST(point_id ORDER BY pos) AS fref,
           |         LAST(point_id ORDER BY pos) AS lref
           |  FROM pts GROUP BY way_id
           |), idx AS (
           |  SELECT way_id, rel_id, (fref = lref AND nv >= 4) AS closed,
           |         CAST(ROW_NUMBER() OVER (PARTITION BY rel_id ORDER BY way_id) - 1 AS INTEGER) AS ring_idx
           |  FROM w
           |)
           |SELECT i.rel_id, 'outer' AS role, i.ring_idx,
           |       CAST(ROW_NUMBER() OVER (PARTITION BY p.way_id ORDER BY p.pos) - 1 AS INTEGER) AS vpos,
           |       p.lon, p.lat, i.closed
           |FROM pts p JOIN idx i USING (way_id)
           |ORDER BY rel_id, ring_idx, vpos""".stripMargin,

      "q38_summarize_by_key" ->
        s"""$withPts, nk AS (
           |  SELECT 'flag' AS key FROM pts
           |  UNION ALL SELECT 'status' FROM pts
           |  UNION ALL SELECT 'bulk' FROM pts WHERE quantity > 30
           |  UNION ALL SELECT 'tiny' FROM pts WHERE quantity < 5
           |), w AS (
           |  SELECT way_id, COUNT(*) AS n_refs, SUM(quantity) AS q FROM pts GROUP BY way_id
           |), wk AS (
           |  SELECT 'status' AS key FROM w
           |  UNION ALL SELECT 'bulk' FROM w WHERE q > 100
           |), rk AS (
           |  SELECT 'flag' AS key FROM orders
           |  UNION ALL SELECT 'tiny' FROM orders WHERE o_totalprice < 10000.0
           |), u AS (
           |  SELECT key, 'node' AS et FROM nk
           |  UNION ALL SELECT key, 'way' FROM wk
           |  UNION ALL SELECT key, 'relation' FROM rk
           |)
           |SELECT key,
           |       COUNT(CASE WHEN et = 'node' THEN 1 END) AS n_nodes,
           |       COUNT(CASE WHEN et = 'way' THEN 1 END) AS n_ways,
           |       COUNT(CASE WHEN et = 'relation' THEN 1 END) AS n_relations
           |FROM u GROUP BY key ORDER BY key""".stripMargin,

      "q36_sessionize" ->
        """WITH e AS (
          |  SELECT user_id, epoch_ms(ts) AS t FROM events
          |), m AS (
          |  SELECT user_id, t,
          |         CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
          |              OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000
          |              THEN 1 ELSE 0 END AS brk
          |  FROM e
          |), sid AS (
          |  SELECT user_id, t,
          |         SUM(brk) OVER (PARTITION BY user_id ORDER BY t
          |                        ROWS UNBOUNDED PRECEDING) AS s
          |  FROM m
          |)
          |SELECT user_id, MIN(t) AS start_ms, MAX(t) AS end_ms, COUNT(*) AS n_events
          |FROM sid GROUP BY user_id, s
          |ORDER BY user_id, start_ms""".stripMargin,

      "q19_text_stats" -> textStatsSql,

      "q20_lang_id" -> langIdSql,

      "q21_quality" ->
        """SELECT doc_id,
          |       CAST(FLOOR(100.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / NULLIF(length(text), 0)) AS BIGINT)
          |       + CASE WHEN length(text) BETWEEN 100 AND 400 THEN 50 ELSE 0 END AS quality
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q22_fingerprint" ->
        """WITH e AS (
          |  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
          |  FROM documents WHERE length(text) > 0
          |)
          |SELECT e.doc_id,
          |       CAST(SUM(ascii(substr(e.text, e.i, 1)) * e.i * e.i) % 1000000007 AS BIGINT) AS fingerprint,
          |       MIN(r.rolling) AS rolling
          |FROM e JOIN (
          |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
          |           [CAST(ascii(x) AS BIGINT) for x in string_split(text, '')]),
          |           (a, c) -> (a * 31 + c) % 1000000007) AS rolling
          |  FROM documents
          |) r ON e.doc_id = r.doc_id
          |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,

      "q23_dedup_exact" ->
        """SELECT doc_id,
          |       MIN(doc_id) OVER (PARTITION BY k) AS canonical_id,
          |       COUNT(*) OVER (PARTITION BY k) AS group_n
          |FROM (SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS k FROM documents)
          |ORDER BY doc_id""".stripMargin,

      "q24_ngram_jaccard" ->
        """WITH sh AS (
          |  SELECT doc_id, lang, substr(text, i, 5) AS shingle
          |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-4)) AS i) g
          |  WHERE source IN ('src6', 'src7')
          |  GROUP BY ALL
          |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |p AS (
          |  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS n_inter
          |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |)
          |SELECT p.id_1, p.id_2, p.n_inter, x.n AS n_1, y.n AS n_2
          |FROM p JOIN sz x ON p.id_1 = x.doc_id JOIN sz y ON p.id_2 = y.doc_id
          |WHERE CAST(p.n_inter AS DOUBLE) / (x.n + y.n - p.n_inter) >= 0.25
          |ORDER BY id_1, id_2""".stripMargin,

      "q25_minhash_lsh" -> minhashLshSql,

      "q35_dedup_clusters" -> dedupClustersSql,

      "q39_dedup_decision" -> dedupDecisionSql,

      "q26_simhash" -> simhashSql,

      "q45_hamming_neardup" -> hammingNearDupSql,

      // exact n-gram-overlap decontamination: EXISTS over the shared
      // 20-char shingle mirrors the engine's broadcast semi-join
      "q46_decontaminate" ->
        """WITH bsh AS (
          |  SELECT DISTINCT substr(text, i, 20) AS shingle
          |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-19)) AS i) g
          |  WHERE doc_id % 97 = 0
          |), tsh AS (
          |  SELECT doc_id, substr(text, i, 20) AS shingle
          |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-19)) AS i) g
          |  WHERE doc_id % 97 <> 0
          |)
          |SELECT d.doc_id,
          |       EXISTS(SELECT 1 FROM tsh t JOIN bsh b ON t.shingle = b.shingle
          |              WHERE t.doc_id = d.doc_id) AS contaminated
          |FROM documents d WHERE d.doc_id % 97 <> 0
          |ORDER BY doc_id""".stripMargin,

      "q47_split_assign" ->
        s"""WITH b AS (
           |  SELECT doc_id, (${Corpus.mixHashSql("doc_id")}) % 10000 AS bucket
           |  FROM documents
           |)
           |SELECT doc_id,
           |       CASE WHEN bucket < 9000 THEN 'train'
           |            WHEN bucket < 9500 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin,

      "q48_quota_sample" ->
        s"""WITH r AS (
           |  SELECT doc_id, source,
           |         ROW_NUMBER() OVER (PARTITION BY source
           |           ORDER BY ${Corpus.mixHashSql("doc_id")}, doc_id) AS rn
           |  FROM documents
           |)
           |SELECT doc_id, source FROM r WHERE rn <= 12 ORDER BY doc_id""".stripMargin,

      "q51_corpus_assemble" ->
        s"""WITH base AS (
           |  SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id % 97 <> 0
           |), ded AS (
           |  SELECT *, MIN(doc_id) OVER (
           |    PARTITION BY regexp_replace(lower(text), '[^a-z]', '', 'g')) AS canon
           |  FROM base
           |), kept AS (
           |  SELECT doc_id, text, source, n_chars FROM ded WHERE doc_id = canon
           |), bsh AS (
           |  SELECT DISTINCT substr(text, i, 20) AS shingle
           |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-19)) AS i) g
           |  WHERE doc_id % 97 = 0
           |), tsh AS (
           |  SELECT doc_id, substr(text, i, 20) AS shingle
           |  FROM kept, LATERAL (SELECT unnest(generate_series(1, length(text)-19)) AS i) g
           |), clean AS (
           |  SELECT k.doc_id, k.source, k.n_chars,
           |         (${Corpus.mixHashSql("k.doc_id")}) AS h
           |  FROM kept k
           |  WHERE NOT EXISTS (SELECT 1 FROM tsh t JOIN bsh b ON t.shingle = b.shingle
           |                    WHERE t.doc_id = k.doc_id)
           |), quota AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
           |  FROM clean
           |), s AS (
           |  SELECT doc_id, source, n_chars, h,
           |         CASE WHEN h % 10000 < 9000 THEN 'train'
           |              WHEN h % 10000 < 9500 THEN 'val'
           |              ELSE 'test' END AS split,
           |         h % 4 AS bucket
           |  FROM quota WHERE rn <= 15
           |), c AS (
           |  SELECT doc_id, source, split, bucket, n_chars,
           |         SUM(n_chars) OVER (PARTITION BY split, bucket ORDER BY h, doc_id
           |           ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM s
           |)
           |SELECT doc_id, source, split, bucket,
           |       CAST(FLOOR(CAST(cum - n_chars AS DOUBLE) / 2000) AS BIGINT) AS pack
           |FROM c ORDER BY doc_id""".stripMargin,

      "q50_mixture_expand" ->
        s"""WITH w AS (
           |  SELECT doc_id, source,
           |         CASE WHEN source IN ('src0','src1') THEN 25000
           |              WHEN source IN ('src2','src3') THEN 2500
           |              ELSE 10000 END AS bp,
           |         (${Corpus.mixHashSql("doc_id")}) % 10000 AS bucket
           |  FROM documents
           |), r AS (
           |  SELECT doc_id, source,
           |         bp // 10000 + CASE WHEN bucket < bp % 10000 THEN 1 ELSE 0 END AS reps
           |  FROM w
           |)
           |SELECT doc_id, source, CAST(e AS INT) AS epoch
           |FROM r, LATERAL (SELECT unnest(generate_series(1, reps)) AS e) g
           |ORDER BY doc_id, epoch""".stripMargin,

      "q49_pack_budget" ->
        s"""WITH b AS (
           |  SELECT doc_id, n_chars,
           |         (${Corpus.mixHashSql("doc_id")}) AS h,
           |         (${Corpus.mixHashSql("doc_id")}) % 8 AS bucket
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, bucket, n_chars,
           |         SUM(n_chars) OVER (PARTITION BY bucket ORDER BY h, doc_id
           |           ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM b
           |)
           |SELECT doc_id, bucket,
           |       CAST(FLOOR(CAST(cum - n_chars AS DOUBLE) / 4000) AS BIGINT) AS pack
           |FROM c ORDER BY doc_id""".stripMargin,

      "q30_embedding_neardup" ->
        """WITH q AS (
          |  SELECT vec_id, [CAST(FLOOR(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT) for x in embedding] AS qe
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, qe, list_reduce([v * v for v in qe], (a, b) -> a + b) AS n2 FROM q
          |), p AS (
          |  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
          |         list_reduce(list_transform(list_zip(a.qe, b.qe), t -> t[1] * t[2]), (x, y) -> x + y) AS dot,
          |         a.n2 AS n1, b.n2 AS n2b
          |  FROM n a JOIN n b ON a.vec_id < b.vec_id
          |)
          |SELECT id_1, id_2, dot FROM p
          |WHERE dot > 0 AND dot * dot * 25 >= 4 * n1 * n2b
          |ORDER BY id_1, id_2""".stripMargin,

      "q41_embedding_dedup" ->
        """WITH RECURSIVE q AS (
          |  SELECT vec_id, [CAST(FLOOR(CAST(x AS DOUBLE) * 100 + 0.5) AS BIGINT) for x in embedding] AS qe
          |  FROM embeddings
          |), n AS (
          |  SELECT vec_id, qe, list_reduce([v * v for v in qe], (a, b) -> a + b) AS n2 FROM q
          |), p AS (
          |  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
          |         list_reduce(list_transform(list_zip(a.qe, b.qe), t -> t[1] * t[2]), (x, y) -> x + y) AS dot,
          |         a.n2 AS n1, b.n2 AS n2b
          |  FROM n a JOIN n b ON a.vec_id < b.vec_id
          |), pr AS (
          |  SELECT id_1, id_2 FROM p WHERE dot > 0 AND dot * dot * 25 >= 4 * n1 * n2b
          |), e AS (
          |  SELECT id_1 AS src, id_2 AS dst FROM pr
          |  UNION ALL SELECT id_2, id_1 FROM pr
          |), reach AS (
          |  SELECT vec_id AS id, vec_id AS r FROM embeddings
          |  UNION
          |  SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id
          |)
          |SELECT id, MIN(r) AS cluster, id = MIN(r) AS keep
          |FROM reach GROUP BY id ORDER BY id""".stripMargin,

      "q31_multi_union" ->
        s"""$withPts, b AS (
           |  SELECT -o_orderkey AS id,
           |         ((o_orderkey * 10 + 9) % 360000) * 2654435761 % 360000 / 1000.0 - 180.0 AS lon,
           |         ((o_orderkey * 10 + 9) % 170000) * 2246822519 % 170000 / 1000.0 - 85.0 AS lat
           |  FROM orders
           |)
           |SELECT id, lon, lat FROM (
           |  SELECT point_id AS id, lon, lat FROM pts
           |  UNION ALL SELECT id, lon, lat FROM b
           |) ORDER BY id""".stripMargin,

      "q32_tag_dictionary" ->
        s"""$withPts
           |SELECT key, value FROM (
           |  SELECT 'flag' AS key, tag_flag AS value FROM pts
           |  UNION SELECT 'status', tag_status FROM pts
           |  UNION SELECT 'bulk', 'y' FROM pts WHERE quantity > 30
           |  UNION SELECT 'tiny', 'y' FROM pts WHERE quantity < 5
           |) ORDER BY key, value""".stripMargin,

      "q33_formats" ->
        s"""$withPts
           |SELECT printf('%.6f,%.6f,%.6f,%.6f', MIN(lon), MIN(lat), MAX(lon), MAX(lat)) AS bbox
           |FROM pts""".stripMargin,

      "q28_ann_lsh" -> annLshSql,

      "q34_ann_ivf" ->
        """WITH dims AS (
          |  SELECT vec_id, CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv,
          |         unnest(generate_series(1, len(embedding))) AS i
          |  FROM embeddings
          |), cent AS (
          |  SELECT vec_id AS cid, qv, i FROM dims WHERE vec_id % 25 = 0
          |), assign AS (
          |  SELECT d.vec_id, c.cid, CAST(SUM((d.qv - c.qv) * (d.qv - c.qv)) AS BIGINT) AS dist
          |  FROM dims d JOIN cent c ON d.i = c.i GROUP BY 1, 2
          |), lists AS (
          |  SELECT vec_id, cid FROM (
          |    SELECT vec_id, cid,
          |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          |    FROM assign
          |  ) WHERE rn = 1
          |), probes AS (
          |  SELECT vec_id AS query_id, cid FROM (
          |    SELECT vec_id, cid,
          |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          |    FROM assign WHERE vec_id % 50 = 0
          |  ) WHERE rn <= 4
          |), cand AS (
          |  SELECT p.query_id, l.vec_id FROM probes p JOIN lists l ON l.cid = p.cid
          |), dots AS (
          |  SELECT cand.query_id, cand.vec_id, CAST(SUM(q.qv * d.qv) AS BIGINT) AS dot
          |  FROM cand
          |  JOIN dims q ON q.vec_id = cand.query_id
          |  JOIN dims d ON d.vec_id = cand.vec_id AND d.i = q.i
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT query_id, vec_id, dot,
          |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
          |  FROM dots
          |)
          |SELECT query_id, rank, vec_id, dot FROM r WHERE rank <= 10
          |ORDER BY query_id, rank""".stripMargin,

      // mirrors Ann.pqTopK exactly: dims=64, m=8 subspaces of 8 dims,
      // codewords = every 10th vector, argmin ties to min cid, ADC = sum
      // of the 8 per-subspace LUT dots, final ties to min vec_id
      "q52_ann_pq" ->
        """WITH dims AS (
          |  SELECT vec_id, CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv,
          |         unnest(generate_series(1, len(embedding))) AS i
          |  FROM embeddings
          |), sub AS (
          |  SELECT vec_id, qv, i, CAST((i - 1) // 8 AS INTEGER) AS sub FROM dims
          |), cw AS (
          |  SELECT vec_id AS cid, sub, i, qv FROM sub WHERE vec_id % 10 = 0
          |), assign AS (
          |  SELECT s.vec_id, s.sub, c.cid, CAST(SUM((s.qv - c.qv) * (s.qv - c.qv)) AS BIGINT) AS dist
          |  FROM sub s JOIN cw c ON s.i = c.i GROUP BY 1, 2, 3
          |), codes AS (
          |  SELECT vec_id, sub, cid AS code FROM (
          |    SELECT vec_id, sub, cid,
          |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
          |    FROM assign
          |  ) WHERE rn = 1
          |), lut AS (
          |  SELECT q.vec_id AS query_id, c.sub, c.cid AS code, CAST(SUM(q.qv * c.qv) AS BIGINT) AS pdot
          |  FROM sub q JOIN cw c ON q.i = c.i
          |  WHERE q.vec_id % 50 = 0
          |  GROUP BY 1, 2, 3
          |), adc AS (
          |  SELECT l.query_id, k.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS adot
          |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
          |  GROUP BY 1, 2
          |), r AS (
          |  SELECT query_id, vec_id, adot,
          |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS rank
          |  FROM adc
          |)
          |SELECT query_id, rank, vec_id, adot FROM r WHERE rank <= 10
          |ORDER BY query_id, rank""".stripMargin,

      "q29_geojson" ->
        s"""$withPts
           |SELECT point_id,
           |       '{"type":"Feature","id":' || point_id ||
           |       ',"properties":{"flag":"' || tag_flag || '","status":"' || tag_status || '"' ||
           |       CASE WHEN quantity > 30 THEN ',"bulk":"y"' ELSE '' END ||
           |       CASE WHEN quantity < 5 THEN ',"tiny":"y"' ELSE '' END ||
           |       '},"geometry":{"type":"Point","coordinates":[' ||
           |       CAST(lon AS VARCHAR) || ',' || CAST(lat AS VARCHAR) || ']}}' AS feature
           |FROM pts
           |WHERE lon BETWEEN -100.0 AND 0.0 AND lat BETWEEN -40.0 AND 40.0
           |ORDER BY point_id""".stripMargin,

      "q27_ann_dot_topk" ->
        """WITH dims AS (
          |  SELECT vec_id, CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv,
          |         unnest(generate_series(1, len(embedding))) AS i
          |  FROM embeddings
          |), q AS (SELECT vec_id AS query_id, qv, i FROM dims WHERE vec_id % 50 = 0),
          |dots AS (
          |  SELECT q.query_id, d.vec_id, CAST(SUM(q.qv * d.qv) AS BIGINT) AS dot
          |  FROM q JOIN dims d ON q.i = d.i GROUP BY 1, 2
          |), r AS (
          |  SELECT query_id, vec_id, dot,
          |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
          |  FROM dots
          |)
          |SELECT query_id, rank, vec_id, dot FROM r WHERE rank <= 10
          |ORDER BY query_id, rank""".stripMargin
    )
  }

  /** Sign-random-projection LSH oracle mirroring [[graft.ann.Ann.signSketch]]
    * and [[graft.ann.Ann.lshTopK]] exactly (bits=12, dims=64, radius-1
    * probes, k=10): per-plane integer projections with the planeCoeff
    * formula, bucket assembly from sign bits, probe-bucket enumeration via
    * XOR single-bit flips, candidate dedup, exact quantized-dot rescoring.
    */
  private def annLshSql: String = {
    val bits = 12
    val projs = (0 until bits).map(p =>
      s"SUM(qv * ((($p * 12582917 + (i - 1) * 104729) % 97) - 48)) AS proj_$p")
      .mkString(",\n       ")
    val bucket = (0 until bits).map(p =>
      s"CASE WHEN proj_$p > 0 THEN ${1L << p} ELSE 0 END").mkString(" + ")
    val probeList = ("bucket" +: (0 until bits).map(p => s"xor(bucket, ${1L << p})"))
      .mkString("[", ", ", "]")
    s"""WITH dims AS (
       |  SELECT vec_id, CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qv,
       |         unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings
       |), proj AS (
       |  SELECT vec_id, $projs
       |  FROM dims GROUP BY vec_id
       |), sk AS (
       |  SELECT vec_id, $bucket AS bucket FROM proj
       |), qp AS (
       |  SELECT vec_id AS query_id, unnest($probeList) AS bucket
       |  FROM sk WHERE vec_id % 50 = 0
       |), cand AS (
       |  SELECT DISTINCT qp.query_id, c.vec_id
       |  FROM qp JOIN sk c USING (bucket)
       |), dots AS (
       |  SELECT cand.query_id, cand.vec_id, CAST(SUM(q.qv * d.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN dims q ON q.vec_id = cand.query_id
       |  JOIN dims d ON d.vec_id = cand.vec_id AND d.i = q.i
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT query_id, vec_id, dot,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rank
       |  FROM dots
       |)
       |SELECT query_id, rank, vec_id, dot FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Text-stats oracle mirroring [[graft.text.TextOps]]: the stopword
    * count is the same length-difference arithmetic as markerCount, so the
    * double results are bit-identical across engines.
    */
  private def textStatsSql: String = {
    val stopExpr = StopWords
      .map(w => s"((length(text) - length(replace(text, ' $w ', ''))) / ${w.length + 2})")
      .mkString("(", " + ", ")")
    s"""SELECT doc_id,
       |       len(regexp_extract_all(text, '[A-Za-z0-9_]+')) AS n_tokens,
       |       len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe,
       |       len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws,
       |       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
       |       length(text) AS n_len,
       |       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / NULLIF(length(text), 0) AS alpha_ratio,
       |       length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
       |       (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) / NULLIF(length(text), 0) AS punct_ratio,
       |       $stopExpr AS n_stop,
       |       $stopExpr / NULLIF(len(regexp_extract_all(text, '[A-Za-z0-9_]+')), 0) AS stop_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Language-ID oracle mirroring [[LangMarkers]] scoring + first-wins argmax. */
  private def langIdSql: String = {
    def cnt(m: String) = s"(length(text) - length(replace(text, '$m', ''))) / ${m.length}"
    val scores = LangMarkers.map { case (l, ms) =>
      l -> ms.map(cnt).mkString("(", " + ", ")")
    }
    val scoreCols = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n       ")
    val greatest = scores.map(s => s"s_${s._1}").mkString("GREATEST(", ", ", ")")
    val caseChain = scores.map { case (l, _) => s"WHEN s_$l = g THEN '$l'" }.mkString(" ")
    s"""WITH s AS (
       |  SELECT doc_id, $scoreCols
       |  FROM documents
       |), g AS (SELECT *, $greatest AS g FROM s)
       |SELECT doc_id, ${scores.map(s => s"s_${s._1}").mkString(", ")},
       |       CASE $caseChain ELSE 'und' END AS pred_lang
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** MinHash+LSH oracle mirroring [[graft.dedup.Dedup]] exactly. */
  private def minhashLshSql: String = {
    val hExpr = (1 to 5).map(j =>
      s"CAST(ascii(substr(shingle, $j, 1)) AS BIGINT) * ${math.pow(81, 5 - j).toLong}")
      .mkString(" + ")
    val mhs = (0 until 8).map(j =>
      s"MIN((${Dedup.HashA(j)} * h + ${Dedup.HashB(j)}) % ${Dedup.P}) AS mh_$j")
      .mkString(", ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, concat_ws('_', $b, mh_${2 * b}, mh_${2 * b + 1}) AS bk FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH sh AS (
       |  SELECT doc_id, substr(text, i, 5) AS shingle
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-4)) AS i) g
       |  WHERE source IN ('src6', 'src7')
       |  GROUP BY ALL
       |), hs AS (SELECT doc_id, ($hExpr) AS h FROM sh),
       |sig AS (SELECT doc_id, $mhs FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bands
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS id_1, y.doc_id AS id_2
       |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
       |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |ver AS (
       |  SELECT c.id_1, c.id_2, count(*) AS n_inter
       |  FROM cand c JOIN sh a ON a.doc_id = c.id_1
       |              JOIN sh b ON b.doc_id = c.id_2 AND a.shingle = b.shingle
       |  GROUP BY 1, 2
       |)
       |SELECT v.id_1, v.id_2, v.n_inter
       |FROM ver v JOIN sz x ON v.id_1 = x.doc_id JOIN sz y ON v.id_2 = y.doc_id
       |WHERE CAST(v.n_inter AS DOUBLE) / (x.n + y.n - v.n_inter) >= 0.25
       |ORDER BY id_1, id_2""".stripMargin
  }

  /** End-to-end dedup-decision oracle for [[graft.dedup.Dedup.dedupeDecision]]:
    * the full MinHash/LSH math of [[minhashLshSql]] (the engine's
    * mega-bucket guard is output-identical, so the oracle needn't model
    * it), then true connected components via recursive reachability, then
    * keep = (id = cluster minimum).
    */
  private def dedupDecisionSql: String = {
    val hExpr = (1 to 5).map(j =>
      s"CAST(ascii(substr(shingle, $j, 1)) AS BIGINT) * ${math.pow(81, 5 - j).toLong}")
      .mkString(" + ")
    val mhs = (0 until 8).map(j =>
      s"MIN((${Dedup.HashA(j)} * h + ${Dedup.HashB(j)}) % ${Dedup.P}) AS mh_$j")
      .mkString(", ")
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, concat_ws('_', $b, mh_${2 * b}, mh_${2 * b + 1}) AS bk FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE sh AS (
       |  SELECT doc_id, substr(text, i, 5) AS shingle
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-4)) AS i) g
       |  WHERE source IN ('src6', 'src7')
       |  GROUP BY ALL
       |), hs AS (SELECT doc_id, ($hExpr) AS h FROM sh),
       |sig AS (SELECT doc_id, $mhs FROM hs GROUP BY doc_id),
       |bands AS (
       |  $bands
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS id_1, y.doc_id AS id_2
       |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
       |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |ver AS (
       |  SELECT c.id_1, c.id_2, count(*) AS n_inter
       |  FROM cand c JOIN sh a ON a.doc_id = c.id_1
       |              JOIN sh b ON b.doc_id = c.id_2 AND a.shingle = b.shingle
       |  GROUP BY 1, 2
       |), p AS (
       |  SELECT v.id_1, v.id_2
       |  FROM ver v JOIN sz x ON v.id_1 = x.doc_id JOIN sz y ON v.id_2 = y.doc_id
       |  WHERE CAST(v.n_inter AS DOUBLE) / (x.n + y.n - v.n_inter) >= 0.25
       |), e AS (
       |  SELECT id_1 AS src, id_2 AS dst FROM p
       |  UNION ALL SELECT id_2, id_1 FROM p
       |), reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  WHERE source IN ('src6', 'src7')
       |  UNION
       |  SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id
       |)
       |SELECT id, MIN(r) AS cluster, id = MIN(r) AS keep
       |FROM reach GROUP BY id ORDER BY id""".stripMargin
  }

  /** Cluster-assignment oracle for [[graft.dedup.Dedup.clusterLabelsConverged]]
    * over the q24 verified-pair graph: TRUE connected components via a
    * recursive reachability CTE (min reachable id = component minimum) —
    * independent of the engine's round count, valid because the Spark side
    * iterates to a fixpoint.
    */
  private def dedupClustersSql: String = {
    s"""WITH RECURSIVE sh AS (
       |  SELECT doc_id, lang, substr(text, i, 5) AS shingle
       |  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text)-4)) AS i) g
       |  WHERE source IN ('src6', 'src7')
       |  GROUP BY ALL
       |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |p0 AS (
       |  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), p AS (
       |  SELECT p0.id_1, p0.id_2
       |  FROM p0 JOIN sz x ON p0.id_1 = x.doc_id JOIN sz y ON p0.id_2 = y.doc_id
       |  WHERE CAST(p0.n_inter AS DOUBLE) / (x.n + y.n - p0.n_inter) >= 0.25
       |), e AS (
       |  SELECT id_1 AS src, id_2 AS dst FROM p
       |  UNION ALL SELECT id_2, id_1 FROM p
       |), reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  WHERE source IN ('src6', 'src7')
       |  UNION
       |  SELECT e.src AS id, reach.r FROM e JOIN reach ON e.dst = reach.id
       |)
       |SELECT id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin
  }

  /** Shared SimHash CTE chain mirroring [[graft.dedup.Dedup.simhash]]
    * (16 bits): defines `sh(doc_id, simhash)` for the queries below.
    */
  private def simhashCte: String = {
    val hExpr = (1 to 5).map(j =>
      s"CAST(ascii(substr(rpad(tok, 5, 'q'), $j, 1)) AS BIGINT) * ${math.pow(81, 5 - j).toLong}")
      .mkString(" + ")
    val votes = (0 until 16).map(j =>
      s"SUM(((h >> $j) & 1) * 2 - 1) AS v_$j").mkString(", ")
    val bits = (0 until 16).map(j =>
      s"CASE WHEN v_$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), h AS (
       |  SELECT doc_id, ($hExpr) + length(tok) AS h FROM tok WHERE tok <> ''
       |), v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $bits AS simhash FROM v)""".stripMargin
  }

  /** SimHash oracle mirroring [[graft.dedup.Dedup.simhash]] (16 bits). */
  private def simhashSql: String =
    s"""$simhashCte
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin

  /** Brute-force all-pairs Hamming oracle for q45: the engine's banded
    * plan must reproduce the quadratic join EXACTLY (pigeonhole
    * completeness — not a recall bound).
    */
  private def hammingNearDupSql: String =
    s"""$simhashCte
       |SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
       |ORDER BY id_1, id_2""".stripMargin
}
