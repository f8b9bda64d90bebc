package graft.knn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
import graft.expr.{RingCellsExpr, RingMinSqDistExpr}
import graft.functions.GeoFunctions._

/** k-nearest-points per query via cell-ring expansion (north-rule operator;
  * the reference's latent R-tree realized as a scalable top-k).
  *
  * Algorithm (provably complete — SURVEY.md §7.5.6): explore rings of cells
  * around each query's cell, accumulating a per-query top-k; a query
  * finishes when it holds k candidates AND its kth distance is ≤ the lower
  * bound of the next unexplored ring (no closer point can exist there).
  * Distance metric: squared euclidean in degree space, ties broken by
  * point id — fully deterministic under any parallelism.
  *
  * Each iteration is one shuffle keyed on the spatial cell; finished queries
  * drop out, so late rings touch only the sparse stragglers. `best` is
  * localCheckpoint'd to keep lineage flat across iterations.
  */
object Knn {

  def ringCells(cell: Column, k: Column): Column =
    toCol(RingCellsExpr(toExpr(cell), toExpr(k.cast("int"))))

  /** Default no-op [[cellRing]] round hook. Kept as a named value so
    * `cellRing` can detect "no instrumentation requested" by reference and
    * skip the exact per-round remaining count (a full count job) in favor of
    * a limit-1 emptiness probe.
    */
  val noopRound: (Int, Long) => Unit = (_, _) => ()

  /** Density-derived cell zoom for [[cellRing]]: the SMALLEST z whose
    * hottest cell holds ≤ `hotCellCap` points (estimated from one sampled
    * occupancy pass). The ring join's per-round fanout is
    * O(queries-in-cell × points-in-cell), so a zoom that leaves a whole
    * city inside one cell turns the first round quadratic — measured on the
    * bench fixture (10M points, 60% city-clustered, z=10): the round-1 join
    * wrote billions of rows and ran for over half an hour, vs seconds at
    * the density-appropriate zoom. At 100 TB this is one cheap sampled
    * aggregation (~1% of one column pair) followed by log₂-many roll-up
    * aggs over the ALREADY-AGGREGATED cell frame (≤ sample-size rows, one
    * scalar max each — no per-row data ever reaches the driver).
    *
    * The cap trades dense-cell join fanout against sparse-query ring
    * rounds; ~4k keeps round-1 candidate lists in the 10³-10⁴ range for
    * k ≤ 100 while leaving globally-sparse queries within a few doubling
    * rounds of their neighbors.
    */
  def pickZoom(points: DataFrame, lonCol: String, latCol: String,
               hotCellCap: Long = 4096L, zMin: Int = 4, zMax: Int = 16,
               sampleFraction: Double = 0.01, seed: Long = 7L): Int = {
    require(zMin <= zMax, s"pickZoom: zMin $zMin > zMax $zMax")
    val spark = points.sparkSession
    import spark.implicits._
    val sampled =
      if (sampleFraction >= 1.0) points.select(col(lonCol), col(latCol))
      else points.select(col(lonCol), col(latCol)).sample(sampleFraction, seed)
    val scale = if (sampleFraction >= 1.0) 1.0 else 1.0 / sampleFraction
    // ONE aggregation job for every level at once: explode each sampled
    // point's zMax cell to its ancestor at every z in [zMin, zMax], count
    // per (z, cell), roll up to the hottest cell per z, collect ≤ 26 rows.
    // (The previous level-by-level roll-up loop ran 2 driver-synchronized
    // jobs per level — ~20 s of parallelism-independent latency on the
    // 10M-point scaling leg, dwarfing the actual aggregation work.)
    val cellAtZMax = cell_id(col(lonCol), col(latCol), zMax)
    val levels = (zMin to zMax).map(z => struct(lit(z).as("z"),
      graft.index.CellIndex.ancestorCol(col("__cmax"), zMax, z).as("cell")))
    val hotByZ: Map[Int, Long] = sampled
      .select(cellAtZMax.as("__cmax"))
      .select(explode(array(levels: _*)).as("zc"))
      .groupBy(col("zc.z").as("z"), col("zc.cell").as("cell"))
      .agg(count(lit(1)).as("cn"))
      .groupBy(col("z")).agg(max(col("cn")).as("hot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // hottest-cell count is monotone non-decreasing as z gets coarser, so
    // the original walk-down-while-cap-holds loop is equivalent to: the
    // smallest (coarsest) z whose hottest cell fits the cap; zMax if none
    // does; absent levels (empty/sampled-to-empty input) count 0.
    val fits = (zMin to zMax).filter(z => hotByZ.getOrElse(z, 0L) * scale <= hotCellCap)
    if (fits.isEmpty) zMax else fits.min
  }

  /** Per-partition bounded top-k cut over (query_id, point_id, dist) rows:
    * keeps each query's k smallest (dist, point_id) within the partition,
    * deduplicating identical pairs. Runs as mapPartitions in the producing
    * stage — no sort, no shuffle — so downstream global ranking sees at
    * most (queries-in-partition × k) rows per partition. Deterministic at
    * any parallelism: the global top-k is invariant to partition
    * boundaries because every globally-surviving row survives its own
    * partition's cut.
    */
  private def localTopK(rows: DataFrame, k: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val prepared = rows.select(col("query_id").cast("long"),
      col("point_id").cast("long"), col("dist").cast("double"))
    // InternalRow iteration + primitive open-addressing state: the former
    // Dataset decoder + HashMap[Long, TreeSet[(Double, Long)]] allocated a
    // tuple and boxes per CANDIDATE row — at web-scale round-0 volumes
    // (hundreds of millions of join rows) the allocation rate, not the
    // arithmetic, bounded the stage's 8→32 scaling. Flat max-heaps (root =
    // worst kept) replace the TreeSet; exact (dist, point_id) duplicates
    // from ring wrap-aliasing are dropped by a ≤ k linear probe of the
    // heap slots, preserving the TreeSet's dedup semantics.
    val out = prepared.queryExecution.toRdd.mapPartitions { rowIt =>
      var cap = 1 << 10
      var mask = cap - 1
      var keys = new Array[Long](cap)
      var live = new Array[Boolean](cap)
      var slotOf = new Array[Int](cap)
      var nQ = 0
      var hD = new Array[Double](cap * k)
      var hP = new Array[Long](cap * k)
      var hN = new Array[Int](cap)
      @inline def worse(d1: Double, p1: Long, d2: Double, p2: Long): Boolean =
        d1 > d2 || (d1 == d2 && p1 > p2)
      def grow(): Unit = {
        val oldCap = cap
        cap <<= 1; mask = cap - 1
        val nk = new Array[Long](cap); val nl = new Array[Boolean](cap)
        val ns = new Array[Int](cap)
        var i = 0
        while (i < oldCap) {
          if (live(i)) {
            var h = (java.lang.Long.hashCode(keys(i)) & 0x7fffffff) & mask
            while (nl(h)) h = (h + 1) & mask
            nk(h) = keys(i); nl(h) = true; ns(h) = slotOf(i)
          }
          i += 1
        }
        keys = nk; live = nl; slotOf = ns
        hD = java.util.Arrays.copyOf(hD, cap * k)
        hP = java.util.Arrays.copyOf(hP, cap * k)
        hN = java.util.Arrays.copyOf(hN, cap)
      }
      // insert as its own small method (see scan(): a single huge loop
      // method falls off the JIT and runs interpreted)
      def insert(q: Long, p: Long, d: Double): Unit = {
        var h = (java.lang.Long.hashCode(q) & 0x7fffffff) & mask
        while (live(h) && keys(h) != q) h = (h + 1) & mask
        val slot =
          if (live(h)) slotOf(h)
          else {
            if ((nQ + 1) * 2 > cap) {
              grow()
              h = (java.lang.Long.hashCode(q) & 0x7fffffff) & mask
              while (live(h)) h = (h + 1) & mask
            }
            keys(h) = q; live(h) = true; slotOf(h) = nQ
            nQ += 1
            nQ - 1
          }
        val base = slot * k
        val n = hN(slot)
        val admit =
          if (n < k) true
          else worse(hD(base), hP(base), d, p)
        if (admit) {
          // dedup probe (≤ k slots): ring wrap-aliasing can re-surface the
          // identical (dist, point) pair within one partition
          var dup = false
          var j = 0
          while (j < n && !dup) {
            if (hP(base + j) == p && hD(base + j) == d) dup = true
            j += 1
          }
          if (!dup) {
            if (n < k) {
              hD(base + n) = d; hP(base + n) = p
              // sift up
              var c = n
              while (c > 0) {
                val par = (c - 1) >> 1
                if (worse(hD(base + c), hP(base + c), hD(base + par), hP(base + par))) {
                  val td = hD(base + c); val tp = hP(base + c)
                  hD(base + c) = hD(base + par); hP(base + c) = hP(base + par)
                  hD(base + par) = td; hP(base + par) = tp
                  c = par
                } else c = 0
              }
              hN(slot) = n + 1
            } else {
              hD(base) = d; hP(base) = p
              // sift down
              var c = 0
              var done = false
              while (!done) {
                val l = 2 * c + 1; val r = l + 1
                var m = c
                if (l < k && worse(hD(base + l), hP(base + l), hD(base + m), hP(base + m))) m = l
                if (r < k && worse(hD(base + r), hP(base + r), hD(base + m), hP(base + m))) m = r
                if (m == c) done = true
                else {
                  val td = hD(base + c); val tp = hP(base + c)
                  hD(base + c) = hD(base + m); hP(base + c) = hP(base + m)
                  hD(base + m) = td; hP(base + m) = tp
                  c = m
                }
              }
            }
          }
        }
      }
      while (rowIt.hasNext) {
        val row = rowIt.next()
        insert(row.getLong(0), row.getLong(1), row.getDouble(2))
      }
      val qIdOfSlot = new Array[Long](nQ)
      locally {
        var i = 0
        while (i < cap) { if (live(i)) qIdOfSlot(slotOf(i)) = keys(i); i += 1 }
      }
      (0 until nQ).iterator.flatMap { slot =>
        val base = slot * k
        (0 until hN(slot)).iterator.map(j => (qIdOfSlot(slot), hP(base + j), hD(base + j)))
      }
    }
    spark.createDataset(out).toDF("query_id", "point_id", "dist")
  }

  def ringMinSqDist(lon: Column, lat: Column, cell: Column, k: Column): Column =
    toCol(RingMinSqDistExpr(Seq(
      toExpr(lon), toExpr(lat), toExpr(cell), toExpr(k.cast("int")))))

  /** @param queries (queryIdCol, qLonCol, qLatCol)
    * @param points  (pointIdCol, lonCol, latCol)
    * @param maxRings cap on ring exploration radius. With the scan finisher
    *                enabled (default) this only bounds the RING phase:
    *                queries still unproven at the cap hand off to the exact
    *                finisher, so results stay exact for any maxRings. With
    *                `scanFinishThreshold = 0` the cap is a hard truncation —
    *                a capped query's top-k is emitted unproven (possibly
    *                missing nearer points beyond the explored radius), so
    *                only disable the finisher when maxRings ≥ the grid span
    *                or approximation is acceptable
    * @param initCap cap on the density-derived first-round radius
    * @param onRound instrumentation hook, called after every expansion
    *                round with (rounds completed, queries still unfinished)
    *                — separates plan cost (extra rounds = extra shuffles)
    *                from host noise in bench traces; default no-op
    * @param pointCellCol name of a PRECOMPUTED cell column on `points`
    *                (must equal `cell_id(lon, lat, z)` for this z). When the
    *                point table was written `bucketBy(n, cell)` at ingest —
    *                the 100 TB layout — its scan already satisfies every
    *                round's join clustering, so the one-time repartition
    *                (the single-box prep cost in BENCH_SCALING.md's kNN
    *                decomposition) is skipped entirely: zero point-side
    *                shuffle, ever. The frame is still cached (partitioning-
    *                preserving) so later rounds skip the parquet re-scan.
    * @param finisherStateBudget per-task memory budget (bytes) for the WARM
    *                finisher's per-query heap state; sets how many seeded
    *                stragglers one scan() pass may absorb in place of
    *                further doubling rounds (~90k at k=10 for the 64 MB
    *                default — each avoided round is one full stream of the
    *                cached point table)
    * @return (query_id, rank, point_id, dist) with rank in 1..k
    */
  def cellRing(queries: DataFrame, queryIdCol: String, qLonCol: String, qLatCol: String,
               points: DataFrame, pointIdCol: String, lonCol: String, latCol: String,
               k: Int, z: Int = 7, maxRings: Int = 1 << 10, initCap: Int = 8,
               scanFinishThreshold: Int = 4096,
               onRound: (Int, Long) => Unit = noopRound,
               pointCellCol: Option[String] = None,
               finisherStateBudget: Long = 64L << 20): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._

    val hardMaxPre = math.min(maxRings, 1 << math.min(z, 20))
    val r0Max = math.min(initCap, hardMaxPre)
    // one cheap count of the (small-by-contract) query table, reused for
    // the plain path's partition sizing and the r0-join strategy choice
    val nQueries = queries.count()

    val ptsBase = points.select(
      col(pointIdCol).as("point_id"),
      col(lonCol).cast("double").as("p_lon"), col(latCol).cast("double").as("p_lat"),
      pointCellCol.map(col).getOrElse(cell_id(col(lonCol), col(latCol), z)).as("__cell"))
    val pts = pointCellCol match {
      // Bucketed ingest layout: the scan itself reports the join's required
      // hash clustering, so no shuffle ever happens — and InMemoryRelation
      // preserves the scan's HashPartitioning (alias-aware through the
      // project), so caching keeps the zero-exchange property while saving
      // the per-round parquet re-scan. Measured on the 100M-point leg: the
      // uncached re-scan cost ~10.4 s per round flat at 32 cores (bus-bound,
      // parallelism-independent) vs ~8 s cached rounds on the plain path.
      case Some(_) => ptsBase.persist()
      // ONE shuffle of the point table, up front: every round's candidate
      // join keys on __cell, and a cached HashPartitioning(__cell) side
      // satisfies the join's distribution, so each round shuffles only the
      // (small, shrinking) exploded-straggler side. Without this, every
      // round re-shuffled all N points — measured on the 10M-point scaling
      // leg as a per-round floor that got WORSE with more cores (shared
      // memory bus: 32 writers thrash what 8 stream through). The same
      // partitioning makes cellCounts below an exchange-free aggregation.
      //
      // The partition COUNT is sized from the query count, not left at
      // spark.sql.shuffle.partitions: the ring join's hash build is the
      // CO-PARTITIONED exploded-straggler side, whose high-water mark is
      // round 0 (every query explodes ≤ (2·r0+1)² cells). At web-scale
      // query counts that side is no longer "small" — measured at 100k
      // queries: 29M exploded build rows over 8 partitions = 3.6M rows
      // ≈ 260 MB per hash build, which OOM'd a 12 g heap. ~400k build rows
      // per partition (≈ 20 MB) keeps every round's build trivially
      // memory-safe; later rounds explode more cells per straggler but
      // serve ≥4× fewer of them (and the warm finisher below takes the
      // tail entirely).
      case None =>
        val r0Cells = (2L * r0Max + 1) * (2L * r0Max + 1)
        val p0 = math.max(spark.sessionState.conf.numShufflePartitions,
          math.min(4096L, nQueries * r0Cells / 400000L + 1).toInt)
        // round up to a multiple of the core count: the finisher coalesces
        // this frame to one task per core, and a non-divisible count gives
        // some tasks an extra storage partition (73→32 left a 1.3× skew on
        // the pass's critical path)
        val par = math.max(1, spark.sparkContext.defaultParallelism)
        val p = ((p0 + par - 1) / par) * par
        ptsBase.repartition(p, col("__cell")).persist()
    }
    // partition count of the cached point side = the ring join's task count
    // (the exploded side co-partitions to it); fixed for the whole run
    val ptsParts = math.max(1, pts.rdd.getNumPartitions)

    val hardMax = hardMaxPre

    // PER-QUERY adaptive initial radius from the query cell's own occupancy
    // (one count pass over the already-persisted points): the SMALLEST
    // r ≥ 0 whose rings 0..r are expected to hold ~4k candidates,
    // r = ⌈(√(4k/cn) − 1)/2⌉ from (2r+1)²·cn ≥ 4k. Sparse queries start
    // wide enough that the straggler tail — exactly the sparse-region
    // queries — finishes in the FIRST round; dense queries start at r0 = 0
    // (their OWN cell already over-fills the target: with pickZoom capping
    // hot cells at ~4096 points, every city query's cell alone holds ~400×
    // k=10, and the earlier ⌈√(4k/cn)⌉-with-floor-1 formula dragged 8
    // neighbor cells of ~4k points each through round 0 — a 9× candidate-
    // volume overshoot that dominated the round at 100k city-skewed
    // queries).
    val cellCounts = pts.groupBy(col("__cell")).agg(count(lit(1)).as("__cn"))
    val r0: Column = least(lit(r0Max), greatest(lit(0),
      ceil((sqrt(lit(4.0 * k) /
        greatest(coalesce(col("__cn"), lit(0L)).cast("double"), lit(1.0))) - 1.0) / 2.0)
        .cast("int")))
    val qFrame = queries.select(
      col(queryIdCol).as("query_id"), col(qLonCol).as("q_lon"), col(qLatCol).as("q_lat"),
      cell_id(col(qLonCol), col(qLatCol), z).as("__qcell"))
    // r0 join: the occupancy frame has one row per OCCUPIED POINT CELL
    // (~20M at the 100M-point leg) but queries only need the ≤ |distinct
    // query cells| rows they sit in. Semi-filter it by the broadcast query-
    // cell set (an exchange-free filter — cellCounts rides the cached point
    // partitioning), then broadcast the filtered result into the join:
    // zero shuffles on either side, vs the legacy plan's full two-sided
    // shuffle of 20M occupancy rows against the query frame. Falls back to
    // that legacy plan when the query set is too large to broadcast.
    val joined =
      if (nQueries <= 2000000L) {
        val qcells = qFrame.select(col("__qcell").as("__cell")).distinct()
        val qCellCounts = cellCounts
          .join(broadcast(qcells), Seq("__cell"), "left_semi")
          .withColumnRenamed("__cell", "__qcell")
        qFrame.join(broadcast(qCellCounts), Seq("__qcell"), "left")
      } else qFrame.join(
        cellCounts.withColumnRenamed("__cell", "__qcell"), Seq("__qcell"), "left")
    var remaining = joined
      .select(col("query_id"), col("q_lon"), col("q_lat"), col("__qcell"),
        lit(-1).as("__explored"), r0.as("__next"))
      .persist()

    // schema'd empty frame: scan() returns the four documented columns on
    // empty input, and unionByName/select downstream must work on this
    // path too
    val emptyBest = {
      import spark.implicits._
      Seq.empty[(Long, Int, Long, Double)].toDF("query_id", "rank", "point_id", "dist")
    }
    var best: DataFrame = null
    var round = 0
    // WARM-FINISHER threshold: once any ring round has run, nearly every
    // straggler holds k real-but-unproven candidates, so one seeded scan()
    // pass beats ANY further doubling round (each of which re-streams the
    // whole cached point table — a per-round floor that at 100M points
    // cost ~10-17 s regardless of how few stragglers it served). The only
    // real bound on how many stragglers scan() can absorb is its per-task
    // state (a bounded heap per query), so the warm threshold derives from
    // a memory budget — ~64 MB ≈ 90k stragglers at k=10 — instead of the
    // cold default. Round 0 keeps the caller's `scanFinishThreshold`: a
    // COLD finisher (no seeds) prunes nothing until heaps fill organically
    // and was measured ~7× slower than seeded, so only genuinely tiny
    // query sets should skip the ring phase entirely.
    val autoThr: Int =
      if (scanFinishThreshold <= 0) 0
      else math.max(scanFinishThreshold,
        math.min(Int.MaxValue - 2L, finisherStateBudget / (k.toLong * 56L + 160L)).toInt)
    // The exact remaining count is a full count job per round; the loop only
    // needs (a) emptiness, (b) whether the count is under the finisher
    // threshold, and (c) when a ring round WILL run, the exploded-cell sum
    // that sizes its hash build. The uninstrumented path answers (a)+(b)
    // with a LIMIT-bounded count — at most threshold+1 rows produced, so
    // the probe's cost is bounded by the threshold, not the corpus, and any
    // value ≤ threshold is the EXACT count (the limit didn't cut). An
    // emptiness-only probe here once returned a sentinel 1, which made
    // `nRem <= scanFinishThreshold` true for ANY non-empty query set and
    // collapsed the whole operator into scan()'s driver-side collect of
    // every query — a driver OOM at 10M queries, and exactly the unbounded
    // collect the finisher comment promises never happens.
    val instrumented = onRound ne noopRound
    val probeCap = math.max(1, math.min(autoThr, Int.MaxValue - 1) + 1)
    // rings __explored+1..__next explode to (2·__next+1)² − (2·__explored+1)²
    // cells per straggler (±1 at __explored = -1 — sizing only)
    val cellsOf: Column = {
      val a = lit(2L) * col("__next") + 1L
      val b = lit(2L) * col("__explored") + 1L
      (a * a - b * b).cast("long")
    }
    /** (remaining count, exploded-cell sum; -1 = not computed). */
    def remStats(df: DataFrame): (Long, Long) =
      if (instrumented) {
        val r = df.agg(count(lit(1)), sum(cellsOf)).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      } else {
        val c = df.limit(probeCap).count()
        // probe hit the cap → a ring round will run over an unbounded
        // straggler set: pay one exact agg over the persisted frame to
        // size the build side (O(|remaining|), the cost the probe was
        // avoiding — but only on rounds that do unbounded work anyway)
        if (c < probeCap) (c, -1L)
        else {
          val r = df.agg(count(lit(1)), sum(cellsOf)).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
      }
    var (nRem, sumCells) = remStats(remaining)
    onRound(round, nRem)

    while (nRem > 0) {
      // STRAGGLER FINISHER: once few queries remain, one exact broadcast-
      // scan pass replaces the remaining doubling rounds. The tail queries
      // are the globally-sparse ones whose ring radius doubles into
      // thousands of (mostly empty) cells per query — O(r²) cell
      // enumeration per round plus a full round of driver-synchronized
      // stages for a handful of queries. scan() probes each cached point
      // against the ≤ threshold stragglers with per-cell pruning: one job,
      // exact by brute force, and the collected query set is bounded by
      // the threshold regardless of corpus size.
      //
      // After the first round nearly every straggler already HOLDS k real
      // candidates (merely unproven), so the finisher runs warm-started —
      // each straggler's current kth distance seeds scan()'s per-query
      // threshold and the pass prunes from its first point, costing
      // roughly the table-stream floor. A ring round, by contrast, costs a
      // near-fixed ~10 s of join + window + checkpoint machinery on the
      // 100M-point leg no matter how few stragglers it serves (measured
      // cold finisher for comparison: ~50 s @8 for 331 queries — the cold
      // start prunes nothing until heaps fill organically). Hence the
      // two-tier threshold: cold (round 0, best == null) takes only ≤
      // `scanFinishThreshold` queries; warm takes up to `autoThr`, whose
      // budget derivation bounds everything that scales with straggler
      // count — driver collect autoThr×24 B (~2 MB at 90k), per-task heap
      // state ≈ finisherStateBudget by construction, and the triangle-seed
      // loop is stride-subsampled inside scan().
      // sumCells == 0 means every remaining query is capped at maxRings
      // (nothing left to explode — a ring round would be a no-op and the
      // loop would never converge): force the exact finisher regardless of
      // count. Only reachable with sumCells EXACT: rounds that get here
      // with the probe's -1 sentinel have nRem under the count trigger.
      if (scanFinishThreshold > 0 &&
          (nRem <= (if (best == null) scanFinishThreshold else autoThr) ||
           sumCells == 0L)) {
        // the forced path (sumCells == 0: every straggler capped) can carry
        // an nRem far beyond the count trigger — e.g. a corpus with < k
        // points leaves EVERY query unprovable — and the finisher collects
        // and broadcasts the straggler set. Fail with a named error
        // instead of a driver OOM; the count-triggered path is bounded by
        // construction.
        require(nRem <= math.max(5000000L, autoThr),
          s"cellRing: $nRem straggler queries all capped at maxRings (corpus smaller " +
            s"than k=$k, or maxRings too small for the data density) — the exact " +
            "finisher broadcasts the straggler set and cannot absorb this many; " +
            "raise maxRings or run Knn.scan directly on a partitioned query set")
        // seed thresholds from the ring phase: for each straggler with a
        // full k candidates, its current kth distance is a valid upper
        // bound on the true kth (collect bounded by the threshold)
        val realSeeds: Map[Long, Double] =
          if (best == null) Map.empty
          else best
            .join(remaining.select(col("query_id")), Seq("query_id"), "left_semi")
            .groupBy(col("query_id"))
            .agg(count(lit(1)).as("__n"), max(col("dist")).as("__kth"))
            .filter(col("__n") >= k)
            .select(col("query_id"), col("__kth"))
            .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        // OCCUPANCY-DERIVED upper bounds for EVERY straggler: a query
        // inside a cell that holds ≥ k points has its true kth within
        // that cell's diagonal — so the smallest enclosing cell (own z,
        // then every 2 levels coarser) with ≥ k points gives a tight,
        // EXACT bound from occupancy alone, no candidates needed. This is
        // what keeps the finisher's reach index sane for the sparse tail:
        // an under-filled straggler (ocean query with < k ring candidates)
        // otherwise falls back to a triangle bound whose radius is the
        // distance to the nearest SEEDED straggler — measured 22° median /
        // 110° max on the 100M-point leg, which put thousands of grid
        // cells in every point's reach list (21M reach entries) and made
        // the pass all-pairs. Occupancy bounds the same queries at the
        // ~0.2-0.5° diagonal of their first non-empty coarse cell. One
        // extra aggregation of the (already cell-partitioned) occupancy
        // frame, semi-filtered to the ≤ autoThr straggler ancestor cells.
        val stragglerCells: Array[(Long, Long)] = remaining
          .select(col("query_id"), col("__qcell"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val zLevels: Seq[Int] = (z to math.max(1, z - 10) by -2)
        val occSeeds: Map[Long, Double] = if (stragglerCells.isEmpty) Map.empty else {
          val needed = stragglerCells.iterator.flatMap { case (_, qc) =>
            zLevels.iterator.map(zz => graft.index.CellIndex.ancestor(qc, zz))
          }.toSet
          val neededDf = spark.createDataset(needed.toSeq).toDF("__anc")
          val levelCols = zLevels.map(zz =>
            graft.index.CellIndex.ancestorCol(col("__cell"), z, zz))
          val coarse: Map[Long, Long] = cellCounts
            .select(col("__cn"), explode(array(levelCols: _*)).as("__anc"))
            .join(broadcast(neededDf), Seq("__anc"), "left_semi")
            .groupBy(col("__anc")).agg(sum(col("__cn")).as("__n"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          stragglerCells.iterator.flatMap { case (qid, qc) =>
            zLevels.iterator
              .map(zz => graft.index.CellIndex.ancestor(qc, zz))
              .find(ac => coarse.getOrElse(ac, 0L) >= k)
              .map { ac =>
                val (mnLon, mnLat, mxLon, mxLat) = graft.index.CellIndex.bounds(ac)
                val dx = mxLon - mnLon; val dy = mxLat - mnLat
                qid -> (dx * dx + dy * dy)
              }
          }.toMap
        }
        val seeds: Map[Long, Double] =
          (occSeeds.keySet ++ realSeeds.keySet).iterator.map { q =>
            q -> math.min(occSeeds.getOrElse(q, Double.MaxValue),
              realSeeds.getOrElse(q, Double.MaxValue))
          }.toMap
        val fin = scan(
          remaining.select(col("query_id"), col("q_lon"), col("q_lat")),
          "query_id", "q_lon", "q_lat",
          pts.select(col("point_id"), col("p_lon"), col("p_lat")),
          "point_id", "p_lon", "p_lat", k, initThr = seeds)
        best =
          (if (best == null) fin
           else best
             .join(remaining.select(col("query_id")), Seq("query_id"), "left_anti")
             .unionByName(fin.select(col("query_id"), col("rank"), col("point_id"), col("dist"))))
            // eager: the scan executes HERE, inside the loop, so onRound's
            // trace covers it (lazily it landed in the consumer's first
            // action, invisible to instrumentation); the consumer then
            // reads ≤ |queries|·k checkpointed rows
            .localCheckpoint(true)
        round += 1
        nRem = 0
        onRound(round, 0L)
      } else {
      // explore rings __explored+1 .. __next (per query); in later rounds
      // the radius DOUBLES each time, so stragglers converge in O(log r)
      // shuffles instead of one per ring. The termination bound is
      // unchanged: a query stops when its kth distance beats the lower
      // bound of its first unexplored ring.
      // guard the capped case (__next == __explored == hardMax): Spark's
      // sequence(a, b) with b < a generates a DESCENDING sequence, which
      // would re-explode already-explored rings for queries riding along
      // at the cap
      val ringsHere: Column = flatten(transform(
        when(col("__next") > col("__explored"),
          sequence(col("__explored") + 1, col("__next")))
          .otherwise(array().cast("array<int>")),
        kCol => ringCells(col("__qcell"), kCol)))
      // shuffle-hash hint with the exploded-straggler side as the BUILD:
      // sort-merge would re-SORT all N cached points every round (a
      // bus-bound, parallelism-independent cost measured at ~3.4 s/round
      // on the 10M-point leg); hash-probing streams the cached partitions
      // unsorted, and only the query side shuffles. The build side is
      // projected to the 4 columns the round needs (≈ 48 B/row), and the
      // hint is applied ONLY when the per-partition build fits a ~32 MB
      // budget — at web-scale query counts the exploded side can reach
      // tens of millions of rows (measured OOM at 100k queries × 289
      // round-0 cells over 8 partitions), and an over-budget round falls
      // back to sort-merge, which spills instead of dying. sumCells is
      // exact when the round serves an unbounded straggler set (remStats
      // pays the agg exactly then); -1 only on a bounded round-0 set,
      // where the analytic per-query cap bounds the build.
      val exploded = remaining
        .withColumn("__cell", explode(ringsHere))
        .select(col("query_id"), col("q_lon"), col("q_lat"), col("__cell"))
      val estCells =
        if (sumCells >= 0L) sumCells
        else nRem * (2L * r0Max + 1) * (2L * r0Max + 1)
      val hintFits = estCells * 48L / ptsParts <= (32L << 20)
      val cand = (if (hintFits) exploded.hint("shuffle_hash").join(pts, "__cell")
                  else exploded.join(pts, "__cell"))
        .select(col("query_id"), col("point_id"),
          sq_dist_deg(col("p_lon"), col("p_lat"), col("q_lon"), col("q_lat")).as("dist"))

      val merged =
        if (best == null) cand
        else best.select("query_id", "point_id", "dist").unionByName(cand)

      // MAP-SIDE partial top-k before anything shuffles: per input
      // partition, a bounded heap per query keeps its k best (dist,
      // point_id) — any row in the global top-k is by definition in its
      // partition's local top-k, so the cut is lossless, and it runs
      // inside the join's stage with no sort and no exchange. Without it
      // the full candidate volume (tens of millions of rows when dense
      // stragglers double their radius) shuffles into the window — the
      // dominant, bus-bound cost of the 10M-point scaling leg. Duplicate
      // (query, point) rows from ring wrap-aliasing dedupe locally here
      // (identical dist) and globally in the window below.
      val reduced = localTopK(merged, k)

      // wrap-aliasing across rings can re-surface a candidate: dedupe, rank,
      // cut. (A single collect_list/array_sort/slice aggregation was
      // measured ~30% slower here — ObjectHashAggregate loses to the
      // window's unsafe sort on this candidate volume.) ONE explicit
      // repartition on query_id serves the whole round: both windows
      // (HashPartitioning(query_id) satisfies their clustering), the stats
      // aggregation below (partial-only, no exchange), and the remaining
      // update join (both sides end up query_id-partitioned) — the
      // previous dropDuplicates shuffled on (query_id, point_id) and then
      // the window re-shuffled on query_id, two exchanges of the full
      // candidate volume per round.
      val wDedup = Window.partitionBy(col("query_id"), col("point_id")).orderBy(col("dist"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("point_id"))
      val newBest = reduced
        .repartition(col("query_id"))
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1)
        .drop("__rn")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .localCheckpoint(true)

      val stats = newBest.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__n"), max(col("dist")).as("__kth"))

      best = newBest
      val prevRemaining = remaining
      // a query stays while unproven; the maxRings cap only drops it when
      // the finisher is DISABLED (explicit truncation) — otherwise capped
      // stragglers ride along (exploding zero new cells, see ringsHere) and
      // hand off to the exact finisher, so the cap never silently truncates
      remaining = prevRemaining
        .withColumn("__explored", col("__next"))
        .join(stats, Seq("query_id"), "left")
        .filter((if (scanFinishThreshold > 0) lit(true) else col("__explored") < hardMax) &&
          (coalesce(col("__n"), lit(0L)) < k ||
            // >= not >: at EXACT equality an unexplored point on the next
            // ring's near edge can sit at dist == kth with a SMALLER id,
            // which the (dist, point_id) total order must admit — scan()'s
            // checkCell keeps the same tie with '<='
            col("__kth") >= ringMinSqDist(col("q_lon"), col("q_lat"), col("__qcell"), col("__explored") + 1)))
        .select(col("query_id"), col("q_lon"), col("q_lat"), col("__qcell"), col("__explored"),
          least(lit(hardMax), greatest(col("__explored") + 1, col("__explored") * 2)).as("__next"))
        .persist()
      prevRemaining.unpersist()
      round += 1
      val st = remStats(remaining)
      nRem = st._1; sumCells = st._2
      onRound(round, nRem)
      }
    }

    remaining.unpersist()
    pts.unpersist()
    if (best == null) emptyBest
    else best.select(col("query_id"), col("rank"), col("point_id"), col("dist"))
  }

  /** Scan-based exact kNN: broadcast the query set, one pass over points
    * with per-partition top-k heaps, merge by query. No shuffle of the
    * point table — the 100 TB plan when queries fit in executor memory.
    *
    * Queries are bucketed into a cell grid; each point offers itself only
    * to grid cells whose bbox lower-bound distance can still beat some
    * member query's current kth threshold (a per-cell max threshold,
    * refreshed periodically — stale bounds are only ever too HIGH, so the
    * skip is always safe). Once heaps warm up, far cells drop out and the
    * inner loop shrinks from O(queries) to O(nearby queries).
    */
  def scan(queries: DataFrame, queryIdCol: String, qLonCol: String, qLatCol: String,
           points: DataFrame, pointIdCol: String, lonCol: String, latCol: String,
           k: Int, gridZ: Int = -1, refreshEvery: Int = 256,
           initThr: Map[Long, Double] = Map.empty): DataFrame = {
    // the flat tile grid indexes with (tileY << 16 | tileX) into a
    // 1 << (2·g) array: g = 13..15 allocates up to 4 GB and g ≥ 16
    // overflows the Int shift into a wrong-size array (AIOOBE per task);
    // the auto-pick path caps at 12, the explicit parameter must too
    require(gridZ <= 12, s"scan: gridZ $gridZ out of range (max 12; -1 = auto)")
    val spark = queries.sparkSession
    import spark.implicits._

    val qs: Array[(Long, Double, Double)] = queries
      .select(col(queryIdCol).cast("long"), col(qLonCol), col(qLatCol))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // optional WARM START (`initThr`: query id → any valid UPPER bound on
    // that query's true kth distance, e.g. the kth distance of k real
    // candidates already in hand). Seeding keeps the scan exact: every
    // true top-k member lies within the bound (true kth ≤ bound), the
    // prune below admits equality, and at least the k candidates that
    // produced the bound stream past it again — so the heap always fills
    // and displaced entries are never in the true top-k. Without seeds a
    // query prunes nothing until its heap fills organically; measured on
    // the 100M-point leg the cold start made the finisher pass ~50 s @8
    // for 331 queries vs a seeded pass at roughly the table-stream floor.
    val thr0: Array[Double] =
      qs.map(q => initThr.getOrElse(q._1, Double.MaxValue))
    // TRIANGLE-SEED the unseeded: for any seeded query q' (bound b', in
    // squared degrees), the ≥k points inside √b' of q' are all within
    // d(q,q') + √b' of q, so (d(q,q') + √b')² is a valid upper bound on
    // q's true squared kth — the warm-start exactness argument below holds
    // verbatim (≥k points lie within the seeded bound, so the heap always
    // fills). Without this, ONE unseeded member forces its whole grid cell
    // onto the always-check list, and every point bbox-checks it: measured
    // on the 100M-point leg, 2601 stragglers left 690 of 874 cells
    // unseeded-or-wide → 69.3e9 cell checks ≈ 830 core-s — the entire
    // finisher cost. O(unseeded × seeded) driver work, both ≤ the caller's
    // collect threshold.
    if (initThr.nonEmpty) {
      val seeded = qs.indices.filter(i => thr0(i) < Double.MaxValue)
      if (seeded.nonEmpty) {
        // STRIDE-SUBSAMPLE the seeded set to ≤ ~512 per unseeded query:
        // the full double loop is O(unseeded × seeded) driver work — fine
        // at the old 4096 collect cap, ~30 s single-threaded at the warm
        // 90k cap. Subsampling is LOSSLESS for the result: any seeded
        // query yields a valid upper bound, bounds only affect how much
        // the scan prunes (exactness never depends on tightness), and a
        // ~512-sample nearest seed is within a few percent of the true
        // nearest for any spatially-mixed collect order.
        val stride = math.max(1, seeded.length / 512)
        var i = 0
        while (i < thr0.length) {
          if (thr0(i) == Double.MaxValue) {
            var b = Double.MaxValue
            var j = 0
            while (j < seeded.length) {
              val s = seeded(j)
              val dx = qs(i)._2 - qs(s)._2
              val dy = qs(i)._3 - qs(s)._3
              val r = math.sqrt(dx * dx + dy * dy) + math.sqrt(thr0(s))
              if (r * r < b) b = r * r
              j += stride
            }
            thr0(i) = b
          }
          i += 1
        }
      }
    }

    // grid zoom: smallest level whose HOTTEST query cell holds ≤ 64
    // members — a cap on the max, not the average (the old average-≥8
    // rule left one 2.8° cell holding an entire city blob's 3852 member
    // queries, and the per-point member window over that blob dominated
    // the whole pass; same lesson as pickZoom's hot-cell cap)
    val g =
      if (gridZ >= 0) gridZ
      else (0 to 12).find { z =>
        val m = new java.util.HashMap[Long, Int]()
        var hot = 0
        var i = 0
        while (i < qs.length) {
          val c = graft.index.CellIndex.cellId(qs(i)._2, qs(i)._3, z)
          val n = m.merge(c, 1, (a, b) => a + b)
          if (n > hot) hot = n
          i += 1
        }
        hot <= 64
      }.getOrElse(12)
    // members sorted by longitude inside each cell — the per-point member
    // probe below binary-searches a ±√cellMax lon window instead of
    // scanning the whole list (see checkCell)
    val grouped: Array[(Long, Array[Int])] = qs.indices
      .groupBy(i => graft.index.CellIndex.cellId(qs(i)._2, qs(i)._3, g))
      .map { case (c, is) => (c, is.toArray.sortBy(i => qs(i)._2)) }.toArray

    // GRID INDEX over the query cells (driver-built, broadcast): without
    // it every point bbox-checks every occupied query cell — an
    // O(points × cells) outer loop that dominated the seeded finisher
    // (measured 17.8 s @32 for 2601 queries / 100M points, ~325 cells).
    // Each seeded query cell's reach is bounded: a point farther than
    // r_c = √(max seeded thr of c's members) from c's bbox cannot beat any
    // member's bound, so c only needs to be checked by points whose OWN
    // grid-g cell intersects c's bbox expanded by r_c. Enumerate those
    // point-cells once (driver, tile-rectangle at zoom g) → map
    // point-cell → query-cell indices; cells with an unseeded member or a
    // reach wider than `reachCap` point-cells fall back to an
    // always-check list. Built from the INITIAL bounds — thresholds only
    // tighten afterwards, so the index is never wrong, only loose.
    val reachCap = 4096
    val alwaysB = Array.newBuilder[Int]
    val byPointCell = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    locally {
      val n = 1L << g
      var c = 0
      while (c < grouped.length) {
        val members = grouped(c)._2
        var worst = 0.0
        var j = 0
        while (j < members.length && worst < Double.MaxValue) {
          val t = thr0(members(j))
          if (t > worst) worst = t
          j += 1
        }
        if (worst == Double.MaxValue) { alwaysB += c }
        else {
          val (mnLon, mnLat, mxLon, mxLat) = graft.index.CellIndex.bounds(grouped(c)._1)
          val r = math.sqrt(worst)
          val x0 = graft.index.CellIndex.tileX(math.max(-180.0, mnLon - r), g)
          val x1 = graft.index.CellIndex.tileX(math.min(180.0, mxLon + r), g)
          // tileY grows southward: the EXPANDED north edge gives the min y
          val y0 = graft.index.CellIndex.tileY(math.min(90.0, mxLat + r), g)
          val y1 = graft.index.CellIndex.tileY(math.max(-90.0, mnLat - r), g)
          // The kNN metric is PLAIN euclidean in degree space (GeoMath
          // .sqDistDeg — no antimeridian wrap), so clamping the expanded
          // range to [-180,180]/[-90,90] is exact: no points exist beyond
          // the edges and distances never wrap around. (An earlier
          // wraps→always fallback here put every edge-touching cell on the
          // always list: 67 cells × 100M points ≈ 6.7e9 useless bbox
          // checks on the scaling leg.)
          val span = (x1 - x0 + 1).max(1) * (y1 - y0 + 1).max(1)
          if (span > reachCap) alwaysB += c
          else {
            var y = y0
            while (y <= y1) {
              var x = x0
              while (x <= x1) {
                // flat (y << g | x) key — becomes a direct array index on
                // the worker, replacing a boxed-key HashMap probe per point
                val pc = (y.min(n - 1).max(0) << g) | x.min(n - 1).max(0)
                var lst = byPointCell.get(pc)
                if (lst == null) {
                  lst = scala.collection.mutable.ArrayBuffer.empty[Int]
                  byPointCell.put(pc, lst)
                }
                lst += c
                x += 1
              }
              y += 1
            }
          }
        }
        c += 1
      }
    }
    val always: Array[Int] = alwaysB.result()
    // DENSE grid index: one slot per grid-g cell (≤ 4^12 = 16M ints =
    // 64 MB at the g cap, 17 MB at the common g=11) — the per-point
    // lookup is two tile transforms + one array load, vs a boxed-Long
    // HashMap probe (allocation + pointer chases) that showed up as
    // contention at 32 threads on the 100M-point leg
    val cellSlot = new Array[Int](1 << (2 * g)); java.util.Arrays.fill(cellSlot, -1)
    val reachLists = new Array[Array[Int]](byPointCell.size())
    locally {
      var s = 0
      val it0 = byPointCell.entrySet().iterator()
      while (it0.hasNext) {
        val e = it0.next()
        cellSlot(e.getKey.toInt) = s
        reachLists(s) = e.getValue.toArray
        s += 1
      }
    }

    // queries as FLAT primitive arrays for the broadcast: the Tuple3 array
    // cost two pointer derefs (ref array → tuple object) per member check —
    // 100k scattered heap objects probed from the hottest loop
    val qIdA = qs.map(_._1)
    val qLonA = qs.map(_._2)
    val qLatA = qs.map(_._3)
    val bc = spark.sparkContext.broadcast(
      (qIdA, qLonA, qLatA, grouped, thr0, cellSlot, reachLists, always, g))

    // one scan TASK per core, not per storage partition: every task emits
    // ≤ k partial rows PER QUERY it touched (hash-scattered cells mean
    // nearly all of them), so the partial volume into the final ranking
    // is tasks × queries × k — at 128 bucket-partitions and 61k warm
    // stragglers that was 78M rows of shuffle+sort for a 610k-row answer.
    // coalesce reads the same cached/bucketed blocks without a shuffle
    // and pins the partial volume to cores × queries × k. Applied
    // unconditionally: coalesce never widens a narrower input, and probing
    // the width first (`.rdd` on an exchange-bearing frame) would
    // materialize the point side's shuffle in a throwaway job.
    val targetTasks = math.max(1, spark.sparkContext.defaultParallelism)
    // cast coordinates explicitly: the InternalRow fast path below reads
    // them with getDouble, which on a FloatType column reinterprets the
    // 4-byte word as a double (silent garbage), it does not convert
    val src = points
      .select(col(pointIdCol).cast("long").as("point_id"),
        col(lonCol).cast("double").as("p_lon"), col(latCol).cast("double").as("p_lat"))
      .coalesce(targetTasks)
    // InternalRow iteration (queryExecution.toRdd): the Dataset tuple
    // decoder allocates a Tuple3 + two boxed Doubles PER POINT — ~400M
    // allocations on the 100M-point leg, and the resulting GC pressure
    // was the main reason the pass did 2.6× more core-work at 32 threads
    // than at 8. Primitive getters allocate nothing.
    val partialsRdd = src.queryExecution.toRdd.mapPartitions { rowIt =>
        val (qIds, qLons, qLats, cells, seeds, slot, reach, alwaysCells, gz) = bc.value
        val nQ = qIds.length
        // per-query bounded max-heap ordered by (dist desc, id desc), laid
        // out as FLAT PRIMITIVE ARRAYS (k slots per query, root = current
        // worst): a boxed PriorityQueue[(Double, Long)] allocates a tuple
        // per insert/replace, and at warm-finisher straggler counts the
        // city-point heap churn made the pass GC-bound (poor 8→32 scaling)
        // — same allocation-free-kernel treatment as the embedding
        // triangle join. State: queries × (8+8)·k bytes + 4·queries, the
        // budget cellRing's autoThr is derived from.
        val hD = new Array[Double](nQ * k)
        val hP = new Array[Long](nQ * k)
        val hN = new Array[Int](nQ)
        // (d1,p1) sorts WORSE than (d2,p2): larger dist, then larger id
        @inline def worse(d1: Double, p1: Long, d2: Double, p2: Long): Boolean =
          d1 > d2 || (d1 == d2 && p1 > p2)
        def siftUp(base: Int, pos: Int): Unit = {
          var c = pos
          while (c > 0) {
            val par = (c - 1) >> 1
            if (worse(hD(base + c), hP(base + c), hD(base + par), hP(base + par))) {
              val td = hD(base + c); val tp = hP(base + c)
              hD(base + c) = hD(base + par); hP(base + c) = hP(base + par)
              hD(base + par) = td; hP(base + par) = tp
              c = par
            } else c = 0
          }
        }
        def siftDown(base: Int, n: Int): Unit = {
          var c = 0
          var done = false
          while (!done) {
            val l = 2 * c + 1; val r = l + 1
            var m = c
            if (l < n && worse(hD(base + l), hP(base + l), hD(base + m), hP(base + m))) m = l
            if (r < n && worse(hD(base + r), hP(base + r), hD(base + m), hP(base + m))) m = r
            if (m == c) done = true
            else {
              val td = hD(base + c); val tp = hP(base + c)
              hD(base + c) = hD(base + m); hP(base + c) = hP(base + m)
              hD(base + m) = td; hP(base + m) = tp
              c = m
            }
          }
        }
        // current kth-distance per query (seeded bound or +inf while the
        // heap is filling; only ever tightens)
        val thr = seeds.clone()
        // per-cell upper bound on members' thresholds, active from the
        // FIRST point when seeded; refreshed lazily thereafter
        val cellMax = Array.tabulate(cells.length) { c =>
          var m = 0.0
          val idx = cells(c)._2
          var j = 0
          while (j < idx.length) { if (thr(idx(j)) > m) m = thr(idx(j)); j += 1 }
          m
        }
        // refresh cost is O(total queries) of RANDOM access (per-cell
        // member arrays) — ~1-2 ms per refresh at warm-finisher scale, so
        // amortize to ≤ ~1 op per streamed point (measured: refreshing
        // every queries/32 points cost ~10 s of a 40 s task). Bounds now
        // START tight (occupancy + real kth seeds), so the refresh only
        // trims the tail; stale bounds are only ever too HIGH —
        // correctness is unaffected.
        val refreshN = math.max(refreshEvery, nQ)
        var sinceRefresh = 0
        // cell bboxes decoded ONCE (CellIndex.bounds does inverse-Mercator
        // trig — far too hot for the per-point loop)
        val cMinX = new Array[Double](cells.length)
        val cMinY = new Array[Double](cells.length)
        val cMaxX = new Array[Double](cells.length)
        val cMaxY = new Array[Double](cells.length)
        locally {
          var c = 0
          while (c < cells.length) {
            val (mnLon, mnLat, mxLon, mxLat) = graft.index.CellIndex.bounds(cells(c)._1)
            cMinX(c) = mnLon; cMinY(c) = mnLat; cMaxX(c) = mxLon; cMaxY(c) = mxLat
            c += 1
          }
        }
        // per-cell member longitudes, in the (sorted) member order
        val cLon = Array.tabulate(cells.length) { c =>
          cells(c)._2.map(i => qLons(i))
        }

        def refreshBounds(): Unit = {
          var c = 0
          while (c < cells.length) {
            var m = 0.0
            val idx = cells(c)._2
            var j = 0
            while (j < idx.length) { if (thr(idx(j)) > m) m = thr(idx(j)); j += 1 }
            cellMax(c) = m
            c += 1
          }
        }
        def checkCell(c: Int, plon: Double, plat: Double, pid: Long): Unit = {
          // squared distance to the cell bbox, inline (0 inside)
          val dx = if (plon < cMinX(c)) cMinX(c) - plon
                   else if (plon > cMaxX(c)) plon - cMaxX(c) else 0.0
          val dy = if (plat < cMinY(c)) cMinY(c) - plat
                   else if (plat > cMaxY(c)) plat - cMaxY(c) else 0.0
          // a stale-high cellMax only wastes work; never skips wrongly.
          // <=: an equal-distance smaller-id point can still enter.
          if (dx * dx + dy * dy <= cellMax(c)) {
            val idx = cells(c)._2
            val lons = cLon(c)
            // members are lon-sorted: any member with |q_lon − p_lon| >
            // √cellMax(c) fails its own threshold on the dx term alone
            // (d ≥ dx² > cellMax ≥ thr), so binary-search the window
            // instead of scanning every member. A dense city grid-cell
            // holds hundreds of tightly-bounded member queries and (at
            // coarse grid zooms) ~10⁵ interior points — the full member
            // scan made the warm finisher quadratic in exactly that
            // blob case. Stale-high cellMax only widens the window.
            val rc = math.sqrt(cellMax(c))
            val loB = plon - rc
            val hiB = plon + rc
            var lo = 0; var hi = idx.length
            while (lo < hi) {
              val m = (lo + hi) >>> 1
              if (lons(m) < loB) lo = m + 1 else hi = m
            }
            var j = lo
            while (j < idx.length && lons(j) <= hiB) {
              val i = idx(j)
              val qdx = plon - qLons(i); val qdy = plat - qLats(i)
              val d = qdx * qdx + qdy * qdy
              if (d <= thr(i)) {
                val base = i * k
                val n = hN(i)
                if (n < k) {
                  hD(base + n) = d; hP(base + n) = pid
                  siftUp(base, n)
                  hN(i) = n + 1
                  if (n + 1 == k) thr(i) = hD(base)
                } else if (worse(hD(base), hP(base), d, pid)) {
                  hD(base) = d; hP(base) = pid
                  siftDown(base, k)
                  thr(i) = hD(base)
                }
              }
              j += 1
            }
          }
        }
        // per-point body as its OWN small method: an earlier revision
        // inlined refresh + cell checks into the partition loop, producing
        // one huge interpreter-bound method (HotSpot refuses to compile
        // past the huge-method limit, including its loops via OSR) — the
        // identical op counts ran ~50× slower. Small named methods JIT
        // individually.
        def processPoint(pid: Long, plon: Double, plat: Double): Unit = {
          sinceRefresh += 1
          if (sinceRefresh >= refreshN) { refreshBounds(); sinceRefresh = 0 }
          // only the query cells this point can possibly matter to: its
          // own grid-g cell's precomputed reach list (a direct dense-array
          // slot) + the always-check tail (unseeded or wide-reach cells)
          // — O(1)-ish per point instead of the full occupied-cell loop
          val s = slot((
            (graft.index.CellIndex.tileY(plat, gz) << gz) |
              graft.index.CellIndex.tileX(plon, gz)).toInt)
          if (s >= 0) {
            val near = reach(s)
            var ci = 0
            while (ci < near.length) { checkCell(near(ci), plon, plat, pid); ci += 1 }
          }
          var ai = 0
          while (ai < alwaysCells.length) { checkCell(alwaysCells(ai), plon, plat, pid); ai += 1 }
        }

        // SPATIAL-SORT the stream (in 1M-point chunks) before the sweep:
        // points arrive in storage order, so every probe (the 4^g-slot
        // grid array, thr, the 16 MB/task heap arrays) is a DRAM-latency
        // miss. Sorted by grid-cell Morton key, consecutive points touch
        // the same neighborhood's queries and heaps — the working set per
        // stretch fits cache. Measured on the 100M-point scale-out
        // harness: the finisher was the entire 4-way-concurrency gap
        // (17 s solo → 37-39 s in every pinned 4-way JVM, memory-system
        // contention across the shared L3). Order never affects results:
        // heaps keep the k best under the strict (dist, id) total order,
        // and thr staleness only loosens pruning. Fixed-size chunk
        // buffers, allocated ONCE per task and reused: a grow-by-doubling
        // drain was a per-task cascade of G1 humongous allocations
        // (every >2 MB array on these region sizes), whose churn showed
        // up as multi-10-s GC-bound finisher outliers in concurrent JVMs.
        // buffers start small (gate-scale partitions hold thousands of
        // rows, not millions) and double at most ~4 times up to the fixed
        // 1M-point cap — bounded churn, then steady reuse
        val chunk = 1 << 20
        var cap2 = 1 << 16
        var pIds = new Array[Long](cap2)
        var pLons = new Array[Double](cap2)
        var pLats = new Array[Double](cap2)
        var keys = new Array[Long](cap2)
        while (rowIt.hasNext) {
          var nP = 0
          var more = rowIt.hasNext
          while (more) {
            if (nP == cap2 && cap2 < chunk) {
              cap2 <<= 2
              pIds = java.util.Arrays.copyOf(pIds, cap2)
              pLons = java.util.Arrays.copyOf(pLons, cap2)
              pLats = java.util.Arrays.copyOf(pLats, cap2)
              keys = java.util.Arrays.copyOf(keys, cap2)
            }
            if (nP == cap2) more = false
            else {
              val row = rowIt.next()
              pIds(nP) = row.getLong(0)
              pLons(nP) = row.getDouble(1)
              pLats(nP) = row.getDouble(2)
              keys(nP) = (graft.index.CellIndex.cellId(pLons(nP), pLats(nP), gz) << 20) | nP
              nP += 1
              more = rowIt.hasNext
            }
          }
          java.util.Arrays.sort(keys, 0, nP)
          val mask = (1L << 20) - 1
          var s = 0
          while (s < nP) {
            val i = (keys(s) & mask).toInt
            processPoint(pIds(i), pLons(i), pLats(i))
            s += 1
          }
        }
        (0 until nQ).iterator.flatMap { i =>
          val qid = qIds(i)
          val base = i * k
          (0 until hN(i)).iterator.map(s => (qid, hP(base + s), hD(base + s)))
        }
      }
    val partials = spark.createDataset(partialsRdd).toDF("query_id", "point_id", "dist")

    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("point_id"))
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("point_id"), col("dist"))
  }
}
