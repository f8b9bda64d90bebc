package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines, smallest to largest
  * scale path:
  *
  *  - [[exactCanonical]]   — exact dedup by (normalized) content key: one
  *    hash shuffle, the 100 TB workhorse.
  *  - [[shingles]] + [[jaccardPairs]] — exact n-gram Jaccard within blocking
  *    keys: the quadratic verifier, only ever run inside small blocks.
  *  - [[minhashSignatures]] + [[lshCandidates]] — MinHash+LSH banding: the
  *    sub-quadratic near-dup path; candidates are verified with exact
  *    Jaccard. All hash arithmetic is integer-exact and documented so
  *    results are engine-independent.
  *  - [[simhash]] — token-hash sign-aggregation fingerprint; near-dups =
  *    small Hamming distance (use graft.functions.GeoFunctions.hamming64).
  *  - [[hammingNearDupPairs]] — EXACT near-dup pairs over any ≤64-bit
  *    fingerprint column (simhash, image aHash) by pigeonhole banding:
  *    sub-quadratic like LSH, but complete — no recall loss at the bar.
  */
object Dedup {

  val P: Long = 2147483647L // Mersenne prime 2^31-1
  /** MinHash affine constants (a_j, b_j) — small odd multipliers + primes. */
  val HashA: Seq[Long] = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L)
  val HashB: Seq[Long] = Seq(104729L, 224737L, 350377L, 479909L, 611953L, 746773L, 882377L, 1020379L)

  // ---- exact ---------------------------------------------------------------

  /** Map every row to its group's canonical (minimum) id by content key.
    * Output: idCol, canonical_id, group_n.
    */
  def exactCanonical(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = Window.partitionBy(col("__key"))
    df.select(col(idCol), key.as("__key"))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("group_n", count(lit(1)).over(w))
      .drop("__key")
  }

  /** Normalized content key: lowercase, alphabetic chars only. */
  def normKey(text: Column): Column = regexp_replace(lower(text), "[^a-z]", "")

  /** Scale-adaptive parallelism floor for map-heavy pipelines (shingle
    * explodes, token explodes): when the SCAN delivers fewer splits than
    * the cluster has cores — a handful of small files — the whole
    * downstream map work (explode + probe) inherits that parallelism; a
    * real 100 TB input arrives as tens of thousands of splits and this is
    * the identity. Guide §2: derive partitioning from the input, never a
    * constant tuned for one scale. Decided from the physical plan, never
    * by running it: only a scan-shaped plan (no exchange, no cached
    * relation) has its split count read, which plans the splits without a
    * job. Anything else already runs at its exchange's width and is
    * returned as is — `.rdd` on it would materialize the exchange (or the
    * cache) in a throwaway job.
    */
  private[graft] def spreadToCores(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val dp = df.sparkSession.sparkContext.defaultParallelism
    val scanShaped = df.queryExecution.executedPlan.find {
      case _: Exchange | _: AdaptiveSparkPlanExec | _: InMemoryTableScanExec => true
      case _ => false
    }.isEmpty
    if (scanShaped && df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  /** The explicit partition count every width-pinned exchange in the
    * engine uses: the cluster's core count or the session's shuffle
    * partitions, whichever is larger. Explicitly numbered repartitions are
    * exempt from AQE's byte-based coalescing — the lever each call site
    * needs against compute-heavy, byte-light stages.
    */
  private[graft] def clusterWidth(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions)

  // ---- character shingles ---------------------------------------------------

  /** Distinct character n-gram shingles per document:
    * output (idCol, carry…, shingle).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int,
               carry: Seq[String] = Nil): DataFrame =
    explodedShingles(df, idCol, textCol, n, carry).distinct()

  /** The shared pre-dedup explode of [[shingles]]/[[packedShingles]] — one
    * (id, carry…, shingle) row per text POSITION, duplicates included.
    */
  private[graft] def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                                      n: Int, carry: Seq[String]): DataFrame = {
    val keep = (Seq(idCol, textCol) ++ carry).distinct.map(col)
    // a doc shorter than n has NO shingles: guard the sequence, because
    // Spark's sequence(1, stop) DESCENDS when stop < 1 (it would emit
    // positions 1,0,-1,... and fabricate partial shingles)
    val positions = when(length(col(textCol)) >= n,
      sequence(lit(1), length(col(textCol)) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    df.select(keep: _*)
      .withColumn("i", explode(positions))
      .withColumn("shingle", substring_index_pos(col(textCol), col("i"), n))
      .select((Seq(idCol) ++ carry).distinct.map(col) :+ col("shingle"): _*)
  }

  /** Per-document PACKED shingle frame: (idCol, __shs) with __shs the
    * sorted distinct n-gram array — same shingle set as [[shingles]], one
    * row per document. This is the scale form: the explode keeps a
    * document's shingles contiguous within its input partition, so
    * collect_set's map-side partial aggregation dedupes per doc BEFORE the
    * exchange — ~|docs| packed rows cross the wire instead of the
    * tens-of-millions-row (id, shingle) frame, and every downstream
    * consumer ([[minhashSignaturesPacked]], [[verifyCandidatesPacked]])
    * works per-row with NO further shuffle of shingle data. The row form
    * shuffles that frame once for its distinct and again for each
    * downstream groupBy.
    */
  def packedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    explodedShingles(df, idCol, textCol, n, Nil)
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("shingle"))).as("__shs"))

  private def substring_index_pos(text: Column, pos: Column, len: Int): Column =
    text.substr(pos, lit(len))

  /** Exact pairwise Jaccard within blocking keys. Quadratic in block size —
    * call only with small blocks (the verifier for LSH candidates).
    * Output: id_1, id_2 (id_1 < id_2), n_inter, n_1, n_2, jaccard.
    */
  def jaccardPairs(sh: DataFrame, idCol: String, blockCols: Seq[String]): DataFrame = {
    val nPart = clusterWidth(sh.sparkSession)
    // per-doc shingle counts RIDE the shingle rows (count over a per-doc
    // window) instead of a separate sizes aggregate re-joined per pair
    // side: the former sizes branches were near-copies of the whole
    // scan+explode+distinct pipeline that canonical-plan reuse could not
    // dedup (an isnotnull(shingle) filter is pushed into the join branches
    // only), so the shingle build EXECUTED twice more — plan-audited. One
    // window pass costs a single exchange of the skinny shingle frame; the
    // explicit clustering keeps it at cluster width under AQE (finding 1)
    // and the window's required distribution is exactly that hash — no
    // second exchange (same pattern as Corpus.assemble's dedup window).
    val wDoc = Window.partitionBy(col(idCol))
    val shN = sh.repartition(nPart, col(idCol))
      .withColumn("__n", count(lit(1)).over(wDoc))
    // explicit partition count on the co-shingle self-join's clustering key:
    // the shingle frame is skinny (id + shingle) but each join group emits
    // O(docs-per-shingle²) pair rows — compute-per-byte AQE's byte-based
    // coalescing cannot see, and on a hot boilerplate shingle it squeezed
    // the whole pair explosion onto one core (same fix as
    // verifyCandidatesPacked / bandedPairs); both join sides reuse this one
    // exchange (plan-audited ReusedExchange)
    val shRep = shN.repartition(nPart, (blockCols :+ "shingle").map(col): _*)
    val a = shRep.select((blockCols :+ "shingle").map(col) ++
      Seq(col(idCol).as("id_1"), col("__n").as("n_1")): _*)
    val b = shRep.select((blockCols :+ "shingle").map(col) ++
      Seq(col(idCol).as("id_2"), col("__n").as("n_2")): _*)
    // min() over the group recovers the (constant) per-doc sizes — every
    // row of a pair group carries the same n_1/n_2, so this is exact
    a.join(b, blockCols :+ "shingle")
      .filter(col("id_1") < col("id_2"))
      .groupBy(col("id_1"), col("id_2"))
      .agg(count(lit(1)).as("n_inter"),
        min(col("n_1")).as("n_1"), min(col("n_2")).as("n_2"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_1") + col("n_2") - col("n_inter")))
  }

  /** Exact Jaccard verification of a CANDIDATE pair list, candidate-first:
    * per-doc packed shingle arrays attach to the (linear) candidate list
    * instead of self-joining on shingle, so cost is
    * O(|candidates| · shingles/doc) compute with only |docs| + |candidates|
    * rows shuffled — never the all-co-shingled-pairs blowup of
    * [[jaccardPairs]] (whose contract is small blocks only; one boilerplate
    * shingle shared by 10^6 docs would give its self-join 10^12
    * intermediate rows that a later semi-join cannot prune). Output: id_1,
    * id_2, n_inter, n_1, n_2, jaccard — pairs clearing `threshold`.
    */
  def verifyCandidates(sh: DataFrame, idCol: String, cand: DataFrame,
                       threshold: Double): DataFrame =
    verifyCandidatesPacked(
      sh.groupBy(col(idCol))
        .agg(sort_array(collect_set(col("shingle"))).as("__shs")),
      idCol, cand, threshold)

  /** [[verifyCandidates]] over the packed frame: two id-equi-joins attach
    * both docs' sorted arrays to each candidate pair, and a codegen
    * merge-pass intersection ([[graft.expr.SortedIntersectCountExpr]])
    * decides the pair in-row. Replaces the exploded plan (candidates ×
    * shingles/doc rows joined on (id_2, shingle), then re-aggregated to
    * pair counts): at the 300k-doc scaling leg that plan shuffled ~700M
    * exploded rows into a 4.9M-group aggregation — ~25× the bytes of the
    * packed frames, and the leg's dominant bus-bound cost. Packed, the
    * shuffled volume is |docs| arrays + |candidates| pair rows, the
    * intersection never leaves the row, and there is no re-aggregation.
    * String bytes (not hashes) are compared — exact for any charset. A
    * pathological doc is ONE wide row (merge cost O(n_1 + n_2)), not a
    * join-key hot spot.
    */
  def verifyCandidatesPacked(packed: DataFrame, idCol: String, cand: DataFrame,
                             threshold: Double): DataFrame = {
    val a = packed.select(col(idCol).as("id_1"), col("__shs").as("__sh1"))
    val b = packed.select(col(idCol).as("id_2"), col("__shs").as("__sh2"))
    // verify is CPU-bound PER ROW (an O(n_1 + n_2) merge per candidate),
    // not byte-bound: AQE sizes post-shuffle partitions by bytes and will
    // coalesce a skinny (id_1, id_2) candidate list onto a handful of
    // cores while each row carries a multi-hundred-compare merge. The
    // explicit partition count (exempt from AQE coalescing) keeps the
    // verify stage at cluster parallelism; hash on the pair key is
    // deterministic and spreads hub documents.
    val nPart = clusterWidth(cand.sparkSession)
    val spread = cand.repartition(nPart, col("id_1"), col("id_2"))
    // The merge kernel is evaluated ONCE per pair, inside a Generate: the
    // previous shape computed it in a Project with the n_inter/jaccard
    // filters above it, and PushPredicate/CollapseProject re-substituted
    // the alias until the plan held FOUR sorted_intersect_count calls per
    // row — three of them folded into the id-join's condition (measured 4×
    // the verify stage's compute at the 52k-candidate q39 leg). Predicates
    // on generator output cannot be pushed into the generator, so the
    // single evaluation is structural, not an optimizer accident.
    spread.join(a, "id_1").join(b, "id_2")
      .select(col("id_1"), col("id_2"),
        explode(array(struct(
          graft.functions.GeoFunctions.sorted_intersect_count(
            col("__sh1"), col("__sh2")).cast("long").as("n_inter"),
          size(col("__sh1")).cast("long").as("n_1"),
          size(col("__sh2")).cast("long").as("n_2")))).as("__v"))
      .select(col("id_1"), col("id_2"), col("__v.n_inter").as("n_inter"),
        col("__v.n_1").as("n_1"), col("__v.n_2").as("n_2"))
      // the exploded plan never surfaced zero-overlap pairs (inner join on
      // the shingle): keep that contract independent of the threshold
      .filter(col("n_inter") > 0)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_1") + col("n_2") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
  }

  // ---- MinHash + LSH ---------------------------------------------------------

  /** Integer shingle hash: Σ ascii(char_j) · 81^(n-j) — order-sensitive,
    * exact, and expressible in any SQL engine (unrolled per position).
    */
  def shingleHash(shingle: Column, n: Int): Column =
    (1 to n).map { j =>
      ascii(substring(shingle, j, 1)).cast("long") * lit(math.pow(81, n - j).toLong)
    }.reduce(_ + _)

  /** MinHash signature columns mh_0..mh_{numHashes-1} per id, plus the
    * document's distinct-shingle count `n_sh` (free in the same pass; the
    * size input of [[lshCandidatesSizeBucketed]]):
    * mh_j = MIN((a_j·h + b_j) mod P) over the document's shingle hashes.
    */
  def minhashSignatures(sh: DataFrame, idCol: String, shingleN: Int,
                        numHashes: Int): DataFrame = {
    require(numHashes <= HashA.length, s"at most ${HashA.length} hashes")
    val h = shingleHash(col("shingle"), shingleN)
    val aggs = (0 until numHashes).map { j =>
      min(pmod(lit(HashA(j)) * h + lit(HashB(j)), lit(P))).as(s"mh_$j")
    } :+ count(lit(1)).as("n_sh")
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignatures]] over the packed frame — identical output
    * (min over the same distinct shingle set; n_sh = array size), but
    * computed per-row with array expressions: zero additional shuffle on
    * top of [[packedShingles]]'s one.
    */
  def minhashSignaturesPacked(packed: DataFrame, idCol: String, shingleN: Int,
                              numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
    require(numHashes <= HashA.length, s"at most ${HashA.length} hashes")
    // ONE fused codegen pass per doc ([[graft.expr.MinHashSigsExpr]]):
    // walk the shingle bytes once, keep numHashes running mins. The
    // previous column stack (transform(shingleHash) + numHashes ×
    // array_min(transform(affine))) ran interpreted — higher-order
    // functions are CodegenFallback — allocating 1 + numHashes
    // intermediate arrays per doc with per-element boxing; it also had to
    // materialize the hash array in its own projection so CollapseProject
    // wouldn't re-run the char-level hashing numHashes× (a measured 2.2×
    // candidate-stage blowup at the 300k-doc scaling leg). The same
    // materialize-once care applies to __mh: it is referenced numHashes
    // times, which keeps CollapseProject from inlining the kernel into
    // every element_at.
    val withSigs = packed.withColumn("__mh", toCol(graft.expr.MinHashSigsExpr(
      toExpr(col("__shs")), shingleN,
      HashA.take(numHashes), HashB.take(numHashes), P)))
    val cols = (0 until numHashes).map { j =>
      element_at(col("__mh"), j + 1).as(s"mh_$j")
    } :+ size(col("__shs")).cast("long").as("n_sh")
    withSigs.select(col(idCol) +: cols: _*)
  }

  /** LSH banding: bands of `rowsPerBand` signature components; docs sharing
    * any band key become candidate pairs. Sub-quadratic: one shuffle on the
    * band key, join within buckets only.
    *
    * `bucketCap` > 0 arms the mega-bucket guard: a degenerate corpus
    * (thousands of identical or near-empty docs) puts every member in one
    * band bucket, and the plain self-join then generates O(|bucket|²) pairs
    * inside ONE join group — AQE skew-join splits the shuffle block but not
    * the pair generation. With the guard, buckets larger than the cap are
    * triangle-blocked ([[triangleBlockedReplica]]): every pair still lives
    * in exactly one (block_lo, block_hi) task, but per-group pair
    * generation is bounded by ~bucketCap². Output is IDENTICAL to the
    * unguarded join (same pair set, verified in DedupAnnSpec).
    * Output: id_1, id_2 (id_1 < id_2), distinct.
    */
  def lshCandidates(sigs: DataFrame, idCol: String,
                    numHashes: Int, rowsPerBand: Int,
                    bucketCap: Int = 0): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // ONE pass over the signature frame: every band key evaluated in a
    // single projection and exploded. The previous union-of-selects shape
    // evaluated the sigs plan once PER BAND — free when signatures were a
    // plain aggregation output, a numBands× re-run of the per-row hash
    // transforms once the packed form arrived (each band key's lit(b)
    // prefix already disambiguates bands, so explode ≡ that union).
    val keys = (0 until numBands).map { b =>
      concat_ws("_",
        lit(b) +: (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}")): _*)
    }
    val banded = sigs.select(col(idCol), explode(array(keys: _*)).as("band_key"))
    bandedPairs(banded, idCol, Seq("band_key"), bucketCap)
  }

  /** Self-join of a banded frame into candidate pairs, with the optional
    * mega-bucket triangle guard (see [[lshCandidates]]).
    */
  private def bandedPairs(banded0: DataFrame, idCol: String,
                          keyCols: Seq[String], bucketCap: Int): DataFrame = {
    // ONE explicit shuffle on the bucket keys, reused by every consumer:
    // the bucket-size tag and BOTH sides of the within-bucket self-join
    // all require clustering on keyCols, and the single repartition below
    // satisfies them all (identical exchange subtrees dedupe via
    // ReusedExchange inside the one action). Without it this stage
    // shuffled the full banded frame 5× — measured as the scaling
    // bottleneck of the end-to-end dedupe leg (its marginal cost scaled
    // at 0.52 N→4N; the shared memory bus serves those redundant shuffles
    // no faster with 4× the cores). The partition count is EXPLICIT so
    // AQE's byte-based coalescing cannot squeeze the stage: band rows are
    // skinny but each downstream join group does O(bucket²) pair
    // generation — compute-per-byte AQE cannot see (same argument as
    // verifyCandidatesPacked's repartition).
    val nPart = clusterWidth(banded0.sparkSession)
    val banded = banded0.repartition(nPart, keyCols.map(col): _*)
    // candidate dedup at explicit pair-key parallelism: `.distinct()` would
    // plan its final aggregate over an AQE-coalesced exchange — one task
    // hash-deduping every generated pair row; the explicit repartition's
    // hash clustering on (id_1, id_2) already satisfies the aggregate's
    // required distribution, so dedupDistinct costs the same single
    // exchange with the final agg at cluster width
    def dedupDistinct(pairs: DataFrame): DataFrame =
      pairs.repartition(nPart, col("id_1"), col("id_2")).dropDuplicates()
    def plainPairs(df: DataFrame): DataFrame =
      df.as("x").join(df.as("y"), keyCols)
        .filter(col(s"x.$idCol") < col(s"y.$idCol"))
        .select(col(s"x.$idCol").as("id_1"), col(s"y.$idCol").as("id_2"))
    if (bucketCap <= 0) return dedupDistinct(plainPairs(banded))

    // bucket size as a window count over the one clustered frame — the
    // former aggregate + re-join shape re-ran its sort-merge join once per
    // consumer (small ×2 sides, repl ×2) on top of the reused exchange;
    // the window needs only the in-partition sort the join needed anyway
    val tagged = banded.withColumn("__cnt", count(lit(1)).over(
      Window.partitionBy(keyCols.map(col): _*)))
    val small = tagged.filter(col("__cnt") <= bucketCap).drop("__cnt")
    val repl = triangleBlockedReplica(tagged.filter(col("__cnt") > bucketCap),
      idCol, bucketCap)
    val blockKeys = keyCols ++ Seq("__lo", "__hi")
    val largePairs = repl.as("x").join(repl.as("y"), blockKeys)
      // a pair whose blocks are (p, q) co-occurs in several tasks when
      // p == q; the ownership rule keeps exactly the (min, max) task
      .filter(col(s"x.$idCol") < col(s"y.$idCol") &&
        least(col("x.__blk"), col("y.__blk")) === col("__lo") &&
        greatest(col("x.__blk"), col("y.__blk")) === col("__hi"))
      .select(col(s"x.$idCol").as("id_1"), col(s"y.$idCol").as("id_2"))
    dedupDistinct(plainPairs(small).unionByName(largePairs))
  }

  /** Replicate each member of an oversized bucket into its triangle tasks:
    * the bucket's rows are hashed into `nblk = ceil(cnt / bucketCap)`
    * blocks, and a row in block p joins task (min(p,t), max(p,t)) for every
    * t — so an unordered block pair is one join group holding ≤ 2·bucketCap
    * rows, and every candidate pair lives in exactly one group. Input must
    * carry `__cnt` (bucket size); output adds `__blk`, `__lo`, `__hi`.
    */
  private[graft] def triangleBlockedReplica(oversized: DataFrame, idCol: String,
                                            bucketCap: Int): DataFrame = {
    require(bucketCap > 0, "bucketCap must be positive")
    val nblk = ceil(col("__cnt").cast("double") / bucketCap).cast("int")
    oversized
      .withColumn("__nblk", nblk)
      .withColumn("__blk", pmod(xxhash64(col(idCol)), col("__nblk").cast("long")).cast("int"))
      .withColumn("__t", explode(sequence(lit(0), col("__nblk") - 1)))
      .withColumn("__lo", least(col("__blk"), col("__t")))
      .withColumn("__hi", greatest(col("__blk"), col("__t")))
      .drop("__t", "__nblk", "__cnt")
  }

  /** LSH banding with size-bucketed band keys — the full-corpus scale
    * variant. On heterogeneous corpora plain banding explodes with false
    * candidates between wildly different-size documents that happen to
    * share a min-hash; here every band key also carries a log-scale size
    * bucket, and each document emits its bands for its own bucket AND the
    * next one up, so no candidate is lost among pairs that could still
    * clear the Jaccard bar:
    *
    * J(A,B) ≥ t forces |A|/|B| ∈ [t, 1/t] (|A∩B| ≤ min ≤ max ≤ |A∪B|).
    * With bucket base 1/t, any pair within that ratio lands in the same or
    * adjacent buckets, and own+next-bucket emission covers both cases
    * exactly once after `distinct`. Pairs further apart than 1/t are
    * dropped by construction — they cannot reach J ≥ t.
    *
    * @param sizeCol   per-doc set size (the `n_sh` of [[minhashSignatures]])
    * @param threshold the Jaccard bar t the caller verifies at (bucket base
    *                  = 1/t); candidates are complete for pairs with J ≥ t
    */
  def lshCandidatesSizeBucketed(sigs: DataFrame, idCol: String,
                                numHashes: Int, rowsPerBand: Int,
                                sizeCol: String, threshold: Double,
                                bucketCap: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1): $threshold")
    val base = 1.0 / threshold
    val bucket = floor(log(col(sizeCol).cast("double")) / math.log(base)).cast("long")
    val numBands = numHashes / rowsPerBand
    // one pass over sigs (see lshCandidates): every (band key × {own, next}
    // size bucket) pair from a single exploded projection
    val entries = (0 until numBands).flatMap { b =>
      val key = concat_ws("_",
        lit(b) +: (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}")): _*)
      Seq(struct(key.as("band_key"), bucket.as("size_bucket")),
        struct(key.as("band_key"), (bucket + 1).as("size_bucket")))
    }
    val banded = sigs
      .select(col(idCol), explode(array(entries: _*)).as("e"))
      .select(col(idCol), col("e.band_key"), col("e.size_bucket"))
    bandedPairs(banded, idCol, Seq("band_key", "size_bucket"), bucketCap)
  }

  /** Near-dup CLUSTER assignment: connected components over a pair list by
    * `rounds` iterations of min-label propagation — the step that turns
    * pairwise near-dup evidence into keep-one-per-cluster decisions.
    *
    * Each round every id adopts the minimum label in its closed
    * neighborhood; after r rounds labels are exact for components of
    * diameter < 2^r is NOT guaranteed by plain propagation (it halves
    * eccentricity linearly, not doubly), so: exact for components whose
    * every vertex is within `rounds` hops of the component minimum —
    * choose rounds ≥ the expected cluster diameter (near-dup clusters are
    * shallow: dup groups are near-cliques). Deterministic and unrollable
    * to SQL, so the driver oracle can mirror it join-for-join.
    * Output: id, cluster (the component-minimum id after `rounds`).
    */
  def clusterLabels(pairs: DataFrame, idCol1: String, idCol2: String,
                    ids: DataFrame, idCol: String, rounds: Int): DataFrame = {
    // single-evaluation symmetric edges (see clusterLabelsConverged)
    val edges = pairs
      .select(explode(array(
        struct(col(idCol1).as("src"), col(idCol2).as("dst")),
        struct(col(idCol2).as("src"), col(idCol1).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    var labels = ids.select(col(idCol).as("id"), col(idCol).as("cluster"))
    (0 until rounds).foreach { _ =>
      val fromNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("n_min"))
      labels = labels.join(fromNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("cluster"), coalesce(col("n_min"), col("cluster"))).as("cluster"))
    }
    labels
  }

  /** CONVERGENT connected components: min-label propagation accelerated by
    * pointer jumping, iterated to a fixpoint — exact for ANY component
    * diameter, unlike the bounded [[clusterLabels]] whose labels are only
    * exact within `rounds` hops of the component minimum.
    *
    * Each round is (1) propagate: every id takes the minimum label in its
    * closed neighborhood; (2) jump: every id re-labels through its label's
    * label (path compression — this is what turns O(diameter) rounds into
    * O(log diameter)). Both steps only ever move labels DOWN within the
    * same component, and at a propagation fixpoint all labels in a
    * component are equal (for every edge (u,v), stable means
    * label(u) ≤ label(v) and label(v) ≤ label(u)), hence equal to the
    * component minimum (the minimum id keeps its own label). Convergence is
    * checked with one cheap count over the localCheckpoint'd round result,
    * which also keeps lineage flat across iterations.
    * Output: id, cluster (exact component minimum).
    */
  def clusterLabelsConverged(pairs: DataFrame, idCol1: String, idCol2: String,
                             ids: DataFrame, idCol: String,
                             maxRounds: Int = 64,
                             driverEdgeThreshold: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    // both edge directions from ONE evaluation of the pair plan: the
    // union-of-two-selects shape re-runs everything upstream of the last
    // reusable exchange once per direction — for LSH-verified pairs that
    // is the whole candidate-verification tail (measured ~40% of the
    // dedupe_decision leg's end-to-end time on top of the verify prefix).
    // LAZY checkpoint: the first action over it (the fast-path count below,
    // or the label init) materializes and persists it in the SAME job — an
    // eager checkpoint would spend one whole extra job on materialization.
    // (An explicit pre-checkpoint hash clustering by dst was tried and
    // REVERTED: under AQE, localCheckpoint captures UnknownPartitioning,
    // so the loop's joins cannot reuse it — the exchange was pure cost.)
    val edges = pairs
      .select(explode(array(
        struct(col(idCol1).as("src"), col(idCol2).as("dst")),
        struct(col(idCol2).as("src"), col(idCol1).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(eager = false)
    // SMALL-GRAPH FAST PATH: the near-dup edge set is tiny relative to the
    // corpus (that is the point of dedup) — when it fits the driver, exact
    // union-find beats any distributed iteration: zero rounds, zero
    // convergence checks, one broadcast join back. Costs one count over
    // the checkpointed edges to decide; integral ids only (the loop below
    // — which also serves edge sets that don't fit — stays type-generic,
    // e.g. string doc ids). Both paths produce the exact component minimum.
    val integralIds = {
      import org.apache.spark.sql.types._
      edges.schema.fields.forall(f => f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    }
    if (integralIds && driverEdgeThreshold > 0 && edges.count() <= driverEdgeThreshold)
      return driverUnionFind(spark, edges, ids, idCol)
    // iterate ONLY over vertices that appear in a pair: a singleton can
    // never change its label, and on a real corpus near-dup vertices are a
    // tiny fraction of the ids — the loop's joins and convergence counts
    // run on that fraction, not the whole table. Labels START at the
    // closed-neighborhood minimum, not the own id: the init needs a
    // per-vertex pass over the edges either way (the former shape ran
    // DISTINCT over src — the same exchange this groupBy costs), and the
    // neighborhood-min init IS round one's propagate step, so one full
    // round of joins + checkpoint + convergence check disappears. Any
    // label that is a component vertex ≤ the own id keeps the convergence
    // argument intact (labels only move down within the component; the
    // component minimum keeps its own label).
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__nmin"))
      .select(col("src").as("id"), least(col("src"), col("__nmin")).as("cluster"))
      .localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // (1) propagate: min label over the closed neighborhood, as ONE
      // aggregate over neighbor contributions UNIONED with a per-vertex
      // self row — the former shape aggregated neighbors only and then
      // joined back to `labels` to fold in the own label and recover it
      // as `prev` for the convergence check; the self row carries both
      // (own is null on neighbor rows, so max(own) is exactly the
      // pre-round label), deleting one whole join per round. The union
      // adds no exchange of its own: both legs feed the aggregate's.
      val clusterType = labels.schema("cluster").dataType
      val contrib = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("cluster"),
          lit(null).cast(clusterType).as("__own"))
        .unionByName(labels.select(col("id"), col("cluster"),
          col("cluster").as("__own")))
      val propagated = contrib.groupBy(col("id"))
        .agg(min(col("cluster")).as("cluster"), max(col("__own")).as("prev"))
        .select(col("id"), col("prev"), col("cluster"))
      // (2) jump ×2: cluster := label(label(cluster)) — labels are ids, so
      // each self-join compresses label chains (pointer doubling). Two
      // jumps per round quarter the distance-to-root instead of halving
      // it: the second jump is one more cheap self-join inside the SAME
      // materialization, while a round it can replace costs a full
      // propagate (edge join + aggregate) + checkpoint + convergence
      // check. (On q35's sf0.1 components the round count stays 5 either
      // way — their propagation distance, not jump depth, binds — but
      // deep-chain components halve their rounds, for one broadcast-join
      // job per round of overhead.)
      def jump(l: DataFrame): DataFrame = l.as("l")
        .join(l.select(col("id").as("cluster"), col("cluster").as("jc")).as("j"),
          Seq("cluster"), "left")
        .select(col("id"), col("prev"), coalesce(col("jc"), col("cluster")).as("cluster"))
      // LAZY checkpoint: the convergence count below is the round's one
      // action — it computes the round, persists the checkpoint, and
      // counts the changed labels in a single job (eager + count was two)
      val next = jump(jump(propagated)).localCheckpoint(eager = false)
      changed = next.filter(col("cluster") =!= col("prev")).count()
      labels = next.select(col("id"), col("cluster"))
      round += 1
    }
    require(changed == 0L, s"clusterLabelsConverged: no fixpoint after $maxRounds rounds")
    // singletons rejoin with their own id as the cluster
    ids.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("cluster", "__c"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
  }

  /** Exact driver-side connected components over a collected edge list:
    * union-find with path compression, then component-minimum labels,
    * broadcast-joined back over `ids`.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              edges: DataFrame, ids: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect().foreach { case (s, d) =>
        val (a, b) = (find(s), find(d))
        if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
      }
    // component minimum per root (roots are min-biased by the union rule
    // but path order can leave a non-min root; normalize explicitly)
    val verts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val it = parent.keySet().iterator()
    while (it.hasNext) verts += it.next()
    val byRoot = verts.groupBy(find)
    val minOf = byRoot.map { case (r, vs) => r -> math.min(r, vs.min) }
    val rows = (byRoot.flatMap { case (r, vs) => (vs :+ r).distinct.map(v => (v, minOf(r))) }).toSeq
    val labels = rows.toDF("id", "__c")
    ids.select(col(idCol).as("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
  }

  /** End-to-end near-dup corpus dedup decision — the composition a pipeline
    * actually runs: MinHash+LSH candidates (optionally mega-bucket-guarded)
    * → exact Jaccard verification → CONVERGENT connected components →
    * keep-one-per-cluster. Output: id, cluster (component minimum), keep
    * (true exactly for the cluster minimum). Recall is the LSH banding
    * recall; precision is exact (every kept pair cleared the Jaccard bar).
    */
  def dedupeDecision(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, numHashes: Int, rowsPerBand: Int,
                     threshold: Double, bucketCap: Int = 0): DataFrame = {
    // packed-first: ONE shuffle builds the per-doc shingle arrays (map-side
    // collect_set dedup), signatures are per-row array expressions on top,
    // and verification attaches the same arrays to the candidate list. The
    // row-frame path (shingles → minhashSignatures → verifyCandidates)
    // computes identical results with 3 full shuffles of the exploded
    // (id, shingle) frame; it remains the right shape only when a caller
    // already has the row frame. The packed frame is rebuilt for verify
    // rather than persisted — BASELINE.md's q39 attribution (recompute vs
    // persist) was re-run over this path and recompute still won.
    // spread the scan before the shingle explode: a few-split doc input
    // would otherwise serialize the explode+collect_set map stage on a
    // couple of cores (scale-adaptive floor, identity on many-split inputs)
    val packed = packedShingles(spreadToCores(docs), idCol, textCol, shingleN)
    val sigs = minhashSignaturesPacked(packed, idCol, shingleN, numHashes)
    val cand = lshCandidates(sigs, idCol, numHashes, rowsPerBand, bucketCap)
    val verified = verifyCandidatesPacked(packed, idCol, cand, threshold)
    clusterLabelsConverged(verified, "id_1", "id_2", docs, idCol)
      .select(col("id"), col("cluster"), (col("id") === col("cluster")).as("keep"))
  }

  /** Embedding-modality twin of [[dedupeDecision]]: exact integer-cosine
    * near-dup pairs (distributed triangle block join,
    * [[graft.ann.Ann.embeddingNearDupPairs]]) → convergent connected
    * components → keep-one-per-cluster flags. For corpora where exact n²
    * is off the table, feed [[clusterLabelsConverged]] from
    * `embeddingNearDupPairsLsh` instead.
    */
  def embeddingDedupeDecision(corpus: DataFrame, idCol: String, embCol: String,
                              tauNum: Int, tauDen: Int, numBlocks: Int = 0): DataFrame = {
    val pairs = graft.ann.Ann.embeddingNearDupPairs(
      corpus, idCol, embCol, tauNum, tauDen, numBlocks)
    clusterLabelsConverged(pairs, "id_1", "id_2", corpus, idCol)
      .select(col("id"), col("cluster"), (col("id") === col("cluster")).as("keep"))
  }

  // ---- SimHash ----------------------------------------------------------------

  /** Token hash mirroring [[shingleHash]] on the (right-padded) first 5
    * chars plus the token length — exact and SQL-expressible.
    */
  /** EXACT Hamming near-duplicate pairs over an integer fingerprint column
    * ([[simhash]], image aHash/pHash) via pigeonhole banding — the
    * multi-index Hamming approach: the `bits`-bit hash is split into
    * `maxDist + 1` disjoint contiguous bands; two hashes within Hamming
    * distance ≤ maxDist differ in at most maxDist bit positions, so at
    * least one band is bit-identical (pigeonhole). Banding is therefore a
    * COMPLETE candidate generator, and the hamming64 verify makes the
    * output exact, not approximate (HammingNearDupSpec: equal to the
    * all-pairs oracle).
    *
    * Scale shape: one explode to (maxDist+1)·n band rows, ONE shuffle on
    * the band key (bandedPairs' shared repartition), and the verify rides
    * the join row — the hash travels with the id inside the banding
    * struct, so candidates never re-join the hash frame. `bucketCap` arms
    * the mega-bucket triangle guard exactly as in [[lshCandidates]] for
    * degenerate corpora (e.g. millions of identical fingerprints), keeping
    * per-task pair generation O(cap²) with the identical pair set.
    *
    * Output: id_1, id_2, dist — id_1 < id_2, one row per pair with
    * Hamming distance ≤ maxDist.
    */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
                          maxDist: Int, bits: Int = 64,
                          bucketCap: Int = 0): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits in [1,64]: $bits")
    require(maxDist >= 0 && maxDist < bits,
      s"maxDist in [0, bits): $maxDist vs $bits bits")
    val nb = maxDist + 1
    val keys = (0 until nb).map { b =>
      // band b covers bit positions [lo, hi) — contiguous split, widths
      // differing by at most one; the mask keeps sign-extension bits of
      // the arithmetic shift out of the key
      val lo = b * bits / nb
      val hi = (b + 1) * bits / nb
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      concat_ws("_", lit(b),
        shiftright(col(hashCol).cast("long"), lo).bitwiseAND(lit(mask)))
    }
    // id-first struct: bandedPairs orders/distincts by this column, and
    // struct comparison is field-order lexicographic, so with unique ids
    // the pair ordering is exactly id ordering
    val banded = hashes.select(
      struct(col(idCol).as("id"), col(hashCol).cast("long").as("h")).as("__ih"),
      explode(array(keys: _*)).as("band_key"))
    bandedPairs(banded, "__ih", Seq("band_key"), bucketCap)
      .select(col("id_1.id").as("id_1"), col("id_2.id").as("id_2"),
        graft.functions.GeoFunctions.hamming64(col("id_1.h"), col("id_2.h")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  def tokenHash(token: Column): Column =
    shingleHash(rpad(token, 5, "q"), 5) + length(token)

  /** `bits`-bit SimHash per id from whitespace tokens: bit j is set when
    * the signed vote Σ_tokens (2·((h>>j)&1) − 1) is positive.
    * Output: idCol, simhash (long).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", tokenHash(col("tok")))
    val votes = (0 until bits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"v_$j")
    }
    val agg = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sim = (0 until bits).map { j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col(idCol), sim.as("simhash"))
  }
}
