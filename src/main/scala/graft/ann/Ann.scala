package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  *  - [[quantize]] + [[bruteTopK]] — exact top-k by integer-quantized dot
  *    product: the correctness baseline — broadcast query side, one pass
  *    over the corpus. Integer arithmetic → engine-exact, oracle-checkable.
  *  - [[cosineTopK]] — float cosine variant (builtin zip_with/aggregate
  *    fold, no UDF).
  *  - [[lshBuckets]] + [[lshTopK]] — sign-random-projection LSH: corpus is
  *    bucketed by a b-bit sketch; queries probe only near buckets (Hamming
  *    radius 0..r). The 100 TB scale path: bucket join instead of full scan.
  */
object Ann {

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  /** int-quantized copy of an embedding: floor(x · 1000 + 0.5). Expressed
    * as floor — not `round` — because dyadic floats CAN land on an exact .5
    * (x = 0.0625 → 62.5) where HALF_UP semantics could differ between
    * engines; floor(x + 0.5) is a single well-defined double op in Spark,
    * DuckDB, and `java.lang.Math.round`, so the tie case is engine-exact.
    * Computed by the codegen'd [[graft.expr.QuantizeExpr]] (the
    * `transform` form it replaces is CodegenFallback; equality
    * spec-pinned, null elements preserved).
    */
  def quantize(emb: Column): Column = quantizeScaled(emb, 1000.0)

  private[graft] def quantizeScaled(emb: Column, scale: Double): Column =
    toCol(graft.expr.QuantizeExpr(toExpr(emb.cast("array<double>")), scale))

  /** Integer dot product of two equal-length long arrays — the codegen'd
    * [[graft.expr.LongDotExpr]]. (The original
    * `aggregate(zip_with(a, b, _*_), 0L, _+_)` fold is semantically
    * identical and spec-pinned so, but higher-order functions are
    * CodegenFallback: the fold ran INTERPRETED with a per-row intermediate
    * array in every scoring join — the defect that made the PQ encode
    * join 22× slower than its kernel, here fixed at the root for every
    * ANN/dedup path at once.) */
  def dotFold(a: Column, b: Column): Column =
    toCol(graft.expr.LongDotExpr(toExpr(a), toExpr(b)))

  /** Dot product accumulated in double (cosine numerators/norms, raw or
    * quantized inputs) — the codegen'd [[graft.expr.DoubleDotExpr]]; the
    * array<double> cast is the fold's per-element cast in one step. */
  def dotFoldD(a: Column, b: Column): Column =
    toCol(graft.expr.DoubleDotExpr(
      toExpr(a.cast("array<double>")), toExpr(b.cast("array<double>"))))

  def norm2(a: Column): Column = sqrt(dotFoldD(a, a))

  /** Exact top-k by quantized dot product. Queries are broadcast; the
    * corpus is scanned once; per-query ranking via window.
    * Output: query_id, rank, vec_id, dot.
    */
  def bruteTopK(queries: DataFrame, qIdCol: String, qEmbCol: String,
                corpus: DataFrame, idCol: String, embCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), quantize(col(qEmbCol)).as("q_emb"))
    val c = corpus.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("c_emb"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"), dotFold(col("q_emb"), col("c_emb")).as("dot"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"))
  }

  /** Float cosine top-k (same plan, double arithmetic). */
  def cosineTopK(queries: DataFrame, qIdCol: String, qEmbCol: String,
                 corpus: DataFrame, idCol: String, embCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qIdCol).as("query_id"), col(qEmbCol).as("q_emb"),
      norm2(col(qEmbCol)).as("q_norm"))
    val c = corpus.select(col(idCol).as("vec_id"), col(embCol).as("c_emb"),
      norm2(col(embCol)).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        (dotFoldD(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Embedding near-duplicate pairs: cosine(a, b) >= tau, decided with
    * EXACT integer arithmetic on quantized vectors (factor 100 keeps
    * dot² · tauDen² inside Long): cos >= tau  ⇔  dot > 0 and
    * dot² · tauDen² >= tauNum² · |a|² · |b|².  The fifth dedup mode
    * (embedding-cosine) of the training-data suite.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                            tauNum: Int, tauDen: Int, numBlocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // EXACT all-pairs as a distributed triangle join: vectors are hashed
    // into B blocks; each unordered block pair (i<=j) is one task holding
    // both blocks, and every vector pair lives in exactly one task (its
    // blocks' pair), so no driver materialization, no dedup pass, and task
    // memory is bounded at 2·n/B vectors. O(n²) compute is inherent to the
    // exact mode and dominates the n·B replication shuffle; for corpora
    // where n² is off the table use [[embeddingNearDupPairsLsh]].
    // triangleQuantized repartitions BEFORE the ×B replication fan-out: a
    // small corpus parquet arrives as 1-2 input splits, and without it the
    // entire replication (quantize, pack, serialize, shuffle-write n·B
    // rows) runs on 1-2 tasks no matter how many cores exist — measured as
    // a ~18 s parallelism-independent floor on the 96k-vector scaling leg
    // (fitting T(c) = F + W/c to the 8/32-core points). The pre-fan-out
    // frame is tiny (n rows), so this exchange costs ~nothing.
    val quant = triangleQuantized(df, idCol, embCol)
    // default B: B(B+1)/2 pair tasks ≈ 8× the cluster's cores — with one
    // task per partition (below), wave quantization is the only balance
    // loss and it shrinks as 1/waves (measured: 2× cores' worth of tasks
    // gave 0.61 N→4N efficiency, the last partial wave dominating); raise
    // numBlocks explicitly when 2·n/B vectors outgrow a task's memory (the
    // O(n²) compute, not the n·B replication shuffle, is the real cost)
    val b = if (numBlocks > 0) numBlocks
            else math.max(2, math.ceil(math.sqrt(
              16.0 * spark.sparkContext.defaultParallelism)).toInt)
    val tn2 = tauNum.toLong * tauNum
    val td2 = tauDen.toLong * tauDen

    triangleTasks(quant, b).mapPartitionsWithIndex { (task, itKv) =>
        // invert the dense rank back to the block pair (lo, hi)
        var lo = 0
        var base = 0
        while (base + (b - lo) <= task) { base += b - lo; lo += 1 }
        val hi = lo + (task - base)
        var loBlob: Array[Byte] = null
        var hiBlob: Array[Byte] = null
        itKv.foreach { case (_, (vblk, blob)) =>
          if (vblk == lo) loBlob = blob
          if (vblk == hi) hiBlob = blob
        }
        // Unpack each side into PARALLEL PRIMITIVE ARRAYS (ids / flat
        // vector shorts / norms) and run the O(n²) loop allocation-free:
        // an earlier shape routed every pair through an emit((Long,
        // Array[Short], Long) × 2) helper whose ordered-pair destructuring
        // built a boxed Tuple6 PER PAIR — at the 96k-vector scaling leg
        // that is 4.6e9 tuple+box allocations. The kernel floor after
        // that fix is the scalar dot loop itself (~55-70 ns per 64-dim
        // pair on this host's JIT — no auto-vectorization of the
        // short-mul/long-add reduction; measured standalone, BASELINE.md).
        def unpack(blob: Array[Byte]): (Int, Array[Long], Array[Short], Array[Long]) = {
          if (blob == null) return (0, new Array[Long](0), new Array[Short](0), new Array[Long](0))
          val bb = java.nio.ByteBuffer.wrap(blob).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val n = bb.getInt(); val d = bb.getInt()
          val ids = new Array[Long](n)
          var i = 0
          while (i < n) { ids(i) = bb.getLong(); i += 1 }
          val flat = new Array[Short](n * d)
          bb.asShortBuffer().get(flat)
          val norms = new Array[Long](n)
          i = 0
          while (i < n) {
            var s = 0L; var k = i * d; val end = k + d
            while (k < end) { s += flat(k) * flat(k); k += 1 }
            norms(i) = s; i += 1
          }
          (d, ids, flat, norms)
        }
        val (d0, lIds, lFlat, lNorms) = unpack(loBlob)
        val diag = lo == hi
        val (_, rIds, rFlat, rNorms) = if (diag) (d0, lIds, lFlat, lNorms) else unpack(hiBlob)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        // per-component products fit Int (|q| ≤ Short.MaxValue ⇒ q² < 2³⁰);
        // the accumulator widens to Long per add. dot²·td2 stays inside
        // Long by the factor-100 quantization contract (scaladoc above).
        var i = 0
        while (i < lIds.length) {
          val idI = lIds(i); val nI = lNorms(i); val offI = i * d0
          var j = if (diag) i + 1 else 0
          while (j < rIds.length) {
            val idJ = rIds(j)
            if (idI != idJ) { // duplicate input ids: never emit a self-pair
              val offJ = j * d0
              var dot = 0L; var k = 0
              while (k < d0) { dot += lFlat(offI + k) * rFlat(offJ + k); k += 1 }
              if (dot > 0 && dot * dot * td2 >= tn2 * nI * rNorms(j)) {
                if (idI < idJ) out += ((idI, idJ, dot))
                else out += ((idJ, idI, dot))
              }
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("id_1", "id_2", "dot")
  }

  /** Factor-100 integer quantization + round-robin spread of the corpus
    * for [[embeddingNearDupPairs]].
    */
  private def triangleQuantized(df: DataFrame, idCol: String,
                                embCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("vid"),
      quantizeScaled(col(embCol), 100.0).as("qe"))
      .repartition(math.max(2, df.sparkSession.sparkContext.defaultParallelism))

  /** Replication + shuffle half of [[embeddingNearDupPairs]], factored so
    * the scaling bench can time it in isolation from the O(n²) kernel.
    *
    * The wire unit is a PER-BLOCK PACKED BLOB, not a per-vector row: each
    * of the b blocks is packed once into one byte blob
    * ([int n][int d][n × long vid][n·d × short], little-endian) and fanned
    * to the b tasks that hold it — b² blob rows total instead of n·b
    * vector rows. Same payload bytes on the wire, but the per-row
    * serializer overhead (nested tuple + array headers × n·b — measured as
    * an anti-scaling 2.6 s @8 → 4.1 s @32 isolation leg on 2.3M rows)
    * collapses to b² ≈ hundreds of rows, and the pack + its
    * range-validation run once per VECTOR, not once per replica.
    *
    * Task ids are DENSE ranks of the unordered block pairs (lo <= hi):
    *   dense(lo, hi) = lo*b - lo*(lo-1)/2 + (hi - lo)   in [0, b(b+1)/2)
    * so each task owns exactly one reduce partition (identity partitioner).
    * Hashing task keys into spark.sql.shuffle.partitions instead (the
    * original groupByKey plan) collides ~2× cores' keys into ~cores bins —
    * balls-in-bins puts 4-6 keys in the worst bin and the stage waits on it.
    *
    * Packing to shorts ships 4× fewer bytes than the long arrays; the
    * factor-100 quantization of unit-scale embeddings is two orders of
    * magnitude inside Short range, and the check validates rather than
    * truncates so an out-of-contract embedding fails loudly.
    *
    * A block blob is (n/b)·(2d+8)+16 bytes — the same data the kernel task
    * must hold anyway (task memory is bounded at 2·n/b vectors by design);
    * raise b when blocks outgrow a task. The b-way groupByKey stage is the
    * only full pass over vector rows and its parallelism is b (≥ the
    * default's 8×-cores task budget after the square root).
    */
  private def triangleTasks(quant: DataFrame, b: Int)
      : org.apache.spark.rdd.RDD[(Int, (Int, Array[Byte]))] = {
    val spark = quant.sparkSession
    import spark.implicits._
    val nTasks = b * (b + 1) / 2
    val identityPart = new org.apache.spark.Partitioner {
      def numPartitions: Int = nTasks
      def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    quant.as[(Long, Array[Long])].rdd
      .map { case (vid, qe) => (java.lang.Math.floorMod(vid, b.toLong).toInt, (vid, qe)) }
      .groupByKey(b)
      .flatMap { case (blk, vecs) =>
        val rows = vecs.toArray
        val n = rows.length
        val d = if (n == 0) 0 else rows(0)._2.length
        val bb = java.nio.ByteBuffer.allocate(8 + n * (8 + 2 * d))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(n); bb.putInt(d)
        var i = 0
        while (i < n) { bb.putLong(rows(i)._1); i += 1 }
        i = 0
        while (i < n) {
          val qe = rows(i)._2
          require(qe.length == d,
            s"embeddingNearDupPairs: ragged embedding lengths (${qe.length} vs $d)")
          var k = 0
          while (k < d) {
            val v = qe(k)
            require(v >= Short.MinValue && v <= Short.MaxValue,
              s"embeddingNearDupPairs: quantized component $v out of Short range " +
                "(expected unit-scale embeddings; factor-100 quantization)")
            bb.putShort(v.toShort)
            k += 1
          }
          i += 1
        }
        val blob = bb.array()
        val row = (blk, blob)
        (0 until b).iterator.map { j =>
          val lo = math.min(blk, j)
          val hi = math.max(blk, j)
          (lo * b - lo * (lo - 1) / 2 + (hi - lo), row)
        }
      }
      .partitionBy(identityPart)
  }

  /** Approximate near-dup pairs via sign-LSH blocking — the path for
    * corpora where exact O(n²) compute is off the table. Each vector is
    * replicated into its own sketch bucket plus all radius-1 neighbor
    * buckets; a candidate pair is scanned in exactly one task
    * (min(bucketA, bucketB)), so no dedup pass. Pairs whose sketches differ
    * by >1 bit are missed — recall vs the exact mode is measured on planted
    * near-dups in DedupAnnSpec (raise `bits` for precision, lower it or add
    * sketch repetitions for recall).
    */
  def embeddingNearDupPairsLsh(df: DataFrame, idCol: String, embCol: String,
                               tauNum: Int, tauDen: Int,
                               bits: Int = 8, dims: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val quant = df.select(col(idCol).cast("long").as("vid"),
      quantizeScaled(col(embCol), 100.0).as("qe"))
      .withColumn("home", signSketch(col("qe"), bits, dims))
    val probeKeys = array((col("home") +: (0 until bits).map(p =>
      col("home").bitwiseXOR(lit(1L << p)))): _*)
    val replicated = quant.select(col("vid"), col("qe"), col("home"),
      explode(probeKeys).as("task"))
    val tn2 = tauNum.toLong * tauNum
    val td2 = tauDen.toLong * tauDen

    replicated.select(col("task"), col("home"), col("vid"), col("qe"))
      .as[(Long, Long, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (task: Long, it: Iterator[(Long, Long, Long, Array[Long])]) =>
        // home vectors live here; probe vectors visit from a radius-1 bucket
        val home = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
        val probe = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
        it.foreach { case (_, vHome, vid, qe) =>
          if (vHome == task) home += ((vid, qe))
          else if (vHome > task) probe += ((vid, qe)) // min-bucket task owns the pair
        }
        def normOf(v: Array[Long]): Long = {
          var s = 0L; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          s
        }
        val hn = home.map(p => normOf(p._2)).toArray
        val pn = probe.map(p => normOf(p._2)).toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        def emit(id1: Long, e1: Array[Long], n1: Long,
                 id2: Long, e2: Array[Long], n2: Long): Unit = {
          if (id1 == id2) return // duplicate input ids: never emit a self-pair
          val (a, ea, na, bId, eb, nb) =
            if (id1 < id2) (id1, e1, n1, id2, e2, n2) else (id2, e2, n2, id1, e1, n1)
          var dot = 0L; var d = 0
          while (d < ea.length) { dot += ea(d) * eb(d); d += 1 }
          if (dot > 0 && dot * dot * td2 >= tn2 * na * nb) out += ((a, bId, dot))
        }
        var i = 0
        while (i < home.length) {
          var j = i + 1
          while (j < home.length) {
            emit(home(i)._1, home(i)._2, hn(i), home(j)._1, home(j)._2, hn(j))
            j += 1
          }
          j = 0
          while (j < probe.length) {
            emit(home(i)._1, home(i)._2, hn(i), probe(j)._1, probe(j)._2, pn(j))
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("id_1", "id_2", "dot")
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d coefficient =
    * ((p·12582917 + d·104729) mod 97) − 48 — integer, engine-independent.
    */
  def planeCoeff(p: Int, d: Int): Long = ((p * 12582917L + d * 104729L) % 97L) - 48L

  /** b-bit sign sketch of a quantized embedding. One codegen'd
    * [[graft.expr.LongDotExpr]] per plane against a literal coefficient
    * array (compact codegen; a flat bits×dims expression tree would
    * dominate janino compile time — and the previous zip_with/aggregate
    * fold per plane ran interpreted, bits × dims allocations per row).
    */
  def signSketch(qEmb: Column, bits: Int, dims: Int): Column =
    (0 until bits).map { p =>
      val coeffs = typedLit((0 until dims).map(d => planeCoeff(p, d)))
      val proj = dotFold(qEmb, coeffs)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Corpus bucketed by sign sketch — persist/bucket this by `bucket` at
    * scale (write.bucketBy) so queries touch only matching buckets.
    */
  def lshBuckets(corpus: DataFrame, idCol: String, embCol: String,
                 bits: Int, dims: Int): DataFrame =
    corpus.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("c_emb"))
      .withColumn("bucket", signSketch(col("c_emb"), bits, dims))

  /** Integer squared L2 of two equal-length long arrays — the codegen'd
    * [[graft.expr.LongSqDistExpr]] (see [[dotFold]]'s note on why the
    * zip_with/aggregate fold form is interpreted and this isn't). */
  def sqDistFold(a: Column, b: Column): Column =
    toCol(graft.expr.LongSqDistExpr(toExpr(a), toExpr(b)))

  /** IVF-style ANN — the second scale path next to sign-LSH: a coarse
    * quantizer of deterministic centroids (every `centroidEvery`-th corpus
    * vector) partitions the corpus into inverted lists once (broadcast
    * centroids, one argmin pass; at 10^12 scale persist the lists with
    * `write.bucketBy(list_id)`), and each query exact-scores only the
    * `nprobe` nearest lists. Assignment metric is integer squared L2 on
    * the quantized vectors; final scoring is the same quantized dot as
    * [[bruteTopK]] — everything integer-exact and oracle-expressible.
    * Output: query_id, rank, vec_id, dot.
    */
  def ivfTopK(queries: DataFrame, qIdCol: String, qEmbCol: String,
              corpus: DataFrame, idCol: String, embCol: String,
              k: Int, centroidEvery: Long, nprobe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("c_emb"))
    val cent = c.filter(pmod(col("vec_id"), lit(centroidEvery)) === 0)
      .select(col("vec_id").as("cid"), col("c_emb").as("cent_emb"))
    // corpus-side argmin as a hash aggregation over a (dist, cid) struct
    // (lexicographic min = min dist, ties to min cid) — partial aggregation
    // and no sort shuffle, unlike a row_number window
    val lists = c.crossJoin(broadcast(cent))
      .select(col("vec_id"),
        struct(sqDistFold(col("c_emb"), col("cent_emb")).as("dist"), col("cid").as("cid")).as("dc"))
      .groupBy(col("vec_id")).agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    val q = queries.select(col(qIdCol).as("query_id"), quantize(col(qEmbCol)).as("q_emb"))
    val wQ = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cid"))
    val probes = q.crossJoin(broadcast(cent))
      .select(col("query_id"), col("q_emb"), col("cid"),
        sqDistFold(col("q_emb"), col("cent_emb")).as("dist"))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cid"))
    val cand = probes.join(lists, "cid").join(c, "vec_id")
      .select(col("query_id"), col("vec_id"), dotFold(col("q_emb"), col("c_emb")).as("dot"))
    val wRank = Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"))
  }

  /** Approximate top-k: probe buckets within Hamming radius `probeRadius`
    * of each query's sketch (radius 0/1 = classic multi-probe LSH), then
    * exact-score only those candidates. Recall measured against
    * [[bruteTopK]] in tests.
    */
  def lshTopK(queries: DataFrame, qIdCol: String, qEmbCol: String,
              corpus: DataFrame, idCol: String, embCol: String,
              k: Int, bits: Int, dims: Int, probeRadius: Int = 1): DataFrame = {
    val buckets = lshBuckets(corpus, idCol, embCol, bits, dims)
    val q0 = queries.select(col(qIdCol).as("query_id"), quantize(col(qEmbCol)).as("q_emb"))
      .withColumn("q_bucket", signSketch(col("q_emb"), bits, dims))
    // enumerate probe buckets: the query's own + single-bit flips (radius 1)
    val probes: Column =
      if (probeRadius <= 0) array(col("q_bucket"))
      else array((col("q_bucket") +: (0 until bits).map(p =>
        col("q_bucket").bitwiseXOR(lit(1L << p)))): _*)
    val qProbed = q0.withColumn("bucket", explode(probes))
    val cand = qProbed.join(buckets, "bucket")
      .select(col("query_id"), col("vec_id"), dotFold(col("q_emb"), col("c_emb")).as("dot"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dot"))
  }

  // ---- Product quantization (PQ) -----------------------------------------
  //
  // The third ANN scale path, orthogonal to LSH/IVF candidate PRUNING: PQ
  // compresses the vectors themselves. Each dims-dim vector is split into m
  // contiguous subvectors; each subvector is replaced by the id of its
  // nearest codeword (integer squared L2, ties to the smallest codeword id)
  // from a per-subspace codebook. A scored pair then costs m table lookups
  // + adds (asymmetric distance computation) instead of dims multiply-adds,
  // and — the part that matters at 10^12 rows — the scan reads m small codes
  // per vector instead of dims floats (m=8, ksub≤256 ⇒ 8 bytes vs 256: ~32×
  // less scan I/O once codes are persisted at ingest, exactly like IVF's
  // bucketBy(list_id) layout). Codebooks here are deterministic data samples
  // (every codeEvery-th vector, the [[ivfTopK]] precedent — keeps the whole
  // path integer-exact and DuckDB-oracle-expressible); [[pqRefineCodebook]]
  // runs Lloyd's k-means on top when recall matters more than oracle parity.

  /** One row per (id, sub, sv): the quantized embedding cut into m
    * contiguous dims/m-length subvectors. */
  private def subvectors(df: DataFrame, idCol: String, idOut: String,
                         embCol: String, dims: Int, m: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"pq: dims $dims not divisible into $m subspaces")
    val dsub = dims / m
    val q = quantize(col(embCol))
    val subs = array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(q, s * dsub + 1, dsub).as("sv"))): _*)
    df.select(col(idCol).as(idOut), explode(subs).as("zs"))
      .select(col(idOut), col("zs.sub").as("sub"), col("zs.sv").as("sv"))
  }

  /** Deterministic sampled codebook: the subvectors of every
    * `codeEvery`-th corpus vector. Output: sub, cid, cw (cid = the sampled
    * vector's id — codes stay joinable without a dense re-index; persist
    * with a dense 0..ksub-1 re-map when packing codes to bytes). */
  def pqCodewords(corpus: DataFrame, idCol: String, embCol: String,
                  dims: Int, m: Int, codeEvery: Long): DataFrame =
    // malformed vectors are excluded BEFORE sampling: a junk row whose id
    // lands on the codeEvery grid must not poison the codebook (it would
    // NPE pqCollectBook / fail the codeword-arity require downstream) —
    // the same skip contract as pqEncodePackedWith's corpus side
    subvectors(cleanVectors(corpus, idCol, embCol, dims)
        .filter(pmod(col("__vid"), lit(codeEvery)) === 0),
      "__vid", "cid", "__e", dims, m)
      .select(col("sub"), col("cid"), col("sv").as("cw"))

  /** PQ-encode the corpus: per (vector, subspace), the nearest codeword by
    * integer squared L2 (ties to min cid) — the same broadcast+hash-argmin
    * shape as [[ivfTopK]]'s list assignment. Output: vec_id, sub, code.
    * At ingest scale this runs once and the codes are persisted. */
  def pqEncode(corpus: DataFrame, idCol: String, embCol: String,
               codewords: DataFrame, dims: Int, m: Int): DataFrame =
    subvectors(corpus, idCol, "vec_id", embCol, dims, m)
      .join(broadcast(codewords), "sub")
      .select(col("vec_id"), col("sub"),
        struct(sqDistFold(col("sv"), col("cw")).as("dist"), col("cid").as("cid")).as("dc"))
      .groupBy(col("vec_id"), col("sub")).agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("code"))

  /** Per-query bounded top-R selection by (adot desc, vecId asc): a size-R
    * min-heap whose root is the weakest kept candidate. Primitive arrays —
    * this sits in the nq × n ADC inner loop. */
  private final class AdcTopR(r: Int) {
    val a = new Array[Long](r); val v = new Array[Long](r); var n = 0
    // heap order: i weaker than j ⇔ smaller adot, ties to the LARGER vecId
    // (so the root is always the entry global ranking would drop first)
    private def weaker(ai: Long, vi: Long, aj: Long, vj: Long): Boolean =
      ai < aj || (ai == aj && vi > vj)
    private def siftDown(i0: Int): Unit = {
      var i = i0
      while (true) {
        val l = 2 * i + 1; val rr = l + 1; var w = i
        if (l < n && weaker(a(l), v(l), a(w), v(w))) w = l
        if (rr < n && weaker(a(rr), v(rr), a(w), v(w))) w = rr
        if (w == i) return
        val ta = a(i); val tv = v(i); a(i) = a(w); v(i) = v(w); a(w) = ta; v(w) = tv
        i = w
      }
    }
    def offer(adot: Long, vecId: Long): Unit =
      if (n < a.length) {
        a(n) = adot; v(n) = vecId; n += 1
        if (n == a.length) { // heapify once full
          var i = n / 2 - 1
          while (i >= 0) { siftDown(i); i -= 1 }
        }
      } else if (weaker(a(0), v(0), adot, vecId)) {
        a(0) = adot; v(0) = vecId; siftDown(0)
      }
  }

  /** Per-query lookup table of partial dots against every codeword:
    * (query_id, sub, code, pdot) — nq × m × ksub rows. The declarative
    * twin of [[pqDriverLut]], kept as its equality-spec reference. */
  private[graft] def pqLut(queries: DataFrame, qIdCol: String, qEmbCol: String,
                           cw: DataFrame, dims: Int, m: Int): DataFrame =
    subvectors(queries, qIdCol, "query_id", qEmbCol, dims, m)
      .join(broadcast(cw), "sub")
      .select(col("query_id"), col("sub"), col("cid").as("code"),
        dotFold(col("sv"), col("cw")).as("pdot"))

  /** Pack [[pqEncode]]'s (vec_id, sub, code) rows to one m-length code
    * array per vector, in subspace order — the declarative path; at scale
    * prefer [[pqEncodePacked]], which emits this shape directly. */
  private[graft] def pqPack(codes: DataFrame): Dataset[(Long, Array[Long])] = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes
      .groupBy(col("vec_id").cast("long").as("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s("code").cast("long")).as("codes"))
      .as[(Long, Array[Long])]
  }

  /** Driver-collected codebook in primitive form: per sub, cids ASC and a
    * flat codeword table [cidIdx * dsub + d]. Tiny by construction
    * (m × ksub × dsub longs), so collecting it is the same contract as the
    * `broadcast(cw)` the declarative plans use. */
  private[graft] final case class PqBook(cids: Array[Array[Long]],
                                         cw: Array[Array[Long]], dsub: Int) {
    def ksub: Int = cids.foldLeft(0)((a, c) => math.max(a, c.length))
  }

  private[graft] def pqCollectBook(cw: DataFrame, dims: Int, m: Int): PqBook = {
    require(m > 0 && dims % m == 0, s"pq: dims $dims not divisible into $m subspaces")
    val dsub = dims / m
    val cwRows = cw.select(col("sub").cast("int"), col("cid").cast("long"), col("cw"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val cids: Array[Array[Long]] = (0 until m).map { s =>
      cwRows.filter(_._1 == s).map(_._2).sorted
    }.toArray
    val cwTab: Array[Array[Long]] = (0 until m).map { s =>
      cwRows.filter(_._1 == s).sortBy(_._2).flatMap(_._3)
    }.toArray
    require(cwTab.zipWithIndex.forall { case (t, s) => t.length == cids(s).length * dsub },
      s"pq: codebook has codewords of length != $dsub")
    PqBook(cids, cwTab, dsub)
  }

  /** Quantize one raw embedding in place, matching [[quantize]] exactly:
    * floor(x · 1000 + 0.5) on the double-cast value. */
  @inline private def quantizeInto(emb: Array[Double], out: Array[Long]): Unit = {
    var d = 0
    while (d < out.length) { out(d) = math.floor(emb(d) * 1000.0 + 0.5).toLong; d += 1 }
  }

  /** Fused corpus encode + pack: ONE map-only pass with the codebook
    * broadcast as primitive arrays — per vector, per subspace, integer
    * squared-L2 argmin over the codewords (ties to the smallest cid),
    * emitting the m codes as one array in subspace order. Row-identical to
    * [[pqPack]] ∘ [[pqEncode]] (spec-pinned) but skips the n × ksub × m
    * join rows through the interpreted sqDistFold (measured 22 s → ~1 s on
    * 96k × 64d at local[32]) and the pack shuffle: zero exchange over the
    * corpus scan, the shape that scales linearly with executors.
    *
    * Malformed rows (null embedding, null element, length ≠ dims) are
    * SKIPPED — a junk vector must not kill an ingest-scale job. (The
    * declarative reference produces undefined-garbage codes for such
    * rows via null-poisoned distances, so the row-identity spec applies
    * to well-formed rows; the fixtures contain only those.) */
  private[graft] def pqEncodePacked(corpus: DataFrame, idCol: String,
                                    embCol: String, cw: DataFrame,
                                    dims: Int, m: Int): Dataset[(Long, Array[Long])] =
    pqEncodePackedWith(corpus, idCol, embCol, pqCollectBook(cw, dims, m), dims, m)

  /** Well-formed (id, embedding) rows only: drops null arrays, null
    * elements, and wrong-arity vectors before the primitive encoders
    * (whose (Long, Array[Double]) decode would otherwise throw). */
  private def cleanVectors(df: DataFrame, idCol: String, embCol: String,
                           dims: Int): DataFrame = {
    val e = col(embCol).cast("array<double>")
    df.select(col(idCol).cast("long").as("__vid"), e.as("__e"))
      .filter(col("__e").isNotNull && size(col("__e")) === dims &&
        !toCol(graft.expr.ArrayHasNullExpr(toExpr(col("__e")))))
  }

  private def pqEncodePackedWith(corpus: DataFrame, idCol: String,
                                 embCol: String, book: PqBook,
                                 dims: Int, m: Int): Dataset[(Long, Array[Long])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = book.dsub
    // cids ASC + strict < scan in cid order ⇒ ties resolve to the smallest
    // cid, like the declarative plan's min(dc)
    val bc = spark.sparkContext.broadcast((book.cids, book.cw))
    cleanVectors(corpus, idCol, embCol, dims)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val (ids, tab) = bc.value
        val qv = new Array[Long](dims)
        it.map { case (vecId, emb) =>
          quantizeInto(emb, qv)
          val out = new Array[Long](m)
          var s = 0
          while (s < m) {
            val t = tab(s); val n = ids(s).length; val off = s * dsub
            var best = Long.MaxValue; var bestI = 0; var c = 0
            while (c < n) {
              var dist = 0L; var j = 0; val base = c * dsub
              while (j < dsub) {
                val diff = qv(off + j) - t(base + j); dist += diff * diff; j += 1
              }
              if (dist < best) { best = dist; bestI = c }
              c += 1
            }
            out(s) = ids(s)(bestI)
            s += 1
          }
          (vecId, out)
        }
      }
  }

  /** Driver-built ADC lookup table — the primitive twin of [[pqLut]]
    * (equality spec-pinned): per (query, sub, codeword), the partial dot
    * of the quantized query subvector against the codeword. nq × m × ksub
    * longs, the same broadcast-small-by-construction contract the
    * declarative plan's `broadcast(lut)` had — batch very large query sets
    * in chunks. Building it on the driver (nq × m × ksub × dsub mult-adds,
    * ~10 ms at 500 × 8 × 256 × 8) replaces a whole Spark job + 1M-row
    * collect that was ~half the measured fixed cost of the PQ leg.
    * Returns (sorted distinct query ids, flat [q][sub][cidIdx] table). */
  private[graft] def pqDriverLut(queries: DataFrame, qIdCol: String,
                                 qEmbCol: String, book: PqBook,
                                 dims: Int, m: Int): (Array[Long], Array[Long]) = {
    // malformed query rows skipped, like [[pqEncodePackedWith]]'s corpus side
    val rows = cleanVectors(queries, qIdCol, qEmbCol, dims)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).distinctBy(_._1)
    val nq = rows.length
    val ksub = book.ksub
    val dsub = book.dsub
    val table = new Array[Long](math.max(1, nq * m * ksub))
    val qv = new Array[Long](dims)
    var qi = 0
    while (qi < nq) {
      quantizeInto(rows(qi)._2, qv)
      var s = 0
      while (s < m) {
        val t = book.cw(s); val n = book.cids(s).length; val off = s * dsub
        var c = 0
        while (c < n) {
          var pdot = 0L; var j = 0; val base = c * dsub
          while (j < dsub) { pdot += qv(off + j) * t(base + j); j += 1 }
          table(qi * m * ksub + s * ksub + c) = pdot
          c += 1
        }
        s += 1
      }
      qi += 1
    }
    (rows.map(_._1), table)
  }

  /** ADC candidate scoring: per-query global top-`topR` by (adot desc,
    * vec_id asc), computed by the per-partition bounded-heap kernel —
    * output is numPartitions × nq × topR rows MAX (each partition's local
    * top-R; the union provably contains the global top-R). `packed` is one
    * m-length code array per vector in subspace order ([[pqEncodePacked]]
    * or [[pqPack]]); (`qIds`, `table`) from [[pqDriverLut]]; code values
    * resolve to table indices by binary search over the book's sorted
    * cids. */
  private def pqAdcCandidates(packed: Dataset[(Long, Array[Long])],
                              qIds: Array[Long], book: PqBook,
                              table: Array[Long],
                              m: Int, topR: Int): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    if (topR <= 0) // k = 0, refine = 0: empty result, not a 0-length heap
      return Seq.empty[(Long, Long, Long)].toDF("query_id", "vec_id", "adot")
    val bc = spark.sparkContext.broadcast((qIds, book.cids, table))
    packed.mapPartitions { it =>
      val (ids, cids, tab) = bc.value
      val n = ids.length
      val ks = if (n == 0) 0 else tab.length / math.max(1, n * m)
      val heaps = Array.fill(n)(new AdcTopR(topR))
      val idxs = new Array[Int](m)
      it.foreach { case (vecId, cs) =>
        var s = 0
        while (s < m) {
          val i = java.util.Arrays.binarySearch(cids(s), cs(s))
          require(i >= 0, s"pq: code ${cs(s)} in sub $s not in the codebook")
          idxs(s) = i; s += 1
        }
        var q = 0
        while (q < n) {
          var adot = 0L; var base = q * m * ks; var t = 0
          while (t < m) { adot += tab(base + idxs(t)); base += ks; t += 1 }
          heaps(q).offer(adot, vecId)
          q += 1
        }
      }
      (0 until n).iterator.flatMap { q =>
        val h = heaps(q)
        (0 until h.n).iterator.map(i => (ids(q), h.v(i), h.a(i)))
      }
    }.toDF("query_id", "vec_id", "adot")
  }

  /** PQ/ADC approximate top-k. Per query, a lookup table of partial dots
    * against every codeword (nq × m × ksub entries — broadcast-small by
    * construction, built on the driver by [[pqDriverLut]]); the corpus is
    * fused-encoded to one m-length code array per vector
    * ([[pqEncodePacked]], map-only) and scored by an ADC kernel per
    * partition: m table lookups + adds per (query, vector) into a bounded
    * per-query top-R heap, so only numPartitions × nq × R candidate rows
    * ever leave the scorer. (A declarative codes⋈LUT join computes the
    * same sums but must materialize nq × n × m join rows through a hash
    * aggregate with nq × n groups — measured 150.9 s vs the kernel path's
    * ~3 s on 500 × 96k, GC/spill-bound and parallelism-flat, the
    * [[triangleTasks]] lesson again; the row-wise [[pqEncode]] join alone
    * costs 22 s in interpreted sqDistFold where the fused kernel takes
    * ~1 s.) `refine` > 0 exact-rescores the top `refine` ADC candidates
    * with the true quantized dot ([[bruteTopK]]'s metric) — refine ≥
    * corpus size degenerates to exact (spec-pinned). k ≤ 0 returns an
    * empty frame. Malformed vectors are skipped ([[pqEncodePacked]]).
    * Output: query_id, rank, vec_id, adot (exact dot when refined).
    */
  def pqTopK(queries: DataFrame, qIdCol: String, qEmbCol: String,
             corpus: DataFrame, idCol: String, embCol: String,
             k: Int, dims: Int, m: Int, codeEvery: Long,
             refine: Int = 0,
             codebook: Option[DataFrame] = None): DataFrame = {
    val cw = codebook.getOrElse(pqCodewords(corpus, idCol, embCol, dims, m, codeEvery))
    val book = pqCollectBook(cw, dims, m)
    val packed = pqEncodePackedWith(corpus, idCol, embCol, book, dims, m)
    val (qIds, lutTable) = pqDriverLut(queries, qIdCol, qEmbCol, book, dims, m)
    val adc = pqAdcCandidates(packed, qIds, book, lutTable, m, math.max(refine, k))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adot").desc, col("vec_id"))
    val ranked = adc.withColumn("rank", row_number().over(w))
    if (refine <= 0)
      ranked.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("vec_id"), col("adot"))
    else {
      val q = queries.select(col(qIdCol).as("query_id"), quantize(col(qEmbCol)).as("q_emb"))
      val c = corpus.select(col(idCol).as("vec_id"), quantize(col(embCol)).as("c_emb"))
      val cand = ranked.filter(col("rank") <= math.max(refine, k))
        .select("query_id", "vec_id").join(broadcast(q), "query_id")
      // candidate side is nq × refine rows — broadcast it so the corpus
      // re-read stays shuffle-free (codes narrowed the field; this join
      // only fetches the survivors' full vectors)
      val rescored = c.join(broadcast(cand), "vec_id")
        .select(col("query_id"), col("vec_id"), dotFold(col("q_emb"), col("c_emb")).as("adot"))
      val w2 = Window.partitionBy(col("query_id")).orderBy(col("adot").desc, col("vec_id"))
      rescored.withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("vec_id"), col("adot"))
    }
  }

  /** Lloyd's k-means refinement of a PQ codebook, initialised from
    * `init` (e.g. [[pqCodewords]]). Each iteration is ONE distributed
    * assign+aggregate job over the training subvectors; the updated
    * codebook (m × ksub × dims/m longs — tiny by construction, like the
    * broadcast R-tree polygon side) is collected to the driver between
    * iterations so the plan never grows with `iters`. Centroid updates are
    * order-independent integer sums with a fixed rounding rule
    * (floor((2·sum + n) / (2·n))), so the result is deterministic at any
    * parallelism. Train on a bounded deterministic sample at 10^12 scale —
    * codebook quality saturates long before the corpus does.
    * Returns (refined codebook DF: sub, cid, cw; per-iteration objective =
    * Σ min-dist², non-increasing by Lloyd's argument on the same sample).
    */
  def pqRefineCodebook(corpus: DataFrame, idCol: String, embCol: String,
                       init: DataFrame, dims: Int, m: Int,
                       iters: Int): (DataFrame, Seq[Long]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dims / m
    val sv = subvectors(corpus, idCol, "vec_id", embCol, dims, m)
      .select(col("sub"), col("sv")).localCheckpoint()
    var book: Array[(Int, Long, Seq[Long])] = init
      .select(col("sub").cast("int"), col("cid").cast("long"), col("cw"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2)))
    val objectives = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 0 until iters) {
      val bookDf = book.toSeq.toDF("sub", "cid", "cw")
      val assigned = sv.join(broadcast(bookDf), "sub")
        .select(col("sub"), col("sv"),
          struct(sqDistFold(col("sv"), col("cw")).as("dist"), col("cid").as("cid")).as("dc"))
        .groupBy(col("sub"), col("sv")).agg(min(col("dc")).as("m"), count(lit(1)).as("n"))
        .select(col("sub"), col("sv"), col("m.dist").as("dist"), col("m.cid").as("cid"), col("n"))
      // one pass: objective + per-(sub, cid, dim) integer sums and counts
      val stats = assigned
        .select(col("sub"), col("cid"), (col("dist") * col("n")).as("wdist"), col("n"),
          posexplode(col("sv")).as(Seq("d", "v")))
        .groupBy(col("sub"), col("cid"), col("d"))
        .agg(sum(col("v") * col("n")).as("s"), sum(col("n")).as("cnt"),
          sum(col("wdist")).as("wd"))
        .collect()
      objectives += stats.filter(_.getInt(2) == 0).map(_.getLong(5)).sum
      val byKey = stats.map { r =>
        ((r.getInt(0), r.getLong(1), r.getInt(2)), (r.getLong(3), r.getLong(4)))
      }.toMap
      book = book.map { case (s, cid, old) =>
        val comps = (0 until dsub).map { d =>
          byKey.get((s, cid, d)) match {
            case Some((sum0, n)) => Math.floorDiv(2L * sum0 + n, 2L * n)
            case None            => old(d) // empty cluster keeps its codeword
          }
        }
        (s, cid, comps)
      }
    }
    (book.toSeq.toDF("sub", "cid", "cw"), objectives.toSeq)
  }
}
