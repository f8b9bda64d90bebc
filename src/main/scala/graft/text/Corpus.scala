package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Corpus-assembly operators for large-scale training-data pipelines —
  * the steps BETWEEN dedup and the trainer: benchmark decontamination,
  * deterministic dataset splits, per-domain quota sampling, and
  * token-budget shard packing. Like [[TextOps]], every operator is
  * builtin-composed (codegen'd, no UDFs) with exact cross-engine
  * semantics, so each has a DuckDB oracle.
  *
  * Reference scope note: go-osm has no corpus stage (it is a planet-file
  * filter engine, main.go:139–196); these are the engine-addition
  * operators the brief's training-data pipeline axis calls for.
  */
object Corpus {

  /** Modulus of [[mixHash]] — shared with [[TextOps.FingerprintP]]. */
  val MixP: Long = TextOps.FingerprintP
  /** Knuth's multiplicative constant (2^32 / φ), the [[mixHash]] mixer. */
  val MixA: Long = 2654435761L

  /** Engine-independent, overflow-free mix hash of an integer id:
    * `((id mod P) · A) mod P`. Reducing mod P FIRST bounds the product by
    * (P−1)·A ≈ 2.7e18 < 2^63, so the arithmetic never overflows for ANY
    * int64 id — a plain `id · A` would overflow past |id| ≈ 3.5e9, i.e.
    * exactly at the 10^12-row scale this engine targets. pmod keeps
    * negative ids well-defined and identical to the SQL mirror.
    */
  def mixHash(id: Column): Column =
    pmod(pmod(id, lit(MixP)) * lit(MixA), lit(MixP))

  /** The SQL mirror of [[mixHash]] for oracle queries (DuckDB `%` matches
    * pmod for the non-negative left sides produced by the inner mod).
    */
  def mixHashSql(idExpr: String): String =
    s"((($idExpr % $MixP + $MixP) % $MixP) * $MixA) % $MixP"

  // ---- deterministic splits ---------------------------------------------------

  /** Deterministic train/val/test assignment: bucket = [[mixHash]](id) mod
    * 10000, split = the first label whose cumulative weight (in basis
    * points) exceeds the bucket. Pure per-row arithmetic — no shuffle, no
    * RNG, stable under repartitioning, re-runs, and appends (a new row's
    * split never depends on what else is in the table), which is the
    * property actual training pipelines need from a split: re-ingesting
    * the corpus must not migrate documents across the train/eval boundary.
    * `splits` are (label, basis points) and must sum to 10000.
    */
  def splitAssign(df: DataFrame, idCol: String,
                  splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 10000,
      s"split weights must sum to 10000 bp: ${splits.map(_._2).sum}")
    val bucket = mixHash(col(idCol)) % lit(10000L)
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((label, _), hi), acc) => when(bucket < hi, lit(label)).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  // ---- benchmark decontamination ------------------------------------------------

  /** Ids of training documents sharing at least one character n-gram with
    * any benchmark document — the standard n-gram-overlap eval-set
    * decontamination test. Scale shape: the benchmark shingle set is
    * small by contract (eval sets are ~10^5 docs vs 10^12 train), so it is
    * distinct-ed and BROADCAST; the train side's exploded shingle frame is
    * then consumed map-side by the left-semi join — the 10^12-row
    * explosion never crosses an exchange, and only the (tiny) surviving
    * id set is shuffled for its distinct. Exact string comparison, no
    * hashing — zero false positives/negatives at the n-gram bar.
    */
  def contaminatedIds(train: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, n: Int): DataFrame = {
    // the bench side gets the same few-split parallelism floor as train:
    // an eval set typically arrives as ONE small file, and its shingle
    // explode + distinct map side (the broadcast build job) otherwise runs
    // on a single core
    val benchSh = Dedup.shingles(Dedup.spreadToCores(bench), idCol, textCol, n)
      .select(col("shingle")).distinct()
    // the train-side explode + broadcast probe is map-only by design
    // (nothing crosses an exchange before the semi-join), so its
    // parallelism IS the scan's — floor it at the core count for
    // few-split inputs (identity at scale, where the input arrives as
    // thousands of splits; measured 3.2 s single-task → ~0.3 s at 32
    // cores on the sf0.1 corpus-assemble leg)
    Dedup.explodedShingles(Dedup.spreadToCores(train), idCol, textCol, n, Nil)
      .join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** [[contaminatedIds]] as a flag column on the full train frame:
    * adds `contaminated: boolean`. The contaminated-id join is NOT
    * broadcast-hinted: the id set is usually tiny but is unbounded in the
    * worst case (benchmark boilerplate shared with a large train fraction
    * makes it O(|train|), past any broadcast limit) — AQE broadcasts it
    * when it measures small and falls back to a shuffle join when it
    * doesn't, which is exactly the wanted behavior. Only the
    * benchmark-shingle set inside [[contaminatedIds]] is small by
    * CONTRACT and keeps its explicit broadcast.
    */
  def contaminationFlags(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    val ids = contaminatedIds(train, bench, idCol, textCol, n)
      .withColumn("__cont", lit(true))
    train.join(ids, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__cont"), lit(false)))
      .drop("__cont")
  }

  /** Training rows with every contaminated document removed. Join
    * strategy left to AQE — see [[contaminationFlags]].
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    train.join(contaminatedIds(train, bench, idCol, textCol, n),
      Seq(idCol), "left_anti")

  // ---- per-domain quota sampling --------------------------------------------------

  /** Keep at most `k` documents per domain, selected deterministically by
    * [[mixHash]] order (id tie-break) — the domain-cap step that keeps one
    * giant crawl domain from dominating a mixture. Exactly-k (not a
    * probabilistic threshold), and the kept set is stable under
    * repartitioning because the order key is a pure function of the id.
    *
    * Scale shape: ONE hash exchange on the domain column feeds both the
    * sort and the row_number (Spark plans the window as
    * exchange+sort+window). Domain skew (the reason this operator exists)
    * is real at 10^12 rows: a single-domain partition is processed by one
    * task. AQE cannot split a window partition, so for pathological
    * domains pre-filter with a cheap upper bound first — e.g. keep only
    * rows with mixHash < (quantile bound) per domain from a broadcast
    * count frame — then apply this exact pass on the survivors; the
    * composition stays exactly-k.
    */
  def quotaSample(df: DataFrame, domainCol: String, idCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"quota must be >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(mixHash(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Map-side survivor cut for [[quotaSample]]: within each INPUT
    * partition, keep only each domain's `k` smallest (mixHash, id) rows —
    * a bounded per-domain max-heap in one `mapPartitions` pass, NO
    * shuffle. Every row of the global per-domain top-k survives its own
    * partition's cut (the same partition-invariance argument as the kNN
    * partial top-k), so composing the exact window after this prefilter
    * is output-identical.
    *
    * Honest accounting of what this buys (from the executed plans):
    * Catalyst's `InferWindowGroupLimit` (Spark 3.5+) ALREADY inserts a
    * partial WindowGroupLimit below [[quotaSample]]'s exchange, so the
    * shuffle was never the skew exposure — both forms ship ≤ k rows per
    * (domain, input partition). What the partial WGL needs that this
    * prefilter does not is a FULL in-partition sort by (domain, hash, id)
    * first — O(n log n) comparisons on string-prefixed keys and a sort
    * buffer over the whole partition. The heap cut is O(n log k) with
    * k-bounded state per domain and no sort, which is the difference that
    * matters when n/partition is 10^7 at the 10^12-row target. Returns
    * the survivor frame with the input schema.
    */
  def quotaPrefilter(df: DataFrame, domainCol: String, idCol: String,
                     k: Int, maxDomains: Int = 1 << 16): DataFrame = {
    require(k >= 1, s"quota must be >= 1: $k")
    require(maxDomains >= 1, s"maxDomains must be >= 1: $maxDomains")
    val spark = df.sparkSession
    val schema = df.schema
    val domIdx = schema.fieldIndex(domainCol)
    val idIdx = schema.fieldIndex(idCol)
    require(schema(domIdx).dataType == org.apache.spark.sql.types.StringType,
      s"$domainCol must be string: ${schema(domIdx).dataType}")
    require(schema(idIdx).dataType == org.apache.spark.sql.types.LongType,
      s"$idCol must be bigint: ${schema(idIdx).dataType}")
    val rdd = org.apache.spark.sql.graftbridge.Bridge.internalRdd(df)
      .mapPartitions { it =>
        // per-domain bounded max-heap of (h, id) with the row riding along;
        // heap root = worst kept, so a non-qualifying row costs one compare
        final class Heap {
          val h = new Array[Long](k)
          val id = new Array[Long](k)
          val row = new Array[org.apache.spark.sql.catalyst.InternalRow](k)
          var n = 0
          @inline def worse(h1: Long, i1: Long, h2: Long, i2: Long): Boolean =
            h1 > h2 || (h1 == h2 && i1 > i2)
          def offer(hv: Long, iv: Long,
                    r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
            if (n < k) {
              var c = n; h(c) = hv; id(c) = iv; row(c) = r.copy(); n += 1
              while (c > 0 && worse(h(c), id(c), h((c - 1) / 2), id((c - 1) / 2))) {
                val p = (c - 1) / 2
                val th = h(c); val ti = id(c); val tr = row(c)
                h(c) = h(p); id(c) = id(p); row(c) = row(p)
                h(p) = th; id(p) = ti; row(p) = tr
                c = p
              }
            } else if (worse(h(0), id(0), hv, iv)) {
              h(0) = hv; id(0) = iv; row(0) = r.copy()
              var c = 0
              var go = true
              while (go) {
                val l = 2 * c + 1; val rr = 2 * c + 2
                var m = c
                if (l < n && worse(h(l), id(l), h(m), id(m))) m = l
                if (rr < n && worse(h(rr), id(rr), h(m), id(m))) m = rr
                if (m == c) go = false
                else {
                  val th = h(c); val ti = id(c); val tr = row(c)
                  h(c) = h(m); id(c) = id(m); row(c) = row(m)
                  h(m) = th; id(m) = ti; row(m) = tr
                  c = m
                }
              }
            }
          }
        }
        // Safety valves, both relying on the superset contract (the exact
        // window downstream cuts, so emitting EXTRA rows is always
        // correct): rows with a null domain or null id pass straight
        // through untouched — the window owns null-group/null-order
        // semantics, and getLong on a null id would silently misrank it as
        // 0; and the per-domain heap state is capped at `maxDomains`
        // distinct domains per partition — past that (near-unique domain
        // columns, where the heap would copy the whole partition on-heap
        // with no spill path) new domains degrade to pass-through while
        // already-tracked domains keep their bound.
        // UTF8String keys: lookups probe with the TRANSIENT string (points
        // into the row buffer — hashCode/equals don't need a copy), and
        // only a first-seen domain pays a defensive copy + insert. The
        // String-per-row alternative allocates and transcodes on every
        // single row of the 10^7-rows/partition target shape.
        val byDom = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Heap]
        val out = it.flatMap { r =>
          if (r.isNullAt(domIdx) || r.isNullAt(idIdx)) Iterator.single(r.copy())
          else {
            val dom = r.getUTF8String(domIdx)
            val existing = byDom.get(dom)
            if (existing == null && byDom.size >= maxDomains) Iterator.single(r.copy())
            else {
              val iv = r.getLong(idIdx)
              val hv = ((iv % MixP + MixP) % MixP) * MixA % MixP
              val heap =
                if (existing != null) existing
                else { val h = new Heap; byDom.put(dom.copy(), h); h }
              heap.offer(hv, iv, r)
              Iterator.empty
            }
          }
        }
        import scala.jdk.CollectionConverters._
        out ++ byDom.values().iterator().asScala
          .flatMap(hp => hp.row.iterator.take(hp.n))
      }
    org.apache.spark.sql.graftbridge.Bridge.internalDf(spark, rdd, schema)
  }

  /** [[quotaSample]] with the skew cap armed: the map-side
    * [[quotaPrefilter]] bounds what reaches the window's domain exchange,
    * then the exact window runs on the survivors. Output-identical to
    * [[quotaSample]] (CorpusSpec proves equality on a skewed fixture at
    * several partitionings); use this form when a single domain can be a
    * significant fraction of the table.
    */
  def quotaSampleSkewSafe(df: DataFrame, domainCol: String, idCol: String,
                          k: Int): DataFrame =
    quotaSample(quotaPrefilter(df, domainCol, idCol, k), domainCol, idCol, k)

  // ---- end-to-end assembly ----------------------------------------------------------

  /** The END-TO-END corpus assembly users actually run — every stage of
    * the library composed in pipeline order:
    *
    *  1. exact dedup: keep a document iff its id is the minimum of its
    *     normalized-content group ([[graft.dedup.Dedup.normKey]]);
    *  2. benchmark decontamination at the `shingleN`-gram bar
    *     ([[decontaminate]] — broadcast semi-join, train side map-only);
    *  3. per-domain quota, skew-safe form ([[quotaSampleSkewSafe]]);
    *  4. deterministic split assignment ([[splitAssign]]);
    *  5. token-budget shard packing scoped per split ([[packBudget]]
    *     `within = split` — train and eval never share a shard).
    *
    * Output: (idCol, domainCol, split, bucket, pack), one row per
    * surviving document. Every stage is deterministic pure-hash
    * arithmetic, so the assembled corpus is reproducible byte-for-byte
    * across re-runs, repartitioning, and appends — and the whole
    * composition has a single DuckDB oracle (q51).
    */
  def assemble(docs: DataFrame, bench: DataFrame, idCol: String,
               textCol: String, domainCol: String, costCol: String,
               shingleN: Int, quota: Int, splits: Seq[(String, Int)],
               budget: Long, buckets: Int): DataFrame = {
    // Contamination is a PER-DOCUMENT text property, independent of which
    // group member dedup elects — so flag it BEFORE the dedup window and
    // conjoin the filters. The naive order (dedup, then decontaminate the
    // keepers) consumes the deduped frame on both sides of the
    // decontamination join and Catalyst cannot reuse the exchange (the
    // two sides prune different columns), so the full-corpus window
    // shuffle on ~100-char normalized-text keys would run TWICE — the
    // single most expensive exchange in the pipeline. Flag-first keeps the
    // double-consumed subtree down at the raw scan (plan-audited: one
    // Window, identical output).
    // few-split floor on the train frame itself: the window's MAP side
    // (scan + regex normKey + exchange write) otherwise inherits the doc
    // scan's single split — the explicit reduce-width repartition below
    // cannot widen the stage that feeds it. The contamination probe gets
    // the RAW docs frame (contaminatedIds spreads its own branch, and
    // spreadToCores leaves an exchange-bearing frame at its exchange's
    // width); only the flag-join/window branch reads the spread frame,
    // with the flag join inlined here.
    val spread = Dedup.spreadToCores(docs)
    val contIds = contaminatedIds(docs, bench, idCol, textCol, shingleN)
      .withColumn("__cont", lit(true))
    val flagged = spread.join(contIds, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__cont"), lit(false)))
      .drop("__cont")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Dedup.normKey(col(textCol)))
    // explicit partition count on the dedup window's exchange: its key is
    // a COMPUTED ~text-length string (regex-normalized), so every row
    // carries the full text and every sort compare walks long keys —
    // compute-per-byte that AQE's byte-based coalescing squeezes onto one
    // core on a small input. The explicit count (exempt from coalescing)
    // keeps the window at cluster parallelism; the window's required
    // distribution is exactly this hash clustering, so no second exchange
    // appears (plan-audited).
    val nPart = Dedup.clusterWidth(docs.sparkSession)
    val clean = flagged.repartition(nPart, Dedup.normKey(col(textCol)))
      .withColumn("__canon", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__canon") && !col("contaminated"))
      .drop("__canon", "contaminated")
    // textCol is dead after the dedup window, but quotaSampleSkewSafe's
    // prefilter is an RDD barrier Catalyst cannot prune through and its
    // heaps copy full rows — project the multi-KB text away NOW or it
    // rides the quota heaps and the window exchange for nothing
    val capped = quotaSampleSkewSafe(
      clean.select(col(idCol), col(domainCol), col(costCol)),
      domainCol, idCol, quota)
    val withSplit = splitAssign(capped, idCol, splits)
    packBudget(withSplit, idCol, costCol, budget, buckets,
      within = Seq("split"))
      .select(col(idCol), col(domainCol), col("split"), col("bucket"),
        col("pack"))
  }

  // ---- mixture-epoch expansion ----------------------------------------------------

  /** Deterministic mixture up/down-sampling: each document is emitted
    * `weight` times in expectation, where `weight` is its domain's epoch
    * count in basis points (25000 = 2.5 epochs, 2500 = keep 1 in 4). The
    * integer part replicates whole copies; the fractional part emits one
    * extra copy iff [[mixHash]](id) mod 10000 < frac — so a 2.5-epoch
    * domain gets exactly 2 or 3 copies per doc, deterministically by id,
    * and a 0.25-epoch domain keeps exactly the docs a [[splitAssign]]-style
    * bucket selects. Output repeats the input row with `epoch` = 1..reps
    * (docs with reps = 0 are dropped). Pure per-row arithmetic + explode:
    * no shuffle, append-stable, and re-runs produce the identical corpus —
    * the property mixture builders need so shard hashes are reproducible.
    * Domains absent from `weightsBp` default to 10000 (one epoch).
    */
  def mixtureExpand(df: DataFrame, idCol: String, domainCol: String,
                    weightsBp: Map[String, Int]): DataFrame = {
    require(weightsBp.values.forall(_ >= 0), "epoch weights must be >= 0")
    val w = weightsBp.foldRight(lit(10000): Column) { case ((dom, bp), acc) =>
      when(col(domainCol) === dom, lit(bp)).otherwise(acc)
    }
    val reps = (w / lit(10000)).cast("int") +
      when(mixHash(col(idCol)) % lit(10000L) < (w % lit(10000)).cast("long"), lit(1))
        .otherwise(lit(0))
    // sequence(1, 0) DESCENDS in Spark (it would emit epochs 1 and 0):
    // guard reps = 0 with an explicit empty array so the row is dropped
    val epochs = when(reps >= 1, sequence(lit(1), reps))
      .otherwise(array().cast("array<int>"))
    df.withColumn("epoch", explode(epochs))
  }

  // ---- token-budget shard packing -------------------------------------------------

  /** Concat-and-chunk shard assignment: documents are bucketed by
    * [[mixHash]](id) mod `buckets`, ordered within each bucket by
    * (mixHash, id), and cut into packs of at most `budget` cost by the
    * exclusive running sum — `pack = floor((cumsum − cost) / budget)`,
    * the standard "concatenate documents, then chunk every `budget`
    * tokens" assignment of LLM pre-training shard builders (a document
    * that crosses a boundary starts the pack that its first token lands
    * in). Output adds `bucket` and `pack` (pack numbering restarts per
    * bucket; (bucket, pack) is the shard key).
    *
    * Scale shape: the window is PARTITIONED BY bucket, so the job is one
    * hash exchange on bucket and then `buckets`-way parallel — never a
    * global single-task sort. Size `buckets` so a bucket's rows fit a
    * task comfortably (10^12 rows / 10^5 buckets = 10^7 rows/task);
    * because bucket membership is a pure id function, assignments are
    * deterministic and append-stable per bucket. `cost` is any
    * non-negative integer column (token count, byte length, n_chars).
    * The running sum stays < rows·maxCost ≈ 2^53 at any realistic scale,
    * so the floor-division through double is exact.
    */
  def packBudget(df: DataFrame, idCol: String, costCol: String,
                 budget: Long, buckets: Int,
                 within: Seq[String] = Nil,
                 tieBreak: Seq[String] = Nil): DataFrame = {
    require(budget >= 1, s"budget must be >= 1: $budget")
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    // `within` scopes shards to a grouping (e.g. the split label: train
    // and eval documents must never share a shard) — pack numbering
    // restarts per (within…, bucket). `tieBreak` extends the order for
    // callers whose idCol is NOT unique (e.g. a 64-bit surrogate of a
    // string id: birthday collisions tie the sort, and Spark then breaks
    // the tie by arrival order — non-deterministic across runs).
    val order = (Seq(mixHash(col(idCol)), col(idCol)) ++ tieBreak.map(col))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((within :+ "bucket").map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("bucket", mixHash(col(idCol)) % lit(buckets.toLong))
      .withColumn("__cum", sum(col(costCol).cast("long")).over(w))
      .withColumn("pack",
        floor((col("__cum") - col(costCol).cast("long")).cast("double") / lit(budget.toDouble))
          .cast("long"))
      .drop("__cum")
  }
}
