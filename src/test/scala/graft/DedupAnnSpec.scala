package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.ann.Ann
import graft.functions.GeoFunctions

/** Dedup family on planted duplicates + ANN recall vs brute force. */
class DedupAnnSpec extends SparkSpecBase {

  import spark.implicits._

  /** corpus with planted near-dup clusters: base docs + mutated copies */
  private lazy val docs = {
    val base = (0 until 40).map { i =>
      val words = (0 until 60).map(j => s"w${GeoFixtures_mix(i * 97L + j) % 50}")
      (i.toLong, words.mkString(" "))
    }
    val mutated = (0 until 40).map { i =>
      val (id, text) = base(i)
      val words = text.split(" ")
      // mutate 3 words -> high jaccard near-dup of the base doc
      val m = words.zipWithIndex.map { case (w, j) =>
        if (j % 20 == 5) s"z$j" else w }
      (id + 1000L, m.mkString(" "))
    }
    val exact = Seq((2000L, base(0)._2), (2001L, base(1)._2)) // exact dups
    (base ++ mutated ++ exact).toDF("doc_id", "text").cache()
  }

  private def GeoFixtures_mix(v: Long): Long = math.abs(graft.geo.GeoFixtures.mix(v))

  test("exact dedup groups exact duplicates to the minimum id") {
    val res = Dedup.exactCanonical(docs, "doc_id", col("text"))
    val dup0 = res.filter(col("doc_id") === 2000L).collect()(0)
    assert(dup0.getAs[Long]("canonical_id") === 0L)
    assert(dup0.getAs[Long]("group_n") === 2L)
    val solo = res.filter(col("doc_id") === 5L).collect()(0)
    assert(solo.getAs[Long]("canonical_id") === 5L)
  }

  test("ngram jaccard finds each planted near-dup pair") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val pairs = Dedup.jaccardPairs(sh, "doc_id", Nil)
      .filter(col("jaccard") >= 0.6)
      .select("id_1", "id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 40).foreach { i =>
      assert(pairs.contains((i.toLong, i + 1000L)), s"missing planted pair $i")
    }
  }

  test("minhash LSH candidates contain all high-jaccard pairs; verify filters") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val sigs = Dedup.minhashSignatures(sh, "doc_id", 5, 8)
    val cand = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact dups share every minhash -> always candidates
    assert(cand.contains((0L, 2000L)))
    assert(cand.contains((1L, 2001L)))
    // planted near-dups (jaccard ~0.85): recall across 40 pairs should be high
    val found = (0 until 40).count(i => cand.contains((i.toLong, i + 1000L)))
    assert(found >= 32, s"LSH recall too low: $found/40")
  }

  test("packed shingles/signatures equal the row-frame forms") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val packed = Dedup.packedShingles(docs, "doc_id", "text", 5)
    // packed array contents == the row frame's distinct shingle set per doc
    val fromRows = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("shingle"))).as("__shs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val fromPacked = packed
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fromPacked === fromRows)
    // signatures: identical rows from both forms
    def sigSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id") +: ((0 until 8).map(j => col(s"mh_$j")) :+ col("n_sh")): _*)
      .collect().map(_.toSeq).toSet
    assert(sigSet(Dedup.minhashSignaturesPacked(packed, "doc_id", 5, 8)) ===
      sigSet(Dedup.minhashSignatures(sh, "doc_id", 5, 8)))
  }

  test("sorted_intersect_count matches a Set-intersection oracle") {
    // random sorted distinct arrays incl. empties, non-ascii, shared prefixes
    val rows = (0 until 200).map { i =>
      val r = new scala.util.Random(i)
      def arr() = (0 until r.nextInt(12)).map { _ =>
        val pool = Seq("a", "ab", "abc", "ü", "üx", "日本", "z1", "z2", "", "qq")
        pool(r.nextInt(pool.length))
      }.distinct.sorted
      (arr(), arr())
    }
    val df = rows.toDF("a", "b")
      .select(sort_array(col("a")).as("a"), sort_array(col("b")).as("b"))
    val got = df.select(GeoFunctions.sorted_intersect_count(col("a"), col("b")))
      .collect().map(_.getInt(0))
    val want = rows.map { case (a, b) => a.toSet.intersect(b.toSet).size }
    assert(got.toSeq === want)
    // null in, null out (nullIntolerant)
    val n = Seq((Some(Seq("a")), Option.empty[Seq[String]])).toDF("a", "b")
      .select(GeoFunctions.sorted_intersect_count(col("a"), col("b")))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("packed verifyCandidates equals the exploded-join reference") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val sigs = Dedup.minhashSignatures(sh, "doc_id", 5, 8)
    val cand = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
    // reference: the pre-packed formulation — explode candidates against the
    // (id, shingle) frame, count matches, re-attach sizes
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("id_1"), col("shingle"))
    val b = sh.select(col("doc_id").as("id_2"), col("shingle"))
    val want = cand.join(a, "id_1").join(b, Seq("id_2", "shingle"))
      .groupBy(col("id_1"), col("id_2")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("id_1"), col("n").as("n_1")), "id_1")
      .join(sizes.select(col("doc_id").as("id_2"), col("n").as("n_2")), "id_2")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_1") + col("n_2") - col("n_inter")))
      .filter(col("jaccard") >= 0.3)
      .select("id_1", "id_2", "n_inter", "n_1", "n_2", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    val got = Dedup.verifyCandidates(sh, "doc_id", cand, 0.3)
      .select("id_1", "id_2", "n_inter", "n_1", "n_2", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("cluster labels collapse planted near-dup groups to the minimum id") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val pairs = Dedup.jaccardPairs(sh, "doc_id", Nil).filter(col("jaccard") >= 0.6)
    val labels = Dedup.clusterLabels(pairs, "id_1", "id_2", docs, "doc_id", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 40).foreach { i =>
      assert(labels(i + 1000L) === labels(i.toLong), s"pair $i split across clusters")
    }
    // exact dups chain through their base docs (0-1000-2000 triangle)
    assert(labels(2000L) === labels(0L) && labels(0L) === 0L)
    assert(labels(2001L) === labels(1L) && labels(1L) === 1L)
    // untouched docs keep their own label
    val clustered = (0 until 40).flatMap(i => Seq(i.toLong, i + 1000L)).toSet ++ Set(2000L, 2001L)
    labels.filterNot(kv => clustered(kv._1)).foreach { case (id, c) =>
      assert(c === id, s"singleton $id relabeled to $c")
    }
  }

  test("size-bucketed LSH: completeness on real docs, subset of plain banding") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val sigs = Dedup.minhashSignatures(sh, "doc_id", 5, 8)
    val plain = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Dedup.lshCandidatesSizeBucketed(sigs, "doc_id", 8, 2,
      sizeCol = "n_sh", threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucketing only ever REMOVES candidates…
    assert(bucketed.subsetOf(plain), s"bucketing invented pairs: ${bucketed -- plain}")
    // …and loses nothing within the feasible size ratio: here every doc has
    // the same shape, so the candidate sets must be identical
    assert(bucketed === plain)
    (0 until 40).foreach { i =>
      assert(bucketed.contains((i.toLong, i + 1000L)), s"planted pair $i lost")
    }
  }

  test("size-bucketed LSH drops only size-infeasible pairs (hand-built sigs)") {
    // signatures made by hand: three docs share every band key; sizes 100
    // and 300 are within ratio 4 (J >= 0.25 still possible), size 10000 is
    // not — J <= min/max = 0.01 < 0.25, so dropping that pair is lossless
    val sigs = Seq(
      (1L, 11L, 22L, 33L, 44L, 55L, 66L, 77L, 88L, 100L),
      (2L, 11L, 22L, 33L, 44L, 55L, 66L, 77L, 88L, 300L),
      (3L, 11L, 22L, 33L, 44L, 55L, 66L, 77L, 88L, 10000L))
      .toDF("doc_id", "mh_0", "mh_1", "mh_2", "mh_3", "mh_4", "mh_5", "mh_6", "mh_7", "n_sh")
    val plain = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val bucketed = Dedup.lshCandidatesSizeBucketed(sigs, "doc_id", 8, 2,
      sizeCol = "n_sh", threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed === Set((1L, 2L)))
    // at a looser bar the ratio window widens and 300 vs 10000 stays gone
    val loose = Dedup.lshCandidatesSizeBucketed(sigs, "doc_id", 8, 2,
      sizeCol = "n_sh", threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === Set((1L, 2L)))
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sims = Dedup.simhash(docs, "doc_id", "text", bits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) === sims(2000L))
    val dists = (0 until 40).map(i =>
      java.lang.Long.bitCount(sims(i.toLong) ^ sims(i + 1000L)))
    assert(dists.count(_ <= 4) >= 32, s"simhash near-dup distances too large: $dists")
  }

  // ---- exact Hamming near-dup (pigeonhole banding) -----------------------------

  /** clustered 64-bit fingerprints: seeds + satellites at 1..5 bit flips,
    * plus two exact copies so maxDist=0 is non-trivial
    */
  private lazy val hashCorpus: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    val seeds = (0 until 30).map(i => (i.toLong, rnd.nextLong()))
    val sats = seeds.flatMap { case (id, h) =>
      (1 to 3).map { j =>
        var v = h
        (0 until j + 2).foreach(_ => v ^= 1L << rnd.nextInt(64))
        (1000L + id * 10 + j, v)
      }
    }
    seeds ++ sats ++ Seq((2000L, seeds(0)._2), (2001L, seeds(1)._2))
  }

  private def bruteHamming(all: Seq[(Long, Long)], d: Int): Set[(Long, Long, Int)] =
    (for {
      (i1, h1) <- all; (i2, h2) <- all
      if i1 < i2
      dist = java.lang.Long.bitCount(h1 ^ h2)
      if dist <= d
    } yield (i1, i2, dist)).toSet

  test("hammingNearDupPairs equals the brute-force all-pairs oracle (64-bit)") {
    val df = hashCorpus.toDF("id", "h")
    for (d <- Seq(0, 2, 5)) {
      val got = Dedup.hammingNearDupPairs(df, "id", "h", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val exp = bruteHamming(hashCorpus, d)
      assert(exp.nonEmpty, s"fixture must plant pairs at maxDist=$d")
      assert(got === exp, s"maxDist=$d")
    }
  }

  test("hammingNearDupPairs: 16-bit hashes with uneven band widths") {
    // 16 bits / 3 bands -> widths 5,5,6: exercises the integer band split
    val narrow = hashCorpus.map { case (id, h) => (id, h & 0xffffL) }
    val got = Dedup.hammingNearDupPairs(narrow.toDF("id", "h"), "id", "h",
        maxDist = 2, bits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === bruteHamming(narrow, 2))
  }

  test("hammingNearDupPairs: mega-bucket guard is output-identical") {
    // 300 identical fingerprints blow every band bucket past the cap;
    // the triangle guard must produce the same 300*299/2 pairs
    val clones = (0 until 300).map(i => (i.toLong, 0x5a5a5a5aL))
    val df = clones.toDF("id", "h")
    val plain = Dedup.hammingNearDupPairs(df, "id", "h", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val guarded = Dedup.hammingNearDupPairs(df, "id", "h", maxDist = 1,
        bucketCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(plain.size === 300 * 299 / 2)
    assert(guarded === plain)
  }

  // ---- ANN -------------------------------------------------------------------

  private lazy val embeddings = {
    // 8 clusters of 25 vectors in 16 dims
    val rows = (0 until 200).map { i =>
      val c = i % 8
      val v = (0 until 16).map { d =>
        val centroid = if (d % 8 == c) 1.0f else 0.0f
        centroid + (GeoFixtures_mix(i * 31L + d) % 1000).toFloat / 5000.0f
      }
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding").cache()
  }

  test("bruteTopK matches a manual quantized-dot oracle exactly") {
    val all = embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000.0)).toArray)
    val q = embeddings.filter(col("vec_id") < 8)
    val got = Ann.bruteTopK(q, "vec_id", "embedding", embeddings, "vec_id", "embedding", 5)
      .select("query_id", "rank", "vec_id", "dot").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val expected = all.filter(_._1 < 8).flatMap { case (qid, qv) =>
      all.map { case (vid, cv) =>
        (qid, vid, qv.zip(cv).map { case (a, b) => a * b }.sum)
      }.sortBy { case (_, vid, dot) => (-dot, vid) }
        .take(5).zipWithIndex
        .map { case ((q0, vid, dot), i) => (q0, i + 1, vid, dot) }
    }.toSet
    assert(got === expected)
  }

  test("cosineTopK rank-1 is an exact or same-cluster match") {
    val q = embeddings.filter(col("vec_id") < 8)
    val res = Ann.cosineTopK(q, "vec_id", "embedding", embeddings, "vec_id", "embedding", 3)
    val byQ = res.filter(col("rank") <= 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
    byQ.foreach { case (q0, vs) =>
      assert(vs.forall(v => v % 8 == q0 % 8), s"top-3 of $q0 left its cluster: $vs")
    }
  }

  test("LSH top-k recall@10 vs brute force >= 0.7 with radius-1 probing") {
    val q = embeddings.filter(col("vec_id") % 25 === 0)
    val brute = Ann.bruteTopK(q, "vec_id", "embedding", embeddings, "vec_id", "embedding", 10)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(q, "vec_id", "embedding", embeddings, "vec_id", "embedding",
      k = 10, bits = 10, dims = 16, probeRadius = 1)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall")
  }

  /** embeddings plus 10 planted near-identical copies of vectors 0..9 */
  private lazy val nearDupCorpus = {
    val planted = (0 until 10).map { i =>
      val base = embeddings.filter(col("vec_id") === i.toLong)
        .collect()(0).getSeq[Float](1)
      (3000L + i, base.map(x => x + 0.001f))
    }
    embeddings.union(planted.toDF("vec_id", "embedding")).cache()
  }

  /** test-side all-pairs oracle at cos >= tauNum/tauDen over ×100 quantized */
  private def nearDupOracle(tauNum: Long, tauDen: Long): Set[(Long, Long, Long)] = {
    val all = nearDupCorpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x * 100.0 + 0.5).toLong).toArray)
    def n2(v: Array[Long]) = v.map(x => x * x).sum
    (for {
      (i1, e1) <- all; (i2, e2) <- all if i1 < i2
      dot = e1.zip(e2).map { case (a, b) => a * b }.sum
      if dot > 0 && dot * dot * tauDen * tauDen >= tauNum * tauNum * n2(e1) * n2(e2)
    } yield (i1, i2, dot)).toSet
  }

  test("blocked-exact near-dup equals the all-pairs oracle; planted recall 1.0") {
    val got = Ann.embeddingNearDupPairs(nearDupCorpus, "vec_id", "embedding",
      tauNum = 9, tauDen = 10, numBlocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = nearDupOracle(9, 10)
    assert(got === expected)
    (0 until 10).foreach { i =>
      assert(got.exists(p => p._1 == i.toLong && p._2 == 3000L + i),
        s"planted near-dup pair $i missing from exact mode")
    }
  }

  test("blocked-exact near-dup: corpus smaller than the block count (empty blocks)") {
    // 3 vectors, 24 blocks: most blocks are empty, so most tasks receive
    // no blob at all and off-diagonal tasks can see exactly one side —
    // the kernel must treat missing blobs as empty sides, not NPE.
    import spark.implicits._
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Ann.embeddingNearDupPairs(tiny, "vec_id", "embedding",
      tauNum = 9, tauDen = 10, numBlocks = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L)))
  }

  test("LSH-blocked near-dup is a subset of exact with high planted recall") {
    val exact = nearDupOracle(9, 10)
    val lsh = Ann.embeddingNearDupPairsLsh(nearDupCorpus, "vec_id", "embedding",
      tauNum = 9, tauDen = 10, bits = 8, dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh -- exact}")
    val found = (0 until 10).count(i =>
      lsh.exists(p => p._1 == i.toLong && p._2 == 3000L + i))
    assert(found >= 8, s"LSH planted-pair recall too low: $found/10")
  }

  test("IVF top-k: recall vs brute force, exact scores on shared hits") {
    val q = embeddings.filter(col("vec_id") % 50 === 0)
    val brute = Ann.bruteTopK(q, "vec_id", "embedding", embeddings, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val ivf = Ann.ivfTopK(q, "vec_id", "embedding", embeddings, "vec_id", "embedding",
      k = 10, centroidEvery = 25L, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val recall = brute.keySet.intersect(ivf.keySet).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall $recall")
    // scores agree exactly wherever both plans returned the pair
    brute.keySet.intersect(ivf.keySet).foreach { key =>
      assert(brute(key) === ivf(key), s"dot mismatch for $key")
    }
    // every query answered with a full k (probing never starves a query)
    assert(ivf.keySet.groupBy(_._1).forall(_._2.size == 10))
  }

  test("hamming64 expression works over simhash columns") {
    val sims = Dedup.simhash(docs, "doc_id", "text", bits = 16)
    val d = sims.as("a").crossJoin(sims.as("b"))
      .filter(col("a.doc_id") === 0L && col("b.doc_id") === 2000L)
      .select(GeoFunctions.hamming64(col("a.simhash"), col("b.simhash")).as("hd"))
      .collect()(0).getInt(0)
    assert(d === 0)
  }

  test("convergent cluster labels: chains deeper than a fixed round count") {
    // graph-level chain 1-2-…-8: node 8 is 7 hops from the component min
    val ids = (1L to 8L).toDF("doc_id")
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_1", "id_2")
    val bounded = Dedup.clusterLabels(chain, "id_1", "id_2", ids, "doc_id", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded(8L) !== 1L, "3 fixed rounds must provably mislabel the deep end")
    // both implementations: driver union-find (default for small edge
    // sets) AND the distributed fixpoint loop (forced via threshold 0)
    Seq(2000000L, 0L).foreach { thr =>
      val conv = Dedup.clusterLabelsConverged(chain, "id_1", "id_2", ids, "doc_id",
        driverEdgeThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (1L to 8L).foreach(i => assert(conv(i) === 1L, s"node $i not at min (thr=$thr)"))
    }
  }

  test("convergent cluster labels on a planted 6-doc near-dup text chain") {
    // sliding 20-word windows with 10-word overlap: consecutive docs clear
    // the jaccard bar, two-apart docs share nothing
    val words = (0 until 70).map(j => s"tok${j}q")
    val chainDocs = (0 until 6).map { i =>
      (3000L + i, words.slice(10 * i, 10 * i + 20).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.shingles(chainDocs, "doc_id", "text", 5)
    val pairs = Dedup.jaccardPairs(sh, "doc_id", Nil).filter(col("jaccard") >= 0.25)
    val pairSet = pairs.select("id_1", "id_2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet === (0 until 5).map(i => (3000L + i, 3001L + i)).toSet,
      s"fixture must be exactly the consecutive chain, got $pairSet")
    // diameter 5 > 3 rounds: bounded propagation splits the component …
    val bounded = Dedup.clusterLabels(pairs, "id_1", "id_2", chainDocs, "doc_id", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded(3005L) !== 3000L)
    // … the convergent version does not — on either implementation, and
    // union-find == distributed loop row for row
    val byPath = Seq(2000000L, 0L).map { thr =>
      Dedup.clusterLabelsConverged(pairs, "id_1", "id_2", chainDocs, "doc_id",
        driverEdgeThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    byPath.foreach(conv => (0 until 6).foreach(i => assert(conv(3000L + i) === 3000L)))
    assert(byPath(0) === byPath(1), "union-find and loop must agree exactly")
  }

  test("dedupeDecision keeps exactly one doc per planted near-dup cluster") {
    val dec = Dedup.dedupeDecision(docs, "doc_id", "text",
      shingleN = 5, numHashes = 8, rowsPerBand = 2, threshold = 0.6, bucketCap = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // exact dups chain to their base: 0-1000-2000 keep only 0
    assert(dec(0L) === ((0L, true)))
    assert(dec(2000L)._1 === 0L && !dec(2000L)._2)
    assert(dec(1000L)._1 === 0L && !dec(1000L)._2)
    // every cluster keeps exactly its minimum
    dec.foreach { case (id, (cluster, keep)) =>
      assert(keep === (id == cluster), s"doc $id keep flag inconsistent")
      assert(dec(cluster)._2, s"cluster $cluster has no kept representative")
    }
    // planted mutated copies never survive next to their base
    (0 until 40).foreach { i =>
      assert(dec(i + 1000L)._1 === dec(i.toLong)._1, s"pair $i split")
    }
  }

  test("embeddingDedupeDecision keeps one vector per cosine cluster") {
    // planted: 3 exact-duplicate groups + distinct vectors
    val rows = (0 until 30).map { i =>
      val base = i % 10 // ids 0..9 are the representatives
      val v = (0 until 16).map(d =>
        (GeoFixtures_mix(base * 131L + d) % 1000).toFloat / 1000.0f + 0.1f)
      (i.toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val dec = Dedup.embeddingDedupeDecision(corpus, "vec_id", "embedding",
      tauNum = 99, tauDen = 100) // near-identical only
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    (0 until 10).foreach { b =>
      assert(dec(b.toLong) === ((b.toLong, true)), s"representative $b")
      assert(dec(b + 10L) === ((b.toLong, false)), s"dup ${b + 10}")
      assert(dec(b + 20L) === ((b.toLong, false)), s"dup ${b + 20}")
    }
  }

  test("LSH mega-bucket guard: identical pair set, bounded join groups") {
    // degenerate corpus: 300 docs with IDENTICAL signatures (one band
    // bucket of 300 → 44k pairs in one join group unguarded) + 50 distinct
    val degenerate = (0 until 300).map(i => (5000L + i) +: Seq.fill(8)(7L))
    val distinct0 = (0 until 50).map(i => (6000L + i) +: (0 until 8).map(j => 100L + i * 17 + j))
    val sigs = (degenerate ++ distinct0)
      .map { case Seq(id, m0, m1, m2, m3, m4, m5, m6, m7) => (id, m0, m1, m2, m3, m4, m5, m6, m7) }
      .toDF("doc_id", "mh_0", "mh_1", "mh_2", "mh_3", "mh_4", "mh_5", "mh_6", "mh_7")
    val plain = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.lshCandidates(sigs, "doc_id", 8, 2, bucketCap = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === plain, "guard must not change the candidate set")
    assert(plain.size === 300 * 299 / 2, "degenerate bucket pairs all present")

    val sizeBucketed = Dedup.lshCandidatesSizeBucketed(
      sigs.withColumn("n_sh", lit(40L)), "doc_id", 8, 2,
      sizeCol = "n_sh", threshold = 0.25, bucketCap = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sizeBucketed === plain)

    // plan-level bound: a triangle group holds members of only two blocks,
    // so per-group pair generation is O(bucketCap²) no matter the bucket
    val oversized = (0 until 300).map(i => (5000L + i, "b0"))
      .toDF("doc_id", "band_key").withColumn("__cnt", lit(300L))
    val groups = Dedup.triangleBlockedReplica(oversized, "doc_id", 32)
      .groupBy(col("band_key"), col("__lo"), col("__hi"))
      .agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    assert(groups.max <= 4 * 32, s"join group too large: ${groups.max}")
    assert(groups.length > 10, "oversized bucket must split into many groups")
  }

  test("bench fixtures: planted groups recovered (documents + embeddings)") {
    import graft.geo.GeoFixtures
    // embeddings — EXACT mode must find precisely the planted group pairs
    val n = 400L
    val emb = GeoFixtures.embeddings(spark, n)
    val embMembers: Map[Long, Seq[Long]] = (0L until n).groupBy(_ / 4).map {
      case (g, ids) => g -> ids.filter { id0 =>
        val id = id0 + 5L * 777767777L // the generator's seed arithmetic
        id0 % 4 == 0 || GeoFixtures.uniform(id, 301) < 0.25
      }.toSeq
    }
    val plantedEmb = embMembers.values.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val gotEmb = Ann.embeddingNearDupPairs(emb, "vec_id", "embedding", 9, 10)
      .select("id_1", "id_2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotEmb === plantedEmb,
      s"exact cosine pairs must equal the planted groups (got ${gotEmb.size}, planted ${plantedEmb.size})")

    // documents — 8-char shingles keep unrelated-doc Jaccard near zero
    // (4-char shingles over a shared vocabulary collide so heavily that the
    // candidate set goes quadratic at corpus scale), and threshold 0.5
    // keeps the planted 2-of-25-word perturbations (char-8-gram
    // J ≈ 0.55-0.8). Every emitted cluster must stay within
    // one planted group, and LSH recall over planted dups is high.
    val docs = GeoFixtures.documents(spark, n)
    val dec = Dedup.dedupeDecision(docs, "doc_id", "text",
      shingleN = 8, numHashes = 8, rowsPerBand = 2, threshold = 0.5, bucketCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    dec.filter { case (id, c) => id != c }.foreach { case (id, c) =>
      assert(id / 8 === c / 8, s"cluster crosses planted groups: $id -> $c")
    }
    val plantedDupDocs = (0L until n).filter { id0 =>
      val id = id0 + 3L * 888888877L
      id0 % 8 != 0 && GeoFixtures.uniform(id, 201) < 0.25
    }
    val clusteredWith = dec.groupBy(_._2).view.mapValues(_.size).toMap
    val hits = plantedDupDocs.count(d => dec(d) != d || clusteredWith.getOrElse(d, 1) > 1)
    assert(plantedDupDocs.nonEmpty)
    assert(hits >= (plantedDupDocs.size * 8) / 10,
      s"LSH recall too low: $hits of ${plantedDupDocs.size} planted dups clustered")
  }
}
