package graft.geo

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic, distributed fixture generators for the geospatial image
  * workload (FIXTURES.md §1/§3): every value derives from the row id through
  * splitmix64 — no RNG state, no wall clock — so any partitioning produces
  * identical tables (required by the two-parallelism equality check).
  */
object GeoFixtures {

  /** splitmix64 finalizer — id+salt → well-mixed 64 bits. */
  def mix(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** uniform in [0, 1) derived from (id, salt). */
  def uniform(id: Long, salt: Long): Double =
    ((mix(id * 1099511628211L + salt) >>> 11).toDouble) / (1L << 53).toDouble

  /** ~normal(0,1) via sum of 4 uniforms (Irwin–Hall, variance 1/3 each). */
  def gauss(id: Long, salt: Long): Double =
    ((0 until 4).map(i => uniform(id, salt * 31 + i)).sum - 2.0) * math.sqrt(3.0)

  /** Dense "city" centers (lon, lat) — sources of cell skew. */
  val Cities: Array[(Double, Double)] = Array(
    (-77.03, 38.89), (2.35, 48.85), (139.69, 35.68), (-46.63, -23.55), (151.2, -33.86))

  case class ImageRow(
      image_id: String, bytes: Array[Byte], w: Int, h: Int, fmt: String,
      caption: String, phash: Long, lon: Double, lat: Double,
      tags: Map[String, String])

  /** Geotagged image+caption table (input_hint schema + lon/lat + tags).
    * 60% of rows cluster around [[Cities]] (Gaussian, σ≈0.5°) to exercise
    * skew handling; 40% uniform background. 1-in-8 rows use the lossy-sim
    * "qnt" payload. phash is computed from the ACTUAL pixels at generation
    * time, so it doubles as a decode-correctness probe.
    */
  def images(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val craftVals = Array("brewery", "distillery", "bakery", "pottery")
    spark.range(n).map { id0 =>
      val id = id0 + seed * 1000003L
      val sizes = Array(16, 32, 64)
      val w = sizes((mix(id + 1) & 0x7fffffffL).toInt % 3)
      val h = sizes((mix(id + 2) & 0x7fffffffL).toInt % 3)
      val basePx = graft.media.Media.synthPixels(id, w, h)
      val lossy = (mix(id + 3) & 7L) == 0L
      val px = if (lossy) graft.media.Media.quantize(basePx) else basePx
      val bytes = graft.media.Media.encodePng(px, w, h)
      val phash = graft.media.Media.aHash(px, w, h)
      val (lon, lat) =
        if (uniform(id, 11) < 0.6) {
          val c = Cities((mix(id + 4) & 0x7fffffffL).toInt % Cities.length)
          (clampLon(c._1 + gauss(id, 13) * 0.5), clampLat(c._2 + gauss(id, 17) * 0.5))
        } else
          (uniform(id, 19) * 360.0 - 180.0, uniform(id, 23) * 170.0 - 85.0)
      val craft = craftVals((mix(id + 5) & 0x7fffffffL).toInt % craftVals.length)
      val tags = Map("craft" -> craft,
        "zoom" -> ((mix(id + 6) & 3L) + 10L).toString)
      val cell = graft.index.CellIndex.cellId(lon, lat, 7)
      ImageRow(f"img$id0%09d", bytes, w, h, if (lossy) "qnt" else "png",
        s"$craft near ${graft.index.CellIndex.quadKeyString(cell).take(5)} #$id0",
        phash, lon, lat, tags)
    }.toDF()
  }

  case class ImageLiteRow(image_id: String, lon: Double, lat: Double,
                          w: Int, h: Int, craft: String)

  /** Payload-free variant for join/tile benchmarks (pure arithmetic; 10^7
    * rows generate in seconds). Same coordinates as [[images]].
    */
  def imagesLite(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val craftVals = Array("brewery", "distillery", "bakery", "pottery")
    spark.range(n).map { id0 =>
      val id = id0 + seed * 1000003L
      val sizes = Array(16, 32, 64)
      val w = sizes((mix(id + 1) & 0x7fffffffL).toInt % 3)
      val h = sizes((mix(id + 2) & 0x7fffffffL).toInt % 3)
      val (lon, lat) =
        if (uniform(id, 11) < 0.6) {
          val c = Cities((mix(id + 4) & 0x7fffffffL).toInt % Cities.length)
          (clampLon(c._1 + gauss(id, 13) * 0.5), clampLat(c._2 + gauss(id, 17) * 0.5))
        } else
          (uniform(id, 19) * 360.0 - 180.0, uniform(id, 23) * 170.0 - 85.0)
      val craft = craftVals((mix(id + 5) & 0x7fffffffL).toInt % craftVals.length)
      ImageLiteRow(f"img$id0%09d", lon, lat, w, h, craft)
    }.toDF()
  }

  private def clampLon(v: Double): Double = math.max(-179.999, math.min(179.999, v))
  private def clampLat(v: Double): Double = math.max(-84.999, math.min(84.999, v))

  case class DocRow(doc_id: Long, text: String)

  private val DocVocab: Array[String] = Array.tabulate(4096) { i =>
    val h = mix(i.toLong * 2654435761L + 17L)
    val len = 4 + (h & 3L).toInt
    val sb = new StringBuilder
    val v = h >>> 2 // top bits clear: every shifted remainder is >= 0
    (0 until len).foreach(k => sb += ('a' + ((v >>> (k * 5)) % 26L).toInt).toChar)
    sb.result()
  }

  /** Deterministic near-dup document corpus (the dedupeDecision bench
    * input): docs come in groups of 8 sharing a base text of 25 vocab
    * words; each non-base member is, with probability 1/4, a NEAR-DUP of
    * the base (two word positions swapped for member-specific words —
    * 4-shingle Jaccard ≈ 0.85, above a 0.7 bar), otherwise a unique text.
    * Pure id arithmetic — identical at any parallelism.
    */
  def documents(spark: SparkSession, n: Long, seed: Long = 3L): DataFrame = {
    import spark.implicits._
    val vocab = DocVocab
    val nWords = 25
    spark.range(n).map { id0 =>
      val id = id0 + seed * 888888877L
      val group = id0 / 8
      val member = (id0 % 8).toInt
      val isDup = member > 0 && uniform(id, 201) < 0.25
      // member 0 IS the group base; dups perturb it, uniques go their own way
      val textSeed = if (isDup || member == 0) group * 131L + seed else id * 131L
      val p1 = if (isDup) (mix(id + 7) & 0x7fffffffL).toInt % nWords else -1
      val p2 = if (isDup) (mix(id + 9) & 0x7fffffffL).toInt % nWords else -1
      val sb = new StringBuilder
      var j = 0
      while (j < nWords) {
        if (j > 0) sb += ' '
        val idx =
          if (j == p1 || j == p2) (mix(id * 31L + j) & 4095L).toInt
          else (mix(textSeed + j) & 4095L).toInt
        sb ++= vocab(idx)
        j += 1
      }
      DocRow(id0, sb.result())
    }.toDF()
  }

  case class EmbRow(vec_id: Long, embedding: Array[Float])

  /** Deterministic embedding corpus (the exact-cosine triangle-join bench
    * input): vectors come in groups of 4; each non-base member is, with
    * probability 1/4, the group base direction plus 2% noise (cosine
    * ≈ 0.999, a planted near-dup), otherwise an independent vector.
    */
  def embeddings(spark: SparkSession, n: Long, dims: Int = 64,
                 seed: Long = 5L): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id0 =>
      val id = id0 + seed * 777767777L
      val group = id0 / 4
      val member = (id0 % 4).toInt
      val isDup = member > 0 && uniform(id, 301) < 0.25
      // member 0 IS the group base direction; dups add noise around it
      val baseSeed = if (isDup || member == 0) group * 613L + seed else id * 613L
      val v = Array.tabulate(dims) { d =>
        val base = uniform(baseSeed + d, 307) * 2.0 - 1.0
        val noise = if (isDup) (uniform(id * 41L + d, 311) - 0.5) * 0.04 else 0.0
        (base + noise).toFloat
      }
      EmbRow(id0, v)
    }.toDF()
  }

  case class BoundaryRow(
      polygon_id: Long, ring: Array[(Double, Double)], tags: Map[String, String])

  /** Irregular star polygons (simple by construction: vertices ordered by
    * angle around the center), ~60% near cities so joins are non-trivially
    * skewed; closed rings (first == last) per the reference's closure test
    * intent (/root/reference/osm/Planet.go:67).
    */
  def boundaries(spark: SparkSession, n: Int, seed: Long = 7L): DataFrame = {
    import spark.implicits._
    spark.range(n).map { pid0 =>
      val pid = pid0 + seed * 7919L
      val (clon, clat) =
        if (uniform(pid, 101) < 0.6) {
          val c = Cities((mix(pid + 41) & 0x7fffffffL).toInt % Cities.length)
          (c._1 + (uniform(pid, 103) - 0.5) * 3.0, c._2 + (uniform(pid, 107) - 0.5) * 3.0)
        } else
          (uniform(pid, 109) * 340.0 - 170.0, uniform(pid, 113) * 150.0 - 75.0)
      val m = 5 + (mix(pid + 43) & 0x7fffffffL).toInt % 8 // 5..12 vertices
      val base = 0.2 + uniform(pid, 127) * 1.8            // 0.2..2.0 degrees
      val verts = (0 until m).map { k =>
        val ang = 2.0 * math.Pi * k / m
        val r = base * (0.5 + uniform(pid, 131 + k))
        (clon + r * math.cos(ang), clat + r * math.sin(ang))
      }
      val ring = (verts :+ verts.head).toArray
      BoundaryRow(pid0, ring, Map("name" -> s"poly$pid0",
        "kind" -> (if ((mix(pid + 47) & 1L) == 0L) "district" else "park")))
    }.toDF()
      .selectExpr("polygon_id",
        "transform(ring, v -> struct(v._1 AS lon, v._2 AS lat)) AS ring",
        "tags")
  }
}
