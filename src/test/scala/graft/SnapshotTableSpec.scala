package graft

import org.apache.spark.grafttest.TestBus
import org.apache.spark.sql.functions._
import graft.io.SnapshotTable

/** Resume-from-checkpoint semantics (G9): kill-after-partition-k rerun
  * produces identical output and manifest row counts; completed partitions
  * are never rewritten.
  */
class SnapshotTableSpec extends SparkSpecBase {

  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_snap").toString

  private lazy val full = GeoFixturesTable()

  private def GeoFixturesTable() = {
    val imgs = graft.geo.GeoFixtures.images(spark, 500)
    imgs.withColumn("cell5",
      graft.functions.GeoFunctions.cell_id(col("lon"), col("lat"), 3).cast("string"))
      .select("image_id", "caption", "phash", "cell5")
  }

  test("full commit writes every partition with row-count manifests") {
    val root = freshRoot()
    val rep = SnapshotTable.commit(full, root, "cell5", "fixture-images")
    assert(rep.skipped.isEmpty)
    assert(rep.totalRows === 500L)
    assert(rep.snapshotId === "s0000")
    val manifests = SnapshotTable.manifestRows(spark, root)
    val expected = full.groupBy("cell5").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(manifests === expected)
    val back = SnapshotTable.read(spark, root, "cell5")
    assert(back.count() === 500L)
  }

  test("keys with path-special characters survive commit, resume, and read") {
    // Spark ESCAPES special characters in partition directory names, so
    // the manifest filename and the data-dir fallback must use the same
    // escaping — raw keys with ':', ' ', '/', '%', '"' used to break
    // read (path-not-found) or resume (manifest invisible, rewritten
    // every run)
    val keys = Seq("2024-01-01 00:00:00", "a/b", "pct%20done", "qu\"ote", "plain")
    val rows = keys.zipWithIndex.flatMap { case (k, i) =>
      (0 to i).map(j => (s"id_${i}_$j", k))
    }
    val df = rows.toDF("id", "k")
    val root = freshRoot()
    val rep = SnapshotTable.commit(df, root, "k", "specials")
    assert(rep.written.toSet === keys.toSet)
    // resume: an identical second commit must SKIP every key — this is
    // what raw '/' keys broke (manifest written to a nested dir the
    // lister never saw)
    val rep2 = SnapshotTable.commit(df, root, "k", "specials")
    assert(rep2.written.isEmpty, s"re-written: ${rep2.written}")
    assert(rep2.skipped.toSet === keys.toSet)
    assert(SnapshotTable.manifestRows(spark, root).keySet === keys.toSet)
    // read resolves every partition's escaped data dir
    val back = SnapshotTable.read(spark, root, "k")
    assert(back.count() === rows.length.toLong)
    assert(back.select("k").distinct().collect().map(_.getString(0)).toSet === keys.toSet)
  }

  test("null partition keys are rejected loudly, not silently dropped") {
    val df = Seq(("a", Some("k1")), ("b", None), ("c", Some("k2")))
      .toDF("id", "k")
    val root = freshRoot()
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, root, "k", "nulls")
    }
    assert(e.getMessage.contains("null partition key"))
    // the rejected commit leaves nothing committed and no null-key data
    assert(SnapshotTable.manifestRows(spark, root).isEmpty)
    assert(!new java.io.File(s"$root/snapshots").exists())
    assert(SnapshotTable.currentSnapshotId(spark, root).isEmpty)
    assert(!new java.io.File(s"$root/data/k=__HIVE_DEFAULT_PARTITION__").exists())
  }

  test("commit evaluates its input once") {
    val evals = spark.sparkContext.longAccumulator("snapshot-input-evals")
    // the key itself goes through the counting UDF, so any pass over the
    // input (an inventory query, the write) evaluates it
    val bump = udf { (k: String) => evals.add(1); k }.asNondeterministic()
    val counted = full.withColumn("cell5", bump(col("cell5")))
    val root = freshRoot()
    val (rep, commitJobs) = TestBus.jobsDuring(spark.sparkContext)(
      SnapshotTable.commit(counted, root, "cell5", "fixture-images"))
    assert(rep.totalRows === 500L)
    assert(evals.value === 500L, "the input must be evaluated exactly once")
    val plain = java.nio.file.Files.createTempDirectory("graft_plain").resolve("t").toString
    val (_, writeJobs) = TestBus.jobsDuring(spark.sparkContext)(
      full.write.partitionBy("cell5").parquet(plain))
    assert(commitJobs <= writeJobs, s"commit ran $commitJobs jobs, a plain write $writeJobs")
  }

  test("empty inputs commit an empty snapshot without hanging") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val inputs = Seq(
      "empty" -> Seq.empty[(String, String)].toDF("image_id", "cell5"),
      "limit(0)" -> full.limit(0),
      // PropagateEmptyRelation folds the whole join to an empty relation
      "empty join" -> full.join(full.select("image_id").limit(0), "image_id"))
    inputs.foreach { case (label, df) =>
      val rep = Await.result(
        Future(SnapshotTable.commit(df, freshRoot(), "cell5", "empty")), 2.minutes)
      assert(rep.totalRows === 0L, label)
      assert(rep.snapshotId === "s0000", label)
      assert(rep.written.isEmpty && rep.skipped.isEmpty, label)
    }
  }

  test("copy-on-write input overlapping an inherited partition is rejected") {
    val base = freshRoot()
    SnapshotTable.commit(full, base, "cell5", "fixture-images")
    val refs = SnapshotTable.partitionRefs(spark, base, "cell5")
    val key = refs.keys.min
    val root = freshRoot()
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commitCow(full.filter(col("cell5") === key), root, "cell5",
        "cow", Seq(base), inherited = refs)
    }
    assert(e.getMessage.contains("both rewritten and inherited"))
    assert(SnapshotTable.manifestRows(spark, root).isEmpty)
    assert(SnapshotTable.currentSnapshotId(spark, root).isEmpty)
  }

  test("partial run (simulated kill) resumes: only missing partitions written") {
    val root = freshRoot()
    val keys = full.select("cell5").distinct().collect().map(_.getString(0)).sorted
    assert(keys.length > 3, "fixture needs several partitions")
    val firstHalf = keys.take(keys.length / 2).toSet

    // "killed" run: only half the partitions got committed
    val rep1 = SnapshotTable.commit(
      full.filter(col("cell5").isin(firstHalf.toSeq: _*)), root, "cell5", "fixture-images")
    assert(rep1.written.toSet === firstHalf)

    // plus a half-written uncommitted partition dir (no manifest) — must be overwritten
    val orphanKey = keys.drop(keys.length / 2).head
    full.filter(col("cell5") === orphanKey).limit(1)
      .write.mode("overwrite").parquet(s"$root/data/cell5=$orphanKey")

    // resumed run over the FULL input
    val rep2 = SnapshotTable.commit(full, root, "cell5", "fixture-images")
    assert(rep2.skipped.toSet === firstHalf, "completed partitions must be skipped")
    assert(rep2.written.toSet === keys.toSet -- firstHalf)
    assert(rep2.snapshotId === "s0001")

    // identical final output + manifest metrics
    val back = SnapshotTable.read(spark, root, "cell5")
    assert(back.count() === 500L)
    val diff = back.select("image_id", "caption", "phash")
      .except(full.select("image_id", "caption", "phash")).count()
    assert(diff === 0L)
    val expected = full.groupBy("cell5").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(SnapshotTable.manifestRows(spark, root) === expected)
    // the resumed snapshot's inventory: skipped partitions from their
    // manifests, written ones from their footers
    val snap = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s0001.json")))
    assert(snap.contains(""""total_rows": 500"""))
    val snapRows = """\{"key": "([^"]*)", "rows": (\d+)\}""".r.findAllMatchIn(snap)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    assert(snapRows === SnapshotTable.manifestRows(spark, root))
  }

  test("re-commit of an unchanged table is a no-op (all partitions skipped)") {
    val root = freshRoot()
    SnapshotTable.commit(full, root, "cell5", "fixture-images")
    val rep = SnapshotTable.commit(full, root, "cell5", "fixture-images")
    assert(rep.written.isEmpty)
    assert(rep.skipped.nonEmpty)
  }

  test("snapshot chain records parent and lineage") {
    val root = freshRoot()
    SnapshotTable.commit(full, root, "cell5", "op-a", Seq("src:testdata"))
    SnapshotTable.commit(full, root, "cell5", "op-b", Seq("s0000"))
    assert(SnapshotTable.currentSnapshotId(spark, root) === Some("s0001"))
    val snap = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s0001.json")))
    assert(snap.contains(""""parent": "s0000""""))
    assert(snap.contains("op-b"))
  }
}
