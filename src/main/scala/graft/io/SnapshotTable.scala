package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import scala.concurrent.Await
import scala.concurrent.duration._

/** Parquet-backed snapshot/manifest table — the "Iceberg-like" layer
  * (SURVEY.md §7.1.8; no Iceberg runtime jar exists in this environment).
  *
  * Layout under `root/`:
  * {{{
  *   data/<partCol>=<key>/part-….parquet  partitioned data files
  *   manifests/<key>.json                 per-partition manifest:
  *                                        {key, rows, operator, upstream}
  *   snapshots/s<NNNN>.json               snapshot: parent + partition list
  *                                        + row-count metrics + lineage
  *   CURRENT                              current snapshot id (atomic rename)
  * }}}
  *
  * Resume semantics (north rule G9): a partition is COMMITTED iff its
  * manifest exists. [[commit]] diffs the incoming partition set against
  * committed manifests and (re)writes only the missing ones — a killed run
  * leaves data dirs without manifests, which the rerun overwrites via
  * dynamic partition overwrite. Deterministic upstream pipelines therefore
  * produce byte-identical committed tables after any number of crashes.
  *
  * Cost: a commit evaluates its input ONCE — one Spark action, the write:
  *  1. list the committed manifests (driver);
  *  2. write the rows whose key has no manifest; the incoming key set and
  *     the null-key count ride that write as observed metrics;
  *  3. count each written partition's rows from its parquet footers
  *     (driver, no job);
  *  4. write the manifests, then the snapshot, then CURRENT.
  * A skipped (already committed) partition's snapshot row count is its
  * manifest's, not a count of the incoming rows; for a deterministic
  * upstream the two are equal. A read ([[read]], [[readPartitions]]) runs
  * no job: the data schema comes from one footer. (Past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` partition dirs,
  * Spark's own file listing runs as a job.)
  */
object SnapshotTable {

  /** How long a commit waits, after its write, for the write's observed
    * metrics to reach the driver's listener bus.
    */
  private val ObservedWait = 5.minutes

  case class CommitReport(snapshotId: String, written: Seq[String],
                          skipped: Seq[String], totalRows: Long)

  /** A committed partition's physical location + row count — the unit a
    * copy-on-write commit ([[commitCow]]) inherits from a parent version.
    */
  case class PartRef(location: String, rows: Long)

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeFile(spark: SparkSession, p: Path, content: String): Unit = {
    val f = fs(spark, p)
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
    // overwrite-rename in ONE operation where the filesystem supports it
    // (HDFS/local via FileContext): a delete-then-rename would open a
    // window where a concurrent CURRENT/LATEST reader sees no pointer at
    // all — and a crash in that window loses the pointer outright
    try {
      org.apache.hadoop.fs.FileContext
        .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no AbstractFileSystem binding (some object stores): fall back to
        // the non-atomic sequence rather than failing the commit
        if (f.exists(p)) f.delete(p, false)
        if (!f.rename(tmp, p)) throw new java.io.IOException(s"commit rename failed: $p")
    }
  }

  private def readFile(spark: SparkSession, p: Path): Option[String] = {
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  private def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case e => b.append(e); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  // JSON string field: matches escaped quotes/backslashes inside the value
  private def jsonStr(field: String, s: String): Option[String] =
    (""""""" + field + """": "((?:[^"\\]|\\.)*)"""").r
      .findFirstMatchIn(s).map(m => unesc(m.group(1)))

  /** Partition keys become filesystem names twice (manifest file, data
    * dir). Spark escapes special characters in partition DIRECTORY names
    * (ExternalCatalogUtils), so the manifest filename and the data-dir
    * fallback path must use the SAME escaping or keys with ':', ' ', '/',
    * '%' silently break resume and read. */
  private def escKey(k: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(k)
  private def unescKey(k: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(k)

  /** Commit `df` into the table, partitioned by `partCol` (string-keyed).
    * Only partitions without a manifest are written. Returns metrics.
    * A null key is rejected with an `IllegalArgumentException` after the
    * write; the partitions that write produced are deleted, and no
    * manifest, snapshot or CURRENT is written.
    *
    * @param operator lineage tag for the producing operator chain
    * @param upstream upstream snapshot ids / source URIs (lineage)
    */
  def commit(df: DataFrame, root: String, partCol: String,
             operator: String, upstream: Seq[String] = Nil): CommitReport =
    commitImpl(df, root, partCol, operator, upstream, Map.empty)

  /** Copy-on-write commit: `df`'s partitions are written as real data under
    * this root; `inherited` partitions are committed as manifest POINTERS to
    * a parent version's files — no data copied or rewritten, so a minutely
    * diff against a 10^9-row planet costs only its touched partitions. The
    * new root reads as the full table ([[read]] follows locations). Parent
    * data is immutable by contract: never delete an ancestor version a
    * descendant references. Inherited refs pass through unchanged, so
    * inheritance chains collapse to the original writer's dir — reads never
    * walk ancestors. An input key that is also inherited is rejected like
    * a null key: after the write, with no manifest written.
    */
  def commitCow(df: DataFrame, root: String, partCol: String,
                operator: String, upstream: Seq[String],
                inherited: Map[String, PartRef]): CommitReport =
    commitImpl(df, root, partCol, operator, upstream, inherited)

  private def commitImpl(df: DataFrame, root: String, partCol: String,
                         operator: String, upstream: Seq[String],
                         inherited: Map[String, PartRef]): CommitReport = {
    val spark = df.sparkSession
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val dataP = new Path(rootP, "data")
    def partDir(k: String) = new Path(dataP, s"$partCol=${escKey(k)}")

    // 1. committed = manifests present (filenames carry the ESCAPED key)
    val manDir = new Path(rootP, "manifests")
    val committed: Set[String] =
      if (!f.exists(manDir)) Set.empty
      else f.listStatus(manDir).map(_.getPath.getName).filter(_.endsWith(".json"))
        .map(n => unescKey(n.stripSuffix(".json"))).toSet

    // 2. one write of the uncommitted partitions; dynamic overwrite cleans
    //    any half-written dirs from a killed previous run. The incoming key
    //    set and null count ride it as observed metrics, taken BELOW the
    //    filter so that skipped keys are seen too; null keys are never
    //    written (`not isin` drops them as well)
    val key = col(partCol).cast("string")
    val obs = new Observation
    val seen = df.observe(obs, collect_set(key).as("keys"), count_if(col(partCol).isNull).as("nulls"))
    (if (committed.isEmpty) seen.filter(key.isNotNull) else seen.filter(!key.isin(committed.toSeq: _*)))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partCol)
      .parquet(dataP.toString)
    val metrics = Await.result(obs.future, ObservedWait)
    val incoming = metrics.getSeq[String](0).toSet
    val nulls = metrics.getLong(1)

    val missing = incoming.diff(committed).toSeq.sorted
    val skipped = incoming.intersect(committed).toSeq.sorted
    val overlap = inherited.keySet.intersect(incoming)
    if (nulls > 0 || overlap.nonEmpty) {
      // rejected: this write's partitions never get a manifest, so drop them
      missing.foreach(k => f.delete(partDir(k), true))
      require(nulls == 0,
        s"null partition key in '$partCol': $nulls rows — " +
          "null-keyed rows would be invisible to resume; coalesce the key upstream")
      require(overlap.isEmpty,
        s"partitions both rewritten and inherited: ${overlap.toSeq.sorted.take(5)}")
    }

    // 3. row counts: a written partition's from its files' footers (only
    //    committed task attempts leave files, so retries count once), a
    //    skipped one's from its manifest
    val rows: Map[String, Long] =
      missing.map(k => k -> ParquetTable.rowCount(spark, partDir(k).toString)).toMap ++
        skipped.map(k => k -> parseManifest(spark, new Path(manDir, s"${escKey(k)}.json"))._2)

    // 4. per-partition manifests (commit markers with metrics + lineage)
    missing.foreach { k =>
      val m = s"""{"key": "${esc(k)}", "rows": ${rows(k)}, "operator": "${esc(operator)}", "upstream": [${upstream.map(u => "\"" + esc(u) + "\"").mkString(", ")}]}"""
      writeFile(spark, new Path(manDir, s"${escKey(k)}.json"), m)
    }
    // 4b. inherited partitions: a manifest POINTER per key (no data write);
    //     resume-safe like real partitions — already-present manifests skip
    inherited.toSeq.sortBy(_._1).foreach { case (k, ref) =>
      if (!committed.contains(k)) {
        val m = s"""{"key": "${esc(k)}", "rows": ${ref.rows}, "operator": "${esc(operator)}", "upstream": [${upstream.map(u => "\"" + esc(u) + "\"").mkString(", ")}], "location": "${esc(ref.location)}"}"""
        writeFile(spark, new Path(manDir, s"${escKey(k)}.json"), m)
      }
    }

    // 5. snapshot: parent chain + full partition inventory (real + inherited)
    val inventory = rows ++ inherited.map { case (k, r) => k -> r.rows }
    val parent = currentSnapshotId(spark, root)
    val snapId = f"s${parent.map(_.drop(1).toInt + 1).getOrElse(0)}%04d"
    val partsJson = inventory.toSeq.sortBy(_._1)
      .map { case (k, n) => s"""{"key": "${esc(k)}", "rows": $n}""" }.mkString(", ")
    val snap =
      s"""{"id": "$snapId", "parent": ${parent.map("\"" + _ + "\"").getOrElse("null")},
         | "operator": "${esc(operator)}", "upstream": [${upstream.map(u => "\"" + esc(u) + "\"").mkString(", ")}],
         | "total_rows": ${inventory.values.sum}, "partitions": [$partsJson]}""".stripMargin
    writeFile(spark, new Path(rootP, s"snapshots/$snapId.json"), snap)
    writeFile(spark, new Path(rootP, "CURRENT"), snapId)

    CommitReport(snapId, missing, skipped, inventory.values.sum)
  }

  def currentSnapshotId(spark: SparkSession, root: String): Option[String] =
    readFile(spark, new Path(root, "CURRENT")).map(_.trim).filter(_.nonEmpty)

  /** Atomic small-file pointer (tmp + rename, the CURRENT protocol) — for
    * callers that chain versioned tables (e.g. the replication consumer's
    * LATEST).
    */
  def writePointer(spark: SparkSession, path: String, value: String): Unit =
    writeFile(spark, new Path(path), value)

  def readPointer(spark: SparkSession, path: String): Option[String] =
    readFile(spark, new Path(path)).map(_.trim).filter(_.nonEmpty)

  /** One manifest parsed: (key, rows, explicit location if present). The
    * ONE reader [[commit]], [[partitionRefs]] and [[manifestRows]] go
    * through — escape-aware on the JSON values (keys may contain
    * quotes/backslashes).
    */
  private def parseManifest(spark: SparkSession, p: Path): (String, Long, Option[String]) = {
    val s = readFile(spark, p).get
    val key = jsonStr("key", s).getOrElse(
      throw new java.io.IOException(s"manifest missing key: $p"))
    val rows = """"rows": (\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    (key, rows, jsonStr("location", s))
  }

  private def parsedManifests(spark: SparkSession,
                              root: String): Seq[(String, Long, Option[String])] = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val manDir = new Path(rootP, "manifests")
    if (!f.exists(manDir)) Nil
    else f.listStatus(manDir).map(_.getPath).filter(_.getName.endsWith(".json")).toSeq
      .map(parseManifest(spark, _))
  }

  /** The committed partition inventory as physical refs. A partition this
    * root wrote resolves to its own data dir; one inherited by
    * [[commitCow]] resolves to the location its manifest records (the
    * original writer's dir).
    */
  def partitionRefs(spark: SparkSession, root: String,
                    partCol: String): Map[String, PartRef] = {
    val rootP = new Path(root)
    parsedManifests(spark, root).map { case (key, rows, loc) =>
      // fallback data dir uses Spark's own partition-path escaping — the
      // directory the writer actually produced for this key
      key -> PartRef(loc.getOrElse(
        new Path(rootP, s"data/$partCol=${escKey(key)}").toString), rows)
    }.toMap
  }

  /** Read the committed table (manifested partitions only; inherited
    * partitions stream straight from their original location).
    */
  def read(spark: SparkSession, root: String, partCol: String): DataFrame =
    readRefs(spark, partitionRefs(spark, root, partCol), root)

  /** Read only the named partitions — explicit pruning for merge slices;
    * keys absent from the table are ignored.
    */
  def readPartitions(spark: SparkSession, root: String, partCol: String,
                     keys: Seq[String]): DataFrame = {
    val want = keys.toSet
    readRefs(spark, partitionRefs(spark, root, partCol).filter(kv => want(kv._1)), root)
  }

  private def readRefs(spark: SparkSession, refs: Map[String, PartRef],
                       root: String): DataFrame = {
    require(refs.nonEmpty, s"no committed partitions under $root")
    // partition-column values come from dir names, so each distinct parent
    // data dir needs its own basePath scan; union the (few) groups. The
    // footer's data schema spares the inference job; Spark still infers the
    // partition column and its type from the dir names
    refs.values.toSeq.map(_.location)
      .groupBy(l => new Path(l).getParent.toString).toSeq.sortBy(_._1)
      .map { case (base, dirs0) =>
        val dirs = dirs0.sorted
        spark.read.option("basePath", base).schema(ParquetTable.dataSchema(spark, dirs))
          .parquet(dirs: _*)
      }.reduce(_.unionByName(_))
  }

  /** Per-partition row-count metrics from manifests (lineage audit). */
  def manifestRows(spark: SparkSession, root: String): Map[String, Long] =
    parsedManifests(spark, root).map { case (k, rows, _) => k -> rows }.toMap
}
