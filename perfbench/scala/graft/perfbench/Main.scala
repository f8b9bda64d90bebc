package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one `local[4]` session, a closed loop with a
  * single client over a workload's ops, and a JSON result file for the
  * Python runner.
  *
  * `graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE`
  */
object Main {
  val Cores = 4
  val MinPasses = 2

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // bounded status-store retention: live heap must not grow with run length
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Release the SQL cache and every RDD-level persist or local checkpoint. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Bytes held by persisted RDD blocks, in memory and on disk. */
  def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def heapAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Live heap once Spark's asynchronous cleanup (ContextCleaner) has run.
    * A GC right after an op still finds 10-40 MB that the cleanup releases
    * within ~0.6 s, so GC again every 200 ms until the heap stops falling.
    */
  def settledHeap(): Long = {
    var last = heapAfterGc()
    var falling = true
    var i = 0
    while (falling && i < 5) {
      Thread.sleep(200)
      val h = heapAfterGc()
      falling = last - h >= (1L << 20)
      last = h
      i += 1
    }
    last
  }

  private def walk(path: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  def delete(path: String): Unit =
    walk(path).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)

  private def dataFiles(path: String) =
    walk(path).filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))

  def bytesUnder(path: String): Long = dataFiles(path).map(Files.size).sum
  def filesUnder(path: String): Long = dataFiles(path).size.toLong

  final class Pass {
    var wallNs = 0L
    var cpuNs = 0L
    val c = new Counters
    var pinned = 0L
    /** Settled live heap at the end of the pass. */
    var heap = 0L
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    new File(work).mkdirs()

    var spark: SparkSession = null
    var probe: Probe = null
    var wl: Workload = null
    val errors = mutable.LinkedHashMap[String, String]()
    var attempted = 0L
    var failed = 0L

    val opWalls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def runOp(op: Op, traced: Boolean, keep: Boolean): (Long, Long, Counters) = {
      attempted += 1
      val c0 = cpuNs()
      probe.span("op", op.name) {
        try { if (traced) op.traced(keep) else op.plain() }
        catch {
          case e: Throwable =>
            failed += 1
            errors.getOrElseUpdate(op.name, e.toString.linesIterator.nextOption().getOrElse("error"))
        }
      }
      val s = probe.spans.last
      opWalls.getOrElseUpdate(op.name, mutable.ArrayBuffer()) += s.wallNs / 1e9
      (s.wallNs, cpuNs() - c0, s.counters)
    }

    def pass(traced: Boolean, rng: Random, keep: Boolean = false): Pass = {
      val p = new Pass
      rng.shuffle(wl.ops).foreach { op =>
        val (w, cpu, c) = runOp(op, traced, keep)
        p.wallNs += w; p.cpuNs += cpu; p.c.add(c)
        p.pinned = math.max(p.pinned, pinnedBytes(spark))
        release(spark)
        System.gc() // no op pays for the previous op's garbage
      }
      if (!traced) p.heap = settledHeap()
      p
    }

    def makeWorkload(): Workload = {
      val d = s"$data/$wlName-$seed"
      wlName match {
        case "osm_spatial" =>
          val (nodes, ways, rels) = (4000, 600, 60)
          PlanetCli.prepare(spark, s"$d/planet", seed, nodes, ways, rels)
          new Composite(Seq(new SpatialOps(spark, probe, d, work),
            new PlanetCli(spark, probe, s"$d/planet", work, seed, nodes, ways, rels)))
        case "image_corpus" =>
          ImageTiles.prepare(spark, s"$d/image", seed, 1500L, 200)
          new Composite(Seq(new ImageTiles(spark, probe, s"$d/image", work),
            new CorpusDedup(spark, probe, d, work)))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }

    // ---- set-up: the cold session start and input load (the seed's
    // one-off fixture generation excluded); then one warm-up pass, not part
    // of set-up, which also keeps the outputs the correctness check reads
    val t0 = System.nanoTime()
    spark = session(work)
    probe = new Probe(spark)
    val tPrep = System.nanoTime()
    wl = makeWorkload()
    val prepNs = System.nanoTime() - tPrep
    wl.load()
    val sessionS = (System.nanoTime() - t0 - prepNs) / 1e9
    val tWarm = System.nanoTime()
    new Random(seed).shuffle(wl.ops).foreach { op =>
      runOp(op.copy(plain = () => wl.warm(op)), traced = false, keep = false)
      release(spark)
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9
    opWalls.clear()

    // one unmeasured traced pass keeps every op's traced output, checked
    // like the plain outputs, so a traced composition that drifts from its
    // SparkEntry / graft.jobs definition fails
    if (trace) {
      pass(traced = true, new Random(seed), keep = true)
      Workload.extra.clear()
    }

    // ---- measured loop. Ops still speed up from pass to pass (JIT), so in
    // a traced run plain and traced passes alternate as P T, T P, P T, ...,
    // and neither side of trace.overhead_s always runs the warmer pass
    val rng = new Random(seed)
    val plainPasses = mutable.ArrayBuffer[Pass]()
    val tracedPasses = mutable.ArrayBuffer[Pass]()
    val tracedSpans = mutable.ArrayBuffer[Seq[Span]]()
    def tracedPass(): Unit = {
      val n0 = probe.spans.size
      tracedPasses += probe.span("workload", wlName)(pass(traced = true, rng))
      tracedSpans += probe.spans.slice(n0, probe.spans.size).toSeq
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (plainPasses.size < MinPasses || System.nanoTime() < deadline) {
      val tracedFirst = trace && plainPasses.size % 2 == 1
      if (tracedFirst) tracedPass()
      plainPasses += pass(traced = false, rng)
      if (trace && !tracedFirst) tracedPass()
    }

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val passS = median(plainPasses.map(_.wallNs / 1e9))
    val mb = 1024.0 * 1024.0
    def med(f: Pass => Double) = median(plainPasses.map(f))

    if (!trace) {
      metrics("setup_s") = (jvmStartS + sessionS, "s")
      metrics("pass_s") = (passS, "s")
      metrics("rows_per_s") = (wl.inputRows / passS, "1/s")
      metrics("cpu_s") = (med(_.cpuNs / 1e9), "s")
      metrics("jobs") = (med(_.c.jobs.toDouble), "count")
      metrics("shuffle_mb") = (med(_.c.shuffleBytes / mb), "MB")
      metrics("heap_peak_mb") = (plainPasses.map(_.heap).max / mb, "MB")
      // reported in the text table only: 0 on a correct, unspilled run
      metrics("spill_mb") = (med(_.c.spillBytes / mb), "MB")
      metrics("pinned_mb") = (plainPasses.map(_.pinned).max / mb, "MB")
    } else {
      // wall time per pass is reported here, unbounded: on a shared VM it
      // swings with neighbouring load far more than cpu_s or the counters
      metrics("run.pass_s") = (passS, "s")
      metrics("run.rows_per_s") = (wl.inputRows / passS, "1/s")
      metrics("plan.exchanges") = (med(_.c.exchanges.toDouble), "count")
      metrics("plan.reused_exchanges") = (med(_.c.reusedExchanges.toDouble), "count")
      metrics("plan.broadcasts") = (med(_.c.broadcasts.toDouble), "count")
      metrics("run.pinned_mb") = (plainPasses.map(_.pinned).max / mb, "MB")
      metrics("run.spill_mb") = (med(_.c.spillBytes / mb), "MB")
      val nTraced = tracedPasses.size
      metrics("trace.overhead_s") = (median(tracedPasses.map(_.wallNs / 1e9)) - passS, "s")
      val perPass = tracedSpans.map(_.filter(_.kind == "layer").groupBy(_.name))
      for (l <- Layers) {
        def m(f: Seq[Span] => Double) = median(perPass.map(g => f(g.getOrElse(l, Nil))).toSeq)
        val wallS = m(_.map(_.wallNs).sum / 1e9)
        val taskS = m(_.map(_.counters.taskMs).sum / 1e3)
        metrics(s"$l.wall_s") = (wallS, "s")
        metrics(s"$l.self_s") = (m(_.map(s => s.wallNs - s.childNs).sum / 1e9), "s")
        metrics(s"$l.task_s") = (taskS, "s")
        metrics(s"$l.core_idle_s") = (m(ss => ss.map(_.wallNs).sum / 1e9 * Cores - ss.map(_.counters.taskMs).sum / 1e3), "s")
        metrics(s"$l.jobs") = (m(_.map(_.counters.jobs).sum.toDouble), "count")
        metrics(s"$l.tasks") = (m(_.map(_.counters.tasks).sum.toDouble), "count")
        metrics(s"$l.shuffle_mb") = (m(_.map(_.counters.shuffleBytes).sum / mb), "MB")
        metrics(s"$l.retries") = (m(_.map(_.counters.retries).sum.toDouble), "count")
      }
      def ex(k: String) = Workload.extra.getOrElse(k, 0.0) / nTraced
      metrics("geo.exchanges") = (ex("geo.exchanges"), "count")
      def ratio(n: Double, d: Double) = if (d == 0) 0.0 else n / d
      metrics("join.candidates") = (ex("join.candidates"), "count")
      metrics("join.refine_ratio") = (ratio(ex("join.pairs"), ex("join.candidates")), "ratio")
      metrics("dedup.candidates") = (ex("dedup.candidates"), "count")
      metrics("dedup.verified_ratio") = (ratio(ex("dedup.verified"), ex("dedup.candidates")), "ratio")
      metrics("io.written_mb") = (ex("io.written_bytes") / mb, "MB")
      metrics("io.write_amp") = (ratio(ex("io.written_bytes"), ex("io.input_bytes")), "ratio")
      metrics("io.files") = (ex("io.files"), "count")
      for (st <- Seq("ingest", "ways_to_nodes", "summarize"))
        metrics(s"jobs.stage_s.$st") = (ex(s"jobs.stage_s.$st"), "s")
      writeSpans(probe.spans.toSeq, s"$work/spans.jsonl")
    }

    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // ---- untimed correctness check
    val tCheck = System.nanoTime()
    val oracle = wl.oracleSql ++ (if (trace) wl.oracleSql.map { case (n, q) => (s"$n.traced", q) } else Nil)
    // published whole (write, then rename): the runner starts the DuckDB
    // oracle as soon as the file appears, beside the checks below
    val sqlTmp = Files.createDirectories(Paths.get(wl.checkDir)).resolve("oracle_sql.json.tmp")
    Files.writeString(sqlTmp, oracle.map { case (n, q) => s"${js(n)}: ${js(q)}" }.mkString("{", ",\n ", "}\n"))
    Files.move(sqlTmp, sqlTmp.resolveSibling("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
    val checks =
      try wl.check()
      catch { case e: Throwable => Seq(Check("check", Some(e.toString))) }
    checks.foreach(c => c.error.foreach(m => errors(s"${c.op} (check)") = m))
    val checkS = (System.nanoTime() - tCheck) / 1e9
    probe.close()
    spark.stop()

    val body = Seq(
      s""""workload": ${js(wlName)}""",
      s""""attempted": $attempted""",
      s""""failed": $failed""",
      s""""passes": ${plainPasses.size}""",
      s""""timing_s": {"jvm": $jvmStartS, "session": $sessionS, "warm": $warmS, "check": $checkS, "prep": ${prepNs / 1e9}}""",
      s""""ops": {${opWalls.map { case (k, v) => s"${js(k)}: [${v.mkString(", ")}]" }.mkString(", ")}}""",
      s""""checks_failed": ${checks.count(_.error.isDefined)}""",
      s""""errors": {${errors.map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString(", ")}}""",
      s""""metrics": {${metrics.map { case (k, (v, u)) =>
        s"""${js(k)}: {"value": $v, "unit": ${js(u)}}""" }.mkString(", ")}}""")
    Files.writeString(Paths.get(a("out")), body.mkString("{", ",\n ", "}\n"))
  }

  val Layers = Seq("geo", "expr", "join", "knn", "tiles", "streaming", "ops", "dedup", "text",
    "ann", "media", "io", "jobs")

  /** Spans, one JSON object a line, written once at exit. */
  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val lines = spans.map { s =>
      val c = s.counters
      s"""{"id": ${s.id}, "parent": ${s.parent.getOrElse(0)}, "kind": "${s.kind}", "name": "${s.name}", """ +
        s""""wall_s": ${s.wallNs / 1e9}, "self_s": ${(s.wallNs - s.childNs) / 1e9}, "jobs": ${c.jobs}, """ +
        s""""tasks": ${c.tasks}, "task_s": ${c.taskMs / 1e3}, "shuffle_bytes": ${c.shuffleBytes}, """ +
        s""""spill_bytes": ${c.spillBytes}, "retries": ${c.retries}, "exchanges": ${c.exchanges}, """ +
        s""""reused_exchanges": ${c.reusedExchanges}, "broadcasts": ${c.broadcasts}}"""
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
