package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cnpj._
import graft.ops.Layout

/** Closed-loop pipeline benchmark, one client: each op starts when the
  * previous one has finished and been checked.
  *
  *   graft.perfbench.Main --work <dir> --workload
  *     <etl_cold|monthly_upsert> --seed <n> --seconds <s>
  *     --trace <0|1>
  *   graft.perfbench.Main --work <dir> --selftest
  *
  * Prints a detail object (environment, workload properties, sample
  * counts) and then, as the last line, the result object: end-to-end
  * metrics untraced, per-layer metrics with `--trace 1`. */
object Main {
  /** Estabelecimentos per run: 6% of the reference's 1x drop, so every
    * run's set-up and window fit the run budget. */
  val Rows = 60000
  /** Monthly deltas per epoch of `monthly_upsert`. */
  val Cycles = 5
  /** Fewest timed ops per run: one `monthly_upsert` epoch, and enough
    * `etl_cold` ops that one slow op does not move the median. */
  val MinOps = 5
  val Workloads = Seq("etl_cold", "monthly_upsert")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File)

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val work = new File(kv("--work"))
    if (argv.contains("--selftest")) {
      sys.exit(if (SelfTest.run(new File(work, "selftest"))) 0 else 1)
    }
    val a = Args(kv("--workload"), kv("--seed").toLong,
      kv("--seconds").toInt, kv("--trace") == "1", work)
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    val dir = new File(a.work, s"${a.workload}-${a.seed}")
    val out = new Run(a, dir).result()
    out.foreach(println)
  }

  def session(dir: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = graft.GraftSession.builder(s"local[$cpus]", Some(cpus))
      .config("spark.sql.warehouse.dir",
        new File(dir, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .foreach(deleteRecursively)
    f.delete()
  }

  def copyDir(from: File, to: File): Unit = {
    val src = from.toPath
    Files.walk(src).forEach { p =>
      val q = to.toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile (at least the median) with ten or more
    * samples beyond it, by nearest rank: (value, percentile, n). Under
    * twenty samples no percentile above the median has ten beyond it, and
    * the median is reported. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val n = xs.size
    if (n < 20) (median(xs), 50, n)
    else {
      val p = math.max(50, (100 * (n - 10)) / n)
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (xs.sorted.apply(rank - 1), p, n)
    }
  }

  /** Minimal JSON rendering for the output objects and the trace file. */
  def json(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "0.0" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}

/** One op's outcome. `seconds` is the op's wall time; `querySeconds` the
  * part spent in the flagship query, PandasCompat and the export;
  * `round` and `pos` place it in the timed window (round, op within the
  * round), -1 outside it. */
final case class OpRec(index: Int, seconds: Double, querySeconds: Double,
    inputRows: Long, ok: Boolean, traced: Boolean, reason: String,
    extra: Map[String, Double] = Map.empty, round: Int = -1, pos: Int = -1)

final class Run(a: Main.Args, dir: File) {
  import Main._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val load0 = loadavg()
  private val wall0 = System.nanoTime()
  private val cpu0 = processCpuNs()
  private val steal0 = stealSeconds()

  deleteRecursively(dir)
  dir.mkdirs()
  private val spark = session(dir)
  private val sessionSeconds = secs(wall0)
  private val rawDir = new File(dir, "raw")
  private val gen = new Gen(a.seed, Rows, rawDir)
  private val gen0 = now()
  private val rawBytes = gen.writeRaw()
  private val genSeconds = secs(gen0)
  private val tracer = new Tracer(spark, a.trace)

  private val whDir = new File(dir, "warehouse")
  private val exportDir = new File(dir, "export-shards")
  private val exportFile = new File(dir, "resultado_final.csv")

  private val rawRows = gen.rawRows()
  private val passFraction = gen.filterPassFraction()
  private val want0 = gen.expected()

  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val setupSeconds = mutable.ArrayBuffer.empty[Double]
  private val storedRatios = mutable.ArrayBuffer.empty[Double]
  private val detail = mutable.LinkedHashMap.empty[String, Any]

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def whTable(n: String): DataFrame =
    Warehouse.readTableWithStats(spark, s"cnpj_$n", s"$whDir/$n")

  /** Flagship, PandasCompat and the single-file BOM export, as
    * `Pipeline.runCompat` ends; returns the seconds it took. */
  private def queryExport(flagship: => DataFrame): Double = {
    val t0 = now()
    val result = tracer.span("flagship.plan")(flagship)
    val compat = tracer.span("pandas_compat")(PandasCompat(result))
    tracer.span("export") {
      Export.writeCsvUtf8SigSingle(
        compat.orderBy("cnpj_basico", "nome_fantasia"),
        exportDir.getPath, exportFile)
    }
    secs(t0)
  }

  /** Runs one op under an `op` span when traced; checks its export. */
  private def op(traced: Boolean, want: Expected, inputRows: Long)
      (body: => (Double, Map[String, Double])): OpRec = {
    val i = ops.size
    exportFile.delete() // a stale export must never pass the check
    tracer.active = traced
    tracer.op = i
    val t0 = now()
    val rec =
      try {
        val (q, extra) = tracer.span("op")(body)
        val s = secs(t0)
        val bad = Check.export(exportFile, want)
        OpRec(i, s, q, inputRows, bad.isEmpty, traced, bad.getOrElse(""),
          extra + ("result_rows" -> want.rows.toDouble))
      } catch {
        case e: Exception =>
          OpRec(i, secs(t0), 0.0, inputRows, ok = false, traced,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    tracer.active = false
    ops += rec
    settle()
    rec
  }

  /** Between ops, outside the timed part: a full GC, so every op starts
    * from a collected heap and the heap still in use is the memory the
    * program retains across ops (the second collection frees what Spark's
    * cleaner released after the first); then a wait of up to two seconds
    * for the JIT compile queue to drain, since compiler threads busy
    * during an op take CPUs from its tasks. */
  private var retainedPeak = 0L
  private var quiesceSeconds = 0.0
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    retainedPeak = math.max(retainedPeak, java.lang.management
      .ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    val t0 = now()
    var jit = jvmJitSeconds()
    var busy = true
    while (busy && secs(t0) < 2.0) {
      Thread.sleep(200)
      val j = jvmJitSeconds()
      busy = j - jit > 0.02
      jit = j
    }
    quiesceSeconds += secs(t0)
  }

  /** Rounds until the ops have been timed for `--seconds` in all and
    * there are at least [[MinOps]] of them (the checks and collections
    * between ops do not count, so the op count does not hinge on them).
    * A traced run alternates untraced and traced rounds, untraced first
    * and last, at least three: ops still speed up as the JVM warms, and
    * this way the traced rounds sit in the middle of the untraced ones.
    * The listener is attached only while a traced round runs, so
    * untraced rounds pay nothing for tracing.
    * Ops that fail at once leave `measured` near zero, so the window also
    * ends after eight times `--seconds` of wall time. Returns the number
    * of rounds. */
  private def window(round: Boolean => Unit): Int = {
    settle()
    val first = ops.size
    val t0 = now()
    def measured = ops.iterator.drop(first).map(_.seconds).sum
    var r = 0
    while ((ops.size - first < MinOps || measured < a.seconds ||
        (a.trace && (r < 3 || r % 2 == 0))) &&
        secs(t0) < 8.0 * a.seconds) {
      val traced = a.trace && r % 2 == 1
      val before = ops.size
      if (traced) tracer.attached(round(true)) else round(false)
      for (k <- before until ops.size)
        ops(k) = ops(k).copy(round = r, pos = k - before)
      r += 1
    }
    r
  }

  // ---- workloads --------------------------------------------------------

  private def etlCold(): Unit = {
    // set-up: the same chain, three times — class loading, code
    // generation and the first plans happen here, not in the first op
    for (_ <- 1 to 3) {
      val t0 = now()
      Pipeline.buildWarehouse(spark, rawDir.getPath, whDir.getPath)
      queryExport(Pipeline.flagship(spark, whDir.getPath))
      setupSeconds += secs(t0)
      Check.export(exportFile, want0).foreach(r =>
        throw new IllegalStateException(s"set-up export wrong: $r"))
    }
    detail("rounds") = window { traced =>
      op(traced, want0, rawRows) {
        tracer.span("pipeline.build_warehouse") {
          Pipeline.buildWarehouse(spark, rawDir.getPath, whDir.getPath)
        }
        val q = queryExport(Pipeline.flagship(spark, whDir.getPath))
        (q, Map.empty)
      }
      storedRatios += Gen.dirBytes(whDir).toDouble / rawBytes
    }
  }

  /** One `monthly_upsert` cycle on `table`: the upsert of `delta`, then
    * the flagship over the snapshot read, PandasCompat and the export.
    * Returns (query seconds, upsert seconds, lines annotated, snapshot). */
  private def upsertCycle(table: File, delta: File)
      : (Double, Double, Long, DataFrame) = {
    val t0 = now()
    val (_, annotated, _) = tracer.span("layout.upsert") {
      Layout.upsertByKeys(spark, table.getPath,
        Warehouse.typedEstabelecimentos(Ingest.readRawCsv(spark,
          delta.getPath, Schemas.estabelecimentosRaw)),
        Seq("cnpj_basico", "cnpj_ordem", "cnpj_dv"),
        deleteOnly = false)
    }
    val upsertS = secs(t0)
    var snapshot: DataFrame = null
    val q = queryExport {
      snapshot = tracer.span("layout.read_snapshot_where") {
        Layout.readSnapshotWhere(spark, table.getPath, Seq(
          Layout.SkipIn("id_municipio", Flagship.municipios.map(_.toLong)),
          Layout.SkipIn("id_cnae", Flagship.cnaes)))
      }
      Flagship.query(snapshot, whTable("cnae"), whTable("empresas"),
        whTable("municipios"), whTable("motivo_situacao_cadastral"))
    }
    (q, upsertS, annotated, snapshot)
  }

  /** Equality-delete masks on each line of `table`'s newest manifest:
    * (mean, max) over the lines. */
  private def deleteDepth(table: File): (Double, Double) = {
    val root = new org.apache.hadoop.fs.Path(table.getPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val depths = Layout.manifestLinesOf(spark, table.getPath,
      Layout.currentVersion(fs, root)).map(Layout.entryEqs(_).size)
    if (depths.isEmpty) (0.0, 0.0)
    else (depths.sum.toDouble / depths.size, depths.max.toDouble)
  }

  private def monthlyUpsert(): Unit = {
    val deltas = (1 to Cycles).map { c =>
      val d = new File(dir, s"delta-$c")
      val n = gen.writeDelta(c, d)
      (d, n, gen.expected(), gen.rows)
    }
    Pipeline.buildWarehouse(spark, rawDir.getPath, whDir.getPath)
    val pristine = new File(dir, "estab-table-pristine")
    for (_ <- 1 to 3) {
      val t0 = now()
      Layout.dropTable(spark, pristine.getPath)
      Layout.commitSnapshot(spark, pristine.getPath,
        Layout.zArranged(Warehouse.readTable(spark, s"$whDir/estabelecimentos"),
          "id_municipio", "id_cnae", files = 8, buckets = 64),
        statsColumns = Seq("id_municipio", "id_cnae"),
        props = Map(Layout.RowLevelModeProp -> "mor"))
      setupSeconds += secs(t0)
    }
    // warm-up, untimed: one cycle on a scratch copy, so the JVM's first
    // upsert and snapshot read happen here and not in the first timed op
    val scratch = new File(dir, "estab-table-warmup")
    copyDir(pristine, scratch)
    upsertCycle(scratch, deltas.head._1)
    Check.export(exportFile, deltas.head._3).foreach(r =>
      throw new IllegalStateException(s"warm-up export wrong: $r"))
    deleteRecursively(scratch)

    val pristineBytes = Gen.dirBytes(pristine).toDouble
    val liveBytesPerRow = pristineBytes / Rows
    val dimRows = rawRows - Rows - gen.empresas
    var epoch = 0
    def cycles(traced: Boolean): Unit = {
      val table = new File(dir, s"estab-table-$epoch")
      epoch += 1
      copyDir(pristine, table)
      for (((delta, deltaRows, want, liveRows), c) <- deltas.zipWithIndex) {
        var snapshot: DataFrame = null
        val rec = op(traced, want,
          deltaRows + liveRows + gen.empresas + dimRows) {
          val (q, upsertS, annotated, snap) = upsertCycle(table, delta)
          snapshot = snap
          (q, Map("upsert_s" -> upsertS,
            "lines_annotated" -> annotated.toDouble))
        }
        val tableBytes = Gen.dirBytes(table).toDouble
        val liveBytes = liveBytesPerRow * liveRows
        val readBytes =
          if (!rec.traced || snapshot == null) 0.0
          else snapshot.inputFiles.map(f =>
            new File(new java.net.URI(f)).length()).sum.toDouble
        val (depthMean, depthMax) = deleteDepth(table)
        ops(ops.size - 1) = rec.copy(extra = rec.extra ++ Map(
          "cycle" -> (c + 1).toDouble, "table_bytes" -> tableBytes,
          "live_bytes" -> liveBytes, "read_bytes" -> readBytes,
          "delete_depth_mean" -> depthMean, "delete_depth_max" -> depthMax))
        if (c + 1 == Cycles) storedRatios += tableBytes / liveBytes
      }
      deleteRecursively(table)
    }
    detail("epochs") = window(cycles)
    // realized after each cycle, from the manifest: equality-delete
    // masks per line (mean and max over lines) and lines annotated
    def perCycle(k: String) = (1 to Cycles).map(c =>
      median(ops.filter(_.extra.get("cycle").contains(c.toDouble)).toSeq
        .flatMap(_.extra.get(k))))
    detail("delete_depth_per_cycle") = Map(
      "mean" -> perCycle("delete_depth_mean"),
      "max" -> perCycle("delete_depth_max"))
    detail("lines_annotated_per_cycle") = perCycle("lines_annotated")
  }

  // ---- result -----------------------------------------------------------

  def result(): Seq[String] = {
    try {
      a.workload match {
        case "etl_cold" => etlCold()
        case "monthly_upsert" => monthlyUpsert()
      }
      val traced = tracer.collect()
      if (a.trace) {
        val w = new java.io.PrintWriter(new File(a.work,
          s"trace-${a.workload}-${a.seed}.jsonl"), "UTF-8")
        try tracer.toJsonLines(traced).foreach(w.println) finally w.close()
      }
      val good = ops.filter(_.ok)
      val failed = ops.count(!_.ok)
      val metrics =
        if (a.trace) Layers.metrics(traced, ops.toSeq)
        else endToEnd(good.toSeq)
      Seq(json(Map("detail" -> details(failed))),
        json(mutable.LinkedHashMap(
          "correct" -> (failed == 0 && ops.nonEmpty),
          "attempted" -> ops.size, "failed" -> failed,
          "metrics" -> metrics.map { case (k, (v, u)) =>
            k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
    } finally {
      spark.stop()
      deleteRecursively(dir)
    }
  }

  private def endToEnd(good: Seq[OpRec])
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val opS = good.map(_.seconds)
    val qS = good.map(_.querySeconds)
    def tailOf(xs: Seq[Double]) = {
      val (v, p, n) = tail(xs)
      Map("value" -> v, "percentile" -> p, "n" -> n)
    }
    detail("tail") = Map("op_s" -> tailOf(opS), "query_s" -> tailOf(qS))
    // the named figures of each workload, under their own names
    def ex(k: String) = good.flatMap(_.extra.get(k))
    detail("named") = a.workload match {
      case "etl_cold" => Map("etl_s.p50" -> median(opS),
        "etl_rows_per_s" -> good.map(_.inputRows).sum / opS.sum,
        "warehouse_bytes_per_raw_byte" -> median(storedRatios.toSeq))
      case _ => Map("upsert_s.p50" -> median(ex("upsert_s")),
        "upsert_s.tail" -> tailOf(ex("upsert_s")),
        "snapshot_query_s.p50" -> median(qS),
        "table_bytes_per_live_byte" -> median(storedRatios.toSeq))
    }
    mutable.LinkedHashMap(
      "setup_s" -> (median(setupSeconds.toSeq), "s"),
      "op_s.p50" -> (median(opS), "s"),
      "query_s.p50" -> (median(qS), "s"),
      "rows_per_s" -> (good.map(_.inputRows).sum / math.max(1e-9, opS.sum),
        "1/s"),
      "ok_ratio" -> (good.size.toDouble / math.max(1, ops.size), "ratio"),
      "stored_bytes_per_source_byte" -> (median(storedRatios.toSeq), "B/B"),
      "retained_heap_mb" -> (retainedPeak / 1048576.0, "MB"))
  }

  private def details(failed: Int): Map[String, Any] = {
    detail ++= Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "loop" -> "closed, one client",
      "nproc" -> cpus, "spark_master" -> s"local[$cpus]",
      "loadavg_before" -> load0, "loadavg_after" -> loadavg(),
      "process_cpu_s" -> (processCpuNs() - cpu0) / 1e9,
      "cpu_steal_s" -> (stealSeconds() - steal0),
      "jvm_gc_s" -> jvmGcSeconds(), "jvm_jit_s" -> jvmJitSeconds(),
      "jit_drain_wait_s" -> quiesceSeconds,
      "process_wall_s" -> (System.nanoTime() - wall0) / 1e9,
      "raw_bytes" -> rawBytes, "raw_rows" -> rawRows,
      "generate_s" -> genSeconds, "session_s" -> sessionSeconds,
      "estabelecimentos" -> Rows, "empresas" -> gen.empresas,
      "filter_pass_fraction" -> passFraction,
      "expected_export_rows" -> want0.rows,
      "setup_s" -> setupSeconds.toSeq,
      "op_s" -> ops.map(_.seconds).toSeq,
      "query_s" -> ops.map(_.querySeconds).toSeq,
      "failures" -> ops.filterNot(_.ok).map(_.reason).distinct.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "flush_policy" -> ("local filesystem through the Hadoop local " +
        "file system, no fsync; the same on both sides of a comparison"),
      "data_fits_in_ram" -> true)
    detail.toMap
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath))
      .trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  private def jvmGcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  private def jvmJitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3

  /** Time the hypervisor ran something else on this machine's CPUs. */
  private def stealSeconds(): Double =
    try new String(Files.readAllBytes(new File("/proc/stat").toPath))
      .linesIterator.next().split("\\s+")(8).toDouble / 100
    catch { case _: Exception => 0.0 }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  private def peakRssMb(): Double =
    try {
      val l = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      l.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => 0.0 }
}
