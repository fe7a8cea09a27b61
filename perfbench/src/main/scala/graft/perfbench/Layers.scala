package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run: each is the mean over the traced
  * ops of the figure for one op, and 0 on a workload whose ops never call
  * the layer. The end-to-end metric each should move, and on which
  * workload, is listed in the benchmark's README. */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "warehouse.write.s" -> "s", "warehouse.write.cpu_s" -> "s",
    "warehouse.write.jobs" -> "count", "warehouse.write.dwell_s" -> "s",
    "ingest.input_mb" -> "MB", "ingest.rows_per_cpu_s" -> "1/s",
    "warehouse.output_mb" -> "MB",
    "warehouse.analyze.s" -> "s", "warehouse.analyze.jobs" -> "count",
    "warehouse.analyze.input_mb" -> "MB",
    "flagship.plan_s" -> "s", "query.rows_read_per_result_row" -> "ratio",
    "query.input_mb" -> "MB", "query.shuffle_mb" -> "MB",
    "export.s" -> "s", "export.cpu_s" -> "s", "export.jobs" -> "count",
    "export.dwell_s" -> "s", "export.merge_s" -> "s",
    "layout.upsert.s" -> "s", "layout.upsert.cpu_s" -> "s",
    "layout.upsert.jobs" -> "count", "layout.upsert.dwell_s" -> "s",
    "layout.upsert.output_mb" -> "MB",
    "layout.upsert.lines_annotated" -> "count",
    "layout.read.plan_s" -> "s",
    "layout.read.bytes_read_per_live_byte" -> "ratio",
    "layout.table_mb" -> "MB", "layout.live_mb" -> "MB",
    "op.jobs" -> "count", "op.stages" -> "count", "op.tasks" -> "count",
    "op.dwell_s" -> "s", "op.cpu_wall_ratio" -> "ratio", "op.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  def metrics(traced: Seq[(Span, Work)], ops: Seq[OpRec])
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val byId = traced.map { case (s, _) => s.id -> s }.toMap
    def parentName(s: Span) = byId.get(s.parent).map(_.name).getOrElse("")
    val good = ops.filter(o => o.ok && o.traced)
    val perOp = good.map { o =>
      val ss = traced.filter(_._1.op == o.index)
      val m = mutable.Map.empty[String, Double]
      def sum(xs: Seq[(Span, Work)]): Work = {
        val w = new Work; xs.foreach(x => w.add(x._2)); w
      }
      def secs(xs: Seq[(Span, Work)]) = xs.map(_._1.seconds).sum
      def dwell(xs: Seq[(Span, Work)]) =
        xs.map { case (s, w) => w.dwellSeconds(s) }.sum
      def named(n: String) = ss.filter(x => !x._1.derived && x._1.name == n)
      def derivedUnder(parent: String, prefix: String) = ss.filter(x =>
        x._1.derived && x._1.name.startsWith(prefix) &&
          parentName(x._1) == parent)

      val writes = derivedUnder("pipeline.build_warehouse", "write:")
      if (writes.nonEmpty) {
        val w = sum(writes)
        m("warehouse.write.s") = secs(writes)
        m("warehouse.write.cpu_s") = w.cpuNs / 1e9
        m("warehouse.write.jobs") = w.jobs
        m("warehouse.write.dwell_s") = dwell(writes)
        m("ingest.input_mb") = w.inputBytes / 1e6
        m("ingest.rows_per_cpu_s") = w.inputRecords / math.max(1e-9, w.cpuNs / 1e9)
        m("warehouse.output_mb") = w.outputBytes / 1e6
      }
      val analyzes = derivedUnder("pipeline.build_warehouse", "analyze:")
      if (analyzes.nonEmpty) {
        m("warehouse.analyze.s") = secs(analyzes)
        m("warehouse.analyze.jobs") = sum(analyzes).jobs
        m("warehouse.analyze.input_mb") = sum(analyzes).inputBytes / 1e6
      }
      m("flagship.plan_s") = secs(named("flagship.plan"))
      val export = named("export")
      val ew = sum(export)
      m("query.rows_read_per_result_row") =
        ew.inputRecords / math.max(1.0, o.extra.getOrElse("result_rows", 1.0))
      m("query.input_mb") = ew.inputBytes / 1e6
      m("query.shuffle_mb") = ew.shuffleWrite / 1e6
      m("export.s") = secs(export)
      m("export.cpu_s") = ew.cpuNs / 1e9
      m("export.jobs") = ew.jobs
      m("export.dwell_s") = dwell(export)
      m("export.merge_s") = export.map { case (s, w) =>
        if (w.lastJobEndMs > 0) math.max(0L, s.endMs - w.lastJobEndMs) / 1e3
        else s.seconds }.sum
      val upserts = named("layout.upsert")
      if (upserts.nonEmpty) {
        val w = sum(upserts)
        m("layout.upsert.s") = secs(upserts)
        m("layout.upsert.cpu_s") = w.cpuNs / 1e9
        m("layout.upsert.jobs") = w.jobs
        m("layout.upsert.dwell_s") = dwell(upserts)
        m("layout.upsert.output_mb") = w.outputBytes / 1e6
        m("layout.upsert.lines_annotated") =
          o.extra.getOrElse("lines_annotated", 0.0)
        m("layout.read.plan_s") = secs(named("layout.read_snapshot_where"))
        val live = o.extra.getOrElse("live_bytes", 0.0)
        m("layout.read.bytes_read_per_live_byte") =
          o.extra.getOrElse("read_bytes", 0.0) / math.max(1.0, live)
        m("layout.table_mb") = o.extra.getOrElse("table_bytes", 0.0) / 1e6
        m("layout.live_mb") = live / 1e6
      }
      val root = named("op")
      val rw = sum(root)
      m("op.jobs") = rw.jobs
      m("op.stages") = rw.stages
      m("op.tasks") = rw.tasks
      m("op.dwell_s") = dwell(root)
      m("op.cpu_wall_ratio") = rw.cpuNs / 1e9 / math.max(1e-9, secs(root))
      m("op.gc_s") = rw.gcMs / 1e3
      m.toMap
    }
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    Units.foreach { case (k, u) =>
      val xs = perOp.flatMap(_.get(k))
      out(k) = (if (xs.isEmpty) 0.0 else xs.sum / xs.size, u)
    }
    // each traced op against the same op (same place in its round) of
    // the untraced rounds either side, so neither the JVM warming up
    // between rounds nor the mask depth within one biases the difference
    val untraced = ops.filter(o => o.ok && !o.traced)
      .map(o => (o.round, o.pos) -> o.seconds).toMap
    val diffs = good.flatMap { o =>
      for (b <- untraced.get((o.round - 1, o.pos));
           c <- untraced.get((o.round + 1, o.pos)))
        yield o.seconds - (b + c) / 2
    }
    out("trace.overhead_s") = (Main.median(diffs), "s")
    out
  }
}
