package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. Benchmark spans wrap a call into a layer; child
  * spans with `derived = true` are the SQL executions the listener saw
  * inside a benchmark span (one per `Warehouse.writeTable` write, one per
  * `ANALYZE`), since `Pipeline.buildWarehouse` is called whole. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long, durNs: Long, derived: Boolean = false) {
  def seconds: Double = durNs / 1e9
}

/** Spark work attributed to one span: counts, bytes and the job
  * intervals that dwell is measured against. */
final class Work {
  var jobs, stages, tasks = 0
  var cpuNs, gcMs, inputBytes, inputRecords, shuffleRead, shuffleWrite,
      outputBytes = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var lastJobEndMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    outputBytes += o.outputBytes
    intervals ++= o.intervals
    lastJobEndMs = math.max(lastJobEndMs, o.lastJobEndMs)
  }

  /** Wall time inside `s` covered by no job: planning, listing, commit
    * I/O and driver-side merging. */
  def dwellSeconds(s: Span): Double = {
    val clipped = intervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }
}

/** Spans kept in memory, plus a listener that attributes every Spark job
  * to the benchmark span active when it ran, through the job group the
  * tracer sets. The listener is on the bus only inside [[attached]].
  * Disabled or inactive, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val GroupPrefix = "perfbench-span-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  /** Spans are recorded only while tracing is enabled and active. */
  var active: Boolean = false
  var op: Int = -1

  private val listener = new Listener

  /** Runs `body` with the listener on the bus; drains the bus before
    * taking it off, so every event of `body` reaches it. */
  def attached[A](body: => A): A =
    if (!enabled) body
    else {
      spark.sparkContext.addSparkListener(listener)
      try body
      finally {
        org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

  def span[A](name: String)(body: => A): A =
    if (!enabled || !active) body
    else {
      val sc = spark.sparkContext
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      stack = id :: stack
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
        spans += Span(id, name, parent, op, ms0, ms1, ns1 - ns0)
        stack = stack.tail
        outer match {
          case Some(g) => sc.setJobGroup(g, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Every span (benchmark and derived) with the work attributed to it,
    * the work of a span's descendants included. */
  def collect(): Seq[(Span, Work)] = {
    if (!enabled) return Nil
    listener.synchronized {
      val own = mutable.Map.empty[Int, Work]
      val derived = mutable.ArrayBuffer.empty[Span]
      listener.execs.values.foreach { x =>
        if (x.span >= 0 && x.root == x.id && x.endMs > 0) {
          val id = nextId; nextId += 1
          val parent = spans.find(_.id == x.span)
          derived += Span(id, x.name, x.span, parent.map(_.op).getOrElse(-1),
            x.startMs, x.endMs, (x.endMs - x.startMs) * 1000000L,
            derived = true)
          val w = new Work
          listener.jobs.values.filter(j => rootOf(j.exec) == x.id)
            .foreach(j => w.add(j.work))
          own(id) = w
        }
      }
      listener.jobs.values.foreach { j =>
        if (j.span >= 0) own.getOrElseUpdate(j.span, new Work).add(j.work)
      }
      val all = spans.toSeq ++ derived
      val children = all.groupBy(_.parent)
      def total(s: Span): Work = {
        val w = new Work
        own.get(s.id).foreach(w.add)
        if (!s.derived)
          children.getOrElse(s.id, Nil).filterNot(_.derived).foreach(c =>
            w.add(total(c)))
        w
      }
      all.map(s => s -> total(s))
    }
  }

  private def rootOf(exec: Long): Long =
    listener.execs.get(exec).map(_.root).getOrElse(exec)

  /** One JSON object per span, for the trace file. */
  def toJsonLines(traced: Seq[(Span, Work)]): Seq[String] = traced.map {
    case (s, w) => Main.json(mutable.LinkedHashMap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds,
      "derived" -> s.derived, "jobs" -> w.jobs, "stages" -> w.stages,
      "tasks" -> w.tasks, "cpu_s" -> w.cpuNs / 1e9, "gc_s" -> w.gcMs / 1e3,
      "input_bytes" -> w.inputBytes, "input_records" -> w.inputRecords,
      "shuffle_read_bytes" -> w.shuffleRead,
      "shuffle_write_bytes" -> w.shuffleWrite,
      "output_bytes" -> w.outputBytes, "dwell_s" -> w.dwellSeconds(s)))
  }

  private final class JobRec(val span: Int, val exec: Long) {
    val work = new Work
  }
  private final class ExecRec(val id: Long, val root: Long, val span: Int,
      val name: String, val startMs: Long) {
    var endMs = 0L
  }

  private def spanOfGroup(g: String): Int =
    if (g != null && g.startsWith(GroupPrefix))
      g.substring(GroupPrefix.length).toInt
    else -1

  private final class Listener extends SparkListener {
    val jobs = mutable.Map.empty[Int, JobRec]
    val execs = mutable.Map.empty[Long, ExecRec]
    private val jobOfStage = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      val group = if (p == null) null else p.getProperty("spark.jobGroup.id")
      val exec = Option(p).flatMap(q =>
        Option(q.getProperty("spark.sql.execution.id"))).map(_.toLong)
        .getOrElse(-1L)
      val j = new JobRec(spanOfGroup(group), exec)
      j.work.jobs = 1
      j.work.intervals += ((e.time, e.time))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        val (a, _) = j.work.intervals.head
        j.work.intervals(0) = (a, e.time)
        j.work.lastJobEndMs = e.time
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted)
        : Unit = synchronized {
      val si = e.stageInfo
      for (jid <- jobOfStage.get(si.stageId); j <- jobs.get(jid)) {
        val w = j.work
        val m = si.taskMetrics
        w.stages += 1
        w.tasks += si.numTasks
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRecords += m.inputMetrics.recordsRead
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val root = s.rootExecutionId.getOrElse(s.executionId)
        execs(s.executionId) = new ExecRec(s.executionId, root,
          s.jobGroupId.map(spanOfGroup).getOrElse(-1),
          execName(s.physicalPlanDescription), s.time)
      }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        execs.get(s.executionId).foreach(_.endMs = s.time)
      }
      case _ => ()
    }
  }

  private val CatalogCommands = Seq("Execute AnalyzeTableCommand",
    "Execute AnalyzeColumnCommand", "Execute CreateDataSourceTableCommand",
    "DropTable")
  private val TableRe = """default`?\.`?(\w+)""".r

  /** The `Arguments:` line of plan node `node` in a formatted plan. */
  private def argsOf(plan: String, node: String): Option[String] = {
    val i = plan.lastIndexOf(s") $node")
    val j = if (i < 0) -1 else plan.indexOf("Arguments: ", i)
    if (j < 0) None
    else Some(plan.substring(j + "Arguments: ".length).takeWhile(_ != '\n'))
  }

  /** Names an execution by the command it runs: a parquet write after
    * the directory it writes; the DROP, CREATE and ANALYZE commands of
    * `Warehouse.analyzeTable` after the table they register. */
  private def execName(plan: String): String = {
    val p = Option(plan).getOrElse("")
    argsOf(p, "Execute InsertIntoHadoopFsRelationCommand")
      .map(a => "write:" + a.takeWhile(_ != ',').split('/').last)
      .orElse(CatalogCommands.view.flatMap(argsOf(p, _)).headOption.map(a =>
        "analyze:" + TableRe.findFirstMatchIn(a).map(_.group(1)).getOrElse("")))
      .getOrElse("sql")
  }
}
