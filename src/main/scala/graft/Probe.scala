package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev utility: time a handful of keys, optionally A/B under session
  * conf toggles, and attribute each run's cost per STAGE and per JOB —
  * so a multi-stage query's cost can be assigned to the operator that
  * spends it (guide §1: decide whether the time goes to shuffle read,
  * compute, or scheduling BEFORE changing anything), and a bench
  * regression can be split into a plan change (flips with the conf) or
  * machine noise (doesn't). Not part of the bench contract.
  *
  *   runMain graft.Probe <key,key,...> [runs] [conf=a|b[;conf2=c|d]]
  *
  * Reads `SPARK_GRAFT_SF_DIR` (the testdata scale directory, required)
  * and `SPARK_GRAFT_CPUS` (default 32). Each key runs once untimed (JIT,
  * codegen, parquet footers), then `runs` times per side (default 2)
  * through [[BenchProtocol.timeOnce]]. Every run prints its top stages
  * by executor CPU and its per-job driver dwell; each side ends with a
  * `PROBE` line carrying the min wall and min executor CPU over its
  * successful runs — the repo's regression protocol diffs CPU, not
  * wall, so the dev tool surfaces the same signal the bench artifact
  * does.
  */
object Probe {
  final case class StageRow(jobId: Int, stageId: Int, name: String,
      tasks: Int, wallMs: Long, cpuMs: Long, runMs: Long,
      shuffleReadMB: Double, shuffleWriteMB: Double, inputMB: Double)

  /** (jobId, startMs, endMs, gapSincePrevJobEndMs): the GAP column is the
    * driver-only dwell between one job finishing and the next starting —
    * planning, file listing, commit protocol, fs renames. For multi-job
    * lifecycle verbs the r21 probe showed stage walls summing to well
    * under half the key's wall; this column is where the rest lives. */
  final case class JobRow(jobId: Int, startMs: Long, endMs: Long,
      gapMs: Long, site: String)

  final class Listener extends SparkListener {
    val rows = ArrayBuffer.empty[StageRow]
    val jobs = ArrayBuffer.empty[JobRow]
    private var jobOfStage = Map.empty[Int, Int]
    private var jobStart = Map.empty[Int, Long]
    private var jobSite = Map.empty[Int, String]
    private var lastJobEnd = 0L
    def reset(): Unit = synchronized {
      rows.clear(); jobs.clear(); jobOfStage = Map.empty; lastJobEnd = 0L
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized {
        e.stageIds.foreach(sid => jobOfStage += (sid -> e.jobId))
        jobStart += (e.jobId -> e.time)
        jobSite += (e.jobId -> Option(e.properties).map { p =>
          p.getProperty("spark.job.description",
            p.getProperty("callSite.short", ""))
            .takeWhile(_ != '\n').take(90)
        }.getOrElse(""))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized {
        val st = jobStart.getOrElse(e.jobId, e.time)
        // clamp: a job that STARTED before the previous one ended
        // (overlapping jobs) must not subtract from the dwell sum the
        // probe's driver-latency conclusions rest on (r21 ADVICE)
        val gap =
          if (lastJobEnd == 0) 0 else math.max(0L, st - lastJobEnd)
        jobs += JobRow(e.jobId, st, e.time, gap,
          jobSite.getOrElse(e.jobId, ""))
        lastJobEnd = math.max(lastJobEnd, e.time)
        // prune per-job entries so a long probe session doesn't grow the
        // maps for the listener's lifetime (r21 ADVICE)
        jobStart -= e.jobId
        jobSite -= e.jobId
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        rows += StageRow(
          jobOfStage.getOrElse(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n').take(90), si.numTasks, wall,
          m.executorCpuTime / 1000000, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6)
      }
  }

  /** One timed run: (wall s, executor CPU s, jobs), wall -1 on failure. */
  private def probeOnce(spark: org.apache.spark.sql.SparkSession,
      lis: Listener, sfDir: String, key: String, label: String)
      : (Double, Double, Int) = {
    lis.reset()
    val t = BenchProtocol.timeOnce(spark, sfDir, SparkEntry.queries(key))
    org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
    val (rows, jobs) = lis.synchronized(
      (lis.rows.toVector, lis.jobs.toVector.sortBy(_.startMs)))
    // dev tool: surface the failure before folding to the sentinel
    if (t < 0) println(s"ERR $key (run the key via Verify for the stack)")
    println(f"== $key $label wall=$t%.3f s ==")
    rows.sortBy(-_.cpuMs).take(12).foreach { r =>
      println(f"  job=${r.jobId}%3d stage=${r.stageId}%4d cpu=${r.cpuMs}%6d ms run=${r.runMs}%6d ms wall=${r.wallMs}%6d ms tasks=${r.tasks}%4d sr=${r.shuffleReadMB}%8.1f MB sw=${r.shuffleWriteMB}%8.1f MB in=${r.inputMB}%8.1f MB  ${r.name}")
    }
    val cpuMs = rows.map(_.cpuMs).sum
    println(f"  TOTAL cpu=$cpuMs%6d ms over ${rows.size} stages, ${rows.map(_.tasks).sum} tasks")
    val jobWall = jobs.map(j => j.endMs - j.startMs).sum
    val gapSum = jobs.map(_.gapMs).sum
    println(f"  JOBS n=${jobs.size} jobWall=$jobWall%5d ms interJobGap=$gapSum%5d ms (driver dwell between jobs)")
    jobs.foreach { j =>
      // fall back to the first stage's name (the action call site)
      val site = if (j.site.nonEmpty) j.site
        else rows.find(_.jobId == j.jobId).map(_.name).getOrElse("")
      println(f"    gap=${j.gapMs}%5d ms before job=${j.jobId}%3d (ran ${j.endMs - j.startMs}%4d ms)  $site")
    }
    (t, cpuMs / 1e3, jobs.size)
  }

  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").toSeq
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val toggles: Seq[(String, String, String)] = args.lift(2).toSeq
      .flatMap(_.split(";")).map { t =>
        val Array(k, vs) = t.split("=", 2)
        val Array(a, b) = vs.split("\\|", 2)
        (k, a, b)
      }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a testdata scale directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", Some(cpus.toInt))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lis = new Listener
    spark.sparkContext.addSparkListener(lis)
    val sides = if (toggles.isEmpty) Seq(0) else Seq(0, 1)
    keys.foreach { key =>
      // warmup run outside the probe window (JIT/codegen, parquet footers)
      BenchProtocol.timeOnce(spark, sfDir, SparkEntry.queries(key))
      // INTERLEAVE sides per run (A,B,A,B,...) rather than running all
      // of side 0 then all of side 1: a transient contention window on a
      // shared host (CPU steal comes and goes in multi-minute bursts) would
      // otherwise poison exactly one side and masquerade as a toggle
      // effect — the r21 committer A/B read +60% on side 1 from
      // contention alone until interleaving flattened it.
      val samples = (1 to runs).flatMap { run =>
        sides.map { side =>
          toggles.foreach { case (c, a, b) =>
            spark.conf.set(c, if (side == 0) a else b)
          }
          val label = if (toggles.isEmpty) s"run $run"
            else s"side $side run $run"
          side -> probeOnce(spark, lis, sfDir, key, label)
        }
      }
      sides.foreach { side =>
        val label = if (toggles.isEmpty) "RUN" else s"SIDE$side"
        // min over the SUCCESSFUL runs: -1 is the error sentinel, and
        // math.min would let one transient failure discard a valid sample
        val ok = samples.collect { case (`side`, r) if r._1 >= 0 => r }
        val (t, c) =
          if (ok.isEmpty) (-1.0, -1.0)
          else (ok.map(_._1).min, ok.map(_._2).min)
        val jobs = ok.map(_._3).distinct.sorted.mkString("/")
        println(f"PROBE $label $key wall=$t%.3f cpu=$c%.3f " +
          s"runs=${ok.size} jobs=$jobs")
      }
    }
    spark.stop()
  }
}
