package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.scalatest.funsuite.AnyFunSuite

/** Both sides of the size ceilings that no operator spec forces:
  * `spark.graft.fanout.smallScanBytes` ([[Tables.fanOutSmallScan]]) and
  * `spark.graft.commit.localWriteBytes` (the AQE-off bucketed staging
  * write in [[ops.Layout]]). A ceiling of 0 pushes test-sized inputs
  * onto the warehouse-scale side; each side must produce the same data. */
class SizeCeilingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withConf[T](k: String, v: String)(body: => T): T = {
    spark.conf.set(k, v)
    try body finally spark.conf.unset(k)
  }

  private def repartitions(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case r: Repartition =>
      r.numPartitions
    }

  test("fanOutSmallScan: both sides of fanout.smallScanBytes") {
    val df = spark.range(1000).toDF("id")
    val parts = math.min(spark.sparkContext.defaultParallelism, 8)
    // under the default ceiling a small scan fans out, capped per site
    assert(repartitions(Tables.fanOutSmallScan(df)) == Seq(parts))
    assert(repartitions(Tables.fanOutSmallScan(df, maxParts = 2)) ==
      Seq(math.min(parts, 2)))
    // the dispatch reads `sizeOf`, not the fanned frame
    val big = df.crossJoin(spark.range(1000).toDF("j"))
    withConf("spark.graft.fanout.smallScanBytes", "64000") {
      assert(repartitions(Tables.fanOutSmallScan(big)).isEmpty)
      assert(repartitions(
        Tables.fanOutSmallScan(big, sizeOf = Some(df))) == Seq(parts))
    }
    // a zero ceiling: every scan is "large" and the frame is untouched
    withConf("spark.graft.fanout.smallScanBytes", "0") {
      assert(Tables.fanOutSmallScan(df) eq df)
    }
    assert(Tables.fanOutSmallScan(df).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("bucketed commit: both sides of commit.localWriteBytes") {
    import ops.Layout._
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, i * 1.0)).toDF("id", "v")
    val props = Map(BucketByProp -> "id", BucketCountProp -> "4")
    def layout(table: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(table)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      spjFileKeys(spark, table, currentVersion(fs, root)).toSeq
        .flatMap(_._2.values.map(_.toString)).sorted
    }
    JobGroupCounter.withCounter(spark) { jobs =>
      def commit(name: String): String = {
        val table = s"target/graft_io/spec/ceiling_$name"
        dropTable(spark, table)
        jobs.inGroup(name)(commitSnapshot(spark, table, rows, props = props))
        table
      }
      val local = commit("local")
      val adaptive = withConf("spark.graft.commit.localWriteBytes", "0") {
        commit("adaptive")
      }
      assert(readSnapshot(spark, local).orderBy("id").collect().toSeq ==
        readSnapshot(spark, adaptive).orderBy("id").collect().toSeq)
      assert(layout(local).nonEmpty && layout(local) == layout(adaptive))
      // the AQE-off write drops the adaptive shuffle-materialization job
      assert(jobs("local") < jobs("adaptive"),
        s"jobs local=${jobs("local")} adaptive=${jobs("adaptive")}")
    }
  }
}
