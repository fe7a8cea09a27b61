package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r22 fused COW merge rewrite (one left-outer join of the affected
  * files against the aliased source) must be result-identical to the
  * two-join form it replaced (carried = anti-join, updated = inner
  * join). That form lives here as the reference, computed from the
  * pre-merge snapshot and the source. Exercised over the adversarial
  * MERGE shapes: deleteWhen retractions, NULL-keyed source rows,
  * duplicate target rows per key, an affected/untouched file split, and
  * column names that collide with the old reserved source prefix and
  * with the delete marker's name. */
class MergeFusionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The two-join MERGE over the whole pre-merge snapshot: rows whose
    * key the source misses carry, rows it matches take the unmarked
    * source row (delete-marked matches leave), and unmarked source rows
    * whose key is absent insert. Returns (rows, inserted count). */
  private def twoJoinReference(pre: DataFrame, src: DataFrame,
      key: String, retract: String): (DataFrame, Long) = {
    val tcols = pre.columns.toSeq.map(col)
    val upSrc = src.where(!coalesce(col(retract), lit(false)))
    val carried = pre.join(src.select(key), Seq(key), "left_anti")
    val updated = pre.select(key).join(upSrc, Seq(key), "inner")
      .select(tcols: _*)
    val inserts = upSrc.select(tcols: _*)
      .join(pre.select(key), Seq(key), "left_anti")
    (carried.unionByName(updated).unionByName(inserts), inserts.count())
  }

  /** Build the two-file table `t1` + `t2` (columns `cols`), MERGE `src`
    * on the first column with deleteWhen = `retract`, and compare the
    * result to [[twoJoinReference]]. Returns the merged rows. */
  private def mergeMatchesReference(dir: String, cols: Seq[String],
      t1: DataFrame, t2: DataFrame, src: DataFrame): Seq[Row] = {
    import ops.Layout._
    val table = s"target/graft_io/spec/$dir"
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    commitSnapshot(spark, table, t1.toDF(cols: _*))
    commitSnapshot(spark, table, t2.toDF(cols: _*))
    val key = cols.head
    // frozen before the merge commits: the reference reads these rows
    val snap = readSnapshot(spark, table)
    val pre = spark.createDataFrame(
      java.util.Arrays.asList(snap.collect(): _*), snap.schema)
    val (ref, refIns) = twoJoinReference(pre, src, key, "retract")
    val matchedFiles = snap.select(col(key), input_file_name().as("f"))
      .join(src.select(key), Seq(key), "left_semi")
      .select("f").distinct().count()
    val order = cols.map(col)
    val expected = ref.orderBy(order: _*).collect().toSeq
    val (_, nFiles, nIns) =
      mergeInto(spark, table, src, key, deleteWhen = Some(col("retract")))
    val got = readSnapshot(spark, table).orderBy(order: _*).collect().toSeq
    assert(got == expected, s"merged=$got\nreference=$expected")
    assert(nIns == refIns)
    assert(nFiles == matchedFiles, "only files holding matched keys rewrite")
    got
  }

  test("fused COW merge == two-join form, all clauses") {
    import spark.implicits._
    val cols = Seq("id", "tag", "v")
    // file 1: ids 1-4 with id 2 DUPLICATED (SQL MERGE updates each
    // matched target row); file 2: ids 10-12 (untouched by the merge)
    val t1 = Seq((1L, "a", 10), (2L, "b", 20), (2L, "b2", 21),
      (3L, "c", 30), (4L, "d", 40)).toDF()
    val t2 = Seq((10L, "x", 100), (11L, "y", 110), (12L, "z", 120)).toDF()
    // source: update id 2 (dup target), delete id 3 (marked), insert
    // id 5, NULL-keyed row (always a plain insert), delete-marked id 99
    // (matches nothing — must NOT insert)
    val src = Seq(
      (Some(2L), "B", 200, false),
      (Some(3L), "dead", 0, true),
      (Some(5L), "e", 50, false),
      (None, "nul", 60, false),
      (Some(99L), "ghost", 0, true))
      .toDF("id", "tag", "v", "retract")
    val rF = mergeMatchesReference("merge_fused", cols, t1, t2, src)
    // sanity on the semantics themselves, not just agreement
    val byId = rF.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
    assert(!byId.contains(3L), "deleteWhen row must leave the table")
    assert(!byId.contains(99L),
      "delete-marked unmatched row must not insert")
    assert(byId(2L).size == 2 &&
      byId(2L).forall(r => r.getString(1) == "B" && r.getInt(2) == 200),
      s"both duplicate target rows must take the source values: $rF")
    assert(byId(5L).size == 1, "not-matched source row must insert")
    assert(rF.count(_.isNullAt(0)) == 1, "NULL-keyed source row inserts")
    assert(byId(10L).size == 1 && byId(11L).size == 1 &&
      byId(12L).size == 1, "untouched file rows must carry")
  }

  test("fused COW merge with columns named like its internals") {
    import spark.implicits._
    // a `__graft_ms_` column on both sides (the reserved source prefix
    // before the sides were alias-qualified) and a `del` column (the
    // delete marker's first-choice name)
    val cols = Seq("id", "__graft_ms_k", "del")
    val t1 = Seq((1L, "a", false), (2L, "b", true), (3L, "c", false))
      .toDF()
    val t2 = Seq((10L, "x", true)).toDF()
    val src = Seq(
      (Some(1L), "A", true, false),
      (Some(2L), "dead", false, true),
      (Some(4L), "d", true, false),
      (None, "nul", false, false))
      .toDF("id", "__graft_ms_k", "del", "retract")
    val got = mergeMatchesReference("merge_collide", cols, t1, t2, src)
    assert(got.exists(r => !r.isNullAt(0) && r.getLong(0) == 1L &&
      r.getString(1) == "A" && r.getBoolean(2)), s"update lost: $got")
    assert(!got.exists(r => !r.isNullAt(0) && r.getLong(0) == 2L),
      s"deleteWhen row must leave the table: $got")
  }
}
