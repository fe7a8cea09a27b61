package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r22 fused PII kernel (functions/PiiScrub.scala) must be
  * output-identical to the six Spark regex expressions it replaced —
  * counts over the ORIGINAL augmented text, sequential email → ip →
  * phone replace chain. That six-expression form lives here as the
  * reference, pinned at kernel level on adversarial strings and at
  * operator level on testdata. */
class PiiScrubKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** The six-expression reference over `aug`: three match counts on
    * the original text and the email → ip → phone replace chain. */
  private def unfused(aug: Column): Seq[Column] = {
    val scrubbed = regexp_replace(regexp_replace(
      regexp_replace(aug, emailRe, "<EMAIL>"),
      ipRe, "<IP>"), phoneRe, "<PHONE>")
    Seq(
      size(regexp_extract_all(aug, lit(emailRe), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(aug, lit(ipRe), lit(0)))
        .cast("long").as("n_ip"),
      size(regexp_extract_all(aug, lit(phoneRe), lit(0)))
        .cast("long").as("n_phone"),
      scrubbed.as("scrubbed"))
  }

  test("kernel == unfused expressions on adversarial strings") {
    import spark.implicits._
    val cases = Seq(
      "",
      "no pii here at all",
      "mail user1@mail.example.com twice user2@mail.example.com",
      // ip inside an email's domain: counted by BOTH patterns on the
      // original, but the replace chain consumes it with the email
      "ping user@10.0.0.99.example.com and 10.0.0.99 raw",
      // phone digits adjacent to an ip
      "call 555-0100 at 192.168.0.1 or 555-0199",
      // $ and \ in the HAYSTACK (replacement side has none)
      "cost $100 or \\$200 via a@b.co",
      // pattern at string start/end, back-to-back matches
      "a@b.co x@y.zz",
      "1.2.3.4",
      "555-0000",
      // near-misses: no TLD, too-long phone, 5-part dotted number
      "not.an@email, 1.2.3.4.5, 5555-00000, 12-3456")
    val df = cases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "aug")
    val fused = df.select(col("doc_id"),
        graft.functions.PiiScrub
          .piiScrub(col("aug"), emailRe, ipRe, phoneRe).as("p"))
      .select(col("doc_id"), col("p.n_email"), col("p.n_ip"),
        col("p.n_phone"), col("p.scrubbed"))
    val reference = df.select(col("doc_id") +: unfused(col("aug")): _*)
    assert(fused.orderBy("doc_id").collect().toSeq ==
      reference.orderBy("doc_id").collect().toSeq)
  }

  test("q_pii_scrub: fused == unfused on sf0.001, and fused is deployed") {
    val d = "/root/testdata/sf0.001"
    val q = ops.QualitySignals.qPiiScrub(spark, d)
    val fused = q.collect().toSeq
    val reference = Tables.documents(spark, d)
      .select(col("doc_id") +: unfused(ops.QualitySignals.piiAugmented): _*)
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        length(col("scrubbed")).cast("long").as("n_scrub"),
        md5(col("scrubbed")).as("scrub_fp"))
      .orderBy("doc_id").collect().toSeq
    assert(fused == reference)
    assert(fused.nonEmpty)
    // the deployed plan actually runs the kernel (not silently unfused)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_pii_scrub"), plan.take(800))
  }
}
