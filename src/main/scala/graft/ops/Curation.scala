package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingest and packing: benchmark decontamination and domain-mixture
  * weighting.
  *
  * Scale posture:
  *   - Decontamination is an n-gram containment join: the EVAL side (the
  *     benchmark suite) is tiny and broadcast; the training corpus is
  *     exploded to distinct grams per doc and joined — one narrow
  *     broadcast-hash join over the full scan, no corpus-side shuffle
  *     before aggregation, and the shuffle that remains carries (train
  *     doc, gram-hit) pairs only. Grams are hashed to 64-bit longs
  *     (xxhash64) the moment they are produced, so every join/agg key is
  *     8 bytes instead of a ~50-byte string; the oracle is unaffected
  *     because it only ever COUNTS distinct grams, never prints one, and
  *     distinct-hash counts equal distinct-string counts (a 64-bit
  *     collision needs ~2^32 distinct grams per Birthday bound — and
  *     would only nudge one report count, not corrupt data).
  *   - Domain mixture is a classic metadata aggregate: one groupBy over
  *     a low-cardinality key, one broadcast of the 1-row total. The
  *     whole job reads two columns at any scale.
  */
object Curation {

  private val N = 4 // gram width; 4 catches phrase-level contamination
                    // in the synthetic corpus at every SF

  /** Distinct word-N-grams from an already-materialized token array.
    * `tk` must be a plain column reference: Column trees are inlined at
    * every use site and Spark disables codegen subexpression elimination
    * for lambda-bearing expressions, so passing the tokenizer expression
    * here directly would re-run the regex split 3× per row. */
  private def gramsFromToks(tk: Column): Column =
    when(size(tk) >= N,
      array_distinct(transform(sequence(lit(1), size(tk) - (N - 1)),
        i => concat_ws(" ", slice(tk, i, lit(N))))))
      .otherwise(array().cast("array<string>"))

  /** One side of the decontamination join: (id, 128-bit gram hash pair)
    * for every doc matching `pred`. Shared by the broadcast-join form
    * ([[qDecontaminate]]) and the Bloom-prefilter form
    * ([[qBloomDecontaminate]]). Same key-width reasoning as
    * [[qSubstringDedup]]: a single 64-bit gram hash collides near
    * ~4×10⁹ distinct grams, and a collision here falsely flags a clean
    * training doc as contaminated (silent over-deletion at corpus
    * scale); the salted second hash makes the join key effectively
    * 128-bit. The Bloom prefilter still probes the first 64 bits only —
    * it is a prefilter, and the exact join on both halves removes its
    * false positives anyway. */
  private def gramSide(s: SparkSession, d: String, pred: Column,
                       as: String): DataFrame =
    documents(s, d).where(pred)
      .select(col("doc_id").as(as), Text.toks(col("text")).as("tk"))
      .select(col(as), explode(gramsFromToks(col("tk"))).as("g"))
      .select(col(as), xxhash64(col("g")).as("gh"),
        xxhash64(lit("graft-salt-2"), col("g")).as("gh2"))

  /** Benchmark decontamination report: training docs (doc_id % 97 ≠ 0)
    * sharing at least one word-4-gram with the held-out eval slice
    * (doc_id % 97 = 0 — the stand-in for a benchmark suite). Reports how
    * many distinct grams and eval docs each contaminated training doc
    * touches; a real pipeline would drop or redact these rows. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    val ev = gramSide(s, d, col("doc_id") % 97 === 0, "eval_id")
    val tr = gramSide(s, d, col("doc_id") % 97 =!= 0, "train_id")
    tr.join(broadcast(ev), Seq("gh", "gh2"))
      .groupBy("train_id")
      .agg(countDistinct(col("gh"), col("gh2")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("train_id")
  }

  /** Decontamination, Bloom-prefilter scale path. [[qDecontaminate]]
    * broadcasts the eval gram set as a join side — fine while the eval
    * suite is small, but a 100 TB pipeline decontaminating against a
    * large held-out corpus can't broadcast tens of GB of grams. Here the
    * eval side is collapsed to a Bloom filter (a few MB REGARDLESS of
    * eval size — `BloomFilter.create(n, fpp)` scales as n·ln(1/fpp)/8
    * bytes), train grams are pruned by a `mightContainLong` probe
    * map-side, and only the surviving ~(hits + fpp·misses) rows reach the
    * exact verify join — which AQE broadcasts when the eval side fits and
    * shuffles otherwise. The verify join makes the output EXACTLY equal
    * to [[qDecontaminate]] (false positives are eliminated there), which
    * is why this key shares its DuckDB oracle.
    *
    * The probe is a native codegen expression
    * ([[graft.functions.BloomMightContainLong]], the public rebuild of
    * Spark's internal `might_contain`): the filter bytes ride the plan
    * as a binary literal, each task deserializes once, and the
    * membership test fuses into the scan's WholeStageCodegen span —
    * no per-row Scala-lambda boxing on the 100 TB side (r16 task 6;
    * PlanAuditSpec pins the UDF-free plan). */
  def qBloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val ev = gramSide(s, d, col("doc_id") % 97 === 0, "eval_id")
    val tr = gramSide(s, d, col("doc_id") % 97 =!= 0, "train_id")
    val bf = ev.stat.bloomFilter("gh", 100000L, 0.01)
    tr.where(graft.functions.BloomMightContainLong(bf, col("gh")))
      .join(ev, Seq("gh", "gh2"))
      .groupBy("train_id")
      .agg(countDistinct(col("gh"), col("gh2")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("train_id")
  }

  /** Reproducible weighted (probability-proportional-to-size) document
    * sampling — the "sample by hash(key)" pattern every production corpus
    * pipeline uses so that reruns, backfills, and downstream joins all
    * see the SAME sample without any coordination or stored RNG state.
    * A doc is kept iff (doc_id · 2654435761) mod 1000 < min(n_chars, 450)
    * — a Knuth-multiplicative-hash uniform draw compared against a
    * length-proportional (capped) inclusion threshold. Output carries the
    * inclusion probability and the Horvitz–Thompson inverse-probability
    * weight, so any downstream aggregate over the sample can unbiasedly
    * estimate the full-corpus value (Σ ht_weight ≈ N).
    *
    * Pure integer arithmetic end to end (the doubles appear only in the
    * reported p/weight columns), so the kept set is bit-identical on any
    * engine and any partitioning — and the whole operator is one
    * codegen'd narrow filter over the scan: no shuffle, no RNG, nothing
    * to coordinate at 100 TB. */
  def qWeightedSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        ((col("doc_id") * lit(2654435761L)) % 1000L).as("u"),
        least(col("n_chars"), lit(450L)).as("w"))
      .where(col("u") < col("w"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("w").cast("double") / 1000.0d, 6).as("p_incl"),
        round(lit(1000.0d) / col("w").cast("double"), 6).as("ht_weight"))
      .orderBy("doc_id")

  /** Domain-mixture weights: temperature-flattened sampling distribution
    * over the `source` field (w_i ∝ n_i^0.7, the multilingual-training
    * upsampling scheme), plus the implied per-doc upsample factor
    * relative to natural frequency. round(…,6) on both engines absorbs
    * the libm pow/accumulation-order ULPs. */
  def qDomainMix(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val totals = counts.agg(
      sum(pow(col("n_docs").cast("double"), 0.7d)).as("z"),
      sum(col("n_docs")).as("n_total"))
    counts.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_chars"),
        round(pow(col("n_docs").cast("double"), 0.7d) / col("z"), 6)
          .as("weight"),
        round((pow(col("n_docs").cast("double"), 0.7d) / col("z")) /
          (col("n_docs").cast("double") / col("n_total")), 6)
          .as("upsample"))
      .orderBy("source")
  }

  /** Data selection under a token budget: per language, take documents
    * in quality order (best first) until 2000 tokens are claimed — the
    * "which slice of the corpus do we actually train on" primitive.
    * A doc is kept while the budget has room BEFORE it (same prior-cumsum
    * convention as sequence packing, so one oversized best doc still
    * ships). One shuffle on the stratum key; the per-stratum sort is the
    * operator. Quality here is the same integer-derived-and-one-division
    * score as q_text_quality, so the ordering is engine-exact. */
  def qBudgetSelect(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2000L
    val scored = documents(s, d)
      .select(col("doc_id"), col("lang"), Text.toks(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"),
        size(col("tk")).cast("long").as("n_tok"),
        size(filter(col("tk"), t => t.isin(Seq("the", "a", "of", "and",
          "to", "in", "is", "on", "for", "with"): _*)))
          .cast("long").as("n_stop"))
      .where(col("n_tok") > 0)
      .withColumn("quality",
        least(col("n_tok"), lit(100L)).cast("double") / 100.0d * 0.5d +
          col("n_stop").cast("double") / col("n_tok") * 0.5d)
    val w = Window.partitionBy("lang")
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .where(col("cum_tok") - col("n_tok") < budget)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        round(col("quality"), 6).as("quality"), col("cum_tok"))
      .orderBy("lang", "cum_tok", "doc_id")
  }

  /** Segment-level (a.k.a. paragraph-level) dedup: each doc is chunked
    * into fixed 10-token segments, and only the globally FIRST occurrence
    * of each distinct segment survives (first = smallest (doc_id,
    * seg_idx)); the doc is rebuilt from its surviving segments. This is
    * the line/paragraph dedup pass web-scale corpora run before doc-level
    * dedup — boilerplate repeats across pages even when whole docs don't.
    *
    * One shuffle, keyed by segment text: the window that picks the first
    * occurrence. Segments are bounded (10 tokens), so shuffle rows stay
    * small; at 100 TB the key becomes xxhash64(segment) with the text
    * carried only by the winning row. */
  def qSegmentDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 10 // segment width in tokens
    val segs = documents(s, d)
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
      .where(size(col("tk")) > 0)
      .select(col("doc_id"),
        explode(transform(expr(s"sequence(0, (size(tk) - 1) div $L)"),
          i => struct(i.as("seg_idx"),
            concat_ws(" ", slice(col("tk"), i * L + 1, lit(L))).as("seg"))))
          .as("x"))
      .select(col("doc_id"), col("x.seg_idx").as("seg_idx"),
        col("x.seg").as("seg"))
    val firstW = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    segs.withColumn("rn", row_number().over(firstW))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        count(when(col("rn") === 1, lit(1))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg"))).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Exact substring-level dedup (the Lee et al. 2022 "Deduplicating
    * Training Data" transform, bounded to a fixed anchor length): every
    * occurrence of a repeated 8-token gram EXCEPT the corpus-first one
    * (first = smallest (doc_id, position)) marks its 8 token positions
    * for removal; each document is rebuilt from its surviving positions.
    * Runs of shared text longer than the anchor are removed in full
    * without any explicit extension step: a shared m-token span contains
    * m−7 shared grams whose overlapping occurrences cover all m
    * positions — the overlap IS the bidirectional extension. The
    * corpus-first protection keeps exactly one copy of every repeated
    * substring in the corpus, which is what distinguishes dedup (this
    * key) from the duplication PROFILE (q_dup_ngrams).
    *
    * Scale posture: three shuffles, all keyed fine — the first-occurrence
    * window partitions by gram (collapsed to a 128-bit hash pair per-row,
    * so the shuffle carries 16-byte keys; grams never reach the output),
    * the covered-position distinct and the anti join key by (doc,
    * position), and the rebuild aggregates by doc. No document body ever
    * shuffles more than once, and no step is quadratic in corpus size.
    *
    * Key width: a single 64-bit gram hash hits its first expected
    * birthday collision near ~4×10⁹ distinct grams — well inside a
    * 100 TB corpus — and a collision here silently merges two unrelated
    * grams, over-deleting up to k tokens. Two independently-salted
    * xxhash64s give an effective 128-bit key (first expected collision
    * ~2^64 grams, unreachable), at +8 bytes/row of shuffle. */
  def qSubstringDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 8
    // fanOutSmallScan + localCheckpoint: the tokenized docs feed THREE
    // consumers (gram occurrences, position explode, per-doc totals),
    // each of which re-ran tokenize serially on the single-row-group
    // scan (r21 StageProbe: a 1.03 s single-task gram stage); the cut
    // tokenizes once, parallel.
    val docs = fanOutSmallScan(documents(s, d))
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
      .where(size(col("tk")) > 0)
      .localCheckpoint(eager = false)
    val occ = docs.where(size(col("tk")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("tk")) - (k - 1)),
          i => {
            val gram = concat_ws(" ", slice(col("tk"), i, lit(k)))
            struct(i.as("i"), xxhash64(gram).as("g"),
              // second, independently-salted 64 bits: the literal prefix
              // changes every internal block hash, so (g, g2) is an
              // effective 128-bit gram identity
              xxhash64(lit("graft-salt-2"), gram).as("g2"))
          })).as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.g").as("g"),
        col("x.g2").as("g2"))
    val firstW = Window.partitionBy("g", "g2").orderBy("doc_id", "i")
    val covered = occ
      .withColumn("rn", row_number().over(firstW))
      .where(col("rn") > 1)
      .select(col("doc_id"), explode(sequence(col("i"),
        col("i") + (k - 1))).as("p"))
      .distinct()
    val toksPos = docs
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("p"),
        col("tok"))
    val rebuilt = toksPos
      .join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"))
    docs.select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Corpus-duplicated n-gram profile — the exact-substring-dedup signal
    * (per-doc fraction of 8-gram positions whose gram appears in ≥ 2
    * docs, and the fraction of token positions covered by such grams).
    * A doc with high dup_token_frac is boilerplate or a near-copy even
    * when no single whole-doc fingerprint matches.
    *
    * The gram→doc-count aggregation and the hit join both shuffle
    * (gram-hash, doc, pos) triples only — never document bodies, never
    * gram strings: each 8-gram is collapsed to xxhash64 inside the
    * per-row transform, so the two shuffles carry 8-byte longs where the
    * string form cost ~50-60 B/row (measured the slowest key in the
    * bench before the change). The report never prints a gram, so the
    * hash is semantics-preserving up to 64-bit collisions (≥ 2^32
    * distinct grams for even odds of ONE collision). */
  def qDupNgrams(s: SparkSession, d: String): DataFrame = {
    val n = 8
    // fanOutSmallScan: gram generation (slice + concat + hash per
    // position) is the expensive per-row stage and it ran on ONE task
    // on a single-row-group scan (r21 StageProbe: four 0.6-0.85 s
    // serial stages across this key's three gram consumers). The
    // repartition parallelizes each re-expansion; a localCheckpoint of
    // the exploded gram table was tried and REJECTED — materializing
    // ~1M deserialized gram rows cost more CPU than the three parallel
    // recomputes, and it hides the hash-not-string shuffle contract
    // from the plan (PlanAuditSpec pins it).
    // parts capped at 4 (r22): the gram explode is bandwidth-bound past
    // 4-way — r21's 8-way fan-out ran this key's cpu_ns to 1.8× its
    // serial form for flat wall; the cap buys the same wall at near-
    // serial CPU (A/B'd, see OPTIMIZATION_r22.md)
    val grams = fanOutSmallScan(documents(s, d), maxParts = 4)
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
      .where(size(col("tk")) >= n)
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
        explode(transform(sequence(lit(1), size(col("tk")) - (n - 1)),
          i => struct(i.as("i"),
            xxhash64(concat_ws(" ", slice(col("tk"), i, lit(n))))
              .as("gh")))).as("x"))
      .select(col("doc_id"), col("n_tok"), col("x.i").as("i"),
        col("x.gh").as("gh"))
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("gh")
    val hits = grams.join(dup, "gh").select("doc_id", "i")
    val cov = hits
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1)))
        .as("p"))
      .groupBy("doc_id").agg(countDistinct(col("p")).as("n_cov"))
    val perDoc = grams.groupBy("doc_id")
      .agg(first(col("n_tok")).as("n_tok"), count(lit(1)).as("n_grams"))
    val dupPos = hits.groupBy("doc_id").agg(count(lit(1)).as("n_dup_pos"))
    perDoc
      .join(dupPos, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_grams"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        round(coalesce(col("n_dup_pos"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("dup_ratio"),
        round(coalesce(col("n_cov"), lit(0L)).cast("double") /
          col("n_tok"), 6).as("dup_token_frac"))
      .orderBy("doc_id")
  }

  /** Model-based quality filtering, the fasttext-classifier pattern
    * (CCNet-style): train a Naive-Bayes token log-odds model for
    * "is English" on the 80% train split (doc_id % 10 < 8), score the
    * held-out 20% as prior + Σ per-token weights. The weight table is the
    * broadcast side of the scoring join — at 100 TB the model stays a few
    * MB while the corpus side streams through one narrow join.
    *
    * Determinism: weights are ln-ratios rounded to 6 dp and summed as
    * DECIMAL(18,6) (associative — partition-order-proof), per the oracle
    * determinism rules; only the finished score is cast back to double. */
  def qClassifierScore(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), (col("lang") === "en").cast("int").as("y"),
        Text.toks(col("text")).as("tk"))
      .where(size(col("tk")) > 0)
    val train = base.where(col("doc_id") % 10 < 8)
    val counts = train.select(col("y"), explode(col("tk")).as("t"))
      .groupBy("t")
      .agg(sum(col("y")).as("c1"), sum(lit(1) - col("y")).as("c0"))
    val stats = counts
      .agg(sum(col("c1")).as("t1"), sum(col("c0")).as("t0"),
        count(lit(1)).as("v"))
      .crossJoin(train.agg(sum(col("y")).as("d1"),
        sum(lit(1) - col("y")).as("d0")))
    def dec6(c: Column): Column = round(c, 6).cast("decimal(18,6)")
    val w = counts.crossJoin(broadcast(stats))
      .select(col("t"), dec6(
        log((col("c1") + 1).cast("double") / (col("t1") + col("v"))
          .cast("double")) -
        log((col("c0") + 1).cast("double") / (col("t0") + col("v"))
          .cast("double"))).as("w"))
    val defaults = stats.select(
      dec6(log(lit(1.0) / (col("t1") + col("v")).cast("double")) -
        log(lit(1.0) / (col("t0") + col("v")).cast("double"))).as("w0"),
      dec6(log((col("d1") + 1).cast("double") /
        (col("d0") + 1).cast("double"))).as("prior"))
    base.where(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("y"), explode(col("tk")).as("t"))
      .join(broadcast(w), Seq("t"), "left")
      .crossJoin(broadcast(defaults))
      .groupBy(col("doc_id"), col("y"), col("prior"))
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("w"), col("w0"))).as("sw"))
      .select(col("doc_id"), col("n_tok"),
        round((col("prior") + col("sw")).cast("double"), 4).as("score"),
        (col("prior") + col("sw") > 0).cast("int").as("pred_en"),
        col("y").as("is_en"))
      .orderBy("doc_id")
  }

  /** Deterministic global shuffle for training-shard assignment: every
    * doc gets a pseudo-random shard and a pseudo-random position within
    * it, both from integer hash arithmetic (Knuth multiplicative / LCG —
    * identical in any engine, no RNG state, reproducible across retries).
    *
    * Scale posture: shard count is chosen from data volume (fixed target
    * shard SIZE, e.g. output-file-sized), so per-shard numbering
    * parallelism grows WITH the data — the row_number window partitions
    * by shard and each partition is one output file's worth of rows,
    * never a global sort. The production form follows with
    * `repartition($"shard").sortWithinPartitions($"sk").write` — the
    * exact plan shape Spark's shuffle already implements. */
  def qGlobalShuffle(s: SparkSession, d: String): DataFrame = {
    val nShards = 16 // testdata-sized; at 100 TB: ceil(bytes / shardBytes)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("sk", "doc_id")
    documents(s, d)
      .select(col("doc_id"),
        (col("doc_id") * lit(2654435761L) % nShards).as("shard"),
        ((col("doc_id") * lit(1103515245L) + 12345L) % 2147483647L)
          .as("sk"))
      .withColumn("pos", row_number().over(w))
      .select("shard", "pos", "doc_id")
      .orderBy("shard", "pos")
  }

  /** Context-window chunking with stride — the slicing step that turns
    * documents into fixed-length training windows with overlap (HF
    * tokenizers' `stride`/`return_overflowing_tokens` semantics): windows
    * of [[ChunkW]] tokens whose starts advance by [[ChunkStride]], the
    * last window covering the tail. Output carries a content hash per
    * chunk so downstream chunk-level dedup can key on it.
    *
    * Scale posture: a pure per-document narrow transform — tokenize,
    * compute the chunk count arithmetically, explode one index range,
    * slice. Zero shuffles before the output sort; chunk volume is
    * ~n/stride rows per doc, linear in corpus size. */
  def qChunkStride(s: SparkSession, d: String): DataFrame = {
    val (w, st) = (ChunkW, ChunkStride)
    val tk = documents(s, d)
      .select(col("doc_id"), Text.toks(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("n"))
      .withColumn("m",
        when(col("n") <= w, lit(1))
          .otherwise(expr(s"((n - $w + $st - 1) div $st) + 1")))
    tk.select(col("doc_id"), col("n"), col("tk"),
        explode(sequence(lit(0), col("m") - 1)).as("j"))
      .select(col("doc_id"),
        col("j").cast("long").as("chunk_id"),
        (col("j") * st + 1).cast("long").as("start"),
        slice(col("tk"), col("j") * st + 1, lit(w)).as("ck"))
      .select(col("doc_id"), col("chunk_id"), col("start"),
        size(col("ck")).cast("long").as("n_tok"),
        md5(array_join(col("ck"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  private val ChunkW = 32
  private val ChunkStride = 16

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_chunk_stride"   -> qChunkStride _,
    "q_global_shuffle" -> qGlobalShuffle _,
    "q_decontaminate" -> qDecontaminate _,
    "q_domain_mix"    -> qDomainMix _,
    "q_budget_select" -> qBudgetSelect _,
    "q_segment_dedup" -> qSegmentDedup _,
    "q_substring_dedup" -> qSubstringDedup _,
    "q_dup_ngrams"    -> qDupNgrams _,
    "q_classifier_score" -> qClassifierScore _,
    "q_bloom_decontaminate" -> qBloomDecontaminate _,
    "q_weighted_sample" -> qWeightedSample _,
  )

  /** The Bloom form is output-identical to the exact-join form (the
    * verify join removes every false positive), so both keys share one
    * oracle query. */
  private val decontaminateSql =
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tk) - 2),
        |      i -> array_to_string(tk[i:i+3], ' '))) AS gs
        |  FROM tk WHERE len(tk) >= 4),
        |ev AS (SELECT doc_id AS eval_id, unnest(gs) AS g FROM g
        |       WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_id, unnest(gs) AS g FROM g
        |       WHERE doc_id % 97 <> 0)
        |SELECT train_id,
        |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_shared_grams,
        |  CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
        |FROM tr JOIN ev USING (g)
        |GROUP BY train_id ORDER BY train_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_chunk_stride" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, tk, len(tk) AS n,
        |    CASE WHEN len(tk) <= 32 THEN 1
        |         ELSE ((len(tk) - 32 + 15) // 16) + 1 END AS m
        |  FROM tk),
        |c AS (SELECT doc_id, n, tk, unnest(range(0, m)) AS j FROM p)
        |SELECT doc_id, CAST(j AS BIGINT) AS chunk_id,
        |  CAST(j * 16 + 1 AS BIGINT) AS start,
        |  CAST(len(list_slice(tk, j * 16 + 1, j * 16 + 32)) AS BIGINT)
        |    AS n_tok,
        |  md5(array_to_string(list_slice(tk, j * 16 + 1, j * 16 + 32), ' '))
        |    AS chunk_md5
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_global_shuffle" ->
      """SELECT (doc_id * 2654435761) % 16 AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY (doc_id * 2654435761) % 16
        |    ORDER BY (doc_id * 1103515245 + 12345) % 2147483647, doc_id)
        |    AS pos,
        |  doc_id
        |FROM documents
        |ORDER BY shard, pos""".stripMargin,
    "q_decontaminate" -> decontaminateSql,
    "q_bloom_decontaminate" -> decontaminateSql,
    "q_weighted_sample" ->
      """SELECT doc_id, lang, n_chars,
        |  round(CAST(least(n_chars, 450) AS DOUBLE) / 1000.0, 6) AS p_incl,
        |  round(1000.0 / least(n_chars, 450), 6) AS ht_weight
        |FROM documents
        |WHERE (doc_id * 2654435761) % 1000 < least(n_chars, 450)
        |ORDER BY doc_id""".stripMargin,
    "q_budget_select" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(len(tk) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to',
        |      'in','is','on','for','with'))) AS BIGINT) AS n_stop
        |  FROM tk WHERE len(tk) > 0),
        |q AS (
        |  SELECT doc_id, lang, n_tok,
        |    CAST(least(n_tok, 100) AS DOUBLE) / 100.0 * 0.5
        |      + CAST(n_stop AS DOUBLE) / n_tok * 0.5 AS quality
        |  FROM sc),
        |c AS (
        |  SELECT doc_id, lang, n_tok, quality,
        |    CAST(SUM(n_tok) OVER (PARTITION BY lang
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM q)
        |SELECT doc_id, lang, n_tok, round(quality, 6) AS quality, cum_tok
        |FROM c WHERE cum_tok - n_tok < 2000
        |ORDER BY lang, cum_tok, doc_id""".stripMargin,
    "q_segment_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(range(0, (len(tk)-1)//10 + 1)) AS i, tk
        |  FROM tk WHERE len(tk) > 0),
        |s AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
        |    array_to_string(
        |      tk[(CAST(i AS INTEGER)*10+1):(CAST(i AS INTEGER)*10+10)],
        |      ' ') AS seg
        |  FROM e),
        |r AS (
        |  SELECT doc_id, seg_idx, seg,
        |    ROW_NUMBER() OVER (PARTITION BY seg
        |      ORDER BY doc_id, seg_idx) AS rn
        |  FROM s)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_segs,
        |  CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
        |    ORDER BY seg_idx), '') AS clean_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_substring_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |docs AS (
        |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tok
        |  FROM tk WHERE len(tk) > 0),
        |e AS (
        |  SELECT doc_id, unnest(range(1, len(tk)-6)) AS i, tk
        |  FROM docs WHERE len(tk) >= 8),
        |occ AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS i,
        |    array_to_string(tk[CAST(i AS INTEGER):CAST(i AS INTEGER)+7],
        |      ' ') AS g
        |  FROM e),
        |r AS (
        |  SELECT doc_id, i,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
        |  FROM occ),
        |cov AS (
        |  SELECT DISTINCT doc_id, p FROM (
        |    SELECT doc_id, unnest(range(i, i+8)) AS p
        |    FROM r WHERE rn > 1)),
        |tp AS (
        |  SELECT doc_id, unnest(tk) AS tok,
        |    unnest(range(1, len(tk)+1)) AS p
        |  FROM docs),
        |kept AS (
        |  SELECT tp.doc_id, tp.p, tp.tok
        |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
        |  WHERE cov.doc_id IS NULL),
        |reb AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, d.n_tok,
        |  CAST(d.n_tok - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(reb.clean_text, '') AS clean_text
        |FROM docs d LEFT JOIN reb ON d.doc_id = reb.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dup_ngrams" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |    unnest(range(1, len(tk)-6)) AS i, tk
        |  FROM tk WHERE len(tk) >= 8),
        |gr AS (
        |  SELECT doc_id, n_tok, CAST(i AS INTEGER) AS i,
        |    array_to_string(tk[CAST(i AS INTEGER):CAST(i AS INTEGER)+7],
        |      ' ') AS g
        |  FROM e),
        |dup AS (SELECT g FROM (
        |  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM gr GROUP BY g)
        |  WHERE nd >= 2),
        |hits AS (SELECT gr.doc_id, gr.i FROM gr JOIN dup USING (g)),
        |cov AS (SELECT doc_id, COUNT(DISTINCT p) AS n_cov FROM (
        |  SELECT doc_id, unnest(range(i, i+8)) AS p FROM hits)
        |  GROUP BY doc_id),
        |pd AS (SELECT doc_id, MIN(n_tok) AS n_tok,
        |         CAST(COUNT(*) AS BIGINT) AS n_grams
        |       FROM gr GROUP BY doc_id),
        |dp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_pos
        |       FROM hits GROUP BY doc_id)
        |SELECT pd.doc_id, pd.n_tok, pd.n_grams,
        |  coalesce(dp.n_dup_pos, 0) AS n_dup_pos,
        |  round(CAST(coalesce(dp.n_dup_pos, 0) AS DOUBLE) / pd.n_grams, 6)
        |    AS dup_ratio,
        |  round(CAST(coalesce(cov.n_cov, 0) AS DOUBLE) / pd.n_tok, 6)
        |    AS dup_token_frac
        |FROM pd LEFT JOIN dp USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_classifier_score" ->
      """WITH base AS (
        |  SELECT doc_id, CAST(lang = 'en' AS INTEGER) AS y,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '') AS tk
        |  FROM documents),
        |b AS (SELECT * FROM base WHERE len(tk) > 0),
        |trtok AS (SELECT y, unnest(tk) AS t FROM b WHERE doc_id % 10 < 8),
        |cnt AS (SELECT t, SUM(y) AS c1, SUM(1 - y) AS c0
        |        FROM trtok GROUP BY t),
        |tot AS (SELECT SUM(c1) AS t1, SUM(c0) AS t0, COUNT(*) AS v
        |        FROM cnt),
        |dc AS (SELECT SUM(y) AS d1, SUM(1 - y) AS d0 FROM b
        |       WHERE doc_id % 10 < 8),
        |st AS (SELECT * FROM tot, dc),
        |w AS (SELECT t,
        |        CAST(round(
        |          ln(CAST(c1 + 1 AS DOUBLE) / CAST(t1 + v AS DOUBLE))
        |        - ln(CAST(c0 + 1 AS DOUBLE) / CAST(t0 + v AS DOUBLE)), 6)
        |          AS DECIMAL(18,6)) AS w
        |      FROM cnt, st),
        |df AS (SELECT
        |        CAST(round(ln(1.0 / CAST(t1 + v AS DOUBLE))
        |          - ln(1.0 / CAST(t0 + v AS DOUBLE)), 6)
        |          AS DECIMAL(18,6)) AS w0,
        |        CAST(round(ln(CAST(d1 + 1 AS DOUBLE)
        |          / CAST(d0 + 1 AS DOUBLE)), 6)
        |          AS DECIMAL(18,6)) AS prior
        |       FROM st),
        |sc AS (SELECT s.doc_id, s.y, coalesce(w.w, df.w0) AS w, df.prior
        |       FROM (SELECT doc_id, y, unnest(tk) AS t FROM b
        |             WHERE doc_id % 10 >= 8) s
        |       LEFT JOIN w USING (t) CROSS JOIN df)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  round(CAST(prior + SUM(w) AS DOUBLE), 4) AS score,
        |  CAST(prior + SUM(w) > 0 AS INTEGER) AS pred_en,
        |  y AS is_en
        |FROM sc GROUP BY doc_id, y, prior ORDER BY doc_id""".stripMargin,
    "q_domain_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT SUM(power(CAST(n_docs AS DOUBLE), 0.7)) AS z,
        |         CAST(SUM(n_docs) AS BIGINT) AS n_total
        |  FROM c)
        |SELECT source, n_docs, n_chars,
        |  round(power(CAST(n_docs AS DOUBLE), 0.7) / z, 6) AS weight,
        |  round((power(CAST(n_docs AS DOUBLE), 0.7) / z) /
        |        (CAST(n_docs AS DOUBLE) / n_total), 6) AS upsample
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin,
  )
}
