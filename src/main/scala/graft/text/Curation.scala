package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Kernels.gridSql

/**
 * Corpus-curation operators a production training-data pipeline runs beyond
 * dedup/quality/lang-id: benchmark-contamination detection, repetition-based
 * quality rules (the Gopher-style rep filters), and temperature-based domain
 * mixing with deterministic hash sampling.
 *
 * Exactness discipline (shared with the rest of the gate surface): every
 * fraction is a single-division double quantized through the usual
 * floor(pi-nudge + x * 1e6) grid; sqrt and one-multiply/one-divide chains are
 * correctly-rounded IEEE ops evaluated in textually identical order in the
 * DuckDB twin, so results are bit-exact cross-engine. All sums are BIGINT.
 *
 * Scale posture:
 *  - contamination: the benchmark n-gram set is tiny vs the corpus (eval sets
 *    are ~10^5 docs vs 10^12), so it broadcasts; the corpus side is one
 *    map-side explode + broadcast-hash left join + per-doc agg — no big
 *    shuffle beyond the doc_id rollup (map-side partial combine).
 *  - repetition: pure per-row higher-order expressions (no explode, no
 *    shuffle); O(words * distinct_words) per row inside codegen.
 *  - domain mix: per-source agg (20..10^4 rows) -> broadcast of per-source
 *    thresholds back onto the doc stream; the only wide shuffle is the
 *    per-source partial-aggregated rollup.
 */
object Curation {

  import graft.dedup.Dedup.{docs, h60, withShingles}

  /**
   * Benchmark-contamination detection: docs with doc_id % 41 = 0 act as the
   * held-out eval set; every other doc is scored by how many of its distinct
   * 3-word shingles appear anywhere in the benchmark set (13-gram in
   * production; 3-gram here because fixture docs are ~40 words). A doc with
   * >= 2 benchmark shingles is flagged contaminated — the standard
   * train-set decontamination pass before an LLM run.
   */
  def contaminationQuery(spark: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(docs(spark, dir).select("doc_id", "text"))
      .select(col("doc_id"), explode(col("shingles")).as("g"))
      .withColumn("h", expr(h60("g")))
      .select("doc_id", "h")
    val bench = sh.where(col("doc_id") % 41 === 0).select("h").distinct()
      .withColumn("hit", lit(1))
    sh.where(col("doc_id") % 41 =!= 0)
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count("hit").as("n_hits"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_hits"),
        expr(gridSql("n_hits * 1.0E6 / n_shingles")).as("hit_frac_q"),
        expr("CAST(n_hits >= 2 AS BIGINT)").as("contaminated"))
  }

  /**
   * Repetition-based quality rules (Gopher-style): most-frequent-word mass and
   * duplicate-bigram mass per document, each as a quantized fraction, plus the
   * pass flag at the 20% thresholds. Pure per-row expressions — at 10^12 docs
   * this runs entirely map-side inside whole-stage codegen.
   */
  def repetitionQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .where(size(col("ws")) >= 2)
      .select(
        col("doc_id"),
        size(col("ws")).as("n_words"),
        expr("array_max(transform(array_distinct(ws), w -> size(filter(ws, x -> x = w))))")
          .as("top_word_count"),
        (size(col("ws")) - 1).as("n_bigrams"),
        expr("size(array_distinct(transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))))")
          .as("n_distinct_bigrams"))
      .select(
        col("doc_id"), col("n_words"), col("top_word_count"),
        col("n_bigrams"), col("n_distinct_bigrams"),
        expr(gridSql("top_word_count * 1.0E6 / n_words")).as("top_word_frac_q"),
        expr(gridSql("(n_bigrams - n_distinct_bigrams) * 1.0E6 / n_bigrams")).as("dup_bigram_frac_q"))
      .withColumn("quality_pass",
        expr("CAST(top_word_frac_q <= 200000 AND dup_bigram_frac_q <= 200000 AS BIGINT)"))

  /**
   * Temperature-based domain mixing: per-source token mass is re-weighted to
   * sqrt(tokens) (temperature 0.5 — sqrt, not pow, because IEEE sqrt is
   * correctly rounded and therefore bit-identical cross-engine), targeting a
   * global 50% token budget. Each source gets a keep threshold on a 2^20 hash
   * grid; docs are kept when h60(doc_id) mod 2^20 falls under it —
   * deterministic, reproducible sampling with no RNG state.
   *
   * thr_s = min(2^20, floor(T * 2^59 / (S_q * sq_s))) where sq_s =
   * floor(sqrt(tok_s) * 2^20), S_q = sum(sq_s), T = sum(tok_s): the integer
   * form of p_s = 0.5 * T / (sum_s sqrt(tok_s) * sqrt(tok_s)) scaled onto the
   * grid. Every non-integer step is one correctly-rounded double op.
   */
  def domainMixQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .select(col("doc_id"), col("source"), size(col("ws")).as("n_words"))
    val per = d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("tok_sum"))
      .withColumn("sq", expr("CAST(floor(sqrt(CAST(tok_sum AS DOUBLE)) * 1048576.0) AS BIGINT)"))
    val glob = per.agg(sum("tok_sum").as("tok_total"), sum("sq").as("sq_total"))
    val thr = per.crossJoin(broadcast(glob))
      .withColumn("keep_thr", expr(
        "CAST(least(1048576.0, floor(CAST(tok_total AS DOUBLE) * 576460752303423488.0 / " +
          "(CAST(sq_total AS DOUBLE) * CAST(sq AS DOUBLE)))) AS BIGINT)"))
      .select("source", "keep_thr")
    d.join(broadcast(thr), Seq("source"))
      .withColumn("keep",
        expr(s"CAST((${h60("CAST(doc_id AS STRING)")} % 1048576) < keep_thr AS BIGINT)"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("tok_sum"),
        max("keep_thr").as("keep_thr"),
        sum("keep").as("n_kept"),
        sum(expr("n_words * keep")).as("kept_tok"))
  }

  /**
   * CCNet-shaped perplexity filtering with a unigram LM trained on the corpus
   * itself, scored in INTEGER BITS so the gate is bit-exact cross-engine:
   * cost(w) = floor(log2((T + V) / (c_w + 1))) via length(bin(x)) - 1 on the
   * integer-divided add-one-smoothed ratio (T = corpus tokens, V = vocab size;
   * no ln/log2 doubles anywhere — floating log is only 1-ulp-accurate and
   * flips quantization floors across engines). A doc is kept when its mean
   * token cost is at most the corpus mean (cross-multiplied integers: no
   * division). CCNet buckets by LM perplexity percentile; corpus-mean is the
   * same head/tail split without an order statistic.
   *
   * Scale: the vocab aggregation and the token->vocab join both key on the
   * word (map-side partial combine + one hash shuffle each); the vocab frame
   * is broadcast here (fixture vocab ~10^3) — at a 10^12-doc corpus cap it to
   * the top-K words plus an OOV cost floor and the broadcast still holds.
   * Cross-multiplies stay under 2^63 up to ~10^14 corpus bits.
   */
  def perplexityQuery(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), ' '), w -> w != '')")).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum("c").as("t_tokens"), count(lit(1)).as("v_size"))
    val costs = vocab.crossJoin(broadcast(totals))
      .withColumn("cost_bits", expr("CAST(length(bin((t_tokens + v_size) div (c + 1))) - 1 AS BIGINT)"))
      .select("w", "cost_bits")
    val perDoc = toks.join(broadcast(costs), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("cost_bits").as("total_bits"))
    val g = perDoc.agg(sum("n_tokens").as("g_tokens"), sum("total_bits").as("g_bits"))
    perDoc.crossJoin(broadcast(g))
      .select(
        col("doc_id"), col("n_tokens"), col("total_bits"),
        expr(gridSql("total_bits * 1.0E6 / n_tokens")).as("avg_bits_q"),
        expr("CAST(total_bits * g_tokens <= g_bits * n_tokens AS BIGINT)").as("keep"))
  }

  /**
   * Bigram-LM perplexity (the real n-gram path beyond perplexityQuery's
   * unigram): token cost in integer bits — first token priced by the unigram
   * model, every following token by p(w_i | w_{i-1}) with add-one smoothing:
   * cost = floor(log2((c(prev) + V) / (c(prev, w) + 1))), all integer via
   * length(bin(x)) - 1. Keep rule = at-most-corpus-mean bits/token by integer
   * cross-multiplication, as in the unigram gate.
   *
   * Scale: bigrams derive array-side (no window over the doc stream); the
   * bigram-count join keys the one wide shuffle; unigram counts and the 1-row
   * totals broadcast.
   */
  def perplexityBigramQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .where(size(col("ws")) >= 1)
      .select(col("doc_id"), col("ws"))
    val uni = base.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val totals = uni.agg(sum("cu").as("t_tokens"), count(lit(1)).as("v_size"))
    val bigrams = base.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(ws) - 1), i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val bigCost = bigrams
      .join(bi, Seq("w1", "w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("cu"))), Seq("w1"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        expr("CAST(length(bin((cu + v_size) div (cb + 1))) - 1 AS BIGINT)").as("bits"))
    val firstCost = base
      .select(col("doc_id"), expr("element_at(ws, 1)").as("w"))
      .join(broadcast(uni), Seq("w"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        expr("CAST(length(bin((t_tokens + v_size) div (cu + 1))) - 1 AS BIGINT)").as("bits"))
    val perDoc = firstCost.unionByName(bigCost)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("total_bits"))
    val g = perDoc.agg(sum("n_tokens").as("g_tokens"), sum("total_bits").as("g_bits"))
    perDoc.crossJoin(broadcast(g))
      .select(col("doc_id"), col("n_tokens"), col("total_bits"),
        expr(gridSql("total_bits * 1.0E6 / n_tokens")).as("avg_bits_q"),
        expr("CAST(total_bits * g_tokens <= g_bits * n_tokens AS BIGINT)").as("keep"))
  }

  /** Training sequence length for concat-and-chunk packing (fixture-sized). */
  val SeqLen = 512L

  /**
   * GPT-style concat-and-chunk sequence packing: documents are concatenated in
   * doc_id order within each source stream and cut every SeqLen BPE-ish pieces
   * (ceil(len/4) per word, the tokenCountQuery estimator). Output is the
   * per-sequence manifest a training loader consumes: docs touched, tokens
   * landing in the sequence (= SeqLen except each stream's tail), and how many
   * of its docs straddle a chunk boundary.
   *
   * The running offset is one window cumsum partitioned by the REAL stream key
   * (source, shard): each shard of `shardSize` consecutive doc_ids packs
   * independently (exactly how production shards concat-and-chunk across
   * writers), so no window partition ever exceeds shardSize rows regardless of
   * corpus size or source skew. The gate runs with one shard (shardSize 2^40
   * >> fixture ids, shard = 0 everywhere); the multi-shard semantics are
   * pinned by PipelineSpec at shardSize 64. A doc spanning k chunks expands to
   * k rows via sequence(), all integer arithmetic.
   */
  def seqPackingQuery(spark: SparkSession, dir: String,
      shardSize: Long = 1L << 40): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .select(col("doc_id"), col("source"),
        expr(s"doc_id div ${shardSize}L").as("shard"),
        expr("aggregate(ws, 0L, (a, w) -> a + CAST(ceil(length(w) / 4.0) AS BIGINT))").as("tok"))
      .where(col("tok") >= 1)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    d.withColumn("cum", sum("tok").over(win))
      .withColumn("start_off", col("cum") - col("tok"))
      .withColumn("seq_first", expr(s"start_off div $SeqLen"))
      .withColumn("seq_last", expr(s"(cum - 1) div $SeqLen"))
      .select(col("source"), col("shard"), col("doc_id"), col("tok"), col("start_off"),
        col("cum"), col("seq_first"), col("seq_last"),
        explode(expr("sequence(seq_first, seq_last)")).as("seq_idx"))
      .withColumn("tok_in_seq", expr(
        s"least(cum, (seq_idx + 1) * $SeqLen) - greatest(start_off, seq_idx * $SeqLen)"))
      .groupBy("source", "shard", "seq_idx")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tok_in_seq").as("n_tokens"),
        sum(expr("CAST(seq_last > seq_first AS BIGINT)")).as("n_boundary_docs"))
  }

  /**
   * PII scrubbing — the redaction pass every training pipeline runs before
   * the tokenizer. The synthetic corpus carries no PII, so the query PLANTS it
   * deterministically (the same device as Dedup.augmented): an email for every
   * 13th doc and a URL for every 17th, then detects and redacts with the same
   * regexes on both engines (plain char-class patterns — identical semantics
   * in Java regex and RE2). Pure per-row regexp expressions: zero shuffle at
   * any corpus size.
   */
  /** Char-class dot ([.]) instead of an escaped dot: Spark SQL string literals
   * eat single backslashes while DuckDB's do not — [.] is escape-free and
   * means the same in Java regex and RE2. */
  val EmailRe = "[a-z0-9]+@[a-z]+[.][a-z]+"
  val UrlRe = "https://[a-z0-9./]+"

  def piiScrubQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .where(col("text").isNotNull)
      .withColumn("aug_text", expr(
        "concat(text, IF(doc_id % 13 = 0, concat(' user', CAST(doc_id AS STRING), '@example.com'), ''), " +
          "IF(doc_id % 17 = 0, concat(' https://site', CAST(doc_id AS STRING), '.example/path'), ''))"))
      .withColumn("redacted", expr(
        s"regexp_replace(regexp_replace(aug_text, '$UrlRe', '<URL>'), '$EmailRe', '<EMAIL>')"))
      .select(
        col("doc_id"),
        expr(s"size(regexp_extract_all(aug_text, '$EmailRe', 0))").as("n_emails"),
        expr(s"size(regexp_extract_all(aug_text, '$UrlRe', 0))").as("n_urls"),
        length(col("aug_text")).as("len_before"),
        length(col("redacted")).as("len_after"),
        expr(s"CAST(aug_text rlike '$EmailRe' OR aug_text rlike '$UrlRe' AS BIGINT)").as("has_pii"))

  /**
   * DSIR-shaped importance weighting: hashed unigram features (h60(word) mod
   * 4096 buckets), target domain = the corpus' lang='en' slice, per-token
   * affinity ratio_q = ((c_tgt + 1) * 2^20) div (c_all + 1) — the add-one
   * target/corpus probability ratio on an integer grid instead of the paper's
   * log-ratio (floating log breaks cross-engine exactness; monotone in the
   * same direction). A doc is resampled in when its mean affinity beats the
   * corpus mean (cross-multiplied integers).
   *
   * Scale: bucket table is fixed 4096 rows -> broadcast; both count passes are
   * map-side-combined hash aggregations; the per-doc rollup is the one wide
   * shuffle. The cross-multiply is BIGINT-safe to ~10^13 corpus tokens;
   * beyond that compare on DECIMAL(38) partials.
   */
  def importanceQuery(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(lower(text), ' '), w -> w != '')")).as("w"))
      .withColumn("b", expr(s"${h60("w")} % 4096"))
    val all = toks.groupBy("b").agg(count(lit(1)).as("c_all"))
    val tgt = toks.where(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("c_tgt"))
    val buckets = all.join(tgt, Seq("b"), "left")
      .withColumn("ratio_q", expr("((coalesce(c_tgt, 0L) + 1) * 1048576) div (c_all + 1)"))
      .select("b", "ratio_q")
    val perDoc = toks.join(broadcast(buckets), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("ratio_q").as("weight_sum"))
    val g = perDoc.agg(sum("n_tokens").as("g_tokens"), sum("weight_sum").as("g_weight"))
    perDoc.crossJoin(broadcast(g))
      .select(
        col("doc_id"), col("n_tokens"), col("weight_sum"),
        expr("weight_sum div n_tokens").as("avg_ratio_q"),
        expr("CAST(weight_sum * g_tokens >= g_weight * n_tokens AS BIGINT)").as("resampled"))
  }

  /**
   * q_corpus_split: deterministic hash-based train/val/test split (96/2/2) —
   * the content-independent assignment every training run needs to be
   * reproducible across reshards and incremental corpus additions: bucket =
   * h60('split:' || doc_id) on the 2^20 grid, thresholds 1006633 (0.96) and
   * 1027604 (0.98). Reported as the per-(source, split) doc/token/char
   * rollup a data card quotes.
   *
   * Scale: the split column is one per-row md5 (no shuffle); the rollup keys
   * on (source, split) — at most 3x sources rows out of a map-side-combined
   * aggregation. Assignment is stable under any repartitioning because it
   * hashes the doc id, not the row position.
   */
  def corpusSplitQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bucket", expr(s"${h60("concat('split:', CAST(doc_id AS STRING))")} % 1048576"))
      .withColumn("split", expr(
        "CASE WHEN bucket < 1006633 THEN 'train' WHEN bucket < 1027604 THEN 'val' ELSE 'test' END"))
      .withColumn("n_tokens", expr("size(filter(split(lower(text), ' '), w -> w != ''))"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars_sum"))

  /**
   * q_data_card: the long-format (source, metric, value) corpus report a
   * dataset release ships — one composed pass unioning the base counts
   * (docs/tokens/chars/langs/en-share/mean length), the HLL distinct-shingle
   * estimate next to its exact audit, and the p50/p90 token-length quantiles.
   * Pure composition of already-gated operators (the point: reports are
   * queries, not a separate system); every value is BIGINT so the union is
   * exactly comparable cross-engine.
   */
  def dataCardQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("n_tokens", expr("size(filter(split(lower(text), ' '), w -> w != ''))"))
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      sum("n_chars").as("n_chars"),
      sum(expr("CAST(lang = 'en' AS BIGINT)")).as("n_en_docs"),
      countDistinct(col("lang")).as("n_langs"))
      .withColumn("avg_tokens", expr("n_tokens div n_docs"))
      .selectExpr("source",
        "stack(6, 'n_docs', n_docs, 'n_tokens', n_tokens, 'n_chars', n_chars, " +
          "'n_en_docs', n_en_docs, 'n_langs', n_langs, 'avg_tokens', avg_tokens) " +
          "AS (metric, value_q)")
    val hll = graft.sketch.Sketches.hllDistinctQuery(spark, dir)
      .selectExpr("source",
        "stack(2, 'distinct_shingles', n_exact, 'hll_est_shingles', est) AS (metric, value_q)")
    val qs = graft.sketch.Sketches.quantileTokensQuery(spark, dir)
      .where(col("q").isin(50, 90))
      .selectExpr("source", "concat('p', q, '_tokens') AS metric",
        "CAST(v AS BIGINT) AS value_q")
    base.unionByName(hll).unionByName(qs)
  }

  /**
   * Model-based quality scoring (q_quality_classifier) — the fasttext-style
   * linear classifier pass (CCNet / FineWeb-Edu run exactly this shape: a
   * hashed bag-of-words linear model scores every document, and the score
   * gates inclusion). The model here is a deterministic stand-in — weights
   * derived from the hash of the bucket id, uniform in [-1000, 1000] — so the
   * gate checks the INFERENCE dataflow (feature hashing, sparse dot product,
   * threshold), not learned accuracy, on an integer grid that is exact
   * cross-engine.
   *
   * Scale: the weight is a pure per-token expression (no weight table is even
   * joined — for a real trained model it becomes a 2^12..2^20-row broadcast);
   * one explode + per-doc rollup shuffle, as scale-free as token counting.
   */
  val QcBuckets = 4096L

  def qualityClassifierQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), ' '), w -> w != '')")).as("w"))
      .withColumn("b", expr(s"${h60("w")} % $QcBuckets"))
      .withColumn("wt", expr(s"${h60(s"concat('qw:', CAST(b AS STRING))")} % 2001 - 1000"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("wt").as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        // explicit floor division (score may be negative; `div` truncates
        // toward zero while DuckDB's // floors — subtract pmod first so both
        // engines divide an exact multiple)
        expr("(score - pmod(score, n_tokens)) div n_tokens").as("score_per_tok"),
        expr("CAST(score >= 0 AS BIGINT)").as("label"))

  /** The three planted boilerplate lines for q_line_dedup (the C4 scenario:
   * navigation chrome / legal footers repeated verbatim across pages — the
   * synthetic corpus has none, so the query plants them, the same device as
   * piiScrub's planted emails). */
  val BoilerFooter = "subscribe to our newsletter for weekly updates"
  val BoilerLegal = "all rights reserved terms of service apply"

  /**
   * q_line_dedup — C4-style line-level exact deduplication (Raffel et al.
   * 2020 §2.2: "we discarded all but one of any three-sentence span occurring
   * more than once"; RefinedWeb/FineWeb run the same pass at line
   * granularity). Each doc contributes its content line plus deterministic
   * planted boilerplate: a global footer for every 7th doc, a legal line for
   * every 5th, and a group-shared promo line (doc_id div 44) for every 11th.
   * The keep-first rule: the (doc_id, pos)-least instance of each distinct
   * line survives; later copies are removed and the doc keeps its residual
   * character mass.
   *
   * Scale posture: the line stream is the big frame (10^12 docs x ~40 lines).
   * The keeper is a groupBy(line-hash) min-struct AGGREGATE, not a window —
   * a global boilerplate line is a 10^11-row key at corpus scale, and a
   * window would serialize that partition while the aggregate combines
   * map-side and leaves one row per distinct line. The join back is a plain
   * hash equi-join on the line hash (AQE handles the hot keys); the per-doc
   * rollup is the only other shuffle.
   */
  def lineDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val lines = docs(spark, dir).where(col("text").isNotNull)
      .select(col("doc_id"), posexplode(expr(
        s"filter(array(text, " +
          s"IF(doc_id % 7 = 0, '$BoilerFooter', NULL), " +
          s"IF(doc_id % 5 = 0, '$BoilerLegal', NULL), " +
          s"IF(doc_id % 11 = 0, concat('promo code team', CAST(doc_id div 44 AS STRING)), NULL)), " +
        "x -> x IS NOT NULL)")).as(Seq("pos", "line")))
    val keyed = lines.withColumn("h", expr(h60("line")))
    val first = keyed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("keeper"),
        count(lit(1)).as("n_copies"))
    keyed.join(first, Seq("h"))
      .withColumn("kept",
        col("doc_id") === col("keeper.doc_id") && col("pos") === col("keeper.pos"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(length(col("line")).cast("long")).as("chars_before"),
        sum(when(col("kept"), length(col("line")).cast("long")).otherwise(0L)).as("chars_after"),
        max(when(!col("kept"), col("n_copies")).otherwise(0L)).as("max_dup_copies"))
  }

  /** Per-stratum sample cap for q_stratified_sample. */
  val StratumCap = 12

  /**
   * q_stratified_sample: deterministic stratified bottom-k sampling — per
   * source stratum, keep the StratumCap documents with the smallest sampling
   * hash (h60 of a salted doc_id). Bottom-k-by-hash is simultaneously (a) an
   * exact uniform without-replacement sample per stratum, (b) reproducible
   * under any row order / partitioning, and (c) an aggregable SKETCH: the
   * per-partition bottom-k sets combine associatively, so at corpus scale
   * this runs as one partial top-k aggregation (never a global per-stratum
   * sort; the window below IS that aggregation at fixture scale — each
   * stratum is a bounded partition). The emitted threshold hash (k-th
   * smallest) is the classic bottom-k distinct-count statistic. Output per
   * source: stratum size, kept count, the kept-id sum (order-independent
   * identity of the sample) and the threshold hash.
   */
  def stratifiedSampleQuery(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs(spark, dir)
      .withColumn("h", expr(h60("concat('samp:', CAST(doc_id AS STRING))")))
      .withColumn("rk", row_number().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("rk") <= StratumCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") <= StratumCap, col("doc_id")).otherwise(0L)).as("kept_id_sum"),
        max(when(col("rk") <= StratumCap, col("h")).otherwise(null)).as("threshold_hash"))
  }
}
