package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Document deduplication for large-scale training-data pipelines, over the driver's
 * `documents` table: exact (hash groupBy), MinHash+LSH (shingle -> minhash -> band ->
 * bucket join), SimHash, and n-gram Jaccard.
 *
 * All hashes derive from md5 (available identically in Spark and the DuckDB oracle):
 * h60(s) = first 15 hex chars of md5(s) as a 60-bit long. Minhash/simhash/jaccard are
 * integer-exact, so engine and oracle match bit-for-bit with no rounding concerns.
 *
 * Scale posture: everything is a per-row expression pipeline plus one equi-join
 * (band bucket / shingle), i.e. shuffle keys are short hashes — the standard
 * web-scale dedup shape. At 10^12 docs the band join would be salted on hot buckets;
 * AQE skew handling covers that here.
 */
object Dedup {

  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** 60-bit hash of a SQL string expression via md5 (same in DuckDB). */
  def h60(e: String): String = s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  val NumHashes = 16
  val Bands = 4 // 4 bands x 4 rows

  /** Deterministic corpus augmentation used by the pair-producing queries: the driver
   * corpus has no true duplicates, so we union in mutated copies (doc_id + 1e6) — exact
   * copies of every 7th doc, and drop-last-word near-copies of every 5th doc. The
   * oracle applies the same augmentation; recall of the planted dups is the check. */
  def augmented(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val exactCopies = d.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val nearCopies = d.where(col("doc_id") % 5 === 0)
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 4)
      .select((col("doc_id") + 2000000).as("doc_id"),
        expr("concat_ws(' ', slice(ws, 1, size(ws) - 1))").as("text"))
    d.unionByName(exactCopies).unionByName(nearCopies)
  }

  /** Exact dedup: md5(text) groupBy; keeper = min doc_id (the canonical policy). */
  def exactQuery(spark: SparkSession, dir: String): DataFrame =
    augmented(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))

  /** words / distinct 3-word shingles columns. */
  def withShingles(d: DataFrame): DataFrame =
    d.withColumn("ws", split(lower(col("text")), " "))
      .where(size(col("ws")) >= 3)
      .withColumn("shingles", expr(
        "array_distinct(transform(sequence(0, size(ws) - 3), i -> " +
          "concat_ws(' ', element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3))))"))

  /** Per-doc minhash signature (16 hashes) + band bucket hashes. ONE md5 per
   * shingle; the 16 permutations derive from it via the exact integer
   * universal-hash family in Kernels.minhash16 (same constants inlined in the
   * DuckDB oracle) — 16x less hashing than the per-(k, shingle) md5 of round 2. */
  def minhashSignatures(d: DataFrame): DataFrame = {
    // shingle construction + per-shingle md5-h60 as ONE compiled pass over the
    // words array (was two interpreted HOF transforms; array_distinct dropped —
    // the minhash min-fold is duplicate-insensitive, so the signature is
    // unchanged, pinned by the PipelineSpec golden + the driver gate)
    val sig = d.withColumn("ws", split(lower(col("text")), " "))
      .where(size(col("ws")) >= 3)
      .withColumn("bh", graft.exprs.KernelExprs.shingleH60(col("ws")))
      .withColumn("sig", graft.exprs.KernelExprs.minhash16(col("bh")))
    val mhCols = (0 until NumHashes).map(k => expr(s"element_at(sig, ${k + 1})").as(s"mh_$k"))
    val bandCols = (0 until Bands).map(b => expr(
      s"md5(concat_ws('_', ${(0 until NumHashes / Bands).map(r => s"element_at(sig, ${b * 4 + r + 1})").mkString(", ")}))")
      .as(s"band_$b"))
    sig.select(col("doc_id") +: (mhCols ++ bandCols): _*)
  }

  def minhashSignaturesQuery(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(docs(spark, dir))

  /** LSH candidate pairs (any band equal) + exact jaccard on shingle sets. */
  /** Upper bound on min-label propagation rounds: the engine stops at the
   * convergence fixed point (usually 2-3 rounds on this corpus); the DuckDB
   * oracle unrolls exactly this bound, so both sides agree whenever every
   * component's diameter is below it (the fixture's largest is the planted
   * 3-member families, diameter 2). */
  val ClusterMaxRounds = 16

  /**
   * Corpus-level near-duplicate CLUSTERS (what a dedup pipeline actually keeps,
   * beyond pairwise candidates): connected components over the MinHash-LSH pair
   * graph (jaccard >= 0.5), ClusterIters rounds of min-label propagation, then
   * per-cluster keeper = min doc_id + membership stats. Each round is one narrow
   * shuffle of the label frame, which holds only docs that appear in the pair
   * graph — at 10^12 docs that is the duplicate fraction, not the corpus.
   */
  def dedupClustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairsQuery(spark, dir).where(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    // cache: every propagation round joins `edges`; without it Catalyst re-derives
    // the whole minhash chain once per round (the iterative-algorithm idiom)
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    // convergence-checked min-label propagation (VERDICT r3 #4: a fixed round
    // count under-merges components whose diameter exceeds it). Labels only
    // DECREASE, so the overflow-proof DECIMAL(38) label sum is strictly
    // decreasing until the fixed point — one cheap agg action per round, no
    // changed-row join. ClusterMaxRounds bounds a pathological input. Each
    // round's frame is localCheckpoint'd: the eager checkpoint both caches it
    // and TRUNCATES the logical plan — persist alone leaves an O(rounds)-deep
    // lineage that Catalyst re-plans every round (O(rounds^2) driver work; on a
    // multi-executor cluster the reliable variant is checkpoint() to dfs).
    // Superseded blocks are reclaimed by the ContextCleaner when refs drop.
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.select(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
    labels = labels.localCheckpoint()
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < ClusterMaxRounds) {
      val nbr = edges
        .join(labels.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
        .select(col("doc_a").as("doc_id"), col("label"))
      val next = labels.unionByName(nbr).groupBy("doc_id").agg(min("label").as("label"))
        .localCheckpoint()
      val s = labelSum(next)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      round += 1
    }
    // materialize the tiny cluster rollup eagerly, then drop the cached edge
    // frame — the long-lived Verify JVM otherwise accumulates its blocks
    // (ADVICE r3). localCheckpoint keeps only the ~100-row result.
    val clusters = labels.groupBy(col("label").as("keeper_doc"))
      .agg(count(lit(1)).as("n_members"), max("doc_id").as("max_doc"))
      .localCheckpoint()
    edges.unpersist()
    clusters
  }

  /** SemDeDup cosine threshold (the fixture's near-dup band; the paper tunes
   * per-corpus — Abbas et al. 2023, arXiv:2303.09540 §3). */
  val SemTau = 0.4

  /**
   * SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): pairwise cosine search is
   * SCOPED to k-means clusters — the 100-TB path; the global all-pairs join
   * (q_cosine_pairs) stays as the correctness baseline. Clusters come from the
   * trained IVF centroids (ann.Ann.ivfTrainedCentroids — the same quantized
   * k-means both engines replay); duplicate groups are connected components of
   * the within-cluster tau-edge graph (the convergence-checked min-label
   * propagation of dedupClustersQuery); keeper = min vec_id per group.
   * Plan shape: centroids broadcast, ONE centroid-key shuffle for the
   * within-cluster pair join (pair count ~ sum of cluster sizes squared, never
   * corpus squared), then the bounded label-propagation rounds.
   */
  def semanticDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.ann.Ann.emb(spark, dir)
    val assign = graft.ann.Ann.ivfAssign(e, graft.ann.Ann.ivfTrainedCentroids(spark, dir)
      .select(col("centroid_id"), col("cv").as("vb")))
    val av = e.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
    val bv = e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
    val pairs = assign.as("x")
      .join(assign.as("y"), col("x.centroid_id") === col("y.centroid_id") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .join(av, Seq("vec_a")).join(bv, Seq("vec_b"))
      .withColumn("cos", graft.ann.Ann.cosCol)
      .where(col("cos") > SemTau)
      .select(col("vec_a"), col("vec_b"))
    val edges = pairs
      .unionByName(pairs.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("vec_a").as("vec_id")).distinct()
      .withColumn("label", col("vec_id"))
      .localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.select(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < ClusterMaxRounds) {
      val nbr = edges
        .join(labels.withColumnRenamed("vec_id", "vec_b"), Seq("vec_b"))
        .select(col("vec_a").as("vec_id"), col("label"))
      val next = labels.unionByName(nbr).groupBy("vec_id").agg(min("label").as("label"))
        .localCheckpoint()
      val s = labelSum(next)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      round += 1
    }
    val clusters = labels.groupBy(col("label").as("keeper_vec"))
      .agg(count(lit(1)).as("n_members"), max("vec_id").as("max_vec"))
      .join(assign.withColumnRenamed("vec_id", "keeper_vec"), Seq("keeper_vec"))
      .localCheckpoint()
    edges.unpersist()
    clusters
  }

  def minhashPairsQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = augmented(spark, dir)
    val sigs = minhashSignatures(d)
    val buckets = sigs.select(col("doc_id"), posexplode(
      array((0 until Bands).map(b => col(s"band_$b")): _*)).as(Seq("band_idx", "bucket")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    val sh = withShingles(d).select(col("doc_id"), col("shingles"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("size(array_intersect(sa, sb))").as("n_inter"),
        expr("size(array_union(sa, sb))").as("n_union"),
        expr("round(size(array_intersect(sa, sb)) / size(array_union(sa, sb)), 6)").as("jaccard"))
  }

  /**
   * q_pagerank: 8 damped PageRank rounds over the near-duplicate pair graph
   * (MinHash pairs with jaccard >= 0.5, symmetrized) — the canonical iterative
   * graph pass beyond connected components; on a dedup graph the stationary
   * mass identifies template/boilerplate hubs. Pure fixed-point integers on
   * the 2^40 grid so the 8-round unrolled DuckDB twin is bit-exact: r_0 =
   * S div n; r_{k+1} = (15 * S) div (100 * n) + (85 * sum_in(r_k div deg)) div
   * 100 (floor losses mean mass is not exactly conserved — documented; the
   * ordering signal is what the operator ships). Each round is one small join
   * + rollup over the REDUCED node/edge frames (never the corpus);
   * localCheckpoint between rounds stops O(rounds^2) replanning, same as the
   * connected-components iterate.
   */
  def pagerankQuery(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val Scale = 1099511627776L // 2^40
    val pairs = minhashPairsQuery(spark, dir).where(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy("doc_a").agg(count(lit(1)).as("deg"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    var ranks = deg.crossJoin(broadcast(nn))
      .withColumn("r", expr(s"${Scale}L div n_nodes"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val sums = ranks.select(col("doc_a"), expr("r div deg").as("c"))
        .join(edges, Seq("doc_a"))
        .groupBy(col("doc_b").as("doc_a")).agg(sum("c").as("s"))
      ranks = deg.crossJoin(broadcast(nn))
        .join(sums, Seq("doc_a"), "left")
        .withColumn("s", coalesce(col("s"), lit(0L)))
        .withColumn("r", expr(s"(15 * ${Scale}L) div (100 * n_nodes) + (85 * s) div 100"))
        .select("doc_a", "deg", "n_nodes", "r")
        .localCheckpoint()
    }
    val out = ranks.select(col("doc_a").as("doc_id"), col("deg"), col("r").as("pr_q"))
    edges.unpersist()
    out
  }

  /** 60-bit SimHash signature per doc (token-level, +-1 votes per bit). Integer-exact. */
  def simhashQuery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .where(size(col("ws")) >= 1)
      .withColumn("hs", expr(s"transform(ws, w -> ${h60("w")})"))
      .withColumn("simhash", expr(
        """aggregate(sequence(0, 59), 0L, (acc, j) ->
          |  acc + if(aggregate(hs, 0L, (v, h) -> v + if((shiftright(h, j) & 1) = 1, 1L, -1L)) >= 0L,
          |           shiftleft(1L, j), 0L))""".stripMargin))
      .select("doc_id", "simhash")

  /** SimHash Hamming-neighbor pairing: the 60-bit signature banded into 4 x 15-bit
   * bands (any equal band -> candidate; a pair within Hamming distance HammingMax
   * <= 3 must match at least one band by pigeonhole over 4 bands), then the exact
   * popcount(xor) distance filter. Band value is the shuffle key — the standard
   * near-dup pairing shape at corpus scale. Runs on the augmented corpus so the
   * planted near-copies are the recall check. */
  val SimBands = 4
  val SimBandBits = 15
  val HammingMax = 3

  def simhashOver(d: DataFrame): DataFrame =
    d.withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .where(size(col("ws")) >= 1)
      .withColumn("hs", expr(s"transform(ws, w -> ${h60("w")})"))
      .withColumn("simhash", expr(
        """aggregate(sequence(0, 59), 0L, (acc, j) ->
          |  acc + if(aggregate(hs, 0L, (v, h) -> v + if((shiftright(h, j) & 1) = 1, 1L, -1L)) >= 0L,
          |           shiftleft(1L, j), 0L))""".stripMargin))
      .select("doc_id", "simhash")

  def simhashPairsQuery(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhashOver(augmented(spark, dir))
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(expr(s"transform(sequence(0, ${SimBands - 1}), b -> " +
        s"shiftright(simhash, b * $SimBandBits) & ${(1 << SimBandBits) - 1})"))
        .as(Seq("band_idx", "bv")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .where(col("hamming") <= HammingMax)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Shingles with document frequency above this are "stop-shingles": dropped from
   * candidate generation (NOT from the exact jaccard), bounding the worst-case pair
   * blowup of one hot shingle to DfCap^2 — the skew guard that makes the inverted-
   * index join safe at scale. */
  val DfCap = 50

  /** n-gram Jaccard pairs from the shingle inverted index (pairs sharing >= minShared
   * shingles), exact jaccard. The inverted-index join IS the scalable plan: shingle
   * hash is the shuffle key; stop-shingle removal (df > DfCap) bounds skew. */
  def ngramJaccardQuery(spark: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(docs(spark, dir)).select(col("doc_id"), col("shingles"))
    val inv0 = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val rare = inv0.groupBy("g").agg(count(lit(1)).as("df")).where(col("df") <= DfCap)
      .select("g")
    val inv = inv0.join(rare, Seq("g"))
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("size(array_intersect(sa, sb))").as("n_inter"),
        expr("size(array_union(sa, sb))").as("n_union"),
        expr("round(size(array_intersect(sa, sb)) / size(array_union(sa, sb)), 6)").as("jaccard"))
  }

  /**
   * Incremental dedup — the production mode: each new crawl batch is deduped
   * against the ACCUMULATED corpus index, not re-clustered from scratch. The
   * prior snapshot here is the base corpus (doc_id < 10^6); the new batch is
   * the augmented copies (doc_id >= 10^6 — exact copies of every 7th doc,
   * drop-last-word near-copies of every 5th). Two index probes per new doc:
   * an exact md5 membership test and a MinHash band-bucket hit count.
   *
   * Scale: both old-index frames are what a real pipeline materializes as
   * bucketed tables (text_md5; (band_idx, band_hash)); the probes are
   * equi-joins on those keys, so a 10^12-doc accumulated index never
   * re-shuffles — only the (much smaller) new batch does. Band hashes are
   * md5-uniform, so no hot buckets.
   */
  /**
   * Lexical-vs-semantic dedup agreement audit: the full outer join of the
   * MinHash-LSH near-dup pair set (jaccard >= 0.5, over the augmented corpus)
   * and the embedding-cosine pair set (tau = SemTau, base corpus vec ids).
   * A production pipeline runs both families; this measures how differently
   * they cut (lexical catches copies, semantic catches paraphrase-like
   * cluster-mates — the two sets barely overlap, which IS the finding).
   * Pair frames are already reduced (duplicate fraction, not corpus), so the
   * audit join is tiny at any scale.
   */
  def dedupAgreementQuery(spark: SparkSession, dir: String): DataFrame = {
    val lex = minhashPairsQuery(spark, dir).where(col("jaccard") >= 0.5)
      .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1L).as("lexical"))
    val sem = graft.ann.Ann.cosinePairsQuery(spark, dir, SemTau)
      .select(col("vec_a").as("a"), col("vec_b").as("b"), lit(1L).as("semantic"))
    lex.join(sem, Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        coalesce(col("lexical"), lit(0L)).as("lexical"),
        coalesce(col("semantic"), lit(0L)).as("semantic"))
      .withColumn("both", expr("lexical * semantic"))
  }

  def incrementalDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val aug = augmented(spark, dir)
    val newDocs = aug.where(col("doc_id") >= 1000000)
    // exact probe: prior snapshot's text-hash index
    val oldMd5 = aug.where(col("doc_id") < 1000000)
      .select(md5(col("text")).as("text_md5")).distinct()
      .withColumn("m", lit(1L))
    val exact = newDocs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(oldMd5, Seq("text_md5"), "left")
      .select(col("doc_id"), coalesce(col("m"), lit(0L)).as("matched_exact"))
    // near probe: prior snapshot's LSH band index
    val sigs = minhashSignatures(aug)
    def bands(df: DataFrame): DataFrame = (0 until Bands).map(b =>
      df.select(col("doc_id"), lit(b).as("band_idx"), col(s"band_$b").as("bh")))
      .reduce(_ unionByName _)
    val oldBands = bands(sigs.where(col("doc_id") < 1000000))
      .select("band_idx", "bh").distinct().withColumn("hit", lit(1L))
    val near = bands(sigs.where(col("doc_id") >= 1000000))
      .join(oldBands, Seq("band_idx", "bh"), "left")
      .groupBy("doc_id").agg(sum(coalesce(col("hit"), lit(0L))).as("n_band_hits"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("matched_exact"),
        coalesce(col("n_band_hits"), lit(0L)).as("n_band_hits"))
      .withColumn("matched_near", expr("CAST(n_band_hits >= 1 AS BIGINT)"))
      .withColumn("is_new_content", expr("CAST(matched_exact = 0 AND n_band_hits = 0 AS BIGINT)"))
  }
}
