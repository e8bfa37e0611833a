package graft

import graft.gen.OracleFixtures.fx
import graft.text.TextAnalysis

/**
 * Independent DuckDB derivations of the training-data pipeline operators.
 * Hash primitives are md5-based on both sides (h60 = first 15 hex chars as BIGINT),
 * so minhash/simhash/jaccard comparisons are integer-exact; cosine and event sums
 * are rounded past float-association noise.
 */
object PipelineOracles {

  private def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** The same deterministic corpus augmentation as Dedup.augmented. */
  private val augCte: String =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 2000000, array_to_string(ws[1:len(ws)-1], ' ')
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |    WHERE doc_id % 5 = 0 AND len(ws) >= 4)""".stripMargin

  val dedupExact: String =
    s"""WITH $augCte
       |SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_doc_id
       |FROM aug GROUP BY 1 ORDER BY 1""".stripMargin

  /** doc -> distinct 3-word shingles CTEs over a given corpus CTE name. */
  private def shingleCtes(src: String): String =
    s"""w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM $src),
       |sidx AS (SELECT doc_id, unnest(range(len(ws) - 2)) AS i, ws FROM w WHERE len(ws) >= 3),
       |sh AS (SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g FROM sidx)""".stripMargin

  /** Minhash derivation: ONE md5 per shingle, 16 permutations via the exact
   * integer family in Kernels.minhash16 (constants inlined below; >> and & are
   * exact int64 in DuckDB, every intermediate < 2^62). */
  private def sigCtes: String = {
    import graft.exprs.Kernels.{MinhashA, MinhashB, MinhashC, MinhashMask}
    val consts = (0 until 16)
      .map(k => s"(${k}, ${MinhashA(k)}, ${MinhashB(k)}, ${MinhashC(k)})").mkString(", ")
    s"""hb AS (SELECT doc_id, ${h60("g")} AS h FROM sh),
       |mc(k, ma, mb, mct) AS (SELECT * FROM (VALUES $consts) t(k, ma, mb, mct)),
       |hk AS (SELECT doc_id, k,
       |         min((((h >> 30) * ma) + ((h & 1073741823) * mb) + mct) & $MinhashMask) AS mh
       |       FROM hb, mc GROUP BY 1, 2),
       |sig AS (SELECT doc_id,
       |  ${(0 until 16).map(k => s"max(CASE WHEN k = $k THEN mh END) AS mh_$k").mkString(",\n  ")}
       |  FROM hk GROUP BY 1)""".stripMargin
  }

  private def bandExpr(b: Int) =
    s"md5(concat_ws('_', mh_${b * 4}, mh_${b * 4 + 1}, mh_${b * 4 + 2}, mh_${b * 4 + 3}))"

  val minhashSignatures: String =
    s"""WITH ${shingleCtes("documents")},
       |$sigCtes
       |SELECT doc_id, ${(0 until 16).map(k => s"mh_$k").mkString(", ")},
       |  ${(0 until 4).map(b => s"${bandExpr(b)} AS band_$b").mkString(",\n  ")}
       |FROM sig ORDER BY doc_id""".stripMargin

  /** q_dedup_clusters: connected components over the jaccard>=0.5 pair graph —
   * the engine's 6 min-label-propagation rounds unrolled as chained CTEs (fixed
   * round count on both sides, so equality holds regardless of diameter). */
  val dedupClusters: String = {
    val rounds = (1 to graft.dedup.Dedup.ClusterMaxRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT doc_id, min(label) AS label FROM (
         |    SELECT doc_id, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.doc_a AS doc_id, l.label FROM edges e JOIN l${i - 1} l ON l.doc_id = e.doc_b)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $augCte,
       |${shingleCtes("aug")},
       |$sigCtes,
       |bk AS (SELECT doc_id, b, CASE ${(0 until 4).map(b => s"WHEN b = $b THEN ${bandExpr(b)}").mkString(" ")} END AS bucket
       |       FROM sig, (SELECT unnest(range(4)) AS b)),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bk a JOIN bk b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |sets AS (SELECT doc_id, list(g) AS sg FROM sh GROUP BY 1),
       |pairs AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b FROM cand c
       |  JOIN sets x ON x.doc_id = c.doc_a JOIN sets y ON y.doc_id = c.doc_b
       |  WHERE round(len(list_intersect(x.sg, y.sg)) / len(list_distinct(list_concat(x.sg, y.sg))), 6) >= 0.5),
       |edges AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM edges),
       |$rounds
       |SELECT label AS keeper_doc, count(*) AS n_members, CAST(max(doc_id) AS BIGINT) AS max_doc
       |FROM l${graft.dedup.Dedup.ClusterMaxRounds} GROUP BY 1""".stripMargin
  }

  /** q_dedup_semantic twin — SemDeDup (cluster-scoped cosine dedup): the shared
   * trained-centroid replay, nearest-centroid assignment, within-cluster
   * tau-edge pairs, unrolled min-label propagation (full ClusterMaxRounds — the
   * engine converges early at the same fixed point), keeper = min vec_id. */
  val dedupSemantic: String = {
    val tau = graft.dedup.Dedup.SemTau
    val (centCtes, cf) = trainedCentroidCtes
    val rounds = (1 to graft.dedup.Dedup.ClusterMaxRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT vec_id, min(label) AS label FROM (
         |    SELECT vec_id, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT sedge.vec_a AS vec_id, l.label FROM sedge JOIN l${i - 1} l ON l.vec_id = sedge.vec_b)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $centCtes,
       |asg AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
       |          SELECT a.vec_id, c.centroid_id,
       |            row_number() OVER (PARTITION BY a.vec_id
       |              ORDER BY ${cosSql("a.embedding", "c.vb")} DESC, c.centroid_id ASC) AS rn
       |          FROM e a CROSS JOIN $cf c) WHERE rn = 1),
       |cand AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |         FROM asg x JOIN asg y ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
       |spairs AS MATERIALIZED (
       |  SELECT c.vec_a, c.vec_b FROM cand c
       |  JOIN e a ON a.vec_id = c.vec_a JOIN e b ON b.vec_id = c.vec_b
       |  WHERE ${cosSql("a.embedding", "b.embedding")} > $tau),
       |sedge AS MATERIALIZED (SELECT vec_a, vec_b FROM spairs UNION SELECT vec_b AS vec_a, vec_a AS vec_b FROM spairs),
       |l0 AS MATERIALIZED (SELECT DISTINCT vec_a AS vec_id, vec_a AS label FROM sedge),
       |$rounds
       |SELECT l.label AS keeper_vec, count(*) AS n_members, max(l.vec_id) AS max_vec,
       |       any_value(k.centroid_id) AS centroid_id
       |FROM l${graft.dedup.Dedup.ClusterMaxRounds} l
       |JOIN asg k ON k.vec_id = l.label
       |GROUP BY 1""".stripMargin
  }

  val minhashPairs: String =
    s"""WITH $augCte,
       |${shingleCtes("aug")},
       |$sigCtes,
       |bk AS (SELECT doc_id, b, CASE ${(0 until 4).map(b => s"WHEN b = $b THEN ${bandExpr(b)}").mkString(" ")} END AS bucket
       |       FROM sig, (SELECT unnest(range(4)) AS b)),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bk a JOIN bk b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |sets AS (SELECT doc_id, list(g) AS sg FROM sh GROUP BY 1)
       |SELECT c.doc_a, c.doc_b,
       |  len(list_intersect(x.sg, y.sg)) AS n_inter,
       |  len(list_distinct(list_concat(x.sg, y.sg))) AS n_union,
       |  round(len(list_intersect(x.sg, y.sg)) / len(list_distinct(list_concat(x.sg, y.sg))), 6) AS jaccard
       |FROM cand c JOIN sets x ON x.doc_id = c.doc_a JOIN sets y ON y.doc_id = c.doc_b
       |ORDER BY 1, 2""".stripMargin

  val simhash: String =
    s"""WITH wd AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
       |            FROM documents),
       |h AS (SELECT doc_id, ${h60("w")} AS hv FROM wd),
       |bits AS (SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |         FROM h, (SELECT unnest(range(60)) AS j) GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(CASE WHEN vote >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin

  /** SimHash banded Hamming pairing over the augmented corpus (mirror of
   * Dedup.simhashPairsQuery: 4 x 15-bit bands, exact popcount(xor) <= 3). */
  val simhashPairs: String = {
    val bb = graft.dedup.Dedup.SimBandBits
    val mask = (1 << bb) - 1
    s"""WITH $augCte,
       |wd AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
       |       FROM aug),
       |h AS (SELECT doc_id, ${h60("w")} AS hv FROM wd),
       |bits AS (SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |         FROM h, (SELECT unnest(range(60)) AS j) GROUP BY 1, 2),
       |sh AS (SELECT doc_id, CAST(sum(CASE WHEN vote >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
       |       FROM bits GROUP BY 1),
       |bands AS (SELECT doc_id, simhash, b AS band_idx, (simhash >> (b * $bb)) & $mask AS bv
       |          FROM sh, (SELECT unnest(range(${graft.dedup.Dedup.SimBands})) AS b)),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.simhash AS sa, b.simhash AS sb
       |         FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bv = b.bv
       |           AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= ${graft.dedup.Dedup.HammingMax}
       |ORDER BY 1, 2""".stripMargin
  }

  val ngramPairs: String =
    s"""WITH ${shingleCtes("documents")},
       |rare AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= ${graft.dedup.Dedup.DfCap}),
       |shr AS (SELECT sh.* FROM sh JOIN rare USING (g)),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |          FROM shr a JOIN shr b ON a.g = b.g AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2 HAVING count(*) >= 2),
       |sets AS (SELECT doc_id, list(g) AS sg FROM sh GROUP BY 1)
       |SELECT p.doc_a, p.doc_b, p.n_shared,
       |  len(list_intersect(x.sg, y.sg)) AS n_inter,
       |  len(list_distinct(list_concat(x.sg, y.sg))) AS n_union,
       |  round(len(list_intersect(x.sg, y.sg)) / len(list_distinct(list_concat(x.sg, y.sg))), 6) AS jaccard
       |FROM pairs p JOIN sets x ON x.doc_id = p.doc_a JOIN sets y ON y.doc_id = p.doc_b
       |ORDER BY 1, 2""".stripMargin

  private def stopList(l: String) =
    TextAnalysis.Stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")

  val textQuality: String =
    s"""SELECT doc_id, lang, source, length(text) AS n_chars,
       |  len(ws) AS n_words,
       |  CASE WHEN len(ws) = 0 THEN NULL
       |       ELSE list_sum(list_transform(ws, w -> length(w))) / CAST(len(ws) AS DOUBLE) END AS mean_word_len,
       |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       |  len(list_filter(ws, w -> list_contains(${stopList("en")}, w))) AS n_stopwords,
       |  CASE WHEN len(ws) = 0 THEN NULL
       |       ELSE len(list_filter(ws, w -> list_contains(${stopList("en")}, w))) / CAST(len(ws) AS DOUBLE) END AS stopword_ratio
       |FROM (SELECT *, list_filter(string_split(lower(text), ' '), w -> w != '') AS ws FROM documents)
       |ORDER BY doc_id""".stripMargin

  val tokenCount: String =
    s"""SELECT doc_id, len(ws) AS n_tokens_ws,
       |  CAST(list_sum(list_transform(ws, w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_pieces_bpe,
       |  length(text) AS n_chars
       |FROM (SELECT *, list_filter(string_split(lower(text), ' '), w -> w != '') AS ws FROM documents)
       |ORDER BY doc_id""".stripMargin

  val langId: String = {
    val langs = TextAnalysis.Stopwords.keys.toSeq.sorted
    val unions = langs.map(l =>
      s"SELECT doc_id, lang, '$l' AS plang, len(list_filter(ws, w -> list_contains(${stopList(l)}, w))) AS hits FROM base")
      .mkString("\n  UNION ALL ")
    s"""WITH base AS (SELECT doc_id, lang, list_filter(string_split(lower(text), ' '), w -> w != '') AS ws
       |              FROM documents),
       |sc AS (
       |  $unions),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang ASC) AS rn FROM sc)
       |SELECT doc_id, lang AS labeled_lang, plang AS predicted_lang, hits
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** q_corpus_filter: composition of dedup keepers x quality thresholds x lang-id. */
  val corpusFilter: String = {
    val langs = TextAnalysis.Stopwords.keys.toSeq.sorted
    val unions = langs.map(l =>
      s"SELECT doc_id, '$l' AS plang, len(list_filter(ws, w -> list_contains(${stopList(l)}, w))) AS hits FROM base")
      .mkString("\n  UNION ALL ")
    s"""WITH $augCte,
       |keepers AS (SELECT DISTINCT min(doc_id) AS doc_id FROM aug GROUP BY md5(text)),
       |base AS (SELECT doc_id, text, list_filter(string_split(lower(text), ' '), w -> w != '') AS ws
       |         FROM documents),
       |sc AS (
       |  $unions),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang ASC) AS rn FROM sc),
       |lang AS (SELECT doc_id, plang AS predicted_lang FROM r WHERE rn = 1),
       |q AS (SELECT doc_id, len(ws) AS n_words, length(text) AS n_chars,
       |        CASE WHEN len(ws) = 0 THEN NULL
       |             ELSE len(list_filter(ws, w -> list_contains(${stopList("en")}, w))) / CAST(len(ws) AS DOUBLE) END AS stopword_ratio
       |      FROM base),
       |j AS (SELECT q.*, lang.predicted_lang
       |      FROM q JOIN lang USING (doc_id) JOIN keepers USING (doc_id)
       |      WHERE q.n_words >= 5 AND q.stopword_ratio IS NOT NULL)
       |SELECT predicted_lang, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS words_sum,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       |  CAST(sum(CAST(floor(0.031415926535897934 + stopword_ratio * 1.0E6) AS BIGINT)) AS BIGINT) AS stop_ratio_sum_q
       |FROM j GROUP BY 1""".stripMargin
  }

  val fingerprint: String =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(ws, w -> ${h60("w")})),
       |              (acc, h) -> (acc * 131 + h) % 1000000000000000) AS fingerprint,
       |  len(ws) AS n_words
       |FROM (SELECT *, list_filter(string_split(lower(text), ' '), w -> w != '') AS ws FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** cosine in array order, double. */
  private def cosSql(a: String, b: String) =
    s"""(list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $b[i+1]::DOUBLE))
       | / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |    * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))))""".stripMargin

  val annTopK: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS va FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS vb FROM embeddings),
       |s AS (SELECT query_id, neighbor_id, ${cosSql("va", "vb")} AS cos
       |      FROM q JOIN c ON query_id != neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_r
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  val cosinePairs: String =
    s"""WITH a AS (SELECT vec_id AS vec_a, embedding AS va, label AS label_a FROM embeddings),
       |b AS (SELECT vec_id AS vec_b, embedding AS vb, label AS label_b FROM embeddings),
       |s AS (SELECT vec_a, vec_b, label_a, label_b, ${cosSql("va", "vb")} AS cos
       |      FROM a JOIN b ON vec_a < vec_b)
       |SELECT vec_a, vec_b, label_a, label_b, round(cos, 6) AS cos_r
       |FROM s WHERE cos > 0.4 ORDER BY vec_a, vec_b""".stripMargin

  /** q_ann_ivf: coarse-quantizer assignment (C=8 seeded centroids), nprobe=2
   * probed inverted lists per query, exact cosine within the probed lists. */
  val annIvf: String = {
    val C = ann.Ann.IvfCells; val NP = ann.Ann.IvfNProbe
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, embedding AS cv FROM e WHERE vec_id < $C),
       |asg0 AS (SELECT a.vec_id, c.centroid_id, ${cosSql("a.embedding", "c.cv")} AS ccos
       |         FROM e a CROSS JOIN cent c),
       |asg AS (SELECT vec_id, centroid_id FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
       |          FROM asg0) WHERE rn = 1),
       |pr0 AS (SELECT q.vec_id AS query_id, c.centroid_id, ${cosSql("q.embedding", "c.cv")} AS ccos
       |        FROM e q CROSS JOIN cent c WHERE q.vec_id < 20),
       |pr AS (SELECT query_id, centroid_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, centroid_id ASC) AS rn
       |         FROM pr0) WHERE rn <= $NP),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |         FROM pr p JOIN asg a USING (centroid_id) WHERE a.vec_id != p.query_id),
       |s AS (SELECT cd.query_id, cd.neighbor_id, ${cosSql("q.embedding", "n.embedding")} AS cos
       |      FROM cand cd JOIN e q ON q.vec_id = cd.query_id JOIN e n ON n.vec_id = cd.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_r
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** q_ann_ivf_trained: ann.Ann.ivfTrainedCentroids unrolled — TrainIters
   * rounds of (cosine argmax assignment -> integer-quantized per-dim mean
   * update), then the annIvf search on the trained centers. Center values are
   * CAST(sq AS DOUBLE)/1e6/CAST(n AS DOUBLE) on both engines (exact). */
  /** Shared trained-centroid CTE block (the engine's ivfTrainedCentroids k-means
   * replayed as unrolled materialized iterations; final centroids in `cN`). */
  private def trainedCentroidCtes: (String, String) = {
    val C = ann.Ann.IvfCells
    val iters = (1 to ann.Ann.TrainIters).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT vec_id, centroid_id, va FROM (
         |    SELECT d.vec_id, c.centroid_id, d.va,
         |      row_number() OVER (PARTITION BY d.vec_id
         |        ORDER BY ${cosSql("d.va", "c.vb")} DESC, c.centroid_id ASC) AS rn
         |    FROM ed d CROSS JOIN c${i - 1} c) WHERE rn = 1),
         |m$i AS MATERIALIZED (
         |  SELECT centroid_id, u.j AS dim, count(*) AS n,
         |    sum(CAST(floor(0.031415926535897934 + u.x * 1.0E6) AS BIGINT)) AS sq
         |  FROM a$i, unnest(list_transform(va, (x, j) -> struct_pack(x := x, j := j))) AS t(u)
         |  GROUP BY 1, 2),
         |c$i AS MATERIALIZED (
         |  SELECT centroid_id,
         |    list_transform(list_sort(list(struct_pack(dim := dim, c := c))), t -> t.c) AS vb
         |  FROM (SELECT centroid_id, dim, CAST(sq AS DOUBLE) / 1.0E6 / CAST(n AS DOUBLE) AS c FROM m$i)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val block =
      s"""e AS (SELECT vec_id, embedding FROM embeddings),
         |ed AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS va FROM e),
         |c0 AS (SELECT CAST(vec_id AS INT) AS centroid_id, va AS vb FROM ed WHERE vec_id < $C),
         |$iters""".stripMargin
    (block, s"c${ann.Ann.TrainIters}")
  }

  val annIvfTrained: String = {
    val NP = ann.Ann.IvfNProbe
    val (centCtes, cf) = trainedCentroidCtes
    s"""WITH $centCtes,
       |asg AS (SELECT vec_id, centroid_id FROM (
       |          SELECT a.vec_id, c.centroid_id,
       |            row_number() OVER (PARTITION BY a.vec_id
       |              ORDER BY ${cosSql("a.embedding", "c.vb")} DESC, c.centroid_id ASC) AS rn
       |          FROM e a CROSS JOIN $cf c) WHERE rn = 1),
       |pr AS (SELECT query_id, centroid_id FROM (
       |         SELECT q.vec_id AS query_id, c.centroid_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${cosSql("q.embedding", "c.vb")} DESC, c.centroid_id ASC) AS rn
       |         FROM e q CROSS JOIN $cf c WHERE q.vec_id < 20) WHERE rn <= $NP),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |         FROM pr p JOIN asg a USING (centroid_id) WHERE a.vec_id != p.query_id),
       |s AS (SELECT cd.query_id, cd.neighbor_id, ${cosSql("q.embedding", "n.embedding")} AS cos
       |      FROM cand cd JOIN e q ON q.vec_id = cd.query_id JOIN e n ON n.vec_id = cd.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM s)
       |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos_r
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** q_ann_pq_trained: ann.Ann.pqTrainedCb unrolled (per-subspace L2 k-means
   * with the same exact quantized mean updates), then the annPq ADC search on
   * the trained codewords. The 8-term L2 chain is written left-associated to
   * match the engine's aggregate fold. */
  val annPqTrained: String = {
    def l2(a: String, b: String) = (1 to 8)
      .map(j => s"(($a[$j]) - ($b[$j])) * (($a[$j]) - ($b[$j]))").mkString(" + ")
    val iters = (1 to ann.Ann.TrainIters).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT s, c, sv FROM (
         |    SELECT b.vec_id, b.s, w.c, b.sv,
         |      row_number() OVER (PARTITION BY b.vec_id, b.s
         |        ORDER BY ${l2("b.sv", "w.cw")} ASC, w.c ASC) AS rn
         |    FROM sub b JOIN k${i - 1} w USING (s)) WHERE rn = 1),
         |n$i AS MATERIALIZED (
         |  SELECT s, c, u.j AS dim, count(*) AS n,
         |    sum(CAST(floor(0.031415926535897934 + u.x * 1.0E6) AS BIGINT)) AS sq
         |  FROM p$i, unnest(list_transform(sv, (x, j) -> struct_pack(x := x, j := j))) AS t(u)
         |  GROUP BY 1, 2, 3),
         |k$i AS MATERIALIZED (
         |  SELECT s, c,
         |    list_transform(list_sort(list(struct_pack(dim := dim, cc := cc))), t -> t.cc) AS cw
         |  FROM (SELECT s, c, dim, CAST(sq AS DOUBLE) / 1.0E6 / CAST(n AS DOUBLE) AS cc FROM n$i)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val kf = s"k${ann.Ann.TrainIters}"
    val pivots = (0 to 7).map(s => s"max(CASE WHEN d.s = $s THEN d.d END) AS d$s").mkString(", ")
    val adist = (0 to 7).map(s => s"d$s").mkString(" + ")
    s"""WITH ss AS (SELECT unnest(range(8)) AS s),
       |sub AS (SELECT e.vec_id, ss.s,
       |          list_transform(e.embedding[ss.s * 8 + 1 : ss.s * 8 + 8], x -> x::DOUBLE) AS sv
       |        FROM embeddings e, ss),
       |k0 AS (SELECT s, CAST(vec_id AS INT) AS c, sv AS cw FROM sub WHERE vec_id < ${ann.Ann.PqK}),
       |$iters,
       |dists AS (
       |  SELECT b.vec_id, b.s, w.c, ${l2("b.sv", "w.cw")} AS d
       |  FROM sub b JOIN $kf w USING (s)),
       |enc AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
       |    FROM dists) WHERE rn = 1),
       |adc AS (
       |  SELECT d.vec_id AS query_id, n.vec_id AS neighbor_id, $pivots
       |  FROM enc n JOIN dists d ON d.s = n.s AND d.c = n.code AND d.vec_id < 20
       |  WHERE n.vec_id != d.vec_id
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, neighbor_id, ($adist) AS adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ($adist) ASC, neighbor_id ASC) AS rank
       |  FROM adc)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(floor(0.031415926535897934 + adist * 1.0E6) AS BIGINT) AS adist_q
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  val annLsh: String = {
    val w = s"CASE WHEN ${h60("'lsh|' || b || '|' || i")} % 2 = 0 THEN 1.0 ELSE -1.0 END"
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |prm AS (SELECT greatest(${ann.Ann.PairBits}, least(${ann.Ann.MaxPairBits},
       |    CAST(ceil(ln(count(*) / ${ann.Ann.TargetBucket}.0) / ln(2.0)) AS INT))) AS bits
       |  FROM e),
       |bk AS (SELECT vec_id, embedding,
       |  CAST(list_sum(list_transform(range(${ann.Ann.MaxPairBits}), b ->
       |    CASE WHEN list_sum(list_transform(range(len(embedding)), i ->
       |           embedding[i+1]::DOUBLE * ($w))) >= 0
       |         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
       |    & ((1::BIGINT << (SELECT bits FROM prm)) - 1) AS bucket
       |  FROM e),
       |j AS (SELECT a.vec_id AS query_id, a.bucket, b.vec_id AS neighbor_id,
       |             ${cosSql("a.embedding", "b.embedding")} AS cos
       |      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM j)
       |SELECT query_id, bucket, rank, neighbor_id, round(cos, 6) AS cos_r
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  val annLshPairs: String = {
    // scale parameterization mirrored from ann.Ann: bits from the corpus count
    // (mask on a MaxPairBits hash), hot-bucket cap 8 x expected population
    def bkCte(t: Int) = {
      val w = s"CASE WHEN ${h60(s"'lsht|' || $t || '|' || b || '|' || i")} % 2 = 0 THEN 1.0 ELSE -1.0 END"
      s"""bk$t AS (SELECT vec_id,
         |  CAST(list_sum(list_transform(range(${ann.Ann.MaxPairBits}), b ->
         |    CASE WHEN list_sum(list_transform(range(len(embedding)), i ->
         |           embedding[i+1]::DOUBLE * ($w))) >= 0
         |         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) & (SELECT mask FROM prm) AS bucket
         |  FROM e),
         |hot$t AS (SELECT bucket FROM bk$t GROUP BY bucket HAVING count(*) > (SELECT cap FROM prm)),
         |cold$t AS (SELECT * FROM bk$t WHERE bucket NOT IN (SELECT bucket FROM hot$t))""".stripMargin
    }
    val unions = (0 until ann.Ann.PairTables).map(t =>
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |FROM cold$t a JOIN cold$t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id""".stripMargin)
      .mkString("\n UNION \n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |prm AS (SELECT n,
       |    greatest(${ann.Ann.PairBits}, least(${ann.Ann.MaxPairBits},
       |      CAST(ceil(ln(n / ${ann.Ann.TargetBucket}.0) / ln(2.0)) AS INT))) AS bits,
       |    (1::BIGINT << greatest(${ann.Ann.PairBits}, least(${ann.Ann.MaxPairBits},
       |      CAST(ceil(ln(n / ${ann.Ann.TargetBucket}.0) / ln(2.0)) AS INT)))) - 1 AS mask,
       |    ${ann.Ann.HotFactor} * greatest(1, n // (1::BIGINT << greatest(${ann.Ann.PairBits},
       |      least(${ann.Ann.MaxPairBits}, CAST(ceil(ln(n / ${ann.Ann.TargetBucket}.0) / ln(2.0)) AS INT))))) AS cap
       |  FROM nn),
       |${(0 until ann.Ann.PairTables).map(bkCte).mkString(",\n")},
       |cand AS ($unions),
       |j AS (SELECT c.vec_a, c.vec_b,
       |             ${cosSql("x.embedding", "y.embedding")} AS cos
       |      FROM cand c JOIN e x ON x.vec_id = c.vec_a JOIN e y ON y.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, round(cos, 6) AS cos_r FROM j WHERE cos > 0.4""".stripMargin
  }

  val mediaMeta: String =
    s"""SELECT media_ref, kind,
       |  CAST(octet_length(content) AS INT) AS n_bytes,
       |  CAST(regexp_extract(content::VARCHAR, 'W=([0-9]+)', 1) AS INT) AS width,
       |  CAST(regexp_extract(content::VARCHAR, 'H=([0-9]+)', 1) AS INT) AS height,
       |  md5(content::VARCHAR) AS content_md5
       |FROM ${fx("media")} ORDER BY media_ref""".stripMargin

  /** q_media_resize: aspect-preserving metadata fit into MaxDim. */
  val mediaResize: String =
    s"""WITH m AS (
       |  SELECT media_ref, kind,
       |    CAST(regexp_extract(content::VARCHAR, 'W=([0-9]+)', 1) AS INT) AS width,
       |    CAST(regexp_extract(content::VARCHAR, 'H=([0-9]+)', 1) AS INT) AS height
       |  FROM ${fx("media")}),
       |s AS (SELECT *,
       |  CASE WHEN greatest(width, height) > ${graft.media.Multimodal.MaxDim}
       |       THEN CAST(${graft.media.Multimodal.MaxDim} AS DOUBLE) / greatest(width, height)
       |       ELSE CAST(1.0 AS DOUBLE) END AS scale FROM m)
       |SELECT media_ref, kind, width, height,
       |  CAST(floor(width * scale) AS INT) AS new_w,
       |  CAST(floor(height * scale) AS INT) AS new_h
       |FROM s""".stripMargin

  /** q_media_frames: up to 4 stride-32 frame fingerprints per payload. */
  val mediaFrames: String =
    s"""WITH m AS (
       |  SELECT media_ref, content::VARCHAR AS header,
       |    least(4, greatest(1, CAST(octet_length(content) AS INT) // 32)) AS n
       |  FROM ${fx("media")}),
       |f AS (SELECT media_ref, header, unnest(range(n)) AS frame_idx FROM m)
       |SELECT media_ref, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST(frame_idx * 32 AS INT) AS frame_off,
       |  md5(substring(header, CAST(frame_idx * 32 + 1 AS INT), 16)) AS frame_md5
       |FROM f""".stripMargin

  /** q_media_features: 16-dim md5-nibble embedding, first 4 dims + checksum. */
  val mediaFeatures: String = {
    val hexDig = "'0123456789abcdef'"
    def byteAt(j: Int): String =
      s"CAST((instr($hexDig, substring(h, ${j * 2 + 1}, 1)) - 1) * 16 + (instr($hexDig, substring(h, ${j * 2 + 2}, 1)) - 1) AS INT)"
    def fAt(j: Int): String = s"${byteAt(j)} / CAST(255.0 AS DOUBLE)"
    val checksum = (0 until 16)
      .map(j => s"CAST(floor(0.031415926535897934 + (${fAt(j)}) * 1.0E6) AS BIGINT)")
      .mkString(" + ")
    s"""WITH m AS (SELECT media_ref, md5(content::VARCHAR) AS h FROM ${fx("media")})
       |SELECT media_ref, ${fAt(0)} AS f0, ${fAt(1)} AS f1, ${fAt(2)} AS f2, ${fAt(3)} AS f3,
       |  ($checksum) AS feat_sum_q
       |FROM m""".stripMargin
  }

  val eventsWindow: String =
    s"""SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS window_start, event_type,
       |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       |  round(sum(value), 4) AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_ann_pq: PQ encode (argmin codeword per subspace, corpus rows 0..15 as the
   * codebook) + ADC top-k — distance terms written out in the kernel's exact
   * left-assoc order; the 8-subspace ADC sum pivoted into columns so its
   * accumulation order is explicit too. */
  val annPq: String = {
    val dTerms = (1 to 8).map(j =>
      s"(CAST(e.embedding[s.s * 8 + $j] AS DOUBLE) - CAST(w.embedding[s.s * 8 + $j] AS DOUBLE)) * " +
        s"(CAST(e.embedding[s.s * 8 + $j] AS DOUBLE) - CAST(w.embedding[s.s * 8 + $j] AS DOUBLE))")
      .mkString(" + ")
    val pivots = (0 to 7).map(s => s"max(CASE WHEN d.s = $s THEN d.d END) AS d$s").mkString(", ")
    val adist = (0 to 7).map(s => s"d$s").mkString(" + ")
    s"""WITH s AS (SELECT unnest(range(8)) AS s),
       |cw AS (SELECT vec_id AS c, embedding FROM embeddings WHERE vec_id < 16),
       |dists AS (
       |  SELECT e.vec_id, s.s, w.c, $dTerms AS d
       |  FROM embeddings e, s, cw w),
       |enc AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
       |    FROM dists) WHERE rn = 1),
       |adc AS (
       |  SELECT d.vec_id AS query_id, n.vec_id AS neighbor_id, $pivots
       |  FROM enc n JOIN dists d ON d.s = n.s AND d.c = n.code AND d.vec_id < 20
       |  WHERE n.vec_id != d.vec_id
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT query_id, neighbor_id, ($adist) AS adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY ($adist) ASC, neighbor_id ASC) AS rank
       |  FROM adc)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(floor(0.031415926535897934 + adist * 1.0E6) AS BIGINT) AS adist_q
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** q_events_sessions: 30-minute gap-split sessionization (lag + running sum),
   * event_id tie-break, fixed-point cent sums. */
  val eventsSessions: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |         CAST(round(value * 100, 0) AS BIGINT) AS value_c
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
       |                   OR ts_us - lag(ts_us) OVER w > ${graft.streaming.Sessions.GapUs}
       |                 THEN 1 ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
       |g AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       |  FROM f)
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |  min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS duration_us,
       |  count(*) AS n_events, CAST(sum(value_c) AS BIGINT) AS value_sum_c
       |FROM g GROUP BY 1, 2""".stripMargin

  /** q_contamination: benchmark (doc_id % 41 = 0) 3-gram overlap per corpus doc.
   * Same shingle CTEs as minhash; hit_frac is one quantized division. */
  val contamination: String =
    s"""WITH ${shingleCtes("documents")},
       |hb AS (SELECT doc_id, ${h60("g")} AS h FROM sh),
       |bench AS (SELECT DISTINCT h FROM hb WHERE doc_id % 41 = 0)
       |SELECT c.doc_id, count(*) AS n_shingles, count(b.h) AS n_hits,
       |  CAST(floor(0.031415926535897934 + count(b.h) * 1.0E6 / count(*)) AS BIGINT) AS hit_frac_q,
       |  CAST(count(b.h) >= 2 AS BIGINT) AS contaminated
       |FROM (SELECT doc_id, h FROM hb WHERE doc_id % 41 != 0) c
       |LEFT JOIN bench b ON c.h = b.h
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_quality_repetition: Gopher-style top-word / duplicate-bigram mass per doc. */
  val repetition: String =
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w != '') AS ws
       |           FROM documents),
       |base AS (SELECT doc_id, len(ws) AS n_words,
       |    list_max(list_transform(list_distinct(ws), w -> len(list_filter(ws, x -> x = w)))) AS top_word_count,
       |    len(ws) - 1 AS n_bigrams,
       |    len(list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS n_distinct_bigrams
       |  FROM w WHERE len(ws) >= 2),
       |fr AS (SELECT *,
       |    CAST(floor(0.031415926535897934 + top_word_count * 1.0E6 / n_words) AS BIGINT) AS top_word_frac_q,
       |    CAST(floor(0.031415926535897934 + (n_bigrams - n_distinct_bigrams) * 1.0E6 / n_bigrams) AS BIGINT) AS dup_bigram_frac_q
       |  FROM base)
       |SELECT doc_id, CAST(n_words AS INT) AS n_words, CAST(top_word_count AS INT) AS top_word_count,
       |  CAST(n_bigrams AS INT) AS n_bigrams, CAST(n_distinct_bigrams AS INT) AS n_distinct_bigrams,
       |  top_word_frac_q, dup_bigram_frac_q,
       |  CAST(top_word_frac_q <= 200000 AND dup_bigram_frac_q <= 200000 AS BIGINT) AS quality_pass
       |FROM fr ORDER BY doc_id""".stripMargin

  /** q_domain_mix: temperature-0.5 (sqrt) domain re-weighting with deterministic
   * h60-grid sampling; thresholds on the 2^20 grid, every non-integer step one
   * correctly-rounded double op in the same order as the Spark side. */
  val domainMix: String =
    s"""WITH w AS (SELECT doc_id, source,
       |    len(list_filter(string_split(lower(text), ' '), w -> w != '')) AS n_words
       |  FROM documents),
       |per AS (SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS tok_sum
       |        FROM w GROUP BY 1),
       |perq AS (SELECT *, CAST(floor(sqrt(CAST(tok_sum AS DOUBLE)) * 1048576.0) AS BIGINT) AS sq FROM per),
       |gtot AS (SELECT CAST(sum(tok_sum) AS BIGINT) AS tok_total, CAST(sum(sq) AS BIGINT) AS sq_total FROM perq),
       |thr AS (SELECT source,
       |    CAST(least(1048576.0, floor(CAST(tok_total AS DOUBLE) * 576460752303423488.0 /
       |      (CAST(sq_total AS DOUBLE) * CAST(sq AS DOUBLE)))) AS BIGINT) AS keep_thr
       |  FROM perq, gtot),
       |kept AS (SELECT w.source, w.n_words, t.keep_thr,
       |    CAST((${h60("CAST(doc_id AS VARCHAR)")} % 1048576) < t.keep_thr AS BIGINT) AS keep
       |  FROM w JOIN thr t ON w.source = t.source)
       |SELECT source, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS tok_sum,
       |  max(keep_thr) AS keep_thr, CAST(sum(keep) AS BIGINT) AS n_kept,
       |  CAST(sum(n_words * keep) AS BIGINT) AS kept_tok
       |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared 8-round BPE training chain (see text.Bpe): vocab histogram ->
   * char symbols -> per round [pair counts -> deterministic argmax -> greedy
   * fuse via run-parity windows]. Every stage materialized; all ties integer/
   * lexicographic, so the chain is exact. */
  private def bpeCtes: String = {
    def r(i: Int): String = {
      val src = s"s${i - 1}"
      s"""wn$i AS (SELECT *, row_number() OVER win AS idx, lead(sym) OVER win AS nxt
         |  FROM $src WINDOW win AS (PARTITION BY w ORDER BY pos)),
         |pr$i AS MATERIALIZED (SELECT sym AS a, nxt AS b, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM wn$i WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |bst$i AS MATERIALIZED (SELECT a, b, cnt FROM pr$i ORDER BY cnt DESC, a, b LIMIT 1),
         |cd$i AS (SELECT t.*, (t.sym = s.a AND t.nxt = s.b) AS is_cand, s.b AS bb
         |  FROM wn$i t CROSS JOIN bst$i s),
         |pk$i AS (SELECT *, CASE WHEN is_cand THEN idx - row_number() OVER (PARTITION BY w, is_cand ORDER BY idx) END AS grp FROM cd$i),
         |pk2$i AS (SELECT *, CASE WHEN is_cand THEN row_number() OVER (PARTITION BY w, grp ORDER BY idx) END AS crank FROM pk$i),
         |pk3$i AS (SELECT *, coalesce(is_cand AND (crank % 2 = 1), false) AS picked FROM pk2$i),
         |s$i AS MATERIALIZED (SELECT w, wc, pos, CASE WHEN picked THEN sym || bb ELSE sym END AS sym
         |  FROM (SELECT *, coalesce(lag(picked) OVER (PARTITION BY w ORDER BY pos), false) AS prev_picked FROM pk3$i)
         |  WHERE NOT prev_picked)""".stripMargin
    }
    s"""wcnt AS MATERIALIZED (SELECT w, count(*) AS wc
       |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w FROM documents)
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT w, wc, CAST(i AS INT) AS pos, substr(w, CAST(i AS INT), 1) AS sym
       |  FROM (SELECT w, wc, unnest(range(1, length(w) + 1)) AS i FROM wcnt)),
       |${(1 to text.Bpe.Rounds).map(r).mkString(",\n")}""".stripMargin
  }

  /** q_bpe_merges: the learned merge table. */
  val bpeMerges: String =
    s"""WITH $bpeCtes
       |${(1 to text.Bpe.Rounds).map(i =>
            s"SELECT CAST($i AS INT) AS round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM bst$i")
          .mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin

  /** q_bpe_tokens: per-doc token counts under the trained tokenizer (join of
   * the per-word piece table back onto the token stream) + the ceil(len/4)
   * estimator for comparison. */
  val bpeTokens: String =
    s"""WITH $bpeCtes,
       |pieces AS (SELECT w, count(*) AS pieces FROM s${text.Bpe.Rounds} GROUP BY 1),
       |tok AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
       |        FROM documents)
       |SELECT doc_id, count(*) AS n_words, CAST(sum(pieces) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(CAST(ceil(length(w) / 4.0) AS BIGINT)) AS BIGINT) AS n_est_tokens
       |FROM tok JOIN pieces USING (w) GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_pii_scrub: deterministic planted email/URL detection + redaction
   * (regexes are escape-free char classes, identical in Java regex and RE2;
   * DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all). */
  val piiScrub: String = {
    import graft.text.Curation.{EmailRe, UrlRe}
    s"""WITH a AS (SELECT doc_id,
       |    text || (CASE WHEN doc_id % 13 = 0 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END)
       |         || (CASE WHEN doc_id % 17 = 0 THEN ' https://site' || CAST(doc_id AS VARCHAR) || '.example/path' ELSE '' END) AS aug_text
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, aug_text,
       |    regexp_replace(regexp_replace(aug_text, '$UrlRe', '<URL>', 'g'), '$EmailRe', '<EMAIL>', 'g') AS redacted
       |  FROM a)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug_text, '$EmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(aug_text, '$UrlRe')) AS INT) AS n_urls,
       |  CAST(length(aug_text) AS INT) AS len_before,
       |  CAST(length(redacted) AS INT) AS len_after,
       |  CAST(regexp_matches(aug_text, '$EmailRe') OR regexp_matches(aug_text, '$UrlRe') AS BIGINT) AS has_pii
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** q_vocab_stats: per-source type/token/hapax/top-10-mass audit, ppm ratios
   * by integer division. */
  val vocabStats: String =
    s"""WITH wc AS (SELECT source, w, count(*) AS cnt
       |  FROM (SELECT source, unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
       |        FROM documents) GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS rn FROM wc),
       |agg AS (SELECT source, count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |    CAST(sum(CASE WHEN rn <= 10 THEN cnt ELSE 0 END) AS BIGINT) AS top10_mass
       |  FROM r GROUP BY 1)
       |SELECT source, n_types, n_tokens, n_hapax, top10_mass,
       |  (n_types * 1000000) // n_tokens AS ttr_ppm,
       |  (top10_mass * 1000000) // n_tokens AS top10_ppm,
       |  (n_hapax * 1000000) // n_types AS hapax_ppm
       |FROM agg ORDER BY source""".stripMargin

  /** q_dedup_agreement: full outer join of the MinHash near-dup pair set
   * (jaccard >= 0.5) and the embedding-cosine pair set (tau 0.4). */
  val dedupAgreement: String =
    s"""WITH lex AS (SELECT doc_a AS a, doc_b AS b, CAST(1 AS BIGINT) AS lexical
       |  FROM ($minhashPairs) WHERE jaccard >= 0.5),
       |sem AS (SELECT vec_a AS a, vec_b AS b, CAST(1 AS BIGINT) AS semantic
       |  FROM ($cosinePairs))
       |SELECT a, b, coalesce(lexical, 0) AS lexical, coalesce(semantic, 0) AS semantic,
       |  coalesce(lexical, 0) * coalesce(semantic, 0) AS both
       |FROM lex FULL OUTER JOIN sem USING (a, b) ORDER BY a, b""".stripMargin

  /** q_ann_truncate: full-vector vs first-16-dims cosine top-10 overlap. */
  val annTruncate: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
       |fullr AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosf DESC, neighbor_id) AS rf
       |  FROM (SELECT query_id, neighbor_id, ${cosSql("qe", "ce")} AS cosf
       |        FROM q JOIN c ON query_id != neighbor_id)),
       |trunc AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cost DESC, neighbor_id) AS rt
       |  FROM (SELECT query_id, neighbor_id, ${cosSql("qe[1:16]", "ce[1:16]")} AS cost
       |        FROM q JOIN c ON query_id != neighbor_id))
       |SELECT f.query_id, count(*) AS n_overlap, (count(*) * 1000000) // 10 AS recall_ppm
       |FROM (SELECT * FROM fullr WHERE rf <= 10) f
       |JOIN (SELECT * FROM trunc WHERE rt <= 10) t USING (query_id, neighbor_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_knn_classify: majority label of the 10 exact nearest neighbors
   * (ties: votes desc, label asc). */
  val knnClassify: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS va, label AS true_label
       |           FROM embeddings WHERE vec_id < 100),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS vb, label AS nb_label FROM embeddings),
       |top AS (SELECT * FROM (
       |    SELECT query_id, true_label, nb_label,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
       |    FROM (SELECT query_id, true_label, neighbor_id, nb_label, ${cosSql("va", "vb")} AS cs
       |          FROM q JOIN c ON query_id != neighbor_id))
       |  WHERE rank <= 10),
       |votes AS (SELECT query_id, true_label, nb_label, count(*) AS votes FROM top GROUP BY 1, 2, 3),
       |best AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nb_label) AS vrank
       |         FROM votes)
       |SELECT query_id, true_label, nb_label AS predicted_label, votes,
       |  CAST(true_label = nb_label AS BIGINT) AS correct
       |FROM best WHERE vrank = 1 ORDER BY query_id""".stripMargin

  /** q_emb_quantize: int8 scalar quantization — per-vector absmax scale,
   * floor-based codes (round() tie-breaks differ across engines), quantized
   * reconstruction error; all per-row list ops. */
  val embQuantize: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
       |m AS (SELECT vec_id, ve, list_max(list_transform(ve, x -> abs(x))) AS mx FROM e),
       |c AS (SELECT vec_id, ve, mx,
       |    list_transform(ve, x -> CASE WHEN mx = CAST(0 AS DOUBLE) THEN CAST(0 AS BIGINT)
       |                                 ELSE CAST(floor(x * 127.0 / mx) AS BIGINT) END) AS codes
       |  FROM m)
       |SELECT vec_id, CAST(len(ve) AS INT) AS n_dims,
       |  CAST(floor(0.031415926535897934 + mx * 1.0E6) AS BIGINT) AS mx_q,
       |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
       |  CAST(list_sum(list_transform(codes, c -> c * c)) AS BIGINT) AS code_l2,
       |  CAST(list_sum(list_transform(range(len(ve)), i ->
       |    CAST(floor(abs(ve[i+1] - CAST(codes[i+1] AS DOUBLE) * mx / 127.0) * 1.0E9) AS BIGINT))) AS BIGINT) AS err_sum_q
       |FROM c ORDER BY vec_id""".stripMargin

  /** q_substring_dup_mass: per-doc token mass covered by corpus-duplicated
   * 8-gram spans (positional hashes -> multiplicity >= 2 -> interval union). */
  val substringDupMass: String =
    s"""WITH $augCte,
       |w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS ws FROM aug),
       |b AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_words, ws FROM w WHERE len(ws) >= 8),
       |p AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS i, ws FROM b),
       |g AS (SELECT doc_id, i, ${h60("array_to_string(ws[i+1:i+8], ' ')")} AS h FROM p),
       |dh AS (SELECT h FROM g GROUP BY 1 HAVING count(*) >= 2),
       |dp AS (SELECT g.doc_id, g.i FROM g JOIN dh USING (h)),
       |iv AS (SELECT doc_id, i, lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nx FROM dp),
       |per AS (SELECT doc_id, count(*) AS n_dup_pos,
       |        CAST(sum(least(8, coalesce(nx - i, 8))) AS BIGINT) AS dup_mass FROM iv GROUP BY 1),
       |fin AS (SELECT b.doc_id, b.n_words,
       |    coalesce(per.n_dup_pos, 0) AS n_dup_pos, coalesce(per.dup_mass, 0) AS dup_mass
       |  FROM b LEFT JOIN per USING (doc_id))
       |SELECT doc_id, n_words, n_dup_pos, dup_mass,
       |  CAST(floor(0.031415926535897934 + dup_mass * 1.0E6 / n_words) AS BIGINT) AS dup_frac_q,
       |  CAST(CAST(floor(0.031415926535897934 + dup_mass * 1.0E6 / n_words) AS BIGINT) >= 500000 AS BIGINT) AS dup_heavy
       |FROM fin ORDER BY doc_id""".stripMargin

  /** q_incremental_dedup: new batch (augmented copies, doc_id >= 10^6) probed
   * against the prior snapshot's exact md5 index and LSH band-bucket index. */
  val incrementalDedup: String =
    s"""WITH $augCte,
       |${shingleCtes("aug")},
       |$sigCtes,
       |bk AS (SELECT doc_id, b, CASE ${(0 until 4).map(b => s"WHEN b = $b THEN ${bandExpr(b)}").mkString(" ")} END AS bucket
       |       FROM sig, (SELECT unnest(range(4)) AS b)),
       |oldb AS (SELECT DISTINCT b, bucket FROM bk WHERE doc_id < 1000000),
       |near AS (SELECT n.doc_id,
       |    CAST(sum(CASE WHEN o.bucket IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_band_hits
       |  FROM (SELECT * FROM bk WHERE doc_id >= 1000000) n
       |  LEFT JOIN oldb o ON n.b = o.b AND n.bucket = o.bucket GROUP BY 1),
       |oldm AS (SELECT DISTINCT md5(text) AS m FROM aug WHERE doc_id < 1000000),
       |ex AS (SELECT nd.doc_id, CASE WHEN om.m IS NOT NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS matched_exact
       |       FROM (SELECT doc_id, md5(text) AS m FROM aug WHERE doc_id >= 1000000) nd
       |       LEFT JOIN oldm om ON nd.m = om.m)
       |SELECT ex.doc_id, ex.matched_exact,
       |  coalesce(nr.n_band_hits, 0) AS n_band_hits,
       |  CAST(coalesce(nr.n_band_hits, 0) >= 1 AS BIGINT) AS matched_near,
       |  CAST(ex.matched_exact = 0 AND coalesce(nr.n_band_hits, 0) = 0 AS BIGINT) AS is_new_content
       |FROM ex LEFT JOIN near nr ON ex.doc_id = nr.doc_id ORDER BY 1""".stripMargin

  /** q_perplexity_filter: self-trained unigram LM, integer-bit token costs
   * (floor-log2 via length(bin(x)) - 1, no floating log), corpus-mean keep rule
   * by integer cross-multiplication. */
  val perplexity: String =
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), w -> w != '')) AS w
       |              FROM documents),
       |vocab AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_tokens, count(*) AS v_size FROM vocab),
       |costs AS (SELECT w, CAST(length(bin((t_tokens + v_size) // (c + 1))) - 1 AS BIGINT) AS cost_bits
       |          FROM vocab, tot),
       |per AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(cost_bits) AS BIGINT) AS total_bits
       |        FROM toks JOIN costs USING (w) GROUP BY 1),
       |g AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS g_tokens, CAST(sum(total_bits) AS BIGINT) AS g_bits FROM per)
       |SELECT doc_id, n_tokens, total_bits,
       |  CAST(floor(0.031415926535897934 + total_bits * 1.0E6 / n_tokens) AS BIGINT) AS avg_bits_q,
       |  CAST(total_bits * g_tokens <= g_bits * n_tokens AS BIGINT) AS keep
       |FROM per, g ORDER BY doc_id""".stripMargin

  /** q_perplexity_bigram: bigram LM with add-one smoothing, integer-bit costs
   * (first token priced by the unigram model), corpus-mean keep rule. */
  val perplexityBigram: String =
    s"""WITH base AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x != '') AS ws
       |  FROM documents),
       |b1 AS (SELECT doc_id, ws FROM base WHERE len(ws) >= 1),
       |uni AS MATERIALIZED (SELECT w, count(*) AS cu
       |  FROM (SELECT unnest(ws) AS w FROM b1) GROUP BY 1),
       |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS t_tokens, count(*) AS v_size FROM uni),
       |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM b1)),
       |bi AS MATERIALIZED (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
       |bcost AS (SELECT g.doc_id,
       |    CAST(length(bin((u.cu + t.v_size) // (b.cb + 1))) - 1 AS BIGINT) AS bits
       |  FROM bg g JOIN bi b USING (w1, w2) JOIN uni u ON u.w = g.w1, tot t),
       |fcost AS (SELECT d.doc_id,
       |    CAST(length(bin((t.t_tokens + t.v_size) // (u.cu + 1))) - 1 AS BIGINT) AS bits
       |  FROM (SELECT doc_id, ws[1] AS w FROM b1) d JOIN uni u USING (w), tot t),
       |per AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS total_bits
       |  FROM (SELECT * FROM fcost UNION ALL SELECT * FROM bcost) GROUP BY 1),
       |g AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS g_tokens, CAST(sum(total_bits) AS BIGINT) AS g_bits FROM per)
       |SELECT doc_id, n_tokens, total_bits,
       |  CAST(floor(0.031415926535897934 + total_bits * 1.0E6 / n_tokens) AS BIGINT) AS avg_bits_q,
       |  CAST(total_bits * g_tokens <= g_bits * n_tokens AS BIGINT) AS keep
       |FROM per, g ORDER BY doc_id""".stripMargin

  /** q_seq_packing: concat-and-chunk packing manifest — window cumsum per
   * (source, shard) stream (shard = doc_id // 2^40, one shard at fixture ids),
   * 512-piece chunks, per-sequence docs/tokens/boundary counts. */
  val seqPacking: String =
    s"""WITH d AS (SELECT doc_id, source, doc_id // 1099511627776 AS shard,
       |    CAST(list_sum(list_transform(list_filter(string_split(lower(text), ' '), w -> w != ''),
       |      w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS tok
       |  FROM documents),
       |c AS (SELECT *, CAST(sum(tok) OVER (PARTITION BY source, shard ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM d WHERE tok >= 1),
       |s AS (SELECT *, cum - tok AS start_off,
       |    (cum - tok) // 512 AS seq_first, (cum - 1) // 512 AS seq_last FROM c),
       |x AS (SELECT source, shard, doc_id, tok, start_off, cum, seq_first, seq_last,
       |    unnest(range(seq_first, seq_last + 1)) AS seq_idx FROM s)
       |SELECT source, shard, seq_idx, count(*) AS n_docs,
       |  CAST(sum(least(cum, (seq_idx + 1) * 512) - greatest(start_off, seq_idx * 512)) AS BIGINT) AS n_tokens,
       |  CAST(sum(CAST(seq_last > seq_first AS BIGINT)) AS BIGINT) AS n_boundary_docs
       |FROM x GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q_importance_weights: DSIR-shaped hashed-unigram (4096-bucket) target/corpus
   * affinity ratios on the 2^20 integer grid; resample rule by cross-multiplication. */
  val importance: String =
    s"""WITH toks AS (SELECT doc_id, lang,
       |    ${h60("w")} % 4096 AS b
       |  FROM (SELECT doc_id, lang, unnest(list_filter(string_split(lower(text), ' '), w -> w != '')) AS w
       |        FROM documents)),
       |alls AS (SELECT b, count(*) AS c_all FROM toks GROUP BY 1),
       |tgt AS (SELECT b, count(*) AS c_tgt FROM toks WHERE lang = 'en' GROUP BY 1),
       |bk AS (SELECT b, ((coalesce(c_tgt, 0) + 1) * 1048576) // (c_all + 1) AS ratio_q
       |       FROM alls LEFT JOIN tgt USING (b)),
       |per AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(ratio_q) AS BIGINT) AS weight_sum
       |        FROM toks JOIN bk USING (b) GROUP BY 1),
       |g AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS g_tokens, CAST(sum(weight_sum) AS BIGINT) AS g_weight FROM per)
       |SELECT doc_id, n_tokens, weight_sum, weight_sum // n_tokens AS avg_ratio_q,
       |  CAST(weight_sum * g_tokens >= g_weight * n_tokens AS BIGINT) AS resampled
       |FROM per, g ORDER BY doc_id""".stripMargin

  /** q_corpus_split: deterministic hash split (96/2/2) on the 2^20 grid,
   * per-(source, split) doc/token/char rollup. */
  val corpusSplit: String =
    s"""WITH d AS (SELECT source, n_chars,
       |    ${h60("'split:' || CAST(doc_id AS VARCHAR)")} % 1048576 AS bucket,
       |    len(list_filter(string_split(lower(text), ' '), w -> w != '')) AS n_tokens
       |  FROM documents)
       |SELECT source,
       |  CASE WHEN bucket < 1006633 THEN 'train' WHEN bucket < 1027604 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_bm25: BM25 (k1=1.2, b=0.75) top-5 per query doc; idf = un-logged
   * Robertson odds ratio on the 2^20 integer grid (see Retrieval.bm25Query's
   * scaladoc for why not floating log / floor-log2 here); per-term
   * contributions dyadically quantized to BIGINT BEFORE the per-doc sum; the
   * tf-saturation chain shares Retrieval.bm25Query's exact expression tree. */
  val bm25: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w != '') AS ws FROM documents),
      |dd AS (SELECT doc_id, len(ws) AS dl, ws FROM d),
      |words AS (SELECT doc_id, dl, unnest(ws) AS w FROM dd),
      |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM words GROUP BY 1, 2, 3),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dd),
      |dft AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT query_id, w, df FROM (
      |    SELECT t.doc_id AS query_id, t.w, f.df,
      |      row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.w) AS tr
      |    FROM tf t JOIN dft f USING (w)
      |    WHERE t.doc_id < 5)
      |  WHERE tr <= 3),
      |sc AS (SELECT q.query_id, t.doc_id,
      |    CAST(floor(0.031415926535897934 + CAST((((s.n_docs - q.df) * 2 + 1) * 1048576) // (q.df * 2 + 1) AS DOUBLE) * (CAST(t.tf AS DOUBLE) * 2.2 / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(t.dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))) AS BIGINT) AS contrib
      |  FROM tf t JOIN qt q USING (w), stats s),
      |agg AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score_q,
      |        count(*) AS n_terms_hit FROM sc GROUP BY 1, 2)
      |SELECT query_id, rank, doc_id, score_q, n_terms_hit FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank
      |  FROM agg)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Source-keyed shingle-hash CTEs (per-doc distinctness is irrelevant to the
   * downstream idempotent max/min/distinct consumers). */
  private val srcHashCtes: String =
    s"""w AS (SELECT source, string_split(lower(text), ' ') AS ws FROM documents),
       |sidx AS (SELECT source, unnest(range(len(ws) - 2)) AS i, ws FROM w WHERE len(ws) >= 3),
       |sg AS (SELECT source, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g FROM sidx),
       |hb AS (SELECT source, ${h60("g")} AS h FROM sg)""".stripMargin

  /** q_hll_distinct: 64-register HyperLogLog per source vs exact distinct;
   * raw_scaled = sum(2^(56 - M_j)) is exact BIGINT, the alpha-division is the
   * single float op (literal shared with Sketches.HllAlphaC). */
  val hllDistinct: String =
    s"""WITH $srcHashCtes,
       |r AS (SELECT source, CAST(h % 64 AS INT) AS j, h // 64 AS wv FROM hb),
       |rr AS (SELECT source, j, CASE WHEN wv = 0 THEN 55 ELSE 55 - length(bin(wv)) END AS rho FROM r),
       |mx AS (SELECT source, j, max(rho) AS mj FROM rr GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source FROM hb),
       |grid AS (SELECT source, CAST(unnest(range(64)) AS INT) AS j FROM srcs),
       |filled AS (SELECT g.source, g.j, coalesce(m.mj, 0) AS mj
       |           FROM grid g LEFT JOIN mx m ON g.source = m.source AND g.j = m.j),
       |rw AS (SELECT source,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST(56 - mj AS INT)) AS BIGINT) AS raw_scaled,
       |         CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
       |       FROM filled GROUP BY 1),
       |ex AS (SELECT source, count(DISTINCT h) AS n_exact FROM hb GROUP BY 1),
       |e AS (SELECT rw.source, ex.n_exact, rw.n_zero_regs, rw.raw_scaled,
       |        CAST(floor(${graft.sketch.Sketches.HllAlphaC} / CAST(raw_scaled AS DOUBLE)) AS BIGINT) AS est
       |      FROM rw JOIN ex USING (source))
       |SELECT source, n_exact, n_zero_regs, raw_scaled, est,
       |  (abs(est - n_exact) * 1000000) // n_exact AS err_ppm
       |FROM e ORDER BY source""".stripMargin

  /** q_asof_join: DuckDB's NATIVE ASOF JOIN as the independent physical
   * derivation of the engine's union-tag + window as-of (purchase -> most
   * recent click at-or-before, per user). */
  val asofJoin: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      |           FROM events WHERE event_type IN ('click', 'purchase')),
      |p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click')
      |SELECT p.event_id AS purchase_id, p.user_id, p.ts_us AS purchase_ts_us,
      |  c.event_id AS click_id, c.ts_us AS click_ts_us, p.ts_us - c.ts_us AS gap_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
      |ORDER BY 1""".stripMargin

  /** q_range_join: all clicks within the 1-hour attribution window per
   * purchase (plain inequality join), per-purchase rollup. */
  val rangeJoin: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      |           FROM events WHERE event_type IN ('click', 'purchase')),
      |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS purchase_ts_us
      |      FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts_us AS click_ts_us
      |      FROM e WHERE event_type = 'click')
      |SELECT p.purchase_id, p.user_id, p.purchase_ts_us,
      |  count(c.click_id) AS n_clicks_1h,
      |  min(p.purchase_ts_us - c.click_ts_us) AS min_gap_us,
      |  CAST(sum(p.purchase_ts_us - c.click_ts_us) AS BIGINT) AS sum_gap_us
      |FROM p LEFT JOIN c ON p.user_id = c.user_id
      |  AND c.click_ts_us <= p.purchase_ts_us
      |  AND c.click_ts_us > p.purchase_ts_us - 3600000000
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  /** q_pagerank: 8 unrolled fixed-point PageRank rounds over the symmetrized
   * jaccard>=0.5 MinHash pair graph (2^40 integer grid, floor divisions —
   * bit-exact vs the engine's iterate). */
  val pagerank: String = {
    val Scale = 1099511627776L
    val roundCtes = (1 to 8).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT d.doc_a, d.deg,
         |    ((15 * $Scale) // (100 * nn.n)) + (85 * coalesce(s.s, 0)) // 100 AS r
         |  FROM deg d CROSS JOIN nn
         |  LEFT JOIN (SELECT e.doc_b AS doc_a, CAST(sum(p.r // p.deg) AS BIGINT) AS s
         |             FROM r${k - 1} p JOIN ed e ON p.doc_a = e.doc_a GROUP BY 1) s
         |    ON d.doc_a = s.doc_a)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS MATERIALIZED (SELECT doc_a, doc_b FROM ($minhashPairs) WHERE jaccard >= 0.5),
       |ed AS MATERIALIZED (SELECT doc_a, doc_b FROM pr UNION SELECT doc_b, doc_a FROM pr),
       |deg AS MATERIALIZED (SELECT doc_a, count(*) AS deg FROM ed GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT d.doc_a, d.deg, ($Scale // nn.n) AS r FROM deg d CROSS JOIN nn),
       |$roundCtes
       |SELECT doc_a AS doc_id, deg, r AS pr_q FROM r8 ORDER BY 1""".stripMargin
  }

  /** q_hll_users: the same 64-register HLL keyed by event_type over
   * h60('u:' || user_id) — the batch leg of the streaming sketch. */
  val hllUsers: String =
    s"""WITH hb AS (SELECT event_type, ${h60("'u:' || CAST(user_id AS VARCHAR)")} AS h FROM events),
       |r AS (SELECT event_type, CAST(h % 64 AS INT) AS j, h // 64 AS wv FROM hb),
       |rr AS (SELECT event_type, j, CASE WHEN wv = 0 THEN 55 ELSE 55 - length(bin(wv)) END AS rho FROM r),
       |mx AS (SELECT event_type, j, max(rho) AS mj FROM rr GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT event_type FROM hb),
       |grid AS (SELECT event_type, CAST(unnest(range(64)) AS INT) AS j FROM srcs),
       |filled AS (SELECT g.event_type, g.j, coalesce(m.mj, 0) AS mj
       |           FROM grid g LEFT JOIN mx m ON g.event_type = m.event_type AND g.j = m.j),
       |rw AS (SELECT event_type,
       |         CAST(sum(CAST(1 AS BIGINT) << CAST(56 - mj AS INT)) AS BIGINT) AS raw_scaled,
       |         CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
       |       FROM filled GROUP BY 1),
       |ex AS (SELECT event_type, count(DISTINCT h) AS n_exact FROM hb GROUP BY 1),
       |e AS (SELECT rw.event_type, ex.n_exact, rw.n_zero_regs, rw.raw_scaled,
       |        CAST(floor(${graft.sketch.Sketches.HllAlphaC} / CAST(raw_scaled AS DOUBLE)) AS BIGINT) AS est
       |      FROM rw JOIN ex USING (event_type))
       |SELECT event_type, n_exact, n_zero_regs, raw_scaled, est,
       |  (abs(est - n_exact) * 1000000) // n_exact AS err_ppm
       |FROM e ORDER BY event_type""".stripMargin

  /** q_source_overlap: 64-slot source MinHash Jaccard estimate vs exact
   * intersection/union; mixing constants inlined from Sketches.MixA/B/C. */
  val sourceOverlap: String = {
    import graft.sketch.Sketches.{MixA, MixB, MixC, Slots}
    val consts = (0 until Slots)
      .map(k => s"($k, ${MixA(k)}, ${MixB(k)}, ${MixC(k)})").mkString(", ")
    s"""WITH $srcHashCtes,
       |mc(k, ma, mb, mct) AS (SELECT * FROM (VALUES $consts) t(k, ma, mb, mct)),
       |sig AS (SELECT source, k,
       |          min((((h >> 30) * ma) + ((h & 1073741823) * mb) + mct) & ${graft.exprs.Kernels.MinhashMask}) AS mh
       |        FROM hb, mc GROUP BY 1, 2),
       |est AS (SELECT a.source AS src_a, b.source AS src_b,
       |          CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |        FROM sig a JOIN sig b ON a.k = b.k AND a.source < b.source GROUP BY 1, 2),
       |ds AS (SELECT DISTINCT source, h FROM hb),
       |cnt AS (SELECT source, count(*) AS n FROM ds GROUP BY 1),
       |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
       |          FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
       |pairs AS (SELECT e.src_a, e.src_b, e.n_match, (e.n_match * 1000000) // 64 AS jacc_est_ppm,
       |            coalesce(i.n_inter, 0) AS n_inter,
       |            ca.n + cb.n - coalesce(i.n_inter, 0) AS n_union
       |          FROM est e LEFT JOIN inter i ON e.src_a = i.src_a AND e.src_b = i.src_b
       |          JOIN cnt ca ON e.src_a = ca.source JOIN cnt cb ON e.src_b = cb.source)
       |SELECT src_a, src_b, n_match, jacc_est_ppm, n_inter, n_union,
       |  (n_inter * 1000000) // n_union AS jacc_exact_ppm
       |FROM pairs ORDER BY src_a, src_b""".stripMargin
  }

  /** q_heavy_hitters: Count-Min sketch (4 x 32) over corpus word counts,
   * audited vs exact counts for the top-20 words (mix rows 0..3). */
  val heavyHitters: String = {
    import graft.sketch.Sketches.{MixA, MixB, MixC, CmDepth, CmWidth}
    val consts = (0 until CmDepth)
      .map(r => s"($r, ${MixA(r)}, ${MixB(r)}, ${MixC(r)})").mkString(", ")
    s"""WITH wc AS (SELECT w, count(*) AS c_exact FROM (
       |    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
       |    FROM documents) GROUP BY 1),
       |wh AS (SELECT w, c_exact, ${h60("w")} AS h FROM wc),
       |mc(r, ma, mb, mct) AS (SELECT * FROM (VALUES $consts) t(r, ma, mb, mct)),
       |wb AS (SELECT w, c_exact, r,
       |         ((((h >> 30) * ma) + ((h & 1073741823) * mb) + mct) & ${graft.exprs.Kernels.MinhashMask}) % $CmWidth AS b
       |       FROM wh, mc),
       |cms AS (SELECT r, b, CAST(sum(c_exact) AS BIGINT) AS bucket_cnt FROM wb GROUP BY 1, 2),
       |est AS (SELECT w, c_exact, min(bucket_cnt) AS c_est FROM wb JOIN cms USING (r, b) GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (ORDER BY c_exact DESC, w) AS rk FROM est)
       |SELECT w, rk, c_exact, c_est, c_est - c_exact AS overestimate
       |FROM rk WHERE rk <= 20 ORDER BY rk""".stripMargin
  }

  /** q_quantile_tokens: per-source p50/p90/p99 token-length quantiles by the
   * value-histogram cumsum + integer cross-multiplied rank rule. */
  val quantileTokens: String =
    """WITH dlt AS (SELECT source,
      |    len(list_filter(string_split(lower(text), ' '), w -> w != '')) AS dl FROM documents),
      |hist AS (SELECT source, dl, count(*) AS cnt FROM dlt GROUP BY 1, 2),
      |cumh AS (SELECT source, dl,
      |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY dl
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM hist),
      |n AS (SELECT source, count(*) AS n_docs FROM dlt GROUP BY 1),
      |qs AS (SELECT unnest([50, 90, 99]) AS q)
      |SELECT c.source, qs.q AS q, min(c.dl) AS v, max(n.n_docs) AS n_docs
      |FROM cumh c JOIN n ON c.source = n.source CROSS JOIN qs
      |WHERE c.cum * 100 >= qs.q * n.n_docs
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_bloom_membership: per-source Bloom filter (16384 bits, k = 3, mix rows
   * 4..6) over distinct shingle hashes; src0's shingles probed against every
   * source's filter. */
  val bloomMembership: String = {
    import graft.sketch.Sketches.{MixA, MixB, MixC, BloomK, BloomBits}
    val consts = (0 until BloomK)
      .map(i => s"($i, ${MixA(i + 4)}, ${MixB(i + 4)}, ${MixC(i + 4)})").mkString(", ")
    s"""WITH $srcHashCtes,
       |ds AS (SELECT DISTINCT source, h FROM hb),
       |bp(i, ma, mb, mct) AS (SELECT * FROM (VALUES $consts) t(i, ma, mb, mct)),
       |pos AS (SELECT source,
       |          ((((h >> 30) * ma) + ((h & 1073741823) * mb) + mct) & ${graft.exprs.Kernels.MinhashMask}) % $BloomBits AS p
       |        FROM ds, bp),
       |flt AS (SELECT source, CAST(p // 32 AS INT) AS w_idx,
       |          CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS BIGINT) AS bits
       |        FROM pos GROUP BY 1, 2),
       |ppos AS (SELECT h, CAST(p // 32 AS INT) AS w_idx,
       |           (CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS m
       |         FROM (SELECT h,
       |             ((((h >> 30) * ma) + ((h & 1073741823) * mb) + mct) & ${graft.exprs.Kernels.MinhashMask}) % $BloomBits AS p
       |           FROM (SELECT h FROM ds WHERE source = 'src0') pr, bp)),
       |srcs AS (SELECT DISTINCT source AS tgt FROM ds),
       |tested AS (SELECT s.tgt, p.h,
       |    CAST(sum(CASE WHEN (coalesce(f.bits, 0) & p.m) = p.m THEN 1 ELSE 0 END) AS BIGINT) AS n_bits_set
       |  FROM ppos p CROSS JOIN srcs s
       |  LEFT JOIN flt f ON f.source = s.tgt AND f.w_idx = p.w_idx
       |  GROUP BY 1, 2),
       |tp AS (SELECT tgt, h, CASE WHEN n_bits_set = $BloomK THEN 1 ELSE 0 END AS pass FROM tested),
       |tj AS (SELECT tp.tgt, tp.h, tp.pass,
       |         CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END AS member
       |       FROM tp LEFT JOIN ds d ON d.source = tp.tgt AND d.h = tp.h)
       |SELECT tgt AS source, count(*) AS n_probes,
       |  CAST(sum(member) AS BIGINT) AS n_member,
       |  CAST(sum(pass) AS BIGINT) AS n_pass,
       |  CAST(sum(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       |  CAST(sum(CASE WHEN pass = 0 AND member = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
       |  (CAST(sum(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS fp_ppm
       |FROM tj GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_data_card: long-format per-source report — base counts + HLL pair +
   * p50/p90 quantiles, each leg reusing the standalone oracle's derivation. */
  val dataCard: String =
    s"""WITH d AS (SELECT source, lang, n_chars,
       |    len(list_filter(string_split(lower(text), ' '), w -> w != '')) AS n_tokens
       |  FROM documents),
       |base AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_docs,
       |    count(DISTINCT lang) AS n_langs
       |  FROM d GROUP BY 1)
       |SELECT source,
       |  unnest(['n_docs', 'n_tokens', 'n_chars', 'n_en_docs', 'n_langs', 'avg_tokens']) AS metric,
       |  unnest([n_docs, n_tokens, n_chars, n_en_docs, n_langs, n_tokens // n_docs]) AS value_q
       |FROM base
       |UNION ALL
       |SELECT source, 'distinct_shingles' AS metric, n_exact AS value_q FROM ($hllDistinct)
       |UNION ALL
       |SELECT source, 'hll_est_shingles' AS metric, est AS value_q FROM ($hllDistinct)
       |UNION ALL
       |SELECT source, 'p' || q || '_tokens' AS metric, CAST(v AS BIGINT) AS value_q
       |FROM ($quantileTokens) WHERE q IN (50, 90)
       |ORDER BY 1, 2""".stripMargin

  /** q_ann_ivfpq: the IVFADC composition — annIvf's cell assignment/probes
   * restrict the candidates, annPq's codes/ADC score them. */
  val annIvfPq: String = {
    val C = ann.Ann.IvfCells; val NP = ann.Ann.IvfNProbe
    val dTerms = (1 to 8).map(j =>
      s"(CAST(e2.embedding[s.s * 8 + $j] AS DOUBLE) - CAST(w.embedding[s.s * 8 + $j] AS DOUBLE)) * " +
        s"(CAST(e2.embedding[s.s * 8 + $j] AS DOUBLE) - CAST(w.embedding[s.s * 8 + $j] AS DOUBLE))")
      .mkString(" + ")
    val pivots = (0 to 7).map(s => s"max(CASE WHEN d.s = $s THEN d.d END) AS d$s").mkString(", ")
    val adist = (0 to 7).map(s => s"d$s").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (SELECT vec_id AS centroid_id, embedding AS cv FROM e WHERE vec_id < $C),
       |asg0 AS (SELECT a.vec_id, c.centroid_id, ${cosSql("a.embedding", "c.cv")} AS ccos
       |         FROM e a CROSS JOIN cent c),
       |asg AS (SELECT vec_id, centroid_id FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id ASC) AS rn
       |          FROM asg0) WHERE rn = 1),
       |pr0 AS (SELECT q.vec_id AS query_id, c.centroid_id, ${cosSql("q.embedding", "c.cv")} AS ccos
       |        FROM e q CROSS JOIN cent c WHERE q.vec_id < 20),
       |pr AS (SELECT query_id, centroid_id FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, centroid_id ASC) AS rn
       |         FROM pr0) WHERE rn <= $NP),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |         FROM pr p JOIN asg a USING (centroid_id) WHERE a.vec_id != p.query_id),
       |s AS (SELECT unnest(range(8)) AS s),
       |cw AS (SELECT vec_id AS c, embedding FROM e WHERE vec_id < ${ann.Ann.PqK}),
       |dists AS (SELECT e2.vec_id, s.s, w.c, $dTerms AS d FROM e e2, s, cw w),
       |enc AS (SELECT vec_id, s, c AS code FROM (
       |          SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
       |          FROM dists) WHERE rn = 1),
       |adc AS (SELECT cd.query_id, cd.neighbor_id, $pivots
       |        FROM cand cd JOIN enc n ON n.vec_id = cd.neighbor_id
       |        JOIN dists d ON d.s = n.s AND d.c = n.code AND d.vec_id = cd.query_id
       |        GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, ($adist) AS adist,
       |        row_number() OVER (PARTITION BY query_id ORDER BY ($adist) ASC, neighbor_id ASC) AS rank
       |      FROM adc)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(floor(0.031415926535897934 + adist * 1.0E6) AS BIGINT) AS adist_q
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** q_source_roundtrip: format-independence invariant — the parquet-derived
   * (n_rows, checksum) emitted once per format name; the engine's JSON/CSV
   * round trips must land on the same values. */
  val sourceRoundtrip: String =
    s"""WITH s AS (SELECT count(*) AS n_rows,
       |  CAST(sum(${h60("doc_id::VARCHAR || '|' || lang || '|' || source || '|' || n_chars::VARCHAR || '|' || md5(text)")} % 1099511627776) AS BIGINT) AS checksum
       |  FROM documents)
       |SELECT fmt, n_rows, checksum
       |FROM s, (SELECT unnest(['parquet', 'json', 'csv']) AS fmt)
       |ORDER BY fmt""".stripMargin

  /** q_eval_pr: per-label precision/recall over the kNN classifier output
   * (full outer of truth and prediction label sets, integer ppm). */
  val evalPr: String =
    s"""WITH t AS (SELECT true_label AS label, count(*) AS n_true,
       |             CAST(sum(correct) AS BIGINT) AS tp
       |           FROM ($knnClassify) GROUP BY 1),
       |p AS (SELECT predicted_label AS label, count(*) AS n_pred
       |      FROM ($knnClassify) GROUP BY 1),
       |j AS (SELECT coalesce(t.label, p.label) AS label,
       |        coalesce(t.n_true, 0) AS n_true, coalesce(t.tp, 0) AS tp,
       |        coalesce(p.n_pred, 0) AS n_pred
       |      FROM t FULL OUTER JOIN p ON t.label = p.label)
       |SELECT label, n_true, n_pred, tp, n_pred - tp AS fp, n_true - tp AS fn,
       |  CASE WHEN n_pred = 0 THEN 0 ELSE (tp * 1000000) // n_pred END AS precision_ppm,
       |  CASE WHEN n_true = 0 THEN 0 ELSE (tp * 1000000) // n_true END AS recall_ppm
       |FROM j ORDER BY label""".stripMargin

  /** q_cdc_merge: row-level MERGE INTO — base (non-bucket-0) FULL OUTER the
   * batch (bucket-0 inserts + bucket-1 amended updates), per-source routing
   * counts + post-merge snapshot checksum. */
  val cdcMerge: String =
    s"""WITH d AS (SELECT doc_id, source, text,
       |    ${h60("'cdc:' || CAST(doc_id AS VARCHAR)")} % 10 AS bkt
       |  FROM documents WHERE text IS NOT NULL),
       |base AS (SELECT doc_id, source, text AS text_base FROM d WHERE bkt != 0),
       |batch AS (SELECT doc_id, source, text AS text_batch FROM d WHERE bkt = 0
       |          UNION ALL
       |          SELECT doc_id, source, text || ' v2' FROM d WHERE bkt = 1),
       |m AS (SELECT coalesce(base.doc_id, batch.doc_id) AS doc_id,
       |        coalesce(base.source, batch.source) AS source,
       |        coalesce(text_batch, text_base) AS text,
       |        CASE WHEN text_base IS NULL THEN 'inserted'
       |             WHEN text_batch IS NULL THEN 'unchanged' ELSE 'updated' END AS action
       |      FROM base FULL OUTER JOIN batch
       |        ON base.doc_id = batch.doc_id AND base.source = batch.source)
       |SELECT source,
       |  CAST(sum(CAST(action = 'unchanged' AS INT)) AS BIGINT) AS n_unchanged,
       |  CAST(sum(CAST(action = 'updated' AS INT)) AS BIGINT) AS n_updated,
       |  CAST(sum(CAST(action = 'inserted' AS INT)) AS BIGINT) AS n_inserted,
       |  CAST(sum(${h60("CAST(doc_id AS VARCHAR) || '|' || md5(text)")} % 1099511627776) AS BIGINT) AS snapshot_checksum
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_quality_classifier: hashed bag-of-words linear classifier inference
   * — per-token bucket weight from the shared h60 primitive, per-doc sparse
   * dot product, explicit floor division for the per-token score. */
  val qualityClassifier: String = {
    val b = graft.text.Curation.QcBuckets
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '), x -> x != '')) AS w
       |  FROM documents),
       |wt AS (SELECT doc_id, ${h60(s"'qw:' || CAST(${h60("w")} % $b AS VARCHAR)")} % 2001 - 1000 AS wt
       |  FROM tok),
       |agg AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(wt) AS BIGINT) AS score
       |  FROM wt GROUP BY 1)
       |SELECT doc_id, n_tokens, score,
       |  (score - ((score % n_tokens + n_tokens) % n_tokens)) // n_tokens AS score_per_tok,
       |  CAST(score >= 0 AS BIGINT) AS label
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** q_line_dedup: C4-style line-level exact dedup over planted boilerplate
   * lines. Positions mirror the engine's posexplode over the null-filtered
   * line array (content always pos 0; each planted line's pos counts the
   * planted lines before it); the keep-first key packs (doc_id, pos) as
   * doc_id*4+pos (pos < 4), identical ordering to the engine's min-struct. */
  val lineDedup: String = {
    import graft.text.Curation.{BoilerFooter, BoilerLegal}
    s"""WITH l AS (
       |  SELECT doc_id, 0 AS pos, text AS line FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT doc_id, 1, '$BoilerFooter' FROM documents
       |  WHERE text IS NOT NULL AND doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id, 1 + CAST(doc_id % 7 = 0 AS INT), '$BoilerLegal'
       |  FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id, 1 + CAST(doc_id % 7 = 0 AS INT) + CAST(doc_id % 5 = 0 AS INT),
       |    'promo code team' || CAST(doc_id // 44 AS VARCHAR)
       |  FROM documents WHERE text IS NOT NULL AND doc_id % 11 = 0),
       |k AS (SELECT doc_id, pos, line, ${h60("line")} AS h FROM l),
       |f AS (SELECT h, min(doc_id * 4 + pos) AS min_kk, count(*) AS n_copies
       |      FROM k GROUP BY 1)
       |SELECT doc_id, count(*) AS n_lines,
       |  CAST(sum(CASE WHEN doc_id * 4 + pos = min_kk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(length(line)) AS BIGINT) AS chars_before,
       |  CAST(sum(CASE WHEN doc_id * 4 + pos = min_kk THEN length(line) ELSE 0 END) AS BIGINT) AS chars_after,
       |  CAST(max(CASE WHEN doc_id * 4 + pos = min_kk THEN 0 ELSE n_copies END) AS BIGINT) AS max_dup_copies
       |FROM k JOIN f USING (h) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_stratified_sample: per-source bottom-k-by-hash sampling, restated with
   * the same salted h60 and a window rank. */
  val stratifiedSample: String = {
    val cap = graft.text.Curation.StratumCap
    s"""WITH h AS (SELECT source, doc_id,
       |    ${h60("'samp:' || CAST(doc_id AS VARCHAR)")} AS h FROM documents),
       |r AS (SELECT source, doc_id, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM h)
       |SELECT source, count(*) AS n_total,
       |  CAST(sum(CASE WHEN rk <= $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN rk <= $cap THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
       |  max(CASE WHEN rk <= $cap THEN h END) AS threshold_hash
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
