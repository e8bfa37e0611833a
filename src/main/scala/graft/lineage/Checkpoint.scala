package graft.lineage

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Resumable checkpoints with per-partition lineage + metrics (the north rule's
 * Iceberg-snapshot role, emulated as atomic parquet + manifest commits — no Iceberg
 * runtime ships in this environment, SURVEY.md §7.4). Mirrors the reference
 * benchmark's provenance record design (Benchmark.java:192-239: environment +
 * config + append-only history).
 *
 * Contract:
 *  - `stage(...)(compute)` either REPLAYS a completed snapshot (manifest present and
 *    config hash matches) or computes, writes parquet, writes per-partition metrics
 *    (partition_id, rows, order-independent checksum), and commits the manifest LAST
 *    (write-ahead data, atomic rename of the manifest) so a crashed run never leaves
 *    a half-committed stage that would be replayed.
 *  - checksum is XOR of per-row xxhash64 over the canonical JSON of the row: stable
 *    under partitioning and row order (the two-cluster-size identity requirement).
 */
object Checkpoint {

  final case class StageResult(df: DataFrame, resumed: Boolean, manifest: String)

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
    }

  def rowChecksum(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"),
      spark_partition_id().as("pid"))

  def stage(spark: SparkSession, runDir: String, name: String, configHash: String)
      (compute: => DataFrame): StageResult = {
    val dir = Paths.get(runDir, name)
    val manifestPath = dir.resolve("_MANIFEST.json")
    if (Files.exists(manifestPath)) {
      val m = Files.readString(manifestPath)
      if (m.contains(s""""config_hash": "$configHash"""")) {
        return StageResult(spark.read.parquet(dir.resolve("data").toString), resumed = true, m)
      }
    }
    Files.createDirectories(dir)
    val df = compute
    val dataPath = dir.resolve("data").toString
    df.write.mode("overwrite").parquet(dataPath)

    // per-partition lineage metrics over the *written* snapshot
    val written = spark.read.parquet(dataPath)
    val metrics = rowChecksum(written)
      .groupBy("pid")
      .agg(count(lit(1)).as("rows"), expr("bit_xor(h)").as("checksum"))
    metrics.write.mode("overwrite").parquet(dir.resolve("metrics").toString)
    val total = metrics.agg(sum("rows"), expr("bit_xor(checksum)")).head()
    val totalRows = Option(total.get(0)).map(_.toString).getOrElse("0")
    val checksum = Option(total.get(1)).map(_.toString).getOrElse("0")

    val manifest =
      s"""{
         |  "stage": "$name",
         |  "config_hash": "$configHash",
         |  "total_rows": $totalRows,
         |  "checksum": $checksum,
         |  "n_partitions": ${written.rdd.getNumPartitions},
         |  "spark_version": "${spark.version}",
         |  "default_parallelism": ${spark.sparkContext.defaultParallelism}
         |}""".stripMargin
    // commit point: manifest written atomically (tmp + move) AFTER data + metrics
    val tmp = dir.resolve("_MANIFEST.json.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, manifestPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    StageResult(written, resumed = false, manifest)
  }

  /** Order/partitioning-independent checksum of a DataFrame (for output-identity
   * evidence between cluster sizes). */
  def datasetChecksum(df: DataFrame): (Long, Long) = {
    val r = rowChecksum(df).agg(count(lit(1)), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /**
   * Semantic (logical-partition-keyed) lineage manifest: per key, the row count
   * and an order-independent checksum over the named payload columns. Unlike
   * rowChecksum's spark_partition_id metrics (physical lineage), this manifest
   * is keyed by a DATA column — the Iceberg partition-stats shape — so an
   * INDEPENDENT engine can recompute and audit it (md5-derived 60-bit hash,
   * summed mod 2^40 so half a million rows stay far from BIGINT overflow).
   */
  def semanticManifest(df: DataFrame, key: String, payloadCols: Seq[String]): DataFrame = {
    val payload = concat_ws("|", payloadCols.map(c => col(c).cast("string")): _*)
    val h60 = conv(substring(md5(payload), 1, 15), 16, 10).cast("long")
    df.groupBy(col(key).as("part_key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(h60 % lit(1099511627776L)).as("checksum"))
  }

  /** Gate query: the semantic manifest of the geolocated media-span table keyed
   * by scene (the engine's Iceberg-partition analog) — an independent engine
   * recomputes the same (rows, checksum) per key, so a driver-side mismatch is
   * attributable to inputs vs engine. */
  def lineageManifestQuery(spark: SparkSession, sfDir: String): DataFrame =
    semanticManifest(graft.ops.Spans.geolocatedMediaSpans(spark, sfDir),
      "scene_id", Seq("doc_id", "offset", "media_ref"))

  /**
   * Snapshot diff (q_snapshot_diff) — the Iceberg incremental-consumption /
   * time-travel primitive: which logical partitions changed between two
   * snapshots, so an incremental job recomputes ONLY those. Snapshot A is a
   * deterministic earlier corpus state (IW2 spans complete, IW1 spans missing
   * the h60(doc)%5=0 batch, IW3 absent entirely); snapshot B is the full
   * table — so the fixture exercises all three outcomes: IW2 partitions
   * `unchanged`, IW1 `changed`, IW3 `added` (and the classifier supports
   * `removed`). The diff is a FULL OUTER join of the two semantic manifests —
   * the comparison runs over per-partition (rows, checksum) rows, never the
   * data, which is the point at 10^12 rows: manifests are bounded by the
   * partition count.
   */
  def snapshotDiffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir)
      .withColumn("part", concat_ws("/", col("scene_id"), col("subswath")))
    val inA = expr(
      s"subswath = 'IW2' OR (subswath = 'IW1' AND ${graft.dedup.Dedup.h60("doc_id")} % 5 != 0)")
    val a = semanticManifest(spans.where(inA), "part", Seq("doc_id", "offset", "media_ref"))
      .withColumnRenamed("n_rows", "n_a").withColumnRenamed("checksum", "cs_a")
    val b = semanticManifest(spans, "part", Seq("doc_id", "offset", "media_ref"))
      .withColumnRenamed("n_rows", "n_b").withColumnRenamed("checksum", "cs_b")
    a.join(b, Seq("part_key"), "full_outer")
      .select(col("part_key"),
        expr("CASE WHEN n_a IS NULL THEN 'added' WHEN n_b IS NULL THEN 'removed' " +
          "WHEN n_a = n_b AND cs_a = cs_b THEN 'unchanged' ELSE 'changed' END").as("status"),
        coalesce(col("n_a"), lit(0L)).as("n_a"), coalesce(col("cs_a"), lit(0L)).as("cs_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"), coalesce(col("cs_b"), lit(0L)).as("cs_b"))
  }

  /**
   * Row-level CDC merge (q_cdc_merge) — the MERGE INTO / upsert primitive
   * (snapshot_diff is partition-level; this is the row-level leg): a base
   * snapshot (documents minus the deterministic "new" h60-bucket) merged
   * with an incoming batch of inserts (the held-out bucket) and updates
   * (bucket 1 docs with amended text). Classification per row — inserted /
   * updated / unchanged — then per-source rollup with an order-independent
   * checksum of the POST-merge snapshot, so the gate pins both the routing
   * counts and the merged result itself.
   *
   * Scale: one doc_id-keyed FULL OUTER hash join (the canonical MERGE
   * shuffle — at Iceberg level this composes with snapshot_diff so only
   * changed partitions join), one rollup.
   */
  def cdcMergeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val h = graft.dedup.Dedup.h60("concat('cdc:', CAST(doc_id AS STRING))")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"), expr(s"$h % 10").as("bkt"))
    val base = docs.where(col("bkt") =!= 0)
      .select(col("doc_id"), col("source"), col("text").as("text_base"))
    val batch = docs.where(col("bkt") === 0)
      .select(col("doc_id"), col("source"), col("text").as("text_batch"))
      .unionByName(docs.where(col("bkt") === 1)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" v2")).as("text_batch")))
    val merged = base.join(batch, Seq("doc_id", "source"), "full_outer")
      .select(col("doc_id"), col("source"),
        coalesce(col("text_batch"), col("text_base")).as("text"),
        expr("CASE WHEN text_base IS NULL THEN 'inserted' " +
          "WHEN text_batch IS NULL THEN 'unchanged' ELSE 'updated' END").as("action"))
    merged.groupBy("source").agg(
      sum(expr("CAST(action = 'unchanged' AS BIGINT)")).as("n_unchanged"),
      sum(expr("CAST(action = 'updated' AS BIGINT)")).as("n_updated"),
      sum(expr("CAST(action = 'inserted' AS BIGINT)")).as("n_inserted"),
      sum(expr(s"${graft.dedup.Dedup.h60("concat(CAST(doc_id AS STRING), '|', md5(text))")} % 1099511627776"))
        .as("snapshot_checksum"))
  }

  /** Prune predicate for the manifest-prune gate: geolocated span longitude
   * (quantized microdegrees) in [PruneLo, PruneHi] — chosen so SOME fixture
   * scenes prune (scene lon origins step 2.5 deg) and some scan. */
  val PruneLo = -29500000L
  val PruneHi = -28200000L

  /**
   * Iceberg-style scan planning over a partition-keyed snapshot: after the
   * keyed stage write, a per-partition column-stats manifest (min/max/rows of
   * the stat column — the Iceberg manifest-file shape) is committed next to
   * the data; a predicated read then consults ONLY the manifest to decide
   * which partition directories to open. At 10^12-doc scale this is the
   * difference between touching every file and touching the few whose stats
   * ranges overlap the predicate — the raw-data path never sees pruned
   * partitions (LineageSpec pins inputFiles).
   *
   * Gate output, per partition key: the manifest stats (n_rows, min_q, max_q),
   * the planner's decision (scanned), and the exact predicate match count
   * n_match — computed ONLY from the partitions the planner kept (pruned
   * partitions report 0, which is correct iff the stats bound is sound, so the
   * DuckDB twin's full-scan recomputation verifies the pruning end to end).
   */
  def manifestPruneQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val runDir = Files.createTempDirectory("graft_prune").toString
    val spans = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir)
      .select(col("scene_id"), col("doc_id"), col("offset"), col("media_ref"),
        graft.geom.Geo.microdeg(col("lon")).as("lon_q"))
    stageKeyed(spark, runDir, "spans", "scene_id", "v1")(spans)
    val stats = writeStatsManifest(spark, s"$runDir/spans", "scene_id", "lon_q")
    import spark.implicits._
    val kept = spark.read.schema("part_key STRING, n_rows BIGINT, min_q BIGINT, max_q BIGINT")
      .json(spark.createDataset(stats.split("\n").toSeq))
    val pruned = prunedRead(spark, s"$runDir/spans", "scene_id", PruneLo, PruneHi)
    val matches = pruned
      .where(col("lon_q").between(PruneLo, PruneHi))
      .groupBy(col("scene_id").cast("string").as("part_key"))
      .agg(count(lit(1)).as("n_match"))
    kept.join(matches, Seq("part_key"), "left")
      .select(col("part_key"), col("n_rows"), col("min_q"), col("max_q"),
        (col("min_q") <= PruneHi && col("max_q") >= PruneLo).cast("long").as("scanned"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
  }

  /** Compaction target: rows per output bin for q_compaction_plan. */
  val CompactionTargetRows = 1600L

  /**
   * q_compaction_plan: the Iceberg `rewrite_data_files` (bin-pack) PLANNING
   * step — group each partition's small files into target-sized rewrite bins
   * while preserving the table's sort order. Files here are the per-burst
   * row groups of the media-span manifest (partition = scene/subswath, file
   * = burst, size = row count); the plan orders files by their sort key and
   * assigns bin = (running-row-prefix - own-size) / target — the streaming
   * first-fit packing whose bins never exceed target + max_file rows and
   * never interleave the sort order (so compacted files stay
   * cluster-pruned). The whole plan runs over FILE METADATA (one row per
   * file), never the data: at 10^12 docs the manifest frame is bounded by
   * file count, and the per-partition window is bounded by files-per-
   * partition. Output per (partition, bin): file count, total rows, and the
   * covered burst range — exactly what a rewrite job would execute.
   */
  def compactionPlanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val files = graft.ops.Spans.geolocatedMediaSpans(spark, sfDir)
      .groupBy("scene_id", "subswath", "burst_idx")
      .agg(count(lit(1)).as("n_rows"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("scene_id", "subswath")
      .orderBy("burst_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    files
      .withColumn("prefix", sum("n_rows").over(w))
      .withColumn("bin", expr(s"(prefix - n_rows) div ${CompactionTargetRows}L"))
      .groupBy("scene_id", "subswath", "bin")
      .agg(count(lit(1)).as("n_files"), sum("n_rows").as("rows_total"),
        min("burst_idx").as("burst_min"), max("burst_idx").as("burst_max"))
  }

  /** Per-partition min/max/rows stats manifest over a keyed snapshot, committed
   * atomically as `_STATS.json` (one JSON object per line, Iceberg
   * manifest-entry shape). Returns the manifest text. */
  def writeStatsManifest(spark: SparkSession, stageDir: String, key: String,
      statCol: String): String = {
    val dir = Paths.get(stageDir)
    val data = spark.read.parquet(dir.resolve("data").toString)
    val rows = data.groupBy(col(key).cast("string").as("part_key"))
      .agg(count(lit(1)).as("n_rows"), min(statCol).as("min_q"), max(statCol).as("max_q"))
      .orderBy("part_key").collect()
    val manifest = rows.map { r =>
      s"""{"part_key": "${r.getString(0)}", "n_rows": ${r.getLong(1)}, "min_q": ${r.getLong(2)}, "max_q": ${r.getLong(3)}}"""
    }.mkString("\n")
    val tmp = dir.resolve("_STATS.json.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, dir.resolve("_STATS.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    manifest
  }

  /** Manifest-driven pruned read: consult `_STATS.json` (driver-side, no data
   * IO), keep partitions whose [min_q, max_q] overlaps [lo, hi], and open ONLY
   * those partition directories. */
  def prunedRead(spark: SparkSession, stageDir: String, key: String,
      lo: Long, hi: Long): DataFrame = {
    val dir = Paths.get(stageDir)
    val stats = Files.readString(dir.resolve("_STATS.json"))
    val entry = """\{"part_key": "([^"]*)", "n_rows": \d+, "min_q": (-?\d+), "max_q": (-?\d+)\}""".r
    val keep = entry.findAllMatchIn(stats).collect {
      case m if m.group(2).toLong <= hi && m.group(3).toLong >= lo => m.group(1)
    }.toSeq
    val paths = keep.map(k => dir.resolve("data").resolve(s"$key=$k").toString)
    spark.read.option("basePath", dir.resolve("data").toString).parquet(paths: _*)
  }

  /**
   * Partition-granular resumable stage: data is written partitionBy(key) with
   * dynamic overwrite, and the COMMITTED key set lives in an atomically-renamed
   * `_KEYS.json` written last. A crash between data write and commit leaves the
   * key unlisted, so the rerun recomputes it — dynamic overwrite makes that
   * idempotent (the half-written partition is replaced, never duplicated).
   * Completed keys are skipped entirely on resume: only the missing keys' rows
   * are written. Key cardinality is assumed manifest-scale (scenes/dates — the
   * Iceberg partition granularity), so the committed set is driver-held.
   */
  def stageKeyed(spark: SparkSession, runDir: String, name: String, key: String,
      configHash: String)(compute: => DataFrame): StageResult = {
    val dir = Paths.get(runDir, name)
    val keysPath = dir.resolve("_KEYS.json")
    val dataPath = dir.resolve("data").toString
    val committed: Set[String] =
      if (Files.exists(keysPath)) {
        val m = Files.readString(keysPath)
        if (m.contains(s""""config_hash": "$configHash"""))
          "\"k:([^\"]*)\"".r.findAllMatchIn(m).map(_.group(1)).toSet
        else {
          // config changed: stale partitions from the old config would survive a
          // dynamic overwrite keyed on the new frame — wipe the stage instead
          deleteRecursively(dir)
          Set.empty
        }
      } else Set.empty
    Files.createDirectories(dir)
    val df = compute
    val missing =
      if (committed.isEmpty) df
      else df.where(!col(key).isin(committed.toSeq: _*))
    val resumed = missing.isEmpty
    if (!resumed) {
      missing.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key).parquet(dataPath)
    }
    val written = spark.read.parquet(dataPath)
    val allKeys = written.select(col(key).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val keysJson =
      s"""{
         |  "stage": "$name",
         |  "config_hash": "$configHash",
         |  "keys": [${allKeys.map(k => s""""k:$k"""").mkString(", ")}]
         |}""".stripMargin
    val tmp = dir.resolve("_KEYS.json.tmp")
    Files.writeString(tmp, keysJson)
    Files.move(tmp, keysPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    StageResult(written, resumed, keysJson)
  }
}
