package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Fixtures
import graft.model.Layout

/**
 * Interleaved-document span pipeline: posexplode the spans array, parse media_refs,
 * geolocate each media span inside its burst footprint, and encode to a cell id —
 * a batched, UDF-free Catalyst expression pipeline (north rule).
 *
 * media_ref grammar: s1://{scene_id}/{subswath}/{pol}/{burst_idx}/{tile_y}/{tile_x}
 *
 * The per-row invariant (BASELINE.json input_hint) — span sequence (kind, text,
 * media_ref, order) — is carried through unchanged: `offset` is emitted with every
 * exploded row and every aggregate keeps (doc_id, offset) lineage.
 */
object Spans {

  /** Explode docs to one row per span, keeping document order. */
  def explodeSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"), col("span.offset").as("offset"))

  /** Parse media_ref into its tiling key; non-media rows pass through with nulls.
   * The ref is split once, in a projection of its own: a split written inside
   * each field's CASE WHEN is evaluated once per field, because Spark shares no
   * subexpression across conditional branches, and CollapseProject does not
   * inline a non-cheap expression that the projection above reads six times. */
  def parseMediaRef(spans: DataFrame): DataFrame = {
    val p = col("media_ref_parts")
    spans
      .withColumn("media_ref_parts", when(col("kind") === "media", split(col("media_ref"), "/")))
      .withColumn("scene_id", element_at(p, 3))
      .withColumn("subswath", element_at(p, 4))
      .withColumn("pol", element_at(p, 5))
      .withColumn("burst_idx", element_at(p, 6).cast("int"))
      .withColumn("tile_y", element_at(p, 7).cast("int"))
      .withColumn("tile_x", element_at(p, 8).cast("int"))
      .drop("media_ref_parts")
  }

  /**
   * Geolocate media spans: tile center mapped through the burst footprint parallelogram
   * (affine in (u, v) like the reference's geolocation-grid interpolation,
   * TOPSARSplitOp.java:282-294), then cell-encode. Burst table is broadcast — it is a
   * few-thousand-row dimension table even at 10^12 docs.
   */
  def geolocatedMediaSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Fixtures.table(spark, sfDir, "docs")
    val media = parseMediaRef(explodeSpans(docs)).where(col("kind") === "media")
    geolocate(spark, sfDir, media)
  }

  /** Attach burst-footprint geolocation + cell id to a parsed media-span frame
   * (broadcast join against the burst dimension table). */
  private def geolocate(spark: SparkSession, sfDir: String, media: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val bursts = Fixtures.table(spark, sfDir, "bursts")
      .select("scene_id", "subswath", "burst_idx",
        "lon1", "lat1", "lon2", "lat2", "lon3", "lat3", "lon4", "lat4")
    val u = (col("tile_x") + 0.5) / Layout.TilesX
    val v = (col("tile_y") + 0.5) / Layout.TilesY
    media.join(broadcast(bursts), Seq("scene_id", "subswath", "burst_idx"), joinType)
      .withColumn("lon", col("lon1") + u * (col("lon2") - col("lon1")) + v * (col("lon4") - col("lon1")))
      .withColumn("lat", col("lat1") + v * (col("lat4") - col("lat1")))
      // native codegen'd expression (graft.exprs.CellId); property-tested equal to
      // the Column-composed CellIndex.cellCol
      .withColumn("cell", graft.exprs.CellId.cellId(col("lon"), col("lat")))
  }

  /** Query: per-span parse + cell encode, preserving span sequence (the invariant).
   * ONE scan of docs (guide §2.3/§2.4): media and text legs previously each
   * re-scanned and re-exploded the corpus and re-parsed media_ref; now every
   * span flows through one explode + parse, the burst broadcast join runs
   * left-outer (text rows carry null keys, so they match nothing and pass
   * through), and the media-inner/text-union semantics are recovered by the
   * `kind = text OR matched` filter — row-identical to the two-leg union. */
  def spanCellsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = parseMediaRef(explodeSpans(Fixtures.table(spark, sfDir, "docs")))
    val isMedia = col("kind") === "media"
    geolocate(spark, sfDir, spans, joinType = "left_outer")
      .where(col("kind") === "text" || (isMedia && col("lon1").isNotNull))
      .select(col("doc_id"), col("offset"), col("kind"), col("media_ref"),
        when(isMedia, col("cell")).as("cell"),
        when(isMedia, round(col("lon"), 6)).as("lon_r"),
        when(isMedia, round(col("lat"), 6)).as("lat_r"))
  }

  /**
   * Interleaved text↔media alignment (q_span_align) — the caption-pairing
   * pass of an interleaved multimodal corpus build (OBELICS / MMC4: each
   * image is paired with its surrounding text for training-pair extraction).
   * For every media span, the nearest PRECEDING and FOLLOWING text spans in
   * document order; the caption is the preceding text when one exists, else
   * the following (deterministic preference). Per-doc rollup: media/text
   * counts, adjacency (caption directly next to the image), orphan media,
   * caption token mass and offset-gap mass.
   *
   * Scale posture: one window pass partitioned BY DOCUMENT — a document is a
   * bounded partition (~10-10^3 spans) at any corpus size, so the window
   * never sees a skewed key; the rollup is the standard doc_id hash
   * aggregation. No joins at all.
   */
  def spanAlignQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("offset")
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val after = w.rowsBetween(1, Window.unboundedFollowing)
    val spans = explodeSpans(Fixtures.table(spark, sfDir, "docs"))
      .withColumn("tok", expr("size(filter(split(text, ' '), x -> x != ''))"))
    val tOff = when(col("kind") === "text", col("offset"))
    val tTok = when(col("kind") === "text", col("tok"))
    val aligned = spans
      .withColumn("prev_off", last(tOff, ignoreNulls = true).over(before))
      .withColumn("prev_tok", last(tTok, ignoreNulls = true).over(before))
      .withColumn("next_off", first(tOff, ignoreNulls = true).over(after))
      .withColumn("next_tok", first(tTok, ignoreNulls = true).over(after))
    aligned.groupBy("doc_id").agg(
      sum(expr("CAST(kind = 'media' AS BIGINT)")).as("n_media"),
      sum(expr("CAST(kind = 'text' AS BIGINT)")).as("n_text"),
      sum(expr("CAST(kind = 'media' AND prev_off = offset - 1 AS BIGINT)")).as("n_prev_adj"),
      sum(expr("CAST(kind = 'media' AND next_off = offset + 1 AS BIGINT)")).as("n_next_adj"),
      sum(expr("CAST(kind = 'media' AND prev_off IS NULL AND next_off IS NULL AS BIGINT)"))
        .as("n_orphan"),
      sum(expr("CASE WHEN kind = 'media' THEN " +
        "CASE WHEN prev_off IS NOT NULL THEN prev_tok " +
        "WHEN next_off IS NOT NULL THEN next_tok ELSE 0 END ELSE 0 END")).as("cap_tok_sum"),
      sum(expr("CASE WHEN kind = 'media' THEN " +
        "CASE WHEN prev_off IS NOT NULL THEN offset - prev_off " +
        "WHEN next_off IS NOT NULL THEN next_off - offset ELSE 0 END ELSE 0 END")).as("cap_gap_sum"))
  }
}
