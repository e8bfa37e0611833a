package graft.gen

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType
import graft.model._

/**
 * Deterministic synthetic fixture generator (FIXTURES.md). No randomness state: every
 * value is a pure function of its logical key via xxhash64 / closed-form fields, so the
 * generated tables are identical at any parallelism or partition count (the determinism
 * requirement motivated by the reference's tile-size-dependence bug,
 * reference docs/bugs-to-fix.md:371-376).
 *
 * Mirrors the reference test style of synthesized products + derivable golden numbers
 * (reference TestCalibrationOp.java:126-140: a 10x10 product built from pure metadata).
 *
 * Layout per scale tag (e.g. "sf0.01"): /root/repo/fixtures/<tag>/<table>.parquet
 *  - docs         : the north-rule input table (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,offset>>)
 *  - scenes, bursts, aoi, cal_vectors, noise_vectors, orbit, gcps, dem : dimension tables
 *  - tiles, tiles_sec : complex raster tiles (reference + planted-shift secondary)
 *
 * `table` reads with a schema inferred once per JVM and table path (see `schemas`),
 * through a relation resolved once per session and path (see `relations`).
 * `Root` and `verifiedDirs` keep their names and types: the benchmark
 * (perfbench/src/graftbench/FixtureRoot.scala) rewrites both by reflection, to
 * point the root at its own work dir and to mark a dir verified or forget it.
 */
object Fixtures {

  /** The checkout the engine runs in (the JVM's working directory, which sbt
   * and the benchmark set to the repository root): the fixtures, the tile
   * writer's output and the bench history live under it. */
  val RepoDir: String = System.getProperty("user.dir")

  val Root = s"$RepoDir/fixtures"

  final case class Scale(tag: String, nScenes: Int, nDocs: Int, nAois: Int)

  def scale(sfDir: String): Scale = {
    val t = new File(sfDir).getName
    t match {
      case "sf0.001" => Scale(t, 2, 1000, 8)
      case "sf0.01"  => Scale(t, 4, 10000, 8)
      case "sf0.1"   => Scale(t, 12, 100000, 8)
      case other     => Scale(other, 2, 1000, 8)
    }
  }

  def dir(sfDir: String): String = s"$Root/${scale(sfDir).tag}"

  /** Tables covered by the content fingerprint (every generated table). */
  private val AllTables = Seq(
    "docs", "media", "scenes", "bursts", "aoi", "cal_vectors", "noise_vectors",
    "noise_az_vectors", "orbit", "orbit_curved", "gcps", "gcps_frac", "dem",
    "slope", "sm_lut", "warp_truth", "tiles", "tiles_sec", "tiles_grd",
    "tiles_quad", "tiles_smooth", "tiles_smooth_sec", "tiles_stack")

  /** Order-independent content fingerprint of one fixture table: row count +
   * bit_xor of xxhash64 over whole rows (xor is commutative and cannot
   * overflow under ANSI mode). Deterministic for the generator's pure-function
   * values at any parallelism. */
  private def fingerprint(spark: SparkSession, d: String, t: String): String = {
    val df = spark.read.parquet(s"$d/$t.parquet")
    val row = df.selectExpr("count(*) AS n", s"bit_xor(xxhash64(struct(${df.columns.map(c => s"`$c`").mkString(",")}))) AS h")
      .collect()(0)
    s"$t=${row.getLong(0)}:${if (row.isNullAt(1)) 0L else row.getLong(1)}"
  }

  private def fingerprintAll(spark: SparkSession, d: String): String =
    AllTables.map(t => fingerprint(spark, d, t)).mkString("\n")

  /** md5 of this generator's compiled bytecode: any change to generate() (or
   * its helpers in this object) yields a different hash, forcing regeneration
   * even when the on-disk tables still match their own stored fingerprint —
   * the stale-marker-across-a-generator-change gotcha (VERDICT r3 #2). */
  private lazy val generatorHash: String = {
    val in = getClass.getResourceAsStream("/graft/gen/Fixtures$.class")
    try classHash(in.readAllBytes()) finally in.close()
  }

  /** md5 of a class file without its debug attributes (source file, line
   * numbers, local variable names), so an edit that only moves lines, such as
   * a comment, keeps the hash. */
  private[graft] def classHash(bytes: Array[Byte]): String = {
    import org.apache.xbean.asm9.{ClassReader, ClassWriter}
    val w = new ClassWriter(0)
    new ClassReader(bytes).accept(w, ClassReader.SKIP_DEBUG)
    java.security.MessageDigest.getInstance("MD5").digest(w.toByteArray)
      .map("%02x".format(_)).mkString
  }

  @volatile private var verifiedDirs = Set.empty[String]

  /** Generate all fixture tables for this scale if not already present; returns
   * fixture dir. The marker is CONTENT-ADDRESSED: it stores a fingerprint (row
   * count + order-independent xxhash64 sum per table) which is re-verified once
   * per JVM — a stale or half-written fixture dir left in the shared working
   * copy by an earlier round regenerates instead of silently feeding both
   * engines different bytes (the suspected cause of the two unreproducible
   * round-3 driver hash mismatches). */
  def ensure(spark: SparkSession, sfDir: String): String = synchronized {
    val sc = scale(sfDir)
    val d = dir(sfDir)
    if (verifiedDirs.contains(d)) return d
    // version-suffixed marker: bump when generate() changes so stale fixture
    // dirs regenerate (deterministic -> existing tables rewrite identically)
    val marker = Paths.get(d, "_COMPLETE_v11")
    val ok = Files.exists(marker) && {
      val want = Files.readString(marker)
      val got = try s"gen=$generatorHash\n${fingerprintAll(spark, d)}"
        catch { case _: Exception => "" }
      val matches = want == got
      if (!matches)
        System.err.println(s"[fixtures] generator/fingerprint mismatch in $d — regenerating")
      matches
    }
    if (!ok) {
      schemas.keySet.removeIf(_.startsWith(s"$d/"))
      relations.keySet.removeIf(_._2.startsWith(s"$d/"))
      generate(spark, sc, d)
      Files.createDirectories(Paths.get(d))
      Files.writeString(marker, s"gen=$generatorHash\n${fingerprintAll(spark, d)}")
    }
    verifiedDirs += d
    d
  }

  /** Schema of each fixture table by path, inferred once per JVM: inference runs
   * a Spark job to read a parquet footer, which every read paid for in planning.
   * Generation is deterministic, so a table's schema changes only when `ensure`
   * regenerates its dir, which drops that dir's entries. */
  private val schemas = new ConcurrentHashMap[String, StructType]()

  /** Each fixture table's resolved relation (its file listing included) by
   * session and path, as a catalog's relation cache keeps one per table:
   * resolving a read lists the files, starts a glob pool and copies the Hadoop
   * conf on every call. Each `table` call wraps the relation in a plan of its
   * own with fresh attribute ids, so two reads of one table still self-join.
   * `ensure` drops a dir's entries when it regenerates the dir, and entries of
   * a stopped session are dropped on the next call. */
  private val relations = new ConcurrentHashMap[(SparkSession, String), BaseRelation]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"${ensure(spark, sfDir)}/$name.parquet"
    relations.keySet.removeIf(_._1.sparkContext.isStopped)
    spark.baseRelationToDataFrame(relations.computeIfAbsent((spark, path), _ =>
      spark.read.schema(schemas.computeIfAbsent(path, p => spark.read.parquet(p).schema))
        .parquet(path).queryExecution.analyzed.collectFirst {
          case r: LogicalRelation => r.relation
        }.get))
  }

  // ---------------------------------------------------------------- geometry helpers

  /** Scene origin on a lon/lat lattice. */
  def sceneLon0(s: Int): Double = -30.0 + (s % 6) * 2.5
  def sceneLat0(s: Int): Double = 10.0 + (s / 6) * 2.5
  def sceneT0(s: Int): Double = 5000.0 + s * 100.0
  val Shear = 0.15 // parallelogram shear: dLon per dLat
  val SwWidth = 0.78 // deg of lon per subswath
  val SwStride = 0.8
  val BurstHeight = 0.22 // deg of lat per burst footprint
  val BurstStride = 0.2 // consecutive bursts overlap by 0.02 deg

  /** Burst footprint parallelogram corners, ring order BL,BR,TR,TL. */
  def burstCorners(s: Int, sw: Int, b: Int): Array[(Double, Double)] = {
    val lonL = sceneLon0(s) + sw * SwStride
    val latB = sceneLat0(s) + (b - 1) * BurstStride
    val latT = latB + BurstHeight
    val dy = latT - latB
    Array(
      (lonL, latB),
      (lonL + SwWidth, latB),
      (lonL + SwWidth + Shear * dy, latT),
      (lonL + Shear * dy, latT))
  }

  def cornersToWkt(c: Array[(Double, Double)]): String =
    "POLYGON ((" + (c :+ c.head).map { case (x, y) => s"$x $y" }.mkString(", ") + "))"

  def burstFirstLineTime(s: Int, b: Int): Double =
    sceneT0(s) + (b - 1) * (Layout.LinesPerBurst - Layout.BurstOverlapLines) * Layout.AzimuthTimeInterval
  def burstLastLineTime(s: Int, b: Int): Double =
    burstFirstLineTime(s, b) + (Layout.LinesPerBurst - 1) * Layout.AzimuthTimeInterval

  // ---------------------------------------------------------------- generation

  private def generate(spark: SparkSession, sc: Scale, d: String): Unit = {
    import spark.implicits._
    Files.createDirectories(Paths.get(d))

    val scenes = (0 until sc.nScenes).map { s =>
      Scene(f"scene_$s%04d", "SENTINEL-1", "IW", sceneT0(s), Layout.AzimuthTimeInterval,
        3, cornersToWkt(Array(
          (sceneLon0(s), sceneLat0(s)),
          (sceneLon0(s) + 3 * SwStride + SwWidth, sceneLat0(s)),
          (sceneLon0(s) + 3 * SwStride + SwWidth, sceneLat0(s) + Layout.BurstsPerSubswath * BurstStride + BurstHeight),
          (sceneLon0(s), sceneLat0(s) + Layout.BurstsPerSubswath * BurstStride + BurstHeight))),
        sceneLon0(s), sceneLat0(s))
    }
    scenes.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/scenes.parquet")

    val bursts = for {
      s <- 0 until sc.nScenes
      sw <- 0 until 3
      b <- 1 to Layout.BurstsPerSubswath
    } yield {
      val c = burstCorners(s, sw, b)
      Burst(f"scene_$s%04d", s"IW${sw + 1}", b, Layout.LinesPerBurst, Layout.SamplesPerBurst,
        burstFirstLineTime(s, b), burstLastLineTime(s, b),
        c(0)._1, c(0)._2, c(1)._1, c(1)._2, c(2)._1, c(2)._2, c(3)._1, c(3)._2,
        cornersToWkt(c),
        2100.0 + 35.0 * b + 7.0 * sw, // analytic doppler rate
        30.0 + 3.0 * b + 0.5 * sw, // analytic doppler centroid
        burstFirstLineTime(s, b) + 0.032) // mid-burst reference time
    }
    bursts.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/bursts.parquet")

    // AOIs: axis-aligned rectangles laid out to intersect a deterministic subset of bursts.
    // Fractional offsets avoid exact boundary-touch degeneracies.
    val aois = (0 until sc.nAois).map { a =>
      val s = a % sc.nScenes
      val lonMin = sceneLon0(s) + 0.213 + (a % 3) * 0.61
      val latMin = sceneLat0(s) + 0.137 + (a % 4) * 0.33
      val lonMax = lonMin + 0.53 + (a % 2) * 0.77
      val latMax = latMin + 0.41 + (a % 3) * 0.29
      Aoi(f"aoi_$a%02d", lonMin, latMin, lonMax, latMax,
        cornersToWkt(Array((lonMin, latMin), (lonMax, latMin), (lonMax, latMax), (lonMin, latMax))))
    }
    aois.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/aoi.parquet")

    // Calibration/noise LUT vectors: values linear in (line, pixel) so bilinear
    // interpolation (Sentinel1Calibrator.java:412-417) has a closed-form oracle.
    val knots = Seq(0, 32, 64, 96, 127)
    val calVecs = for {
      s <- 0 until sc.nScenes
      sw <- Layout.Subswaths
      pol <- Layout.Pols
      vi <- 0 to Layout.BurstsPerSubswath // vector lines 0, 64, ..., 576
    } yield {
      val line = vi * Layout.LinesPerBurst
      CalVector(f"scene_$s%04d", sw, pol, line, sceneT0(s) + line * Layout.AzimuthTimeInterval,
        knots,
        knots.map(p => 500.0 + 0.1 * line + 0.05 * p),
        knots.map(p => 480.0 + 0.08 * line + 0.04 * p),
        knots.map(p => 520.0 + 0.12 * line + 0.06 * p),
        knots.map(p => 400.0 + 0.05 * line + 0.03 * p))
    }
    calVecs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/cal_vectors.parquet")

    val noiseVecs = for {
      s <- 0 until sc.nScenes
      sw <- Layout.Subswaths
      pol <- Layout.Pols
      vi <- 0 to Layout.BurstsPerSubswath
    } yield {
      val line = vi * Layout.LinesPerBurst
      NoiseVector(f"scene_$s%04d", sw, pol, line, sceneT0(s) + line * Layout.AzimuthTimeInterval,
        knots, knots.map(p => 2.0 + 0.01 * line + 0.004 * p))
    }
    noiseVecs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/noise_vectors.parquet")

    // Azimuth noise vectors (IPF >= 2.9, Sentinel1RemoveThermalNoiseOp.java:54):
    // one per-line gain knot per burst boundary, linear in line so the engine's
    // 1-D lerp has a table-derived oracle.
    val azNoise = for {
      s <- 0 until sc.nScenes
      sw <- Layout.Subswaths
      pol <- Layout.Pols
      vi <- 0 to Layout.BurstsPerSubswath
    } yield {
      val line = vi * Layout.LinesPerBurst
      (f"scene_$s%04d", sw, pol, line, 1.0 + 0.0005 * line)
    }
    azNoise.toDF("scene_id", "subswath", "pol", "line", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/noise_az_vectors.parquet")

    // GRD amplitude raster with PLANTED border noise (RemoveGRDBorderNoiseOp.java:54):
    // per (scene, burst), the left bl and right br columns of the 128-sample swath
    // carry sub-threshold noise; the border-noise scan must recover bl/br per row.
    {
      val perBurst = Layout.TilesX * Layout.TilesY
      val nKeys = sc.nScenes * Layout.BurstsPerSubswath * perBurst
      val gx = s"(tile_x * ${Layout.TileW} + k % ${Layout.TileW})"
      val gy = s"((burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * ${Layout.TileH} + cast(k / ${Layout.TileW} as int))"
      val u = s"(pmod(xxhash64(concat_ws('|', 'grd', scene_id, $gx, $gy)), 1000000) / 1e6)"
      val bl = s"(3 + pmod(xxhash64(concat_ws('|', 'bl', scene_id, burst_idx)), 5))"
      val br = s"(2 + pmod(xxhash64(concat_ws('|', 'br', scene_id, burst_idx)), 4))"
      val vSql = s"if($gx < $bl or $gx >= ${Layout.SamplesPerBurst} - $br, 0.05 * $u, 100.0 + 50.0 * $u)"
      spark.range(0, nKeys.toLong, 1, 8)
        .withColumn("tile_x", expr(s"CAST(id % ${Layout.TilesX} AS INT)"))
        .withColumn("tile_y", expr(s"CAST((id div ${Layout.TilesX}) % ${Layout.TilesY} AS INT)"))
        .withColumn("burst_idx", expr(s"CAST(1 + (id div $perBurst) % ${Layout.BurstsPerSubswath} AS INT)"))
        .withColumn("scene_id", format_string("scene_%04d",
          expr(s"CAST(id div ${perBurst * Layout.BurstsPerSubswath} AS INT)")))
        .withColumn("subswath", lit("IW1"))
        .withColumn("pol", lit("VV"))
        .withColumn("v", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> floor(($vSql) * 4096) / 4096)"))
        .select("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y", "v")
        .write.mode("overwrite").parquet(s"$d/tiles_grd.parquet")
    }

    // Orbit: straight-line constant-velocity ephemeris in a local tangent frame
    // (meters); zero-Doppler solves then have analytic expected values
    // (reference SARGeocoding.java:64-107).
    val orbit = for {
      s <- 0 until sc.nScenes
      k <- 0 to 40
    } yield {
      val t0 = sceneT0(s)
      val t = t0 - 1.0 + k * 0.1
      OrbitSV(f"scene_$s%04d", t, -400000.0, 7500.0 * (t - t0), 700000.0, 0.0, 7500.0, 0.0)
    }
    orbit.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/orbit.parquet")

    // Curved orbit for the full Range-Doppler geometry: cross-track (x) and radial
    // (z) harmonic perturbations on the linear ephemeris. The constant-velocity
    // shortcut then mis-locates targets by ~0.25 s of zero-Doppler time (~125
    // lines), so only the Lagrange + bisection solve reproduces the gather
    // (SARGeocoding.java:64-107; velocities are the exact analytic derivatives).
    val orbitCurved = for {
      s <- 0 until sc.nScenes
      k <- 0 to 40
    } yield {
      val t0 = sceneT0(s)
      val t = t0 - 1.0 + k * 0.1
      val tau = t - t0
      OrbitSV(f"scene_$s%04d", t,
        -400000.0 + 40.0 * math.sin(0.5 * tau),
        7500.0 * tau,
        700000.0 + 30.0 * math.cos(0.4 * tau),
        20.0 * math.cos(0.5 * tau),
        7500.0,
        -12.0 * math.sin(0.4 * tau))
    }
    orbitCurved.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/orbit_curved.parquet")

    // Planted-shift GCPs: the engine must recover (true_dx, true_dy) from pixel data
    // alone (reference CrossCorrelationOp.java:935-990). Shift is per-scene.
    val gcps = for {
      s <- 0 until sc.nScenes
      g <- 0 until 8
    } yield {
      val dx = (hash64(s"shift_x|$s") % 4).toInt - 1 // in [-1, 2]
      val dy = (hash64(s"shift_y|$s") % 4).toInt - 1
      val sw = s"IW${(g % 3) + 1}"
      val b = 2 + (g * 2) % 7
      Gcp(f"scene_$s%04d_g$g%02d", f"scene_$s%04d", sw, "VV", b,
        24 + (g % 3) * 32, 16 + (g % 2) * 24, dx, dy)
    }
    gcps.toDF().coalesce(1).write.mode("overwrite").parquet(s"$d/gcps.parquet")

    // DEM: analytic smooth surface sampled on a 0.05-deg grid over each scene bbox.
    val demRows = for {
      s <- 0 until sc.nScenes
      li <- 0 until 50
      lo <- 0 until 70
    } yield {
      val lat = sceneLat0(s) + li * 0.05
      val lon = sceneLon0(s) + lo * 0.05
      (f"scene_$s%04d", li, lo, lat, lon, 100.0 + 50.0 * math.sin(lon * 3.0) + 40.0 * math.cos(lat * 2.0))
    }
    demRows.toDF("scene_id", "lat_idx", "lon_idx", "lat", "lon", "height")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/dem.parquet")

    // ---- docs: the north-rule input table, generated distributed + purely hash-keyed.
    val nS = sc.nScenes
    val docs = spark.range(0, sc.nDocs.toLong, 1, 8)
      .withColumn("scene_idx", (col("id") % nS).cast("int"))
      .withColumn("scene_id", format_string("scene_%04d", col("scene_idx")))
      .withColumn("doc_id", format_string("scene_%04d_doc_%06d", col("scene_idx"), col("id")))
      .withColumn("n_spans", lit(8) + pmod(xxhash64(concat_ws("|", lit("nsp"), col("id"))), lit(8)).cast("int"))
      .withColumn("spans", expr(
        s"""transform(sequence(0, n_spans - 1), j ->
           |  named_struct(
           |    'kind', if(j % 2 = 0, 'text', 'media'),
           |    'text', if(j % 2 = 0,
           |       concat('w', pmod(xxhash64(concat_ws('|','tw',id,j,0)), 50),
           |              ' w', pmod(xxhash64(concat_ws('|','tw',id,j,1)), 50),
           |              ' w', pmod(xxhash64(concat_ws('|','tw',id,j,2)), 50)),
           |       ''),
           |    'media_ref', if(j % 2 = 1,
           |       concat('s1://', scene_id,
           |              '/IW', 1 + pmod(xxhash64(concat_ws('|','msw',id,j)), 3),
           |              '/', if(pmod(xxhash64(concat_ws('|','mp',id,j)), 2) = 0, 'VV', 'VH'),
           |              '/', 1 + pmod(xxhash64(concat_ws('|','mb',id,j)), ${Layout.BurstsPerSubswath}),
           |              '/', pmod(xxhash64(concat_ws('|','mty',id,j)), ${Layout.TilesY}),
           |              '/', pmod(xxhash64(concat_ws('|','mtx',id,j)), ${Layout.TilesX})),
           |       ''),
           |    'offset', cast(j as int)))""".stripMargin))
      .select("doc_id", "spans")
    docs.repartition(32).write.mode("overwrite").parquet(s"$d/docs.parquet")

    // ---- media: opaque binary payloads per tile ref (deterministic fake "IMG1" blobs;
    // decode is stubbed engine-side — no codecs in this environment, Multimodal.scala).
    val nRefs = sc.nScenes * 3 * 2 * Layout.BurstsPerSubswath * Layout.TilesY * Layout.TilesX
    spark.range(0, nRefs.toLong, 1, 4)
      .withColumn("tile_x", expr(s"CAST(id % ${Layout.TilesX} AS INT)"))
      .withColumn("tile_y", expr(s"CAST((id div ${Layout.TilesX}) % ${Layout.TilesY} AS INT)"))
      .withColumn("burst_idx", expr(s"CAST(1 + (id div ${Layout.TilesX * Layout.TilesY}) % ${Layout.BurstsPerSubswath} AS INT)"))
      .withColumn("pol", expr(s"if((id div ${Layout.TilesX * Layout.TilesY * Layout.BurstsPerSubswath}) % 2 = 0, 'VV', 'VH')"))
      .withColumn("subswath", expr(s"concat('IW', 1 + (id div ${Layout.TilesX * Layout.TilesY * Layout.BurstsPerSubswath * 2}) % 3)"))
      .withColumn("scene_id", format_string("scene_%04d",
        expr(s"CAST(id div ${Layout.TilesX * Layout.TilesY * Layout.BurstsPerSubswath * 6} AS INT)")))
      .withColumn("media_ref", expr("concat('s1://', scene_id, '/', subswath, '/', pol, '/', burst_idx, '/', tile_y, '/', tile_x)"))
      .withColumn("kind", lit("image"))
      .withColumn("content", expr(
        """CAST(concat('IMG1;W=', 16 + pmod(xxhash64(concat('mw|', media_ref)), 240),
          |            ';H=', 16 + pmod(xxhash64(concat('mh|', media_ref)), 240), ';',
          |            repeat(md5(media_ref), 1 + pmod(xxhash64(concat('mp|', media_ref)), 3))) AS BINARY)""".stripMargin))
      .select("media_ref", "kind", "content")
      .coalesce(2).write.mode("overwrite").parquet(s"$d/media.parquet")

    // ---- tiles: complex raster tiles; value is a pure function of GLOBAL pixel
    // coordinates so a planted shift is exactly recoverable (see tileValueSql).
    writeTiles(spark, sc, s"$d/tiles.parquet", dxCol = "0", dyCol = "0")
    writeTilesQuad(spark, sc, s"$d/tiles_quad.parquet")
    writeSlope(spark, sc, s"$d/slope.parquet")
    writeSmLut(spark, s"$d/sm_lut.parquet")
    // secondary tiles: same field sampled at (x - dx, y - dy) => xcorr ground truth.
    writeTiles(spark, sc, s"$d/tiles_sec.parquet",
      dxCol = s"(pmod(xxhash64(concat_ws('|', 'shift_x', scene_idx_str)), 4) - 1)",
      dyCol = s"(pmod(xxhash64(concat_ws('|', 'shift_y', scene_idx_str)), 4) - 1)")

    // ---- smooth-field pair for SUBPIXEL matching: a band-limited analytic field
    // (white per-pixel speckle has no subpixel correlation, so fractional shifts are
    // only recoverable on a smooth field). The secondary is sampled at
    // (x - dx(x,y), y - dy(x,y)) with a planted degree-1 polynomial warp per scene —
    // engine xcorr + warp fit must recover it from pixels alone.
    writeSmoothTiles(spark, sc, s"$d/tiles_smooth.parquet", warped = false)
    writeSmoothTiles(spark, sc, s"$d/tiles_smooth_sec.parquet", warped = true)
    val gcpsFrac = for {
      s <- 0 until sc.nScenes
      b <- Seq(2, 4, 6, 8)
      (cx, cy) <- Seq((32, 24), (64, 40), (96, 24))
    } yield {
      val gy = (b - 1) * Layout.LinesPerBurst + cy
      (f"scene_$s%04d_f${b}_${cx}_$cy", f"scene_$s%04d", "IW1", "VV", b, cx, cy,
        warpDx(s, cx, gy), warpDy(s, cx, gy))
    }
    gcpsFrac.toDF("gcp_id", "scene_id", "subswath", "pol", "burst_idx", "cx", "cy",
        "true_fdx", "true_fdy")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/gcps_frac.parquet")
    val warpTruth = (0 until sc.nScenes).map { s =>
      val cs = warpCoeffs(s)
      (f"scene_$s%04d", cs(0), cs(1), cs(2), cs(3), cs(4), cs(5))
    }
    warpTruth.toDF("scene_id", "a0x", "a1x", "a2x", "a0y", "a1y", "a2y")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/warp_truth.parquet")

    // ---- tiles_stack: a K-epoch coregistered stack (IW1/VV only) with planted
    // per-pixel linear phase deformation rate (SBAS ground truth = closed form) and
    // varying per-epoch coverage (epoch e covers bursts 1+e..9 -> CreateStack extent
    // rules differ). phase_e = phi0 + e*rate stays within (-1.5, 1.5) rad: no wraps.
    writeTilesStack(spark, sc, s"$d/tiles_stack.parquet")
  }

  val StackEpochs = 5

  // ------------------------------------------------- smooth-field warp fixtures

  /** Planted degree-1 warp coefficients per scene: (a0x, a1x, a2x, a0y, a1y, a2y);
   * dx(x,y) = a0x + a1x*x + a2x*y over burst-train coords x in [0,128), y in [0,576). */
  def warpCoeffs(s: Int): Array[Double] = Array(
    (hash64(s"wa0x|$s") % 300 - 150) / 100.0, // [-1.5, 1.5)
    (hash64(s"wa1x|$s") % 100 - 50) / 100000.0, // [-5e-4, 5e-4)
    (hash64(s"wa2x|$s") % 100 - 50) / 100000.0,
    (hash64(s"wa0y|$s") % 300 - 150) / 100.0,
    (hash64(s"wa1y|$s") % 100 - 50) / 100000.0,
    (hash64(s"wa2y|$s") % 100 - 50) / 100000.0)

  def warpDx(s: Int, x: Double, y: Double): Double = {
    val c = warpCoeffs(s); c(0) + c(1) * x + c(2) * y
  }
  def warpDy(s: Int, x: Double, y: Double): Double = {
    val c = warpCoeffs(s); c(3) + c(4) * x + c(5) * y
  }

  /** Band-limited analytic field (periods 10-18 px: sharp but smooth xcorr peak). */
  def smoothField(x: Double, y: Double): Double =
    120.0 + 40.0 * math.sin(x / 2.9) + 30.0 * math.cos(y / 2.3) +
      25.0 * math.sin((2.0 * x + 3.0 * y) / 7.1) + 20.0 * math.cos((x - 2.0 * y) / 5.3)

  /** IW1/VV-only smooth tiles; warped = secondary sampled at (x-dx, y-dy). */
  private def writeSmoothTiles(spark: SparkSession, sc: Scale, path: String, warped: Boolean): Unit = {
    import spark.implicits._
    val rows = for {
      s <- 0 until sc.nScenes
      b <- 1 to Layout.BurstsPerSubswath
      ty <- 0 until Layout.TilesY
      tx <- 0 until Layout.TilesX
    } yield {
      val n = Layout.TileW * Layout.TileH
      val i = new Array[Double](n)
      var k = 0
      while (k < n) {
        val gx = tx * Layout.TileW + k % Layout.TileW
        val gy = (b - 1) * Layout.LinesPerBurst + ty * Layout.TileH + k / Layout.TileW
        val (sx, sy) =
          if (warped) (gx - warpDx(s, gx, gy), gy - warpDy(s, gx, gy))
          else (gx.toDouble, gy.toDouble)
        i(k) = smoothField(sx, sy)
        k += 1
      }
      (f"scene_$s%04d", "IW1", "VV", b, tx, ty, i, Array.fill(n)(0.0))
    }
    rows.toDF("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y", "i", "q")
      .repartition(8).write.mode("overwrite").parquet(path)
  }

  private def writeTilesStack(spark: SparkSession, sc: Scale, path: String): Unit = {
    val perBurst = Layout.TilesX * Layout.TilesY
    val nKeys = sc.nScenes * StackEpochs * Layout.BurstsPerSubswath * perBurst
    val gx = s"(tile_x * ${Layout.TileW} + k % ${Layout.TileW})"
    val gy = s"((burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * ${Layout.TileH} + cast(k / ${Layout.TileW} as int))"
    val u1 = s"(pmod(xxhash64(concat_ws('|', 'sa', scene_id, $gx, $gy)), 1000000) / 1e6)"
    val u2 = s"(pmod(xxhash64(concat_ws('|', 'sp', scene_id, $gx, $gy)), 1000000) / 1e6)"
    val u3 = s"(pmod(xxhash64(concat_ws('|', 'sr', scene_id, $gx, $gy)), 1000000) / 1e6)"
    val u4 = s"(pmod(xxhash64(concat_ws('|', 'sv', scene_id, $gx, $gy)), 1000000) / 1e6)"
    // per-epoch amplitude modulation: the temporal CV (REACTIV) is then a real
    // signal, not cancellation noise on a constant-amplitude series
    val amp = s"((50.0 + 20.0 * $u1) * (1.0 + 0.08 * epoch * $u4))"
    val phase = s"((2.0 * ($u2 - 0.5)) + epoch * (0.2 * ($u3 - 0.5)))"
    val iSql = s"if($u1 < 0.002, ${Layout.NoData}d, $amp * cos($phase))"
    val qSql = s"if($u1 < 0.002, ${Layout.NoData}d, $amp * sin($phase))"
    // VH twin (REACTIV's max-over-polarisations path, ReactivOp.java:557-577):
    // lower amplitude, its own hash salts, and TWO deliberately distinct absence
    // modes — (a) the whole polarisation missing at the LAST epoch (the reference's
    // null dataBuffer -> pol skipped, :563-566) and (b) per-pixel no-data planted at
    // ONE pseudo-random epoch (the reference's v == noDataValue -> whole epoch
    // poisoned for the pixel, :569-571 return -9999) so the time=-1 recovery quirk
    // (:334-345) is exercised by real fixture pixels, not only planted tests.
    val u1h = s"(pmod(xxhash64(concat_ws('|', 'ha', scene_id, $gx, $gy)), 1000000) / 1e6)"
    val u2h = s"(pmod(xxhash64(concat_ws('|', 'hp', scene_id, $gx, $gy)), 1000000) / 1e6)"
    val u3h = s"(pmod(xxhash64(concat_ws('|', 'hr', scene_id, $gx, $gy)), 1000000) / 1e6)"
    val u4h = s"(pmod(xxhash64(concat_ws('|', 'hv', scene_id, $gx, $gy)), 1000000) / 1e6)"
    val epNd = s"(pmod(xxhash64(concat_ws('|', 'he', scene_id, $gx, $gy)), $StackEpochs))"
    val ampH = s"((30.0 + 15.0 * $u1h) * (1.0 + 0.06 * epoch * $u4h))"
    val phaseH = s"((2.0 * ($u2h - 0.5)) + epoch * (0.15 * ($u3h - 0.5)))"
    val ndH = s"($u1h < 0.004 and $epNd = epoch)"
    val iSqlH = s"if($ndH, ${Layout.NoData}d, $ampH * cos($phaseH))"
    val qSqlH = s"if($ndH, ${Layout.NoData}d, $ampH * sin($phaseH))"
    val base = spark.range(0, nKeys.toLong, 1, 16)
      .withColumn("tile_x", expr(s"CAST(id % ${Layout.TilesX} AS INT)"))
      .withColumn("tile_y", expr(s"CAST((id div ${Layout.TilesX}) % ${Layout.TilesY} AS INT)"))
      .withColumn("burst_idx", expr(s"CAST(1 + (id div $perBurst) % ${Layout.BurstsPerSubswath} AS INT)"))
      .withColumn("epoch", expr(s"CAST((id div ${perBurst * Layout.BurstsPerSubswath}) % $StackEpochs AS INT)"))
      .withColumn("scene_id", format_string("scene_%04d",
        expr(s"CAST(id div ${perBurst * Layout.BurstsPerSubswath * StackEpochs} AS INT)")))
      .where(col("burst_idx") >= col("epoch") + 1) // varying extent per epoch
      .withColumn("subswath", lit("IW1"))
    val vv = base
      .withColumn("pol", lit("VV"))
      .withColumn("i", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $iSql)"))
      .withColumn("q", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $qSql)"))
    val vh = base
      .where(col("epoch") < StackEpochs - 1) // VH acquisition missing at the last epoch
      .withColumn("pol", lit("VH"))
      .withColumn("i", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $iSqlH)"))
      .withColumn("q", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $qSqlH)"))
    vv.unionByName(vh)
      .select("scene_id", "subswath", "pol", "epoch", "burst_idx", "tile_x", "tile_y", "i", "q")
      .write.mode("overwrite").parquet(path)
  }

  /** Scala mirror of Spark's xxhash64 over a single string with seed 42 — used for the
   * small driver-side tables so planted constants agree with column-generated data. */
  def hash64(s: String): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)
    math.floorMod(h, 1000000L) // keep positive, like pmod
  }

  /** Backscatter field + multiplicative speckle as pure SQL of global (x,y):
   *  f(x,y)   = 100 + 50*sin(x/40) + 30*cos(y/25)
   *  u(k...)  = pmod(xxhash64('px'|scene|sw|pol|x|y), 1e6)/1e6
   *  v        = f*(0.5+u), with u<0.002 -> no-data sentinel -9999
   *  i        = sqrt(v)*cos(2*pi*u2),  q = sqrt(v)*sin(2*pi*u2)   (so i^2+q^2 = v)
   */
  /** Planted connected-component chains (VERDICT r3 #4): two 16-pixel L-shaped
   * 1-px-thin snakes in scene_0000/IW1/VV, each with 8-connected graph diameter
   * ~14 — a FIXED 8-round label propagation under-merges them, so the cluster
   * gates only pass with convergence-checked propagation. The snakes ride the
   * sampled (shifted) coordinates, so tiles_sec carries them at the planted
   * shift and the xcorr ground truth stays exactly recoverable.
   *  - dark snake  (burst 5, global line 268, f -> 1.0):    oil-spill CC chain
   *  - bright snake (burst 7, global line 396, f -> 5.0e4): object CC chain
   * Both cross the tile_x 0/1 boundary (gx 26..35), so the merge also spans
   * tiles. Snake pixels are never no-data (a dropout would split the chain). */
  private def snakeSql(gx: String, gy: String, line: Int): String =
    s"""(scene_id = 'scene_0000' AND subswath = 'IW1' AND pol = 'VV' AND
       | ((($gy) = $line AND ($gx) BETWEEN 26 AND 35)
       |  OR (($gx) = 35 AND ($gy) BETWEEN ${line + 1} AND ${line + 6})))""".stripMargin

  private def tileValueSql(dx: String, dy: String): (String, String) = {
    val gx = s"(tile_x * ${Layout.TileW} + k % ${Layout.TileW} - ($dx))"
    val gy = s"((burst_idx - 1) * ${Layout.LinesPerBurst} + tile_y * ${Layout.TileH} + cast(k / ${Layout.TileW} as int) - ($dy))"
    val u = s"(pmod(xxhash64(concat_ws('|', 'px', scene_id, subswath, pol, $gx, $gy)), 1000000) / 1e6)"
    val u2 = s"(pmod(xxhash64(concat_ws('|', 'ph', scene_id, subswath, pol, $gx, $gy)), 1000000) / 1e6)"
    val dark = snakeSql(gx, gy, 268) // inside burst 5 (global lines 256..319)
    val bright = snakeSql(gx, gy, 396) // inside burst 7 (global lines 384..447)
    val f = s"(if($dark, 1.0, if($bright, 50000.0, 100.0 + 50.0 * sin($gx / 40.0) + 30.0 * cos($gy / 25.0))))"
    val nd = s"($u < 0.002 AND NOT $dark AND NOT $bright)"
    val i = s"(if($nd, ${Layout.NoData}d, sqrt($f * (0.5 + $u)) * cos(2 * pi() * $u2)))"
    val q = s"(if($nd, ${Layout.NoData}d, sqrt($f * (0.5 + $u)) * sin(2 * pi() * $u2)))"
    (i, q)
  }

  /** Quad-pol SLC tiles (HH/HV/VH/VV) for the rstb polarimetric family — subswath
   * IW1 only (the quad-pol gates window 3x3 matrices and run eigen solves per
   * pixel; one subswath bounds the gate cost). Same deterministic per-(pol, pixel)
   * value law as writeTiles, so each pol channel is an independent speckle draw. */
  private def writeTilesQuad(spark: SparkSession, sc: Scale, path: String): Unit = {
    val pols = Seq("HH", "HV", "VH", "VV")
    val nKeys = sc.nScenes * pols.size * Layout.BurstsPerSubswath * Layout.TilesX * Layout.TilesY
    val (iSql, qSql) = tileValueSql("0", "0")
    val perBurst = Layout.TilesX * Layout.TilesY
    val df = spark.range(0, nKeys.toLong, 1, 32)
      .withColumn("tile_x", expr(s"CAST(id % ${Layout.TilesX} AS INT)"))
      .withColumn("tile_y", expr(s"CAST((id div ${Layout.TilesX}) % ${Layout.TilesY} AS INT)"))
      .withColumn("burst_idx", expr(s"CAST(1 + (id div $perBurst) % ${Layout.BurstsPerSubswath} AS INT)"))
      .withColumn("pol", expr(s"element_at(array(${pols.map(p => s"'$p'").mkString(", ")}), " +
        s"CAST((id div ${perBurst * Layout.BurstsPerSubswath}) % ${pols.size} AS INT) + 1)"))
      .withColumn("subswath", lit("IW1"))
      .withColumn("scene_idx", expr(s"CAST(id div ${perBurst * Layout.BurstsPerSubswath * pols.size} AS INT)"))
      .withColumn("scene_id", format_string("scene_%04d", col("scene_idx")))
      .withColumn("w", lit(Layout.TileW)).withColumn("h", lit(Layout.TileH))
      .withColumn("i", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $iSql)"))
      .withColumn("q", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $qSql)"))
      .withColumn("no_data", lit(Layout.NoData))
      .select("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y", "w", "h", "i", "q", "no_data")
    df.write.mode("overwrite").parquet(path)
  }

  /** Terrain slope raster (degrees) aligned with the dual-pol `tiles` grid: one
   * array per (scene, subswath, burst, tile), dyadic 1/128-grid values in
   * [0, 23.4] so window sums are exact cross-engine; ~1/3 of pixels sit above
   * the reference's 15-degree mask threshold (DPRBIOp.java:72), fragmenting the
   * slope mask spatially so the mask path is actually exercised. */
  private def writeSlope(spark: SparkSession, sc: Scale, path: String): Unit = {
    val nKeys = sc.nScenes * 3 * Layout.BurstsPerSubswath * Layout.TilesX * Layout.TilesY
    val perBurst = Layout.TilesX * Layout.TilesY
    val slopeSql =
      s"""(pmod(xxhash64(concat_ws('|', 'slope', scene_id, subswath, burst_idx,
         |  tile_x * ${Layout.TileW} + k % ${Layout.TileW},
         |  tile_y * ${Layout.TileH} + CAST(k div ${Layout.TileW} AS INT))), 3000) / 128.0D)""".stripMargin
    spark.range(0, nKeys.toLong, 1, 32)
      .withColumn("tile_x", expr(s"CAST(id % ${Layout.TilesX} AS INT)"))
      .withColumn("tile_y", expr(s"CAST((id div ${Layout.TilesX}) % ${Layout.TilesY} AS INT)"))
      .withColumn("burst_idx", expr(s"CAST(1 + (id div $perBurst) % ${Layout.BurstsPerSubswath} AS INT)"))
      .withColumn("sw_idx", expr(s"CAST((id div ${perBurst * Layout.BurstsPerSubswath}) % 3 AS INT)"))
      .withColumn("subswath", concat(lit("IW"), col("sw_idx") + 1))
      .withColumn("scene_idx", expr(s"CAST(id div ${perBurst * Layout.BurstsPerSubswath * 3} AS INT)"))
      .withColumn("scene_id", format_string("scene_%04d", col("scene_idx")))
      .withColumn("s", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $slopeSql)"))
      .select("scene_id", "subswath", "burst_idx", "tile_x", "tile_y", "s")
      .write.mode("overwrite").parquet(path)
  }

  /** IEM inversion LUT (rstb soil-moisture: rows of (theta section, rms, RDC,
   * sigma1, sigma2)): deterministic forward-model surface on the dyadic 1/1024
   * grid, 21 integer-degree sections x 6 rms x 9 RDC knots. */
  private def writeSmLut(spark: SparkSession, path: String): Unit = {
    spark.range(0, 21L * 6 * 9, 1, 1)
      .withColumn("row_id", col("id").cast("int"))
      .withColumn("theta_idx", expr("CAST(20 + id % 21 AS DOUBLE)"))
      .withColumn("rms", expr("CAST(0.5 + CAST((id div 21) % 6 AS DOUBLE) * 0.5 AS DOUBLE)"))
      .withColumn("rdc", expr("CAST(4.0 + CAST((id div 126) % 9 AS DOUBLE) * 2.0 AS DOUBLE)"))
      .withColumn("s1", expr(
        "CAST(floor((-20.0 + rms * 3.0 + rdc * 0.5 - (theta_idx - 30.0) * 0.2) * 1024.0) / 1024.0 AS DOUBLE)"))
      .withColumn("s2", expr(
        "CAST(floor((-22.0 + rms * 2.0 + rdc * 0.7 - (theta_idx - 30.0) * 0.1) * 1024.0) / 1024.0 AS DOUBLE)"))
      .select("row_id", "theta_idx", "rms", "rdc", "s1", "s2")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def writeTiles(spark: SparkSession, sc: Scale, path: String, dxCol: String, dyCol: String): Unit = {
    val nKeys = sc.nScenes * 3 * 2 * Layout.BurstsPerSubswath * Layout.TilesX * Layout.TilesY
    val (iSql, qSql) = tileValueSql(dxCol, dyCol)
    val perBurst = Layout.TilesX * Layout.TilesY
    val df = spark.range(0, nKeys.toLong, 1, 32)
      .withColumn("tile_x", expr(s"CAST(id % ${Layout.TilesX} AS INT)"))
      .withColumn("tile_y", expr(s"CAST((id div ${Layout.TilesX}) % ${Layout.TilesY} AS INT)"))
      .withColumn("burst_idx", expr(s"CAST(1 + (id div $perBurst) % ${Layout.BurstsPerSubswath} AS INT)"))
      .withColumn("pol", expr(s"if((id div ${perBurst * Layout.BurstsPerSubswath}) % 2 = 0, 'VV', 'VH')"))
      .withColumn("sw_idx", expr(s"CAST((id div ${perBurst * Layout.BurstsPerSubswath * 2}) % 3 AS INT)"))
      .withColumn("subswath", concat(lit("IW"), col("sw_idx") + 1))
      .withColumn("scene_idx", expr(s"CAST(id div ${perBurst * Layout.BurstsPerSubswath * 2 * 3} AS INT)"))
      .withColumn("scene_idx_str", col("scene_idx").cast("string"))
      .withColumn("scene_id", format_string("scene_%04d", col("scene_idx")))
      .withColumn("w", lit(Layout.TileW)).withColumn("h", lit(Layout.TileH))
      .withColumn("i", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $iSql)"))
      .withColumn("q", expr(s"transform(sequence(0, ${Layout.TileW * Layout.TileH - 1}), k -> $qSql)"))
      .withColumn("no_data", lit(Layout.NoData))
      .select("scene_id", "subswath", "pol", "burst_idx", "tile_x", "tile_y", "w", "h", "i", "q", "no_data")
    df.write.mode("overwrite").parquet(path)
  }
}

/** The sf0.01 fixture tables as the DuckDB oracle SQL names them (sf0.01 is the
 * verify scale). Derived from `Fixtures.Root`, so the oracles and the engine read
 * one directory. A separate object keeps `Fixtures`' class file, and with it
 * `generatorHash`, unchanged by edits here. */
object OracleFixtures {
  val Dir: String = s"${Fixtures.Root}/sf0.01"

  /** DuckDB scan of one fixture table's parquet files. */
  def fx(t: String): String = s"read_parquet('$Dir/$t.parquet/*.parquet')"
}
