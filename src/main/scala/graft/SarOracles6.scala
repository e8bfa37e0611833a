package graft

import graft.gen.OracleFixtures.fx
import graft.model.Layout
import graft.ops.Spectral

/**
 * DuckDB oracles for the FFT-domain operators. The engine runs real FFTs
 * (commons-math3); these oracles restate the same transforms in independent closed
 * forms — periodic-sinc (trigonometric) interpolation for oversampling, Dirichlet
 * circular convolution for band-pass, and a direct O(N^2) two-pass 2-D DFT for the
 * Goldstein filter — so an FFT indexing/scaling bug cannot self-confirm.
 */
object SarOracles6 {

  private val W = Layout.TileW
  private val N = Layout.TileW * Layout.TileH

  private val rollup = SarOracles.rollupSql(1.0)

  /** smooth tile pixels with tile-local (lx, ly). */
  private val smCte: String =
    s"""sm AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS x
       |  FROM ${fx("tiles_smooth")}),
       |sm2 AS (
       |  SELECT *, CAST(k % $W AS INT) AS lx, CAST(k // $W AS INT) AS ly FROM sm)""".stripMargin

  /** Oversampling x2: trigonometric interpolation, K(u) = sin(pi u)/(W tan(pi u/W)),
   * K(0) = 1, K(other integer) = 0 (|u| < W here). */
  val oversample: String =
    s"""WITH $smCte,
       |m AS (SELECT unnest(range(${2 * N})) AS m),
       |o1 AS (
       |  SELECT s.scene_id, s.subswath, s.pol, s.burst_idx, s.tile_y, s.tile_x, m.m,
       |    sum(s.x * (CASE WHEN m.m % ${2 * W} = 2 * s.lx THEN 1.0
       |               WHEN (m.m % ${2 * W}) % 2 = 0 THEN 0.0
       |               ELSE sin(pi() * ((m.m % ${2 * W}) / 2.0 - s.lx))
       |                    / ($W * tan(pi() * ((m.m % ${2 * W}) / 2.0 - s.lx) / $W)) END)) AS out
       |  FROM m JOIN sm2 s ON s.ly = CAST(m.m // ${2 * W} AS INT)
       |  GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |o AS (SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, out FROM o1)
       |$rollup""".stripMargin


  /** q_bandpass_range twin — the FULL jlinda adaptive range filter the compiled
   * kernel runs (RangeFilter.java:104-230): interferometric row spectra via the
   * kernel's bit-exact radix-2 FFT (window lag/lead stages), floor-staged
   * integer power, 15-row window sums, first-max fringe shift per line
   * (negative folding + filter flip), the shifted/narrowed Hamming x inverse
   * Hamming per (line, bin) as closed-form expressions, applied to the master
   * row spectra and inverse-transformed. */
  val bandpassRange: String = {
    import graft.exprs.Kernels
    val Fw = Layout.TilesX * Layout.TileW
    val alpha = Kernels.RfAlpha
    val rsr = Kernels.RfRsr; val rbw = Kernels.RfRbw
    val firstLine = (Kernels.RfNlMean - 1) / 2
    val lastLine = Layout.TilesY * Layout.TileH - 1 - firstLine
    def dlit(v: Double) = { val s = v.toString; if (s.contains("E") || s.contains("e")) s else s + "E0" }
    def dlist(a: Array[Double]) = a.map(dlit).mkString("[", ", ", "]")
    val brL = Kernels.bitRev(Fw).mkString("[", ", ", "]")
    val tws = Kernels.twiddles(Fw)
    val K2 = "scene_id, subswath, pol, burst_idx"
    def fftPassRg(inName: String, prefix: String, inverse: Boolean): (String, String) = {
      val sb = new StringBuilder
      var cur = inName
      val perm = s"${prefix}p"
      sb.append(
        s"""$perm AS MATERIALIZED (
           |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.gy, p.gx,
           |    q.re AS re, q.im AS im
           |  FROM $cur p JOIN (SELECT unnest(range($Fw)) AS dst, unnest($brL) AS src) m ON p.gx = m.dst
           |  JOIN $cur q ON q.scene_id = p.scene_id AND q.subswath = p.subswath AND q.pol = p.pol
           |    AND q.burst_idx = p.burst_idx AND q.gy = p.gy AND q.gx = m.src),\n""".stripMargin)
      cur = perm
      tws.zipWithIndex.foreach { case ((len, wr, wi0), si) =>
        val wi = if (inverse) wi0.map(x => -x) else wi0
        val h = len / 2
        val wrL = dlist(wr); val wiL = dlist(wi)
        val nm = s"$prefix$si"
        val win = s"OVER (PARTITION BY $K2, gy ORDER BY gx)"
        sb.append(
          s"""$nm AS MATERIALIZED (
             |  SELECT $K2, gy, gx,
             |    CASE WHEN (gx % $len) < $h
             |      THEN re + (($wrL)[(gx % $len) + 1] * lead(re, $h) $win - ($wiL)[(gx % $len) + 1] * lead(im, $h) $win)
             |      ELSE lag(re, $h) $win - (($wrL)[(gx % $len) - $h + 1] * re - ($wiL)[(gx % $len) - $h + 1] * im) END AS re,
             |    CASE WHEN (gx % $len) < $h
             |      THEN im + (($wrL)[(gx % $len) + 1] * lead(im, $h) $win + ($wiL)[(gx % $len) + 1] * lead(re, $h) $win)
             |      ELSE lag(im, $h) $win - (($wrL)[(gx % $len) - $h + 1] * im + ($wiL)[(gx % $len) - $h + 1] * re) END AS im
             |  FROM $cur),\n""".stripMargin)
        cur = nm
      }
      (sb.toString, cur)
    }
    val (xf, xfLast) = fftPassRg("xz", "rx", inverse = false)
    val (mf, mfLast) = fftPassRg("mz", "rm", inverse = false)
    val (ri, riLast) = fftPassRg("app", "rv", inverse = true)
    def ham(f: String, brW: String) =
      s"CASE WHEN abs(($f) / ($brW)) < 0.5 THEN $alpha + (1 - $alpha) * cos((2 * pi() / $rsr) * ($f)) ELSE 0 END"
    val df = s"($rsr / $Fw)"
    s"""WITH ${SarOracles2.crossCte},
       |mz0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")} WHERE pol = 'VV' AND burst_idx <= 2),
       |mz1 AS MATERIALIZED (
       |  SELECT scene_id, subswath, pol, burst_idx,
       |    tile_x * $W + k % $W AS gx,
       |    tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |    CASE WHEN isnan(iv0) THEN -9999.0 ELSE floor(iv0 * 4096) / 4096 END AS iq,
       |    CASE WHEN isnan(qv0) THEN -9999.0 ELSE floor(qv0 * 4096) / 4096 END AS qq
       |  FROM mz0),
       |mz AS MATERIALIZED (
       |  SELECT $K2, gx, gy, iq <> -9999.0 AND qq <> -9999.0 AS vld,
       |    CASE WHEN iq <> -9999.0 AND qq <> -9999.0 THEN iq ELSE 0 END AS re,
       |    CASE WHEN iq <> -9999.0 AND qq <> -9999.0 THEN qq ELSE 0 END AS im
       |  FROM mz1),
       |xz AS MATERIALIZED (
       |  SELECT $K2, gx, gy,
       |    CASE WHEN cre <> -9999.0 AND cim <> -9999.0 THEN cre ELSE 0 END AS re,
       |    CASE WHEN cre <> -9999.0 AND cim <> -9999.0 THEN cim ELSE 0 END AS im
       |  FROM cx WHERE pol = 'VV' AND burst_idx <= 2),
       |$xf
       |pw AS MATERIALIZED (
       |  SELECT $K2, gy, gx, CAST(floor(re * re + im * im) AS BIGINT) AS pq FROM $xfLast),
       |sm15 AS MATERIALIZED (
       |  SELECT $K2, gy, gx,
       |    sum(pq) OVER (PARTITION BY $K2, gx ORDER BY gy
       |                  ROWS BETWEEN $firstLine PRECEDING AND $firstLine FOLLOWING) AS s
       |  FROM pw),
       |ln AS MATERIALIZED (
       |  SELECT $K2, gy, gx AS bestk
       |  FROM (SELECT *, row_number() OVER (PARTITION BY $K2, gy ORDER BY s DESC, gx ASC) AS rn FROM sm15)
       |  WHERE rn = 1 AND gy BETWEEN $firstLine AND $lastLine),
       |sh AS MATERIALIZED (
       |  SELECT $K2, gy,
       |    CASE WHEN bestk > ${Fw / 2} THEN $Fw - bestk ELSE bestk END AS shift,
       |    bestk > ${Fw / 2} AS neg
       |  FROM ln),
       |$mf
       |app AS MATERIALIZED (
       |  SELECT f.scene_id, f.subswath, f.pol, f.burst_idx, f.gy, f.gx,
       |    f.re * fv.fv AS re, f.im * fv.fv AS im
       |  FROM $mfLast f
       |  JOIN sh s ON s.scene_id = f.scene_id AND s.subswath = f.subswath
       |    AND s.burst_idx = f.burst_idx AND s.gy = f.gy
       |  CROSS JOIN LATERAL (
       |    SELECT CASE WHEN (${ham(s"(-$rsr / 2 + (CASE WHEN s.neg THEN (($Fw - 1 - f.gx) + ${(Fw + 1) / 2}) % $Fw ELSE (f.gx + ${(Fw + 1) / 2}) % $Fw END) * $df)", rbw.toString)}) <> 0
       |      THEN (${ham(s"(-$rsr / 2 + (CASE WHEN s.neg THEN (($Fw - 1 - f.gx) + ${(Fw + 1) / 2}) % $Fw ELSE (f.gx + ${(Fw + 1) / 2}) % $Fw END) * $df) - 0.5 * s.shift * $df", s"$rbw - s.shift * $df")})
       |           * (1.0 / (${ham(s"(-$rsr / 2 + (CASE WHEN s.neg THEN (($Fw - 1 - f.gx) + ${(Fw + 1) / 2}) % $Fw ELSE (f.gx + ${(Fw + 1) / 2}) % $Fw END) * $df)", rbw.toString)}))
       |      ELSE 0 END AS fv) fv),
       |$ri
       |fin AS MATERIALIZED (
       |  SELECT $K2, gy, gx, re / $Fw AS re, im / $Fw AS im FROM $riLast)
       |SELECT f.scene_id, f.subswath, f.pol, f.burst_idx,
       |  CAST(f.gy // ${Layout.TileH} AS INT) AS tile_y, CAST(f.gx // $W AS INT) AS tile_x,
       |  count(*) AS n_valid,
       |  CAST(sum(CAST(floor(0.031415926535897934 + f.re * 1.0E2) AS BIGINT)) AS BIGINT) AS re_sum_q,
       |  CAST(sum(CAST(floor(0.031415926535897934 + f.im * 1.0E2) AS BIGINT)) AS BIGINT) AS im_sum_q
       |FROM fin f JOIN mz g ON g.scene_id = f.scene_id AND g.subswath = f.subswath
       |  AND g.pol = f.pol AND g.burst_idx = f.burst_idx AND g.gy = f.gy AND g.gx = f.gx AND g.vld
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** q_bandpass_azimuth twin — the FULL jlinda const-fDC azimuth filter the
   * compiled kernel runs (AzimuthFilter.java:130-157): the per-burst filter
   * vector (inverse Hamming at fDC_m, narrowed Hamming at fDC_mean, circular
   * shifts, ifftshift) built as list expressions, then per-column FFT ->
   * multiply -> unscaled-inverse/64 with the kernel's OWN radix-2 butterflies
   * replayed verbatim as window lag/lead stages (bit-exact cross-engine). */
  val bandpassAzimuth: String = {
    import graft.exprs.Kernels
    val H = Layout.TilesY * Layout.TileH
    val abw = Spectral.AzBw; val alpha = Spectral.AzHammingAlpha
    val off = Spectral.AzFdcSlaveOffset
    def dlit(v: Double) = { val s = v.toString; if (s.contains("E") || s.contains("e")) s else s + "E0" }
    def dlist(a: Array[Double]) = a.map(dlit).mkString("[", ", ", "]")
    val brL = Kernels.bitRev(H).mkString("[", ", ", "]")
    val tws = Kernels.twiddles(H)
    val K2 = "scene_id, subswath, pol, burst_idx"
    def fftPassAz(inName: String, prefix: String, inverse: Boolean): (String, String) = {
      val sb = new StringBuilder
      var cur = inName
      val perm = s"${prefix}p"
      sb.append(
        s"""$perm AS MATERIALIZED (
           |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.gy, p.gx,
           |    q.re AS re, q.im AS im
           |  FROM $cur p JOIN (SELECT unnest(range($H)) AS dst, unnest($brL) AS src) m ON p.gy = m.dst
           |  JOIN $cur q ON q.scene_id = p.scene_id AND q.subswath = p.subswath AND q.pol = p.pol
           |    AND q.burst_idx = p.burst_idx AND q.gx = p.gx AND q.gy = m.src),\n""".stripMargin)
      cur = perm
      tws.zipWithIndex.foreach { case ((len, wr, wi0), si) =>
        val wi = if (inverse) wi0.map(x => -x) else wi0
        val h = len / 2
        val wrL = dlist(wr); val wiL = dlist(wi)
        val nm = s"$prefix$si"
        val win = s"OVER (PARTITION BY $K2, gx ORDER BY gy)"
        sb.append(
          s"""$nm AS MATERIALIZED (
             |  SELECT $K2, gy, gx,
             |    CASE WHEN (gy % $len) < $h
             |      THEN re + (($wrL)[(gy % $len) + 1] * lead(re, $h) $win - ($wiL)[(gy % $len) + 1] * lead(im, $h) $win)
             |      ELSE lag(re, $h) $win - (($wrL)[(gy % $len) - $h + 1] * re - ($wiL)[(gy % $len) - $h + 1] * im) END AS re,
             |    CASE WHEN (gy % $len) < $h
             |      THEN im + (($wrL)[(gy % $len) + 1] * lead(im, $h) $win + ($wiL)[(gy % $len) + 1] * lead(re, $h) $win)
             |      ELSE lag(im, $h) $win - (($wrL)[(gy % $len) - $h + 1] * im + ($wiL)[(gy % $len) - $h + 1] * re) END AS im
             |  FROM $cur),\n""".stripMargin)
        cur = nm
      }
      (sb.toString, cur)
    }
    val (ff, ffLast) = fftPassAz("tz", "af", inverse = false)
    val (fi, fiLast) = fftPassAz("mz", "ai", inverse = true)
    def ham(f: String, brW: String) =
      s"CASE WHEN abs(($f) / ($brW)) < 0.5 THEN $alpha + (1 - $alpha) * cos((2 * pi() / prf) * ($f)) ELSE 0 END"
    s"""WITH tz0 AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS iv0, unnest(q) AS qv0
       |  FROM ${fx("tiles")} WHERE pol = 'VV' AND burst_idx <= 2),
       |tz1 AS MATERIALIZED (
       |  SELECT scene_id, subswath, pol, burst_idx,
       |    tile_x * $W + k % $W AS gx,
       |    tile_y * ${Layout.TileH} + CAST(k // $W AS INT) AS gy,
       |    CASE WHEN isnan(iv0) THEN -9999.0 ELSE floor(iv0 * 4096) / 4096 END AS iq,
       |    CASE WHEN isnan(qv0) THEN -9999.0 ELSE floor(qv0 * 4096) / 4096 END AS qq
       |  FROM tz0),
       |tz AS MATERIALIZED (
       |  SELECT $K2, gx, gy, iq <> -9999.0 AND qq <> -9999.0 AS vld,
       |    CASE WHEN iq <> -9999.0 AND qq <> -9999.0 THEN iq ELSE 0 END AS re,
       |    CASE WHEN iq <> -9999.0 AND qq <> -9999.0 THEN qq ELSE 0 END AS im
       |  FROM tz1),
       |dims AS MATERIALIZED (
       |  SELECT b.scene_id, b.subswath, b.burst_idx, b.doppler_centroid AS fdcm,
       |         b.doppler_centroid + $off AS fdcs, 1.0 / s.azimuth_time_interval AS prf
       |  FROM ${fx("bursts")} b JOIN ${fx("scenes")} s USING (scene_id)
       |  WHERE b.burst_idx <= 2),
       |fv0 AS MATERIALIZED (
       |  SELECT d.*, g.fidx, -prf / 2 + g.fidx * (prf / $H) AS freq,
       |    0.5 * (fdcm + fdcs) AS fdcmean
       |  FROM dims d, (SELECT unnest(range($H)) AS fidx) g),
       |fv1 AS MATERIALIZED (
       |  SELECT *,
       |    CASE WHEN ${ham("freq", abw.toString)} <> 0 THEN 1.0 / (${ham("freq", abw.toString)}) ELSE 0 END AS invv,
       |    ${ham("freq", s"greatest(1.0, 2.0 * (0.5 * $abw - abs(fdcm - fdcmean)))")} AS nhm,
       |    CAST(floor($H * fdcm / prf + 0.5) AS INT) AS m1,
       |    CAST(floor($H * fdcmean / prf + 0.5) AS INT) AS m2
       |  FROM fv0),
       |fvl AS MATERIALIZED (
       |  SELECT scene_id, subswath, burst_idx,
       |    list(invv ORDER BY fidx) AS linv, list(nhm ORDER BY fidx) AS lnh,
       |    any_value(m1) AS m1, any_value(m2) AS m2
       |  FROM fv1 GROUP BY 1, 2, 3),
       |flt AS MATERIALIZED (
       |  SELECT scene_id, subswath, burst_idx,
       |    list_transform(range($H), i ->
       |      lnh[((((i + ${(H + 1) / 2}) % $H) - m2) % $H + $H) % $H + 1]
       |      * linv[((((i + ${(H + 1) / 2}) % $H) - m1) % $H + $H) % $H + 1]) AS lflt
       |  FROM fvl),
       |$ff
       |mz AS MATERIALIZED (
       |  SELECT f.scene_id, f.subswath, f.pol, f.burst_idx, f.gy, f.gx,
       |    f.re * t.lflt[f.gy + 1] AS re, f.im * t.lflt[f.gy + 1] AS im
       |  FROM $ffLast f JOIN flt t ON t.scene_id = f.scene_id AND t.subswath = f.subswath
       |    AND t.burst_idx = f.burst_idx),
       |$fi
       |fin AS MATERIALIZED (
       |  SELECT f.scene_id, f.subswath, f.pol, f.burst_idx, f.gy, f.gx,
       |    f.re / $H AS re, f.im / $H AS im
       |  FROM $fiLast f)
       |SELECT f.scene_id, f.subswath, f.pol, f.burst_idx,
       |  CAST(f.gy // ${Layout.TileH} AS INT) AS tile_y, CAST(f.gx // $W AS INT) AS tile_x,
       |  count(*) AS n_valid,
       |  CAST(sum(CAST(floor(0.031415926535897934 + f.re * 1.0E2) AS BIGINT)) AS BIGINT) AS re_sum_q,
       |  CAST(sum(CAST(floor(0.031415926535897934 + f.im * 1.0E2) AS BIGINT)) AS BIGINT) AS im_sum_q
       |FROM fin f JOIN tz g ON g.scene_id = f.scene_id AND g.subswath = f.subswath
       |  AND g.pol = f.pol AND g.burst_idx = f.burst_idx AND g.gy = f.gy AND g.gx = f.gx AND g.vld
       |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }

  /** Azimuth-Spectrum: the deramp-only rotation (phi = -pi kt (ta - t_ref)^2)
   * restated pixel-wise, dyadic-quantized exactly as the engine stages it, then a
   * direct O(h^2) column DFT (same convention as the Goldstein rd CTE) and the
   * reference's |F|^2 / h^2 power scaling. */
  val azimuthSpectrum: String = {
    val H = Layout.TileH
    s"""WITH px AS (
       |  SELECT t.scene_id, t.subswath, t.pol, t.burst_idx, t.tile_y, t.tile_x,
       |         unnest(range($N)) AS k, unnest(i) AS xi, unnest(q) AS xq
       |  FROM ${fx("tiles")} t WHERE t.pol = 'VV' AND t.burst_idx <= 2),
       |ph AS (
       |  SELECT p.*, CAST(p.k % $W AS INT) AS lx, CAST(p.k // $W AS INT) AS ly,
       |    (-pi() * b.doppler_rate
       |      * ((b.burst_first_line_time + (p.tile_y * $H + p.k // $W) * s.azimuth_time_interval) - b.reference_time)
       |      * ((b.burst_first_line_time + (p.tile_y * $H + p.k // $W) * s.azimuth_time_interval) - b.reference_time)) AS phi,
       |    CASE WHEN p.xi = -9999.0 OR isnan(p.xi) THEN 0.0 ELSE floor(p.xi * 4096) / 4096 END AS iq,
       |    CASE WHEN p.xq = -9999.0 OR isnan(p.xq) THEN 0.0 ELSE floor(p.xq * 4096) / 4096 END AS qq
       |  FROM px p
       |  JOIN ${fx("bursts")} b ON b.scene_id = p.scene_id AND b.subswath = p.subswath AND b.burst_idx = p.burst_idx
       |  JOIN ${fx("scenes")} s ON s.scene_id = p.scene_id),
       |rot AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, lx, ly,
       |    floor((iq * cos(phi) - qq * sin(phi)) * 4096) / 4096 AS di,
       |    floor((iq * sin(phi) + qq * cos(phi)) * 4096) / 4096 AS dq
       |  FROM ph),
       |rr AS (SELECT unnest(range($H)) AS r),
       |spec AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x, lx, rr.r,
       |    sum(di * cos(2 * pi() * rr.r * ly / $H) + dq * sin(2 * pi() * rr.r * ly / $H)) AS fr,
       |    sum(dq * cos(2 * pi() * rr.r * ly / $H) - di * sin(2 * pi() * rr.r * ly / $H)) AS fi
       |  FROM rot CROSS JOIN rr GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |o AS (
       |  SELECT scene_id, subswath, pol, burst_idx, tile_y, tile_x,
       |    floor(((fr * fr + fi * fi) / ${H * H}) * 4096) / 4096 AS out
       |  FROM spec)
       |$rollup""".stripMargin
  }

  /** q_goldstein twin — the FULL reference block pipeline the compiled kernel
   * runs (GoldsteinFilterOp.java:330-826): 75%-overlap 64x64 blocks, Baran-2003
   * adaptive alpha from the dyadic-staged analytic coherence surface, 3x3
   * valid-bin magnitude smoothing ^alpha, triangular accumulation. The FFTs are
   * the kernel's OWN radix-2 butterflies replayed VERBATIM — the bit-reversal
   * table and every per-stage twiddle constant are interpolated as literals of
   * the same JVM Math.cos/sin values the kernel computes, so the two engines
   * agree bit-for-bit (no FFT-vs-DFT low-bit drift, the ADVICE r3 flaky class). */
  /** q_chain_goldstein twin: the full Goldstein pipeline restated, restricted
   * to the chain Split node's declared window (subswath IW1 — the oracle is
   * already VV, bursts 1..2, matching the chain's burst range). */
  lazy val chainGoldstein: String =
    s"""SELECT * FROM (
       |$goldstein
       |) WHERE subswath = 'IW1'""".stripMargin

  val goldstein: String = {
    import graft.exprs.Kernels
    val F = Kernels.GoldFft
    val rW = Layout.TilesX * Layout.TileW
    val rH = Layout.TilesY * Layout.TileH
    val half2 = F / 2
    def dlit(v: Double) = { val s = v.toString; if (s.contains("E") || s.contains("e")) s else s + "E0" }
    def dlist(a: Array[Double]) = a.map(dlit).mkString("[", ", ", "]")
    val brL = Kernels.bitRev(F).mkString("[", ", ", "]")
    val tws = Kernels.twiddles(F)
    def origins(max: Int): Array[Int] = {
      if (max <= 0) Array(0)
      else {
        val n0 = max / Kernels.GoldStep + 1
        val base = Array.tabulate(n0)(_ * Kernels.GoldStep)
        if (base(n0 - 1) < max) base :+ max else base
      }
    }
    val xsL = origins(rW - F).mkString("[", ", ", "]")
    val ysL = origins(rH - F).mkString("[", ", ", "]")
    val K = "scene_id, subswath, pol, burst_idx, x0, y0"
    /** one FFT pass over UNNESTED rows (bit-rev permute join + log2(F) window-
     * function butterfly stages). `along` is the transform axis ("c" for row
     * FFTs, "r" for column FFTs — no physical transpose, just the partition
     * key); `other` the perpendicular coordinate. Each stage's lag/lead runs
     * with a CONSTANT offset (len/2) inside one sorted window pass. */
    def fftPass(inName: String, prefix: String, along: String, other: String,
        inverse: Boolean): (String, String) = {
      val sb = new StringBuilder
      var cur = inName
      val perm = s"${prefix}p"
      sb.append(
        s"""$perm AS MATERIALIZED (
           |  SELECT p.scene_id, p.subswath, p.pol, p.burst_idx, p.x0, p.y0, p.r, p.c,
           |    q.re AS re, q.im AS im
           |  FROM $cur p JOIN (SELECT unnest(range($F)) AS dst, unnest($brL) AS src) m ON p.$along = m.dst
           |  JOIN $cur q ON q.scene_id = p.scene_id AND q.subswath = p.subswath AND q.pol = p.pol
           |    AND q.burst_idx = p.burst_idx AND q.x0 = p.x0 AND q.y0 = p.y0
           |    AND q.$other = p.$other AND q.$along = m.src),\n""".stripMargin)
      cur = perm
      tws.zipWithIndex.foreach { case ((len, wr, wi0), si) =>
        val wi = if (inverse) wi0.map(x => -x) else wi0
        val h = len / 2
        val wrL = dlist(wr); val wiL = dlist(wi)
        val nm = s"$prefix$si"
        val win = s"OVER (PARTITION BY $K, $other ORDER BY $along)"
        sb.append(
          s"""$nm AS MATERIALIZED (
             |  SELECT $K, r, c,
             |    CASE WHEN ($along % $len) < $h
             |      THEN re + (($wrL)[($along % $len) + 1] * lead(re, $h) $win - ($wiL)[($along % $len) + 1] * lead(im, $h) $win)
             |      ELSE lag(re, $h) $win - (($wrL)[($along % $len) - $h + 1] * re - ($wiL)[($along % $len) - $h + 1] * im) END AS re,
             |    CASE WHEN ($along % $len) < $h
             |      THEN im + (($wrL)[($along % $len) + 1] * lead(im, $h) $win + ($wiL)[($along % $len) + 1] * lead(re, $h) $win)
             |      ELSE lag(im, $h) $win - (($wrL)[($along % $len) - $h + 1] * im + ($wiL)[($along % $len) - $h + 1] * re) END AS im
             |  FROM $cur),\n""".stripMargin)
        cur = nm
      }
      (sb.toString, cur)
    }
    val (fr, frLast) = fftPass("b0", "fr", "c", "r", inverse = false)
    val (fc, fcLast) = fftPass(frLast, "fc", "r", "c", inverse = false)
    val (ic, icLast) = fftPass("mul", "ic", "r", "c", inverse = true)
    val (ir, irLast) = fftPass(icLast, "ir", "c", "r", inverse = true)
    s"""WITH ${SarOracles2.crossCte},
       |gz AS MATERIALIZED (
       |  SELECT scene_id, subswath, pol, burst_idx, gy, gx,
       |    cre <> -9999.0 AND cim <> -9999.0 AS vld,
       |    CASE WHEN cre <> -9999.0 AND cim <> -9999.0 THEN cre ELSE 0 END AS re,
       |    CASE WHEN cre <> -9999.0 AND cim <> -9999.0 THEN cim ELSE 0 END AS im,
       |    CAST(floor(0.031415926535897934 + (0.2 + 0.8 * abs(sin(gx / 17.0) * cos(gy / 13.0))) * 1.0E6) AS BIGINT) AS cohq
       |  FROM cx WHERE pol = 'VV' AND burst_idx <= 2),
       |bdef AS (SELECT x.x0, y.y0 FROM (SELECT unnest($xsL) AS x0) x, (SELECT unnest($ysL) AS y0) y),
       |bpx AS MATERIALIZED (
       |  SELECT g.scene_id, g.subswath, g.pol, g.burst_idx, b.x0, b.y0,
       |         g.gy - b.y0 AS r, g.gx - b.x0 AS c, g.re, g.im, g.vld, g.cohq
       |  FROM gz g JOIN bdef b ON g.gx >= b.x0 AND g.gx < b.x0 + $F AND g.gy >= b.y0 AND g.gy < b.y0 + $F),
       |alf AS MATERIALIZED (
       |  SELECT $K, bool_or(vld) AS anyv, sum(cohq) AS cs, count(*) AS cn
       |  FROM bpx GROUP BY 1, 2, 3, 4, 5, 6),
       |alf2 AS MATERIALIZED (
       |  SELECT $K,
       |    CASE WHEN cn = 0 THEN ${Spectral.GoldsteinAlpha}
       |         WHEN 1.0 - (cs / 1.0E6) / cn < ${Spectral.GoldsteinAlphaMin} THEN ${Spectral.GoldsteinAlphaMin}
       |         WHEN 1.0 - (cs / 1.0E6) / cn > ${Spectral.GoldsteinAlphaMax} THEN ${Spectral.GoldsteinAlphaMax}
       |         ELSE 1.0 - (cs / 1.0E6) / cn END AS alpha
       |  FROM alf WHERE anyv),
       |b0 AS MATERIALIZED (
       |  SELECT b.scene_id, b.subswath, b.pol, b.burst_idx, b.x0, b.y0, b.r, b.c, b.re, b.im
       |  FROM bpx b JOIN alf2 a USING (scene_id, subswath, pol, burst_idx, x0, y0)),
       |$fr
       |$fc
       |sp AS MATERIALIZED (
       |  SELECT $K, r, c, re, im, sqrt(re * re + im * im) AS pw FROM $fcLast),
       |h1 AS MATERIALIZED (
       |  SELECT s.*, a.alpha,
       |    (CASE WHEN lag(pw) OVER wv IS NOT NULL AND lag(pw) OVER wv <> 0 THEN lag(pw) OVER wv ELSE 0 END
       |     + CASE WHEN pw <> 0 THEN pw ELSE 0 END
       |     + CASE WHEN lead(pw) OVER wv IS NOT NULL AND lead(pw) OVER wv <> 0 THEN lead(pw) OVER wv ELSE 0 END) AS hs,
       |    (CASE WHEN lag(pw) OVER wv IS NOT NULL AND lag(pw) OVER wv <> 0 THEN 1 ELSE 0 END
       |     + CASE WHEN pw <> 0 THEN 1 ELSE 0 END
       |     + CASE WHEN lead(pw) OVER wv IS NOT NULL AND lead(pw) OVER wv <> 0 THEN 1 ELSE 0 END) AS hc
       |  FROM sp s JOIN alf2 a USING (scene_id, subswath, pol, burst_idx, x0, y0)
       |  WINDOW wv AS (PARTITION BY s.scene_id, s.subswath, s.pol, s.burst_idx, s.x0, s.y0, s.c ORDER BY s.r)),
       |mul AS MATERIALIZED (
       |  SELECT $K, r, c,
       |    re * (CASE WHEN (coalesce(lag(hc) OVER wh, 0) + hc + coalesce(lead(hc) OVER wh, 0)) <> 0
       |          THEN pow((coalesce(lag(hs) OVER wh, 0) + hs + coalesce(lead(hs) OVER wh, 0))
       |                   / (coalesce(lag(hc) OVER wh, 0) + hc + coalesce(lead(hc) OVER wh, 0)), alpha)
       |          ELSE 0 END) AS re,
       |    im * (CASE WHEN (coalesce(lag(hc) OVER wh, 0) + hc + coalesce(lead(hc) OVER wh, 0)) <> 0
       |          THEN pow((coalesce(lag(hs) OVER wh, 0) + hs + coalesce(lead(hs) OVER wh, 0))
       |                   / (coalesce(lag(hc) OVER wh, 0) + hc + coalesce(lead(hc) OVER wh, 0)), alpha)
       |          ELSE 0 END) AS im
       |  FROM h1
       |  WINDOW wh AS (PARTITION BY $K, r ORDER BY c)),
       |$ic
       |$ir
       |fx2 AS MATERIALIZED (SELECT $K, r, c, re, im FROM $irLast),
       |acc AS MATERIALIZED (
       |  SELECT f.scene_id, f.subswath, f.pol, f.burst_idx, f.y0 + f.r AS gy, f.x0 + f.c AS gx,
       |    CAST(sum(CAST(floor(0.031415926535897934 + (((1.0 - abs(f.c - $half2 + 0.5) / $half2) * (1.0 - abs(f.r - $half2 + 0.5) / $half2)) * (f.re / ${F * F}.0)) * 1.0E2) AS BIGINT)) AS BIGINT) AS qre,
       |    CAST(sum(CAST(floor(0.031415926535897934 + (((1.0 - abs(f.c - $half2 + 0.5) / $half2) * (1.0 - abs(f.r - $half2 + 0.5) / $half2)) * (f.im / ${F * F}.0)) * 1.0E2) AS BIGINT)) AS BIGINT) AS qim
       |  FROM fx2 f JOIN gz g ON g.scene_id = f.scene_id AND g.subswath = f.subswath
       |    AND g.pol = f.pol AND g.burst_idx = f.burst_idx
       |    AND g.gy = f.y0 + f.r AND g.gx = f.x0 + f.c AND g.vld
       |  GROUP BY 1, 2, 3, 4, 5, 6)
       |SELECT scene_id, subswath, pol, burst_idx,
       |  CAST(gy // ${Layout.TileH} AS INT) AS tile_y, CAST(gx // ${Layout.TileW} AS INT) AS tile_x,
       |  count(*) AS n_valid,
       |  CAST(sum(CAST(floor(0.031415926535897934 + atan2(qim / 1.0E2, qre / 1.0E2) * 1.0E6) AS BIGINT)) AS BIGINT) AS phase_sum_q
       |FROM acc GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin
  }
}
