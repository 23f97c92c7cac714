package graft.report

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S6 — the figure sink. The reference renders its paper figures with
  * matplotlib (`limeqo.ipynb · cell 9`, `draw/draw_<ds>_fig1.ipynb ·
  * cells 5-7`, `draw/draw_svd.ipynb · cell 4`); this engine renders the
  * same figures as self-contained SVG, generated by pure string building —
  * no plotting dependency, nothing beyond the JDK.
  *
  * Division of labor is the Spark-first one: everything data-shaped
  * (trajectories, grid interpolation, cross-run mean/std) is the [[Report]]
  * relational pipeline and scales with the cluster; this module only turns
  * the final ≤5000-point grid — already driver-sized by construction — into
  * pixels. The two figure families the reference draws:
  *
  *  - trajectory: per-strategy mean workload-latency vs exploration-time
  *    curves with a ±std band, against Default/Optimal horizontals
  *    ([[trajectoryFigure]])
  *  - SVD spectrum: singular values of the real workload matrix vs a
  *    same-shaped random matrix, the low-rank evidence ([[spectrumFigure]])
  */
object Figures {

  /** One plotted series: a named polyline, optionally wrapped in a
    * translucent (yLo, yHi) band (mean±std in the trajectory figure). */
  final case class Series(name: String,
                          points: Seq[(Double, Double)],
                          band: Seq[(Double, Double, Double)] = Nil)

  /** A dashed horizontal reference line (Default / Optimal). */
  final case class HLine(name: String, y: Double)

  // Categorical palette (colorblind-safe Okabe–Ito subset).
  private val palette = Vector("#0072b2", "#d55e00", "#009e73", "#cc79a7",
    "#e69f00", "#56b4e9", "#f0e442")

  /** "Nice" tick positions covering [lo, hi]: step is 1/2/5 × 10^k chosen
    * to land 4–8 ticks. */
  private[report] def ticks(lo: Double, hi: Double, target: Int = 5): Seq[Double] = {
    require(hi > lo, s"degenerate axis [$lo, $hi]")
    val raw = (hi - lo) / target
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val step = (raw / mag) match {
      case r if r < 1.5 => mag
      case r if r < 3.5 => 2 * mag
      case r if r < 7.5 => 5 * mag
      case _            => 10 * mag
    }
    val first = math.ceil(lo / step) * step
    Iterator.iterate(first)(_ + step).takeWhile(_ <= hi + step * 1e-9).toSeq
  }

  private def fmt(v: Double): String =
    if (v == v.floor && math.abs(v) < 1e7) v.toLong.toString
    else f"$v%.4g"

  /** Escape user-supplied labels for XML text nodes: a '&' or '<' in a
    * series/axis/title string must not break the document. */
  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Render a line chart as a standalone SVG document. Pure function of
    * its inputs — byte-identical across runs, so figures are as
    * regression-testable as query output. */
  def lineChart(series: Seq[Series], hlines: Seq[HLine] = Nil,
                title: String = "", xLabel: String = "", yLabel: String = "",
                width: Int = 720, height: Int = 480): String = {
    require(series.nonEmpty && series.forall(_.points.nonEmpty), "empty chart")
    val (mL, mR, mT, mB) = (64, 16, if (title.nonEmpty) 36 else 16, 48)
    val (pw, ph) = (width - mL - mR, height - mT - mB)

    val xs = series.flatMap(_.points.map(_._1))
    val ys = series.flatMap(_.points.map(_._2)) ++
      series.flatMap(_.band.flatMap(b => Seq(b._2, b._3))) ++ hlines.map(_.y)
    // pad degenerate domains (single-point series, constant y): a zero
    // span would make px/py divide by zero and ticks() reject the axis
    val xPad0 = xs.max - xs.min
    val xPad = if (xPad0 > 0) 0.0 else math.abs(xs.max).max(1e-12) * 0.5
    val (xLo, xHi) = (xs.min - xPad, xs.max + xPad)
    val pad = (ys.max - ys.min).max(math.abs(ys.max).max(1e-12) * 1e-3) * 0.05
    val (yLo, yHi) = (ys.min - pad, ys.max + pad)
    def px(x: Double) = mL + (x - xLo) / (xHi - xLo) * pw
    def py(y: Double) = mT + ph - (y - yLo) / (yHi - yLo) * ph

    val sb = new StringBuilder
    sb ++= s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height">"""
    sb ++= s"""<rect width="$width" height="$height" fill="white"/>"""
    if (title.nonEmpty)
      sb ++= s"""<text x="${width / 2}" y="22" text-anchor="middle" font-family="sans-serif" font-size="15" font-weight="bold">${esc(title)}</text>"""

    // gridlines + ticks + labels
    ticks(xLo, xHi).foreach { t =>
      val x = px(t)
      sb ++= f"""<line x1="$x%.2f" y1="$mT" x2="$x%.2f" y2="${mT + ph}" stroke="#e0e0e0"/>"""
      sb ++= f"""<text x="$x%.2f" y="${mT + ph + 18}" text-anchor="middle" font-family="sans-serif" font-size="11">${fmt(t)}</text>"""
    }
    ticks(yLo, yHi).foreach { t =>
      val y = py(t)
      sb ++= f"""<line x1="$mL" y1="$y%.2f" x2="${mL + pw}" y2="$y%.2f" stroke="#e0e0e0"/>"""
      sb ++= f"""<text x="${mL - 6}" y="${y + 4}%.2f" text-anchor="end" font-family="sans-serif" font-size="11">${fmt(t)}</text>"""
    }
    sb ++= s"""<rect x="$mL" y="$mT" width="$pw" height="$ph" fill="none" stroke="#333"/>"""
    if (xLabel.nonEmpty)
      sb ++= s"""<text x="${mL + pw / 2}" y="${height - 8}" text-anchor="middle" font-family="sans-serif" font-size="12">${esc(xLabel)}</text>"""
    if (yLabel.nonEmpty)
      sb ++= s"""<text x="14" y="${mT + ph / 2}" text-anchor="middle" font-family="sans-serif" font-size="12" transform="rotate(-90 14 ${mT + ph / 2})">${esc(yLabel)}</text>"""

    // bands first (under the lines)
    series.zipWithIndex.foreach { case (s, i) =>
      if (s.band.nonEmpty) {
        val upper = s.band.map { case (x, _, hi2) => f"${px(x)}%.2f,${py(hi2)}%.2f" }
        val lower = s.band.reverse.map { case (x, lo2, _) => f"${px(x)}%.2f,${py(lo2)}%.2f" }
        sb ++= s"""<polygon points="${(upper ++ lower).mkString(" ")}" fill="${palette(i % palette.length)}" fill-opacity="0.15" stroke="none"/>"""
      }
    }
    hlines.zipWithIndex.foreach { case (h, i) =>
      val y = py(h.y)
      sb ++= f"""<line x1="$mL" y1="$y%.2f" x2="${mL + pw}" y2="$y%.2f" stroke="#555" stroke-dasharray="${if (i % 2 == 0) "6,4" else "2,3"}"/>"""
      sb ++= f"""<text x="${mL + pw - 4}" y="${y - 5}%.2f" text-anchor="end" font-family="sans-serif" font-size="11" fill="#555">${esc(h.name)}</text>"""
    }
    series.zipWithIndex.foreach { case (s, i) =>
      val pts = s.points.map { case (x, y) => f"${px(x)}%.2f,${py(y)}%.2f" }.mkString(" ")
      sb ++= s"""<polyline points="$pts" fill="none" stroke="${palette(i % palette.length)}" stroke-width="1.8"/>"""
    }
    // legend
    series.zipWithIndex.foreach { case (s, i) =>
      val ly = mT + 14 + 16 * i
      sb ++= s"""<line x1="${mL + 10}" y1="$ly" x2="${mL + 34}" y2="$ly" stroke="${palette(i % palette.length)}" stroke-width="2"/>"""
      sb ++= s"""<text x="${mL + 40}" y="${ly + 4}" font-family="sans-serif" font-size="11">${esc(s.name)}</text>"""
    }
    sb ++= "</svg>"
    sb.toString
  }

  /** The reference's trajectory figure (`limeqo.ipynb · cell 9`,
    * `draw_<ds>_fig1.ipynb · cell 5`): per-strategy mean workload latency
    * vs exploration time with a ±1 std band, against the Default and
    * Optimal horizontals. `strategies` maps a label to a trace glob, as in
    * [[Report.checkpointCsv]]; the data pipeline is [[Report]]'s and runs
    * distributed — only the ≤`nGrid`-row result is collected to draw. */
  def trajectoryFigure(spark: SparkSession, strategies: Seq[(String, String)],
                       pgTotal: Double, optimalTotal: Double,
                       nGrid: Int = 5000, hours: Boolean = false,
                       title: String = "Workload latency vs exploration time"): String = {
    val series = gridSeries(strategies.map { case (label, glob) =>
      label -> Report.trajectories(Report.scanTraces(spark, glob), pgTotal)
    }, nGrid, hours)
    val unit = if (hours) "hours" else "seconds"
    val scale = if (hours) 3600.0 else 1.0
    lineChart(series,
      hlines = Seq(HLine("Default", pgTotal / scale), HLine("Optimal", optimalTotal / scale)),
      title = title,
      xLabel = s"exploration time ($unit)", yLabel = s"workload latency ($unit)")
  }

  /** Interpolate each labelled strategy's per-run trajectories to its
    * grid in one [[Report.interpolatedSeries]] pass and collect the
    * ≤nGrid rows per strategy as a mean±std [[Series]], in input order. */
  private def gridSeries(trajs: Seq[(String, DataFrame)],
                         nGrid: Int, hours: Boolean): Seq[Series] = {
    val grids = Report.gridPoints(
      trajs.map { case (label, t) => label -> (if (hours) Report.inHours(t) else t) }, nGrid)
    trajs.map { case (label, _) =>
      val grid = grids.getOrElse(label, Array.empty[(Double, Double, Double)])
      Series(label,
        points = grid.map { case (g, m, _) => (g, m) }.toSeq,
        band = grid.map { case (g, m, sd) => (g, m - sd, m + sd) }.toSeq)
    }
  }

  /** The censor-ablation figure (`draw/draw_censor.ipynb · cell 8`):
    * LimeQO with censoring against the `wocensored_*` ablation traces,
    * mean±std over the stored runs, with the Default/Optimal horizontals,
    * in hours (the notebook's unit). The ablation's DATA side is
    * [[graft.strategy.LimeQOStrategy]]`(censored = false)`; this entry
    * point renders either the reference's stored traces or
    * [[graft.strategy.ExperimentRunner]] output — both are the same
    * trace-JSON shape. */
  def censorFigure(spark: SparkSession,
                   censoredGlob: String, wocensoredGlob: String,
                   pgTotal: Double, optimalTotal: Double,
                   nGrid: Int = 5000,
                   title: String = "Censoring ablation"): String =
    trajectoryFigure(spark,
      Seq("LimeQO" -> censoredGlob, "LimeQO (wocensored)" -> wocensoredGlob),
      pgTotal, optimalTotal, nGrid, hours = true, title = title)

  /** The new-query-arrival figure (`draw/draw_newquery.ipynb · cell 5`):
    * strategies whose workload grows mid-run use the SHIFTED exploration
    * cost ([[Report.trajectoriesWithNewQueries]] — x re-bases at the
    * latency jump where the new queries joined), plotted against plain
    * baselines on the same grid. `pgTotalBefore` is the pre-arrival
    * workload's default total (the notebook's literal 7886 s for CEB);
    * `pgTotal` the full workload's. No Default/Optimal horizontals — the
    * notebook draws none (neither is well-defined across the shift). */
  def newQueryFigure(spark: SparkSession,
                     shifted: Seq[(String, String)], baselines: Seq[(String, String)],
                     pgTotal: Double, pgTotalBefore: Double,
                     nGrid: Int = 5000,
                     title: String = "New-query arrival"): String = {
    val series = gridSeries(
      shifted.map { case (label, glob) =>
        label -> Report.trajectoriesWithNewQueries(
          Report.loadTraces(spark, glob), pgTotalBefore, pgTotal)
      } ++ baselines.map { case (label, glob) =>
        label -> Report.trajectories(Report.scanTraces(spark, glob), pgTotal)
      }, nGrid, hours = true)
    lineChart(series, title = title,
      xLabel = "exploration time (hours)", yLabel = "workload latency (hours)")
  }

  /** The reference's low-rank evidence figure (`draw_svd.ipynb · cell 4`):
    * the workload matrix's singular-value spectrum against a same-shaped
    * random matrix's, both normalized to σ₁ = 1, log-rank on neither axis
    * (the reference plots raw index vs value). */
  def spectrumFigure(real: Seq[Double], random: Seq[Double],
                     title: String = "Singular value spectrum"): String = {
    require(real.nonEmpty && random.nonEmpty, "empty spectra")
    def norm(s: Seq[Double]) = {
      val h = s.head
      s.zipWithIndex.map { case (v, i) => ((i + 1).toDouble, v / h) }
    }
    lineChart(
      Seq(Series("workload matrix", norm(real)), Series("random matrix", norm(random))),
      title = title, xLabel = "rank", yLabel = "singular value (normalized)")
  }

  /** Write an SVG document to `path` (UTF-8), creating parent dirs. */
  def save(svg: String, path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(path, svg)
  }
}
