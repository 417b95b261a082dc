package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{NumericType, StringType}

import graft.operators.Scale

/** S8, closing the last visible surface gap vs the reference: the reference
  * renders ~30 matplotlib PNGs (reference code/python/plots.py:7-85); this
  * renders each chart-INPUT table from [[ChartTables]] to a self-contained
  * SVG — no plotting library, no external deps, deterministic output.
  *
  * Scale note: most chart tables are small by construction (fixed bin
  * counts, per-operator-name or per-statement-type rollups), but not all:
  * `runtime_seconds` has one row per query and `straggler_ops` one per
  * straggling operator. What keeps rendering bounded is that it collects at
  * most `maxBars` rows of any table (plus its row count) to the driver.
  * Tables longer than `maxBars` are truncated with an explicit
  * "(first N of M)" title suffix, never silently.
  *
  * Visual spec (single-series bars): one hue for magnitude, neutral-ink
  * text, thin baseline-anchored marks with a 2px gap, recessive axes, no
  * legend (a single series is named by the title).
  */
object ChartRender {

  private val Accent = "#3987e5"  // single-series magnitude hue
  private val Surface = "#fcfcfb"
  private val InkPrimary = "#0b0b0b"
  private val InkSecondary = "#52514e"
  private val Grid = "#e4e3df"

  val maxBars = 40

  private def fmt(v: Double): String =
    if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
    else if (math.abs(v) >= 100) f"$v%.0f"
    else f"$v%.2f"

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** One single-series vertical bar chart as an SVG document string. */
  def svgBarChart(title: String, labels: Seq[String], values: Seq[Double],
                  width: Int = 720, height: Int = 360): String = {
    val (mL, mR, mT, mB) = (56, 16, 40, 70)
    val plotW = width - mL - mR
    val plotH = height - mT - mB
    val n = math.max(1, values.length)
    val vMax = if (values.isEmpty) 1.0 else math.max(values.max, 0.0)
    val vMin = if (values.isEmpty) 0.0 else math.min(values.min, 0.0)
    val span = if (vMax - vMin == 0.0) 1.0 else vMax - vMin
    def y(v: Double): Double = mT + plotH - (v - vMin) / span * plotH
    val slot = plotW.toDouble / n
    val barW = math.max(1.0, slot - 2.0) // 2px gap between adjacent bars
    val sb = new StringBuilder
    sb ++= s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height" font-family="sans-serif">\n"""
    sb ++= s"""<rect width="$width" height="$height" fill="$Surface"/>\n"""
    sb ++= s"""<text x="$mL" y="24" font-size="15" fill="$InkPrimary">${esc(title)}</text>\n"""
    // recessive horizontal gridlines + value labels at 4 ticks
    (0 to 4).foreach { t =>
      val v = vMin + span * t / 4.0
      val yy = y(v)
      sb ++= f"""<line x1="$mL" y1="$yy%.1f" x2="${mL + plotW}" y2="$yy%.1f" stroke="$Grid" stroke-width="1"/>%n"""
      sb ++= f"""<text x="${mL - 6}" y="${yy + 4}%.1f" font-size="10" fill="$InkSecondary" text-anchor="end">${esc(fmt(v))}</text>%n"""
    }
    val y0 = y(0.0)
    values.zipWithIndex.foreach { case (v, i) =>
      val x = mL + i * slot + (slot - barW) / 2
      val top = math.min(y(v), y0)
      val h = math.max(math.abs(y(v) - y0), 0.5)
      sb ++= f"""<rect class="bar" x="$x%.1f" y="$top%.1f" width="$barW%.1f" height="$h%.1f" rx="2" fill="$Accent"/>%n"""
    }
    // baseline on top of the bars
    sb ++= f"""<line x1="$mL" y1="$y0%.1f" x2="${mL + plotW}" y2="$y0%.1f" stroke="$InkSecondary" stroke-width="1"/>%n"""
    // x labels: at most ~12, every nth, rotated when long
    val every = math.max(1, n / 12)
    labels.zipWithIndex.foreach { case (l, i) =>
      if (i % every == 0) {
        val x = mL + i * slot + slot / 2
        val lab = esc(if (l.length > 14) l.take(13) + "…" else l)
        sb ++= f"""<text x="$x%.1f" y="${mT + plotH + 14}" font-size="10" fill="$InkSecondary" text-anchor="end" transform="rotate(-35 $x%.1f ${mT + plotH + 14})">$lab</text>%n"""
      }
    }
    sb ++= "</svg>\n"
    sb.toString
  }

  /** Render one chart table: label = first string column (else the first
    * column, cast), value = LAST numeric column — matching how every
    * [[ChartTables]] output is shaped (dimensions first, measure last). */
  def renderTable(name: String, df: DataFrame): String = {
    val labelCol = df.schema.fields.find(_.dataType == StringType)
      .map(_.name).getOrElse(df.columns.head)
    val valueCol = df.schema.fields.reverse
      .find(_.dataType.isInstanceOf[NumericType]).map(_.name)
      .getOrElse(df.columns.last)
    val total = df.count()
    val rows = df.limit(maxBars).collect()
    val labels = rows.map(r => String.valueOf(r.getAs[Any](labelCol))).toSeq
    val values = rows.map { r =>
      val v = r.getAs[Any](valueCol)
      if (v == null) 0.0 else v.toString.toDouble
    }.toSeq
    val title =
      if (total > maxBars) s"$name (first $maxBars of $total)" else name
    svgBarChart(title, labels, values)
  }

  /** Render every chart table to `outDir/<name>.svg`, the tables' jobs
    * side by side; returns the paths in name order. */
  def renderAll(charts: Map[String, DataFrame], outDir: String): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Scale.concurrently(charts.toSeq.sortBy(_._1)) { case (name, df) =>
      val path = s"$outDir/$name.svg"
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        renderTable(name, df).getBytes("UTF-8"))
      path
    }
  }
}
