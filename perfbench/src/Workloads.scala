package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analysis.CoverageQueries
import graft.ext.TxTable
import graft.ingest.{EtlCli, WideCsvIngest}
import graft.model.CampaignWindow
import graft.report.{PdfReport, PngChart}
import graft.streaming.MergeStream

/** The workloads. Each one: set up three times (the median is `setup_s`'s
  * share), warm up, then run closed-loop rounds and check every answer
  * against the reference model `gen.py` wrote to `inputs/expected.json`.
  * Operation samples are filed by kind: `op` (the write: a refresh, a
  * commit), `read` (a selection, a point + aggregate read) and `whole` (a
  * whole-table operation: the overview page, a compaction). */
object Workloads {

  val Window = CampaignWindow(2000, 5, 5)
  val SetupRounds = 3

  // ---- shared: one explorer selection -----------------------------------

  final case class Selection(series: Array[Row], stats: Row, antigens: Array[Row])

  /** One explorer selection against the fact at `factPath`, as the
    * dashboard issues it: the ordered series, the before/after Welch row
    * of the selection, and the antigens of its country. The fact is
    * opened per request; the engine keeps no fact cache. */
  def select(ctx: Ctx, factPath: String, country: String, antigen: String): Selection =
    ctx.tracer.span("analysis.request") {
      val fact = ctx.spark.read.parquet(factPath)
      val series = ctx.tracer.span("analysis.series") {
        CoverageQueries.seriesOf(fact, country, antigen).collect()
      }
      val stats = ctx.tracer.span("analysis.before_after") {
        CoverageQueries.beforeAfterFull(
          fact.filter(col("country") === country && col("antigen") === antigen), Window)
          .collect()
      }
      val antigens = ctx.tracer.span("analysis.antigens") {
        CoverageQueries.antigensFor(fact, country).collect()
      }
      require(stats.length == 1, s"selection $country/$antigen: ${stats.length} stats rows")
      Selection(series, stats.head, antigens)
    }

  def same(got: Any, want: JsonNode): Boolean = (got, want) match {
    case (null, w) => w.isNull
    case (_, w) if w.isNull => false
    case (g: Double, w) => g == w.asDouble || math.abs(g - w.asDouble) <= 1e-9 * math.max(1.0, math.abs(w.asDouble))
    case (g: Int, w) => w.canConvertToLong && g.toLong == w.asLong
    case (g: Long, w) => w.canConvertToLong && g == w.asLong
    case (g: String, w) => w.isTextual && g == w.asText
    case _ => false
  }

  def seriesMatches(series: Seq[(Int, Double)], want: JsonNode): Boolean =
    series.size == want.size && series.zip(want.asScala).forall { case ((y, v), w) =>
      same(y, w.get(0)) && same(v, w.get(1))
    }

  def statsMatch(row: Row, want: JsonNode): Boolean =
    Seq("n_before", "n_after", "mean_before", "mean_after").forall { f =>
      same(if (row.isNullAt(row.fieldIndex(f))) null else row.get(row.fieldIndex(f)), want.get(f))
    }

  def selectionMatches(s: Selection, want: JsonNode): Boolean =
    seriesMatches(s.series.map(r => (r.getInt(0), r.getDouble(1))).toSeq, want.get("series")) &&
      statsMatch(s.stats, want) &&
      s.antigens.map(_.getString(0)).toSeq == want.get("antigens").asScala.map(_.asText).toSeq

  // ---- etl_refresh ---------------------------------------------------------

  /** Untimed rounds before the loop: with one, the first timed refresh
    * still ran about 10 % above the steady latency. */
  val EtlWarmupRounds = 2

  /** One round = the weekly refresh and the explorer's first page on it:
    * `EtlCli.run` with a country+antigen selection over the wide CSV into a
    * fresh out dir (raw parquet, tidy fact, series CSV, stats row, PNG,
    * PDF), then the overview page (`kpis` + `index`, a whole-fact read) and
    * two selections against the freshly published fact: the refresh's own
    * and the one half the pool away, so each round yields two selection
    * samples. */
  def etlRefresh(ctx: Ctx): Unit = {
    val csv = ctx.inputs.resolve("wide.csv").toString
    val exp = ctx.expected
    val sels = exp.get("selections")
    val kpis = exp.get("kpis")
    val factRows = exp.get("fact_rows").asLong
    def explore(fact: String, sel: JsonNode, r: Int): Unit = {
      ctx.op("whole")(overview(ctx, fact)).foreach { case (k, idx) =>
        ctx.check(s"overview $r")(kpisMatch(k, kpis) && indexMatches(idx, kpis))
      }
      Seq(sel, sels.get(Math.floorMod(r + sels.size / 2, sels.size))).foreach { q =>
        ctx.op("read")(select(ctx, fact, q.get("country").asText, q.get("antigen").asText))
          .foreach(s => ctx.check(s"selection $r")(selectionMatches(s, q)))
      }
    }

    def round(r: Int, sel: JsonNode, out: Path): Unit = {
      val (country, antigen) = (sel.get("country").asText, sel.get("antigen").asText)
      val fact = out.resolve("immunization")
      val row = ctx.op("op")(ctx.tracer.span("ingest.refresh") {
        EtlCli.run(ctx.spark, EtlCli.Config(source = csv, out = out.toString,
          country = Some(country), antigen = Some(antigen)))
      })
      val stem = s"${WideCsvIngest.sanitizeName(country)}_${WideCsvIngest.sanitizeName(antigen)}"
      val series = scala.util.Try(csvSeries(out.resolve(s"coverage_$stem"))).getOrElse(Nil)
      row.foreach { r0 =>
        ctx.check(s"refresh $r") {
          r0.isDefined && statsMatch(r0.get, sel) &&
            seriesMatches(series, sel.get("series")) &&
            ctx.spark.read.parquet(fact.toString).count() == factRows &&
            Files.size(out.resolve(s"plot_$stem.png")) > 0 &&
            Files.size(out.resolve(s"report_$stem.pdf")) > 0
        }
        ctx.gauge("bytes_per_row", ctx.treeBytes(fact).toDouble / factRows)
        if (ctx.tracer.tracing && series.nonEmpty)
          r0.foreach(renderReport(ctx, out, series, country, antigen, _))
      }
      explore(fact.toString, sel, r)
      ctx.rmTree(out)
    }

    (0 until SetupRounds).foreach { i =>
      val out = ctx.work.resolve(s"setup-$i")
      ctx.setupRound(EtlCli.run(ctx.spark, EtlCli.Config(source = csv, out = out.toString)))
      ctx.rmTree(out)
    }
    // the last selections are never reached by a timed run
    ctx.warmup((1 to EtlWarmupRounds).foreach { i =>
      round(-i, sels.get(sels.size - i), ctx.work.resolve(s"warmup-$i"))
    })
    ctx.tracedWanted = 2
    ctx.loop(minRounds = 2, maxRounds = sels.size - EtlWarmupRounds) { r =>
      round(r, sels.get(r), ctx.work.resolve(s"refresh-$r"))
    }
    if (ctx.args.trace) Layers.etl(ctx)
  }

  /** The (year, coverage_pct) rows of the single-file series CSV artifact. */
  def csvSeries(dir: Path): Seq[(Int, Double)] = {
    val part = Files.list(dir).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.readAllLines(part).asScala.drop(1).filter(_.nonEmpty).map { l =>
      val Array(y, v) = l.split(',')
      (y.toInt, v.toDouble)
    }.toSeq
  }

  /** Traced rounds also time the report layer on its own, fed the
    * iteration's series and stats row. */
  private def renderReport(ctx: Ctx, out: Path, series: Seq[(Int, Double)],
      country: String, antigen: String, row: Row): Unit = {
    def opt(name: String): Option[Double] =
      if (row.isNullAt(row.fieldIndex(name))) None else Some(row.getAs[Double](name))
    ctx.tracer.span("report.png") {
      PngChart.writeCoveragePlot(series, country, antigen, Window.startYear,
        Window.preYears, Window.postYears, out.resolve("bench_plot.png").toString)
    }
    ctx.tracer.span("report.pdf") {
      PdfReport.writeReport(series, country, antigen, Window.startYear,
        Window.preYears, Window.postYears,
        PdfReport.Stats(opt("mean_before"), opt("mean_after"), opt("p_value")),
        out.resolve("bench_report.pdf").toString)
    }
  }

  /** The overview page: per-series KPIs and the (country, antigen) index
    * over the whole fact. */
  def overview(ctx: Ctx, fact: String): (Array[Row], Array[Row]) =
    ctx.tracer.span("analysis.overview") {
      val df = ctx.spark.read.parquet(fact)
      val k = ctx.tracer.span("analysis.kpis")(CoverageQueries.kpis(df).collect())
      val idx = ctx.tracer.span("analysis.index")(CoverageQueries.index(df).collect())
      (k, idx)
    }

  def kpisMatch(rows: Array[Row], want: JsonNode): Boolean =
    rows.length == want.size && rows.iterator.zip(want.asScala.iterator).forall { case (r, w) =>
      same(r.getString(0), w.get(0)) && same(r.getString(1), w.get(1)) &&
        same(r.getInt(2), w.get(2)) && same(r.getInt(3), w.get(3)) &&
        same(r.getLong(4), w.get(4)) && same(r.getDouble(5), w.get(5)) &&
        same(r.getDouble(6), w.get(6)) && same(r.getDouble(7), w.get(7))
    }

  def indexMatches(rows: Array[Row], want: JsonNode): Boolean =
    rows.length == want.size && rows.iterator.zip(want.asScala.iterator).forall { case (r, w) =>
      same(r.getString(0), w.get(0)) && same(r.getString(1), w.get(1))
    }

  // ---- tx_upsert -----------------------------------------------------------

  val ChangeSchema: StructType = StructType(Seq(
    StructField("fact_id", LongType), StructField("op", StringType),
    StructField("country", StringType), StructField("antigen", StringType),
    StructField("year", IntegerType), StructField("coverage_pct", DoubleType),
    StructField("pbucket", IntegerType)))
  val BatchesPerRound = 2
  /** Untimed rounds before the loop: with one, the first timed round still
    * ran at about twice the steady latency. */
  val WarmupRounds = 2

  /** One operation = stage one seeded changeset file and drain it as one
    * micro-batch with `MergeStream.mergeAvailableVersioned`, alternating
    * copy-on-write and merge-on-read. After each batch the newest version
    * gets a point read and a full aggregate read. A round is two batches
    * (one of each kind) and one `TxTable.compact`, the whole-table
    * operation. Samples are kept per kind (`op.cow`, `read.mor`, ...). */
  def txUpsert(ctx: Ctx): Unit = {
    val exp = ctx.expected
    val batches = exp.get("batches")
    val pool = ctx.inputs.resolve("changes")
    def init(dir: Path): Unit = TxTable.commitReplace(ctx.spark, dir.toString,
      ctx.spark.read.parquet(ctx.inputs.resolve("fact.parquet").toString),
      partitionCol = Some("pbucket"), statsCols = Seq("year", "fact_id"))

    def round(t: TxRun, r: Int): Int = {
      val last = (r + 1) * BatchesPerRound - 1
      (r * BatchesPerRound to last).foreach(b => t.batch(b, batches.get(b)))
      ctx.gauge("bytes_per_row", t.bytesPerRow(r))
      t.compact(r)
      ctx.check(s"metaCount after round $r") {
        TxTable.metaCount(ctx.spark, t.table.toString) == batches.get(last).get("rows").asLong
      }
      last + 1
    }

    (0 until SetupRounds).foreach { i =>
      val table = ctx.work.resolve(s"table-$i")
      ctx.setupRound(init(table))
      if (i == 0) ctx.warmup {
        val t = new TxRun(ctx, table, ctx.work.resolve("warm"), pool)
        (0 until WarmupRounds).foreach(round(t, _))
        ctx.rmTree(ctx.work.resolve("warm"))
      }
      if (i < SetupRounds - 1) ctx.rmTree(table)
    }
    val t = new TxRun(ctx, ctx.work.resolve(s"table-${SetupRounds - 1}"), ctx.work.resolve("feed"), pool)
    ctx.tracedWanted = 1
    var applied = 0
    ctx.loop(minRounds = 1, maxRounds = batches.size / BatchesPerRound) { r =>
      applied = round(t, r)
    }
    t.dumpFinalState(ctx.work.resolve("final_state.tsv"), batches.get(applied - 1).get("rows").asLong)
    ctx.extra.put("batches_applied", Long.box(applied))
    if (ctx.args.trace) Layers.tx(ctx, t)
  }

  /** One versioned table fed by one change stream. */
  final class TxRun(ctx: Ctx, val table: Path, feed: Path, pool: Path) {
    private val ckpt = feed.resolveSibling(feed.getFileName.toString + "-ckpt")
    Files.createDirectories(feed)
    /** Per traced batch: (batch, merge-on-read?, bytes of its new log files). */
    val logBytes = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Long)]
    /** Per round: the live layout just before compaction, and the bytes the
      * compaction wrote. */
    val layouts = scala.collection.mutable.ArrayBuffer.empty[(Int, TxTable.Manifest)]
    val compactBytes = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    private def logDir = table.resolve("_graft_log")

    def batch(b: Int, want: JsonNode): Unit = {
      val moR = b % 2 == 1
      val file = want.get("file").asText
      Files.copy(pool.resolve(file), feed.resolve(file), StandardCopyOption.REPLACE_EXISTING)
      val logBefore = if (ctx.tracer.tracing) logFiles() else Map.empty[String, Long]
      val kind = if (moR) "mor" else "cow"
      val committed = ctx.op(s"op.$kind")(ctx.tracer.span("streaming.batch",
          Map("moR" -> moR.toString, "batch" -> b.toString)) {
        MergeStream.mergeAvailableVersioned(ctx.spark, table.toString, feed.toString,
          ChangeSchema, ckpt.toString, keyCol = "fact_id", moR = moR)
      })
      if (ctx.tracer.tracing) logBytes += ((b, moR,
        logFiles().collect { case (f, n) if !logBefore.contains(f) => n }.sum))
      committed.foreach(n => ctx.check(s"batch $b commits")(n == 1L))
      val keys = want.get("points").asScala.map(_.get(0).asLong).toSeq
      ctx.op(s"read.$kind")(ctx.tracer.span("txtable.read")(read(keys))).foreach { case (points, agg) =>
        ctx.check(s"read after batch $b") {
          pointsMatch(points, want.get("points")) && aggMatches(agg, want.get("agg"))
        }
      }
    }

    def read(keys: Seq[Long]): (Array[Row], Array[Row]) = {
      val points = TxTable.readPoint(ctx.spark, table.toString, "fact_id", keys.map(_.toString))
        .collect()
      val agg = TxTable.read(ctx.spark, table.toString).groupBy("antigen")
        .agg(count(lit(1)), sum(round(col("coverage_pct") * 10).cast("long")))
        .collect()
      (points, agg)
    }

    def compact(r: Int): Unit = {
      val before = manifest().files.map(_.path).toSet
      ctx.op("whole")(ctx.tracer.span("txtable.compact") {
        TxTable.compact(ctx.spark, table.toString, "pbucket")
      })
      compactBytes += ((r, manifest().files.filterNot(f => before(f.path))
        .map(f => Files.size(table.resolve(f.path))).sum))
    }

    def manifest(): TxTable.Manifest = TxTable.readManifest(ctx.spark, table.toString,
      TxTable.latestVersion(ctx.spark, table.toString).get)

    /** Live data bytes plus deletion-vector sidecar bytes per live row. */
    def bytesPerRow(r: Int): Double = {
      val m = manifest()
      layouts += ((r, m))
      val data = m.files.map(f => Files.size(table.resolve(f.path))).sum
      val dv = m.files.flatMap(_.dvs.map(_.dir)).distinct.map(d => ctx.treeBytes(table.resolve(d))).sum
      val rows = m.files.map(f => f.rows - f.dvs.map(_.rows).sum).sum
      (data + dv).toDouble / rows
    }

    def logFiles(): Map[String, Long] =
      Files.list(logDir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.getFileName.toString -> Files.size(p)).toMap

    def pointsMatch(rows: Array[Row], want: JsonNode): Boolean = {
      val got = rows.map(r => r.getAs[Long]("fact_id") -> r).toMap
      got.size == rows.length && want.asScala.forall { w =>
        val row = w.get(1)
        got.get(w.get(0).asLong) match {
          case None => row.isNull
          case Some(g) => !row.isNull &&
            Seq("fact_id", "country", "antigen", "year", "coverage_pct", "pbucket")
              .zipWithIndex.forall { case (f, i) => same(g.get(g.fieldIndex(f)), row.get(i)) }
        }
      } && got.keySet.forall(k => want.asScala.exists(w => w.get(0).asLong == k && !w.get(1).isNull))
    }

    def aggMatches(rows: Array[Row], want: JsonNode): Boolean =
      rows.length == want.size && rows.forall { r =>
        val w = want.get(r.getString(0))
        w != null && same(r.getLong(1), w.get(0)) && same(r.getLong(2), w.get(1))
      }

    /** The final state for run.py to compare with its own replay, plus the
      * metadata row count against the data. */
    def dumpFinalState(to: Path, rows: Long): Unit = {
      val df = TxTable.read(ctx.spark, table.toString)
      val all = df.select("fact_id", "country", "antigen", "year", "coverage_pct", "pbucket")
        .orderBy("fact_id").collect()
      ctx.check("final metaCount") {
        TxTable.metaCount(ctx.spark, table.toString) == all.length && all.length == rows
      }
      val lines = all.iterator.map { r =>
        s"${r.getLong(0)}\t${r.getString(1)}\t${r.getString(2)}\t${r.getInt(3)}\t" +
          s"${java.lang.Double.doubleToLongBits(r.getDouble(4))}\t${r.getInt(5)}"
      }
      Files.write(to, lines.toSeq.asJava)
    }
  }
}
