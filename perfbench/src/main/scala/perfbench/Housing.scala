package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{HousingJobs, JobRunner}
import graft.operators.Cleaning
import graft.sources.{ListingParser, Sinks, Sources}

/** The paper's lifecycles over 11 generated daily page archives: a
  * scrape per day, one idempotent re-run, the multi-day analysis, the
  * SQL round trip through embedded Derby, and a config-driven ETL into
  * the JSON-lines (document-store shaped) sink.
  *
  * Input layout (written by `gen_housing.py`): one directory of `.html`
  * pages per date under `pages/`, `truth.json` with the expected cleaned
  * row count per day, and `expected.jsonl` with the rows themselves. */
final class Housing(in: String, work: String) extends Workload {
  private val truth = new ObjectMapper().readTree(new File(s"$in/truth.json"))
  private val days: Seq[(String, Long)] =
    truth.path("days").elements().asScala.map(d =>
      d.path("date").asText() -> d.path("rows").asLong()).toSeq
  private val totalRows = days.map(_._2).sum
  private val r2Min = truth.path("r2_min").asDouble()
  private val store = s"$work/daily"
  private val jsonDir = s"$work/docs"
  private val dbUrl = s"jdbc:derby:$work/derby/bench;create=true"
  private val jdbcProps = new java.util.Properties()
  private var pulledRows = 0L
  private var analyzeResult: Option[(Double, Seq[(String, Double)])] = None
  private var configResult: Map[String, Either[String, Long]] = Map.empty
  private var lastAppend = (0L, 0L)
  private var sqlTrips = 0

  def name: String = "housing"

  private def pageDir(date: String) = s"$in/pages/$date"

  private def jdbcCount(table: String): Long = {
    val c = DriverManager.getConnection(dbUrl, jdbcProps)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** The SQL round trip's source table: the first day's expected
    * cleaned rows, inserted over plain JDBC (no Spark job). */
  override def prepare(r: Runner): Unit = {
    val mapper = new ObjectMapper()
    val c = DriverManager.getConnection(dbUrl, jdbcProps)
    try {
      val st = c.createStatement()
      for (t <- Seq("apartments", "apartments_out"))
        st.execute(s"CREATE TABLE $t (name VARCHAR(200), price INT, city VARCHAR(100))")
      val ins = c.prepareStatement("INSERT INTO apartments VALUES (?, ?, ?)")
      val lines = scala.io.Source.fromFile(s"$in/expected.jsonl")
      try lines.getLines().map(mapper.readTree).filter(_.path("date").asText() == days.head._1)
        .foreach { row =>
          ins.setString(1, row.path("name").asText())
          if (row.path("price").isNull) ins.setNull(2, java.sql.Types.INTEGER)
          else ins.setInt(2, row.path("price").asInt())
          ins.setString(3, row.path("city").asText())
          ins.addBatch()
        }
      finally lines.close()
      ins.executeBatch()
    } finally c.close()
    pulledRows = jdbcCount("apartments")
  }

  private val configJson =
    s"""{"data_sources": {"parquet": {"listings": "$store"}}}"""

  /** Document-shaped projection for the JSON-lines load. */
  private val toDocument: DataFrame => DataFrame =
    _.select(col("name"), col("address"), col("price"), col("sqft"),
      col("bed"), col("bath"), col("zipcode"), col("city"), col("date").cast("string"))

  def ops: Seq[Op] = {
    // the store must hold every day's rows after the last day and
    // still exactly those after the re-run (dynamic partition overwrite)
    val storeCheck: Runner => Seq[String] = r => {
      val got = r.spark.read.parquet(store).count()
      if (got == totalRows) Nil else Seq(s"store holds $got rows, expected $totalRows")
    }
    val scrapes = days.map { case (date, rows) =>
      Op(s"scrape_$date", "scrape", "HousingJobs.scrapeDay", rows,
        r => HousingJobs.scrapeDay(r.spark, pageDir(date), store, date),
        if (date == days.last._1) storeCheck else _ => Nil)
    }
    val (d0, n0) = days.head
    val rerun = Op(s"rescrape_$d0", "scrape", "HousingJobs.scrapeDay", n0,
      r => HousingJobs.scrapeDay(r.spark, pageDir(d0), store, d0), storeCheck)
    val analyze = Op("analyze", "analyze", "HousingJobs.analyze", totalRows,
      r => {
        analyzeResult = None
        val (_, r2, coefs) = HousingJobs.analyze(r.spark, store, Housing.alphaGrid)
        analyzeResult = Some((r2, coefs))
      },
      _ => analyzeResult match {
        case Some((r2, _)) if r2 >= r2Min => Nil
        case Some((r2, _)) => Seq(f"analyze: r2 $r2%.4f below $r2Min")
        case None => Seq("analyze: no result")
      })
    val sql = Op("sql_round_trip", "sql", "HousingJobs.sqlRoundTrip", 2 * pulledRows,
      r => {
        val before = jdbcCount("apartments_out")
        sqlTrips += 1
        val n = HousingJobs.sqlRoundTrip(r.spark, dbUrl, "apartments", "apartments_out", jdbcProps)
        lastAppend = (n, jdbcCount("apartments_out") - before)
      },
      _ => lastAppend match {
        case (n, appended) if n == 2 * pulledRows && appended == n => Nil
        case (n, appended) => Seq(s"sql: returned $n, appended $appended, pulled $pulledRows")
      })
    val config = Op("config_etl", "config", "JobRunner.run", totalRows,
      r => {
        configResult = Map.empty
        configResult = JobRunner.run(r.spark, configJson,
          transforms = Map("listings" -> toDocument),
          load = (name, df) => Sinks.jsonLines(df, s"$jsonDir/$name"))
      },
      _ => configResult.get("listings") match {
        case Some(Right(n)) if n == totalRows => Nil
        case other => Seq(s"config: loaded $other, expected $totalRows")
      })
    scrapes :+ rerun :+ analyze :+ sql :+ config
  }

  /** Runs every op twice, but scrapes only one day (the re-run): each
    * day runs the same plan. `analyze` plans about 40 jobs, and its
    * second call in a JVM is still about a fifth slower than its third. */
  override def warm(r: Runner): Unit =
    for (_ <- 1 to 2) {
      beforePass(r)
      ops.filter(op => !op.name.startsWith("scrape_")).foreach { op => r.time(op); r.releaseCaches() }
    }

  override def beforePass(r: Runner): Unit = {
    FileUtils.deleteQuietly(new File(store))
    FileUtils.deleteQuietly(new File(jsonDir))
  }

  override def checkOutputs(r: Runner): Map[String, Any] = {
    val (r2, coefs) = analyzeResult.getOrElse((Double.NaN, Nil))
    Map(
      "store" -> store,
      "json_dir" -> s"$jsonDir/listings",
      "r2" -> r2,
      "coefficients" -> coefs.map { case (f, c) => Map("feature" -> f, "coef" -> c) },
      "pulled_rows" -> pulledRows,
      "sql_trips" -> sqlTrips,
      "appended_total" -> jdbcCount("apartments_out"),
      "total_rows" -> totalRows)
  }

  /** Each layer alone, over all days: its input is materialized first
    * and its output goes to the noop sink (or, for `Sinks`, to a scratch
    * directory), so only that layer's work is timed. */
  override def layers(r: Runner, plan: PlanProbe, traced: Seq[OpRecord]): Map[String, Double] = {
    val s = r.spark
    var scanS, parseS, cleanS, writeS = 0.0
    var pagesIn, rowsOut, emptyPages, cleanIn, cleanOut = 0L
    var scan = Map.empty[String, Long]
    var written = Map.empty[String, Long]
    var filesRead, filesListed = 0L
    val sinkDir = s"$work/layer_sink"
    FileUtils.deleteQuietly(new File(sinkDir))
    for ((date, _) <- days) {
      r.settle()
      plan.takeFiles()
      val (t1, c1) = r.measure(r.tracer.span("Sources.pageArchive") {
        Sources.pageArchive(s, pageDir(date)).write.format("noop").mode("overwrite").save()
      })
      scanS += t1
      scan = plus(scan, c1)
      filesRead += plan.takeFiles()
      filesListed += new File(pageDir(date)).list().length
      val pages = Sources.pageArchive(s, pageDir(date)).localCheckpoint()
      val nPages = pages.count()
      pagesIn += nPages
      val (t2, _) = r.measure(r.tracer.span("ListingParser.parsePages") {
        ListingParser.parsePages(pages, date).selectExpr(Cleaning.rawColumns: _*)
          .write.format("noop").mode("overwrite").save()
      })
      parseS += t2
      val raw = ListingParser.parsePages(pages, date).selectExpr(Cleaning.rawColumns: _*)
        .localCheckpoint()
      val nRaw = raw.count()
      rowsOut += nRaw
      emptyPages += nPages - raw.select("url").distinct().count()
      val (t3, _) = r.measure(r.tracer.span("Cleaning.cleanListings") {
        Cleaning.cleanListings(raw).write.format("noop").mode("overwrite").save()
      })
      cleanS += t3
      val cleaned = Cleaning.cleanListings(raw).localCheckpoint()
      cleanIn += nRaw
      cleanOut += cleaned.count()
      val (t4, c4) = r.measure(r.tracer.span("Sinks.overwriteDailyPartitions") {
        Sinks.overwriteDailyPartitions(cleaned, sinkDir)
      })
      writeS += t4
      written = plus(written, c4)
      r.releaseCaches()
    }
    val filesWritten = Files.walk(Paths.get(sinkDir)).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("part-"))
    // JDBC append of the materialized pull, alone
    val pulled = Sources.jdbcTable(s, dbUrl, "apartments", jdbcProps).localCheckpoint()
    val (tj, _) = r.measure(r.tracer.span("Sinks.jdbcAppend") {
      Sinks.jdbcAppend(pulled, dbUrl, "apartments_layer", dropCols = Seq.empty, props = jdbcProps)
    })
    val jdbcRows = pulled.count()
    // the analysis is a layer call already: its op in the traced pass
    val analyze = traced.find(_.group == "analyze")
    Map(
      "sources.files_read" -> filesRead.toDouble,
      "sources.bytes_read" -> scan.getOrElse("input_bytes", 0L).toDouble,
      "sources.rows_read" -> scan.getOrElse("input_records", 0L).toDouble,
      "sources.scan_s" -> scanS,
      "sources.pruned_share" -> (1.0 - filesRead.toDouble / filesListed),
      "parser.pages_in" -> pagesIn.toDouble,
      "parser.rows_out" -> rowsOut.toDouble,
      "parser.empty_page_share" -> emptyPages.toDouble / math.max(1L, pagesIn),
      "parser.s" -> parseS,
      "cleaning.rows_in" -> cleanIn.toDouble,
      "cleaning.rows_out" -> cleanOut.toDouble,
      "cleaning.drops" -> (cleanIn - cleanOut).toDouble,
      "cleaning.s" -> cleanS,
      "sinks.rows_written" -> written.getOrElse("output_records", 0L).toDouble,
      "sinks.files_written" -> filesWritten.toDouble,
      "sinks.bytes_written" -> written.getOrElse("output_bytes", 0L).toDouble,
      "sinks.write_s" -> writeS,
      "sinks.jdbc_rows" -> jdbcRows.toDouble,
      "sinks.jdbc_s" -> tj,
      "ml.fits" -> (Housing.alphaGrid.size * Housing.folds + 1).toDouble,
      "ml.cv_s" -> analyze.map(_.wallS).getOrElse(0.0),
      "ml.jobs" -> analyze.map(_.counters.getOrElse("jobs", 0L).toDouble).getOrElse(0.0),
      "ml.r2" -> analyzeResult.map(_._1).getOrElse(Double.NaN))
  }

  override def facts: Map[String, Any] = Map(
    "days" -> days.size, "rows" -> totalRows, "pages" -> truth.path("pages").asLong(),
    "pulled_rows" -> pulledRows)

  private def plus(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
}

object Housing {
  /** One ridge alpha: the default three-alpha grid makes 16 fits, which
    * alone outlasts a run. Five folds, as `PriceModel.crossValidate`. */
  val alphaGrid: Seq[Double] = Seq(1.0)
  val folds = 5
}
