package graft

import java.time.LocalDate
import java.time.format.DateTimeParseException
import org.apache.spark.sql.SparkSession

/** The reference's CLI driver (reference: etl_pipeline.py:661-731),
  * re-expressed over the Spark pipeline:
  *
  *   graft.Main --start-date 2024-01-15 [--end-date 2024-01-17]
  *   graft.Main --analyze-dates
  *
  * `--analyze-dates` prints the drop's date histogram (file counts,
  * bytes, mtime range) and exits, like the reference's
  * `analyze_bucket_dates`. Otherwise each day in [start, end] runs the
  * full day pipeline and loads the result plus a processing-log entry
  * over JDBC, with per-day success accounting ("Successfully processed
  * X out of Y days"). Dates are validated (format, start ≤ end) and
  * the DB connection is tested up front — all before any Spark job.
  *
  * Configuration comes from the environment via [[EtlConfig]]
  * (GRAFT_DROP_DIR, GRAFT_JDBC_URL or GRAFT_DB_*, ...).
  *
  * Exit codes: 0 ok (days with no files are skipped, not failed),
  * 1 at least one day FAILED, 2 bad usage/dates, 3 configuration/
  * connection. */
object Main {

  private val usage =
    """usage: graft.Main [--start-date YYYY-MM-DD] [--end-date YYYY-MM-DD]
      |                  [--table NAME] [--analyze-dates]
      |
      |  --start-date    first day to process (required unless --analyze-dates)
      |  --end-date      last day to process (default: start-date)
      |  --table         target table (default: $GRAFT_TABLE or table_name)
      |  --analyze-dates analyze available dates in the drop dir and exit
      |
      |environment: GRAFT_DROP_DIR, and GRAFT_JDBC_URL or
      |  GRAFT_DB_TYPE/HOST/PORT/NAME, plus GRAFT_DB_USER/GRAFT_DB_PASSWORD
      |""".stripMargin

  final case class Args(startDate: Option[String] = None,
                        endDate: Option[String] = None,
                        table: Option[String] = None,
                        analyzeDates: Boolean = false)

  def parseArgs(args: Seq[String]): Either[String, Args] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Args): Either[String, Args] = rest match {
      case Nil => Right(acc)
      case "--start-date" :: v :: t => loop(t, acc.copy(startDate = Some(v)))
      case "--end-date" :: v :: t   => loop(t, acc.copy(endDate = Some(v)))
      case "--table" :: v :: t      => loop(t, acc.copy(table = Some(v)))
      case "--analyze-dates" :: t   => loop(t, acc.copy(analyzeDates = true))
      case other :: _ => Left(s"unknown argument: $other")
    }
    loop(args.toList, Args())
  }

  /** Testable core: returns the process exit code; `out` receives the
    * user-facing lines (stdout in [[main]]). */
  def run(args: Seq[String], spark: SparkSession, env: Map[String, String],
          out: String => Unit = println): Int = {
    parseArgs(args) match {
      case Left(err) =>
        out(err); out(usage); 2
      case Right(a) if a.analyzeDates =>
        env.get("GRAFT_DROP_DIR").map(_.trim).filter(_.nonEmpty) match {
          case None => out("Missing required environment variables: GRAFT_DROP_DIR"); 3
          case Some(drop) =>
            val hist = sources.FileCatalog.dateHistogram(spark, drop)
              .selectExpr("CAST(extracted_date AS STRING) AS extracted_date",
                "n_files", "total_bytes")
              .orderBy("extracted_date").collect()
            out(s"Found ${hist.length} distinct dates in $drop")
            hist.foreach { r =>
              out(s"  ${r.getAs[String]("extracted_date")}  " +
                s"files=${r.getAs[Long]("n_files")} bytes=${r.getAs[Long]("total_bytes")}")
            }
            0
        }
      case Right(a) =>
        a.startDate match {
          case None =>
            out("--start-date is required unless using --analyze-dates")
            out(usage); 2
          case Some(startStr) =>
            val endStr = a.endDate.getOrElse(startStr)
            val parsed =
              try Right((LocalDate.parse(startStr), LocalDate.parse(endStr)))
              catch { case _: DateTimeParseException =>
                Left("Invalid date format. Please use YYYY-MM-DD") }
            parsed match {
              case Left(err) => out(err); 2
              case Right((start, end)) if start.isAfter(end) =>
                out(s"Start date ($startStr) is after end date ($endStr)"); 2
              case Right((start, end)) =>
                EtlConfig.fromEnv(env) match {
                  case Left(err) =>
                    out(err)
                    out("Database connection is required. " +
                      "Please check your database configuration.")
                    3
                  case Right(cfg0) =>
                    val cfg = a.table.fold(cfg0)(t => cfg0.copy(table = t))
                    EtlConfig.testConnection(cfg) match {
                      case Left(err) => out(err); 3
                      case Right(()) => process(spark, cfg, start, end, out)
                    }
                }
            }
        }
    }
  }

  /** The reference's day loop (etl_pipeline.py:708-727): per-day
    * pipeline + JDBC load + audit entry; one day's failure doesn't
    * abort the range, but makes the run's exit code 1. */
  private def process(spark: SparkSession, cfg: EtlConfig,
                      start: LocalDate, end: LocalDate,
                      out: String => Unit): Int = {
    val days = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end)).toSeq
    out(s"Processing data from $start to $end")
    out(s"Will process ${days.length} day(s) of data")
    var successful = 0
    var failed = 0
    days.foreach { day =>
      try {
        EtlPipeline.processDay(spark, cfg.dropDir, day.toString,
            sink = sinks.Sinks.writeJdbc(_, cfg.jdbc), tableName = cfg.table) match {
          case None =>
            out(s"$day: no files found, skipping")
          case Some(log) =>
            sinks.Sinks.writeJdbc(sinks.ProcessingLog.toDf(spark, Seq(log)), cfg.jdbcLog)
            out(s"$day: loaded ${log.total_row_count} rows " +
              s"from ${log.files_processed} file(s)")
            successful += 1
        }
      } catch {
        case e: Exception =>
          out(s"$day: FAILED — ${e.getMessage}")
          failed += 1
      }
    }
    out("=" * 50)
    out("PROCESS COMPLETE")
    out("=" * 50)
    out(s"Successfully processed $successful out of ${days.length} days.")
    if (successful > 0) {
      out(s"All merged data has been loaded to the '${cfg.table}' table.")
      out(s"Processing logs are available in the '${cfg.logTable}' table.")
    }
    if (failed > 0) 1 else 0
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .appName("graft-etl")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rc = try run(args.toSeq, spark, sys.env) finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}
