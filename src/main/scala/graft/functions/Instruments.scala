package graft.functions

import java.time.LocalDate

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Parsed components of a Deribit-style instrument name — the
  * reference's ParsedInstrument value object
  * (`utils/instrument_parser.py:44-62`). */
final case class ParsedInstrument(
    instrumentName: String,
    underlying: String,
    expiry: LocalDate,
    strike: Double,
    optionType: String)

/** Instrument-name parse/format (SURVEY §2.7 P1-P3), twice over:
  * pure Scala (driver-side validation, property tests) and columnar
  * Catalyst expressions (`regexp_extract` ×N + `make_date`) for the
  * distributed path — no UDFs, fully codegen'd.
  *
  * Format: `{UNDERLYING}-{DMMMYY}-{STRIKE}-{C|P}` e.g.
  * `BTC-27DEC24-100000-C` (`utils/instrument_parser.py:20-25`). Day is
  * NOT zero-padded on format but 1-2 digits accepted on parse; year is
  * 2-digit, 2000-based (`instrument_parser.py:85-90`).
  *
  * Divergence note: an in-pattern-but-impossible date (e.g. 31FEB25)
  * yields null expiry here (Spark `make_date` is null-safe) where the
  * reference raises; the validity flag [[isValidCol]] covers it.
  */
object Instruments {

  val months: Vector[String] = Vector(
    "JAN", "FEB", "MAR", "APR", "MAY", "JUN",
    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

  /** One regex, split groups: 1=underlying 2=day 3=month 4=yy 5=strike
    * 6=type (the reference's INSTRUMENT_PATTERN with expiry subdivided,
    * `instrument_parser.py:21-26` + `:78`). */
  val pattern: String =
    "^(BTC|ETH)-(\\d{1,2})([A-Z]{3})(\\d{2})-(\\d+)-([CP])$"

  private val regex = pattern.r

  // ---- pure Scala (P1/P2) ----

  def parse(name: String): Option[ParsedInstrument] = name match {
    case regex(u, day, mon, yy, strike, ot) =>
      val m = months.indexOf(mon)
      if (m < 0) None
      else
        try Some(ParsedInstrument(
          name, u, LocalDate.of(2000 + yy.toInt, m + 1, day.toInt),
          strike.toDouble, ot))
        catch { case _: java.time.DateTimeException => None }
    case _ => None
  }

  def isValid(name: String): Boolean = parse(name).isDefined

  /** P3 inverse: day unpadded, strike as integer, month uppercased. */
  def format(
      underlying: String, expiry: LocalDate, strike: Double,
      optionType: String): String = {
    require(underlying == "BTC" || underlying == "ETH",
      s"Invalid underlying: $underlying")
    require(optionType == "C" || optionType == "P",
      s"Invalid option type: $optionType")
    val mon = months(expiry.getMonthValue - 1)
    f"$underlying-${expiry.getDayOfMonth}$mon${expiry.getYear % 100}%02d-${strike.toLong}-$optionType"
  }

  // ---- columnar (distributed path) ----

  private def grp(name: Column, i: Int): Column =
    nullif(regexp_extract(name, pattern, i), lit(""))

  def underlyingCol(name: Column): Column = grp(name, 1)

  def monthNumCol(monName: Column): Column =
    months.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (m, i)) => when(monName === m, lit(i + 1)).otherwise(acc)
    }

  /** P2: `27DEC24` components → DateType; null when unparseable. */
  def expiryCol(name: Column): Column =
    make_date(
      grp(name, 4).cast("int") + lit(2000),
      monthNumCol(grp(name, 3)),
      grp(name, 2).cast("int"))

  def strikeCol(name: Column): Column = grp(name, 5).cast("double")

  def optionTypeCol(name: Column): Column = grp(name, 6)

  def isValidCol(name: Column): Column =
    name.isNotNull && name.rlike(pattern) && expiryCol(name).isNotNull

  /** P3 columnar formatter (used by test-data derivations). */
  def formatCol(
      underlying: Column, expiry: Column, strike: Column,
      optionType: Column): Column = {
    val mon = months.zipWithIndex.foldLeft(lit("")) {
      case (acc, (m, i)) => when(month(expiry) === (i + 1), m).otherwise(acc)
    }
    concat(
      underlying, lit("-"),
      dayofmonth(expiry).cast("string"), mon,
      lpad((year(expiry) % 100).cast("string"), 2, "0"),
      lit("-"), strike.cast("long").cast("string"),
      lit("-"), optionType)
  }

  // ---- DuckDB oracle spellings of the same parse ----

  private def duckGrp(col: String, i: Int): String =
    s"nullif(regexp_extract($col, '$pattern', $i), '')"

  def duckUnderlying(col: String): String = duckGrp(col, 1)

  def duckMonthNum(monExpr: String): String =
    months.zipWithIndex
      .map { case (m, i) => s"WHEN '$m' THEN ${i + 1}" }
      .mkString(s"CASE $monExpr ", " ", " ELSE NULL END")

  /** DuckDB's make_date RAISES on an in-pattern-but-impossible day
    * (e.g. 31FEB25) where Spark's returns NULL — guard the day against
    * the month's last day so the oracle mirrors the null instead of
    * crashing the whole query. (make_date(y, m, 1) is safe: the month
    * number comes from the validated month-name CASE or is NULL, and
    * make_date is null-safe.) */
  def duckExpiry(col: String): String = {
    val y = s"2000 + CAST(${duckGrp(col, 4)} AS INTEGER)"
    val m = duckMonthNum(duckGrp(col, 3))
    val d = s"CAST(${duckGrp(col, 2)} AS INTEGER)"
    s"""(CASE WHEN $d BETWEEN 1 AND
       |   extract(day FROM last_day(make_date($y, $m, 1)))
       | THEN make_date($y, $m, $d) END)""".stripMargin
  }

  def duckStrike(col: String): String =
    s"CAST(${duckGrp(col, 5)} AS DOUBLE)"

  def duckOptionType(col: String): String = duckGrp(col, 6)

  def duckIsValid(col: String): String =
    s"($col IS NOT NULL AND regexp_matches($col, '$pattern') AND (${duckExpiry(col)}) IS NOT NULL)"
}
