package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.{ColumnDef, TableDef}

/** Per-column value conversions, the reference's dumperAuxFuncs.py
  * re-expressed as codegen'd Column transforms (no UDFs — every rule
  * is a Catalyst expression tree, so it runs inside whole-stage
  * codegen and distributes with the scan).
  *
  * Dispatch mirrors rules/mysql_raw_dump.json: by mapped type
  * (boolean->convertStrBoolean, bytea->makeItEmpty, TIME->makeItTime),
  * by fullType (datetime/date -> zero-date fixes), by reference
  * presence (refToNullable).
  */
object ValueRules {

  /** dumperAuxFuncs.convertStrBoolean: None/0/'0' -> false, any other
    * int-ish value -> true. */
  def convertStrBoolean(c: Column): Column =
    when(c.isNull, lit(false))
      .otherwise(coalesce(c.cast(IntegerType), lit(1)) =!= 0)

  /** dumperAuxFuncs.defaultDate/notNullableDate: zero-dates
    * ('0000-...') and NULL -> NULL when nullable else '1900-01-01'.
    * Operates on the string form, as the reference does (it disables
    * pymysql date decoding precisely to see the raw '0000-00-00'). */
  def notNullableDate(c: Column, nullable: Boolean): Column = {
    val isZero = c.isNull || isZeroDate(c)
    if (nullable) when(isZero, lit(null).cast(StringType)).otherwise(c)
    else when(isZero, lit("1900-01-01")).otherwise(c)
  }

  private def isZeroDate(c: Column): Column = substring(c, 1, 4) === "0000"

  /** dumperAuxFuncs.refToNullable: FK value 0 -> NULL when the column
    * is nullable (MySQL uses 0 where PG wants NULL for "no parent"). */
  def refToNullable(c: Column, nullable: Boolean): Column =
    if (nullable) nullif(c, lit(0)) else c

  /** dumperAuxFuncs.makeItEmpty: bytea payloads are not migrated —
    * NULL when nullable, empty otherwise. */
  def makeItEmpty(c: Column, nullable: Boolean): Column =
    if (nullable) lit(null).cast(StringType) else lit("")

  /** dumperAuxFuncs.makeItTime: keep values matching dd:dd, else NULL
    * or '00:00'. */
  def makeItTime(c: Column, nullable: Boolean): Column = {
    val valid = isValidTime(c)
    if (nullable) when(valid, c).otherwise(lit(null).cast(StringType))
    else when(valid, c).otherwise(lit("00:00"))
  }

  private def isValidTime(c: Column): Column =
    c.isNotNull && c.rlike("^\\d\\d:\\d\\d")

  /** PsqlParser._supaFilta: render a cell for the PG \copy CSV dump —
    * NULL literal for nulls, true/false for booleans, single-quoted
    * with '' escaping for strings. */
  def pgEscapeString(c: Column): Column =
    when(c.isNull, lit("NULL"))
      .otherwise(concat(lit("'"), regexp_replace(c, "'", "''"), lit("'")))

  def pgEscapeBoolean(c: Column): Column =
    when(c.isNull, lit("NULL")).otherwise(when(c, "true").otherwise("false"))

  /** One value conversion of the raw dump: `kind` names it in the
    * migration report, `convert` rewrites a cell, and `rewrites` is
    * true on exactly the cells `convert` changes (never NULL, so
    * `count(when(rewrites, ...))` counts them). */
  final case class RawDumpRule(kind: String, convert: Column => Column,
      rewrites: Column => Column)

  /** The rules/mysql_raw_dump.json dispatch
    * (PsqlParser._get_table_raw_dump_rules): pick a column's value
    * conversion from its post-rules schema attributes — mapped type
    * (boolean/bytea/time), declared fullType (datetime/date on string
    * payloads), FK reference presence — given the Spark type the
    * extracted frame carries for it. None leaves the column as is. */
  def rawDumpRule(cd: ColumnDef, dt: DataType): Option[RawDumpRule] = {
    val n = cd.nullable
    cd.dataType match {
      case "boolean" => Some(RawDumpRule("boolean_coerced", convertStrBoolean,
        c => c.isNull || !coalesce(c.cast(IntegerType).isin(0, 1), lit(false))))
      case "bytea" => Some(RawDumpRule("bytea_emptied", makeItEmpty(_, n),
        c => if (n) c.isNotNull else c.isNull || c.cast(StringType) =!= ""))
      case "time" | "TIME" => Some(RawDumpRule("invalid_time", makeItTime(_, n),
        c => if (n) c.isNotNull && !isValidTime(c) else !isValidTime(c)))
      // date and datetime alike (the reference's notNullableDatetime
      // returns the same bare '1900-01-01')
      case _ if cd.fullType.startsWith("date") && dt == StringType =>
        Some(RawDumpRule(if (n) "zero_date_to_null" else "zero_date_to_1900",
          notNullableDate(_, n),
          c => if (n) coalesce(isZeroDate(c), lit(false))
            else c.isNull || isZeroDate(c)))
      case _ if cd.reference.isDefined && n =>
        Some(RawDumpRule("fk_zero_to_null", refToNullable(_, n),
          c => coalesce(c === 0, lit(false))))
      case _ => None
    }
  }

  /** The columns of `df` the dispatch converts for `td`, with the rule
    * each gets, in column order. */
  def rawDumpRules(df: DataFrame, td: TableDef): Seq[(String, RawDumpRule)] = {
    val byName = td.liveColumns.map(c => c.name -> c).toMap
    df.schema.fields.toSeq.flatMap(f =>
      byName.get(f.name).flatMap(rawDumpRule(_, f.dataType)).map(f.name -> _))
  }

  /** Applies the dispatch as one projection over the extracted frame. */
  def applyRawDump(df: DataFrame, td: TableDef): DataFrame = {
    val rules = rawDumpRules(df, td).toMap
    df.select(df.columns.toSeq.map(name =>
      rules.get(name).fold(col(name))(_.convert(col(name)).as(name))): _*)
  }
}
