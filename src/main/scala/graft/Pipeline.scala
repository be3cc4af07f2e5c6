package graft

import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}

import graft.rules._
import graft.schema._
import graft.sources.PgCopyWriter
import graft.sqlgen.PgSqlGen

/** End-to-end migration orchestration — the reference's main.py flow
  * (introspect → rules → pre-SQL → extract → convert → artifacts)
  * over Spark. Where the reference forks a multiprocessing pool per
  * database (/root/reference/main.py:124-189), here each table is an
  * independent lazy plan and Spark schedules all partitions across
  * the cluster; the driver-side loop only submits jobs.
  *
  * One pass per table: a migration opens each source table once (one
  * footer read), runs one write job per table (plus the broadcasts its
  * joins need), and takes the row and conversion counts from an
  * Observation on that write — nothing is counted or re-read after.
  */
object Pipeline {

  /** Output sink for extracted tables: the reference's PG \copy CSV
    * dialect, or a partitioned parquet lake (the modern migration
    * target — partition columns become directory pruning keys for
    * every downstream scan). */
  sealed trait Sink
  case object PgCsv extends Sink
  case class ParquetLake(partitionBy: Map[String, Seq[String]] = Map.empty)
      extends Sink

  /** `cells` of `column` rewritten by the raw-dump rule `rule`
    * (a `ValueRules.RawDumpRule` kind). */
  case class Conversion(column: String, rule: String, cells: Long)

  case class TableResult(originalName: String, outputName: String,
      rows: Long, ddl: String, copySql: String,
      conversions: Seq[Conversion])

  /** `originals` are the introspected source schemas the migration
    * planned from (with the caller's pks and indexes), in `tables`
    * order; writeArtifacts renders the schema JSONs from them. */
  case class MigrationResult(tables: Seq[TableResult],
      schemaSql: String, constraintsSql: String, viewsSql: String,
      originals: Seq[TableDef])

  /** Per-migration source memo: each table is loaded once, so its
    * parquet footer is read once (the schema-inference job), and
    * introspection, the table's own extract and every `_JOIN_` /
    * orphan-parent / pre-SQL lookup share that frame. A `lazy val`
    * per entry makes two threads asking for one table share one load. */
  private final class Sources(spark: SparkSession, sfDir: String)
      extends (String => DataFrame) {
    private final class Entry(t: String) {
      lazy val frame: DataFrame = Tables.load(spark, sfDir, t)
    }
    private val entries = TrieMap.empty[String, Entry]
    def apply(t: String): DataFrame =
      entries.getOrElseUpdate(t, new Entry(t)).frame
  }

  /** The rules half of a table's plan: user changes, then the node
    * type map. None when the change-set skips the table. */
  private def target(orig: TableDef, changes: SchemaChanges,
      node: NodeRules): Option[TableDef] =
    SchemaRules.applyTable(orig, changes).map(SchemaRules.applyNode(_, node))

  /** The extract half: pre-SQL, `_JOIN_`s, `_WHERE_`, renames and
    * casts over the source frame. */
  private def extract(load: String => DataFrame, orig: TableDef,
      changes: SchemaChanges, node: NodeRules,
      skipPreSql: Boolean): DataFrame =
    Projector.extract(load(orig.name), orig, changes.forTable(orig.name),
      load, Some(node), skipPreSql)

  /** The per-table extract+convert plan migrate dumps: rules-driven
    * extraction (where/joins/renames/casts) followed by the raw-dump
    * value conversions. migrate composes the same `extract` and
    * `ValueRules.applyRawDump`, only with its counters observed in
    * between, so the etl_pipeline_dump oracle key compares the dump
    * bytes against EXACTLY the frame that rendered them — any drift
    * between this plan and what migrate writes would be a correctness
    * bug. */
  def convertedFrame(spark: SparkSession, sfDir: String, table: String,
      changes: SchemaChanges,
      node: NodeRules = NodeRules.mysqlToPg,
      skipPreSql: Boolean = false): DataFrame = {
    val load = new Sources(spark, sfDir)
    val orig = Introspect.fromSpark(load(table), table)
    val td = target(orig, changes, node).getOrElse(
      throw new IllegalArgumentException(
        s"table $table is skipped by the change-set"))
    ValueRules.applyRawDump(extract(load, orig, changes, node, skipPreSql), td)
  }

  /** A table's counters, taken in the pass that writes it: rows, plus
    * the cells each raw-dump rule rewrites, observed on the extracted
    * frame. The conversions are one projection above it, so its row
    * count is the written one — the frame's rows, not the dump's
    * lines (a string cell with an embedded newline is one row but two
    * file lines). The Observation is unnamed, i.e. UUID-named:
    * migrateAll runs same-named tables of several databases
    * concurrently in one session. */
  private final class Tally(extracted: DataFrame, td: TableDef) {
    private val rules = ValueRules.rawDumpRules(extracted, td)
    private val observation = Observation()
    val frame: DataFrame = extracted.observe(observation,
      count(lit(1)).as("rows"),
      rules.zipWithIndex.map { case ((c, r), i) =>
        count(when(r.rewrites(col(c)), true)).as(s"rule$i") }: _*)
    /** Blocks until the write that ran `frame` has reported. */
    def rows: Long = observation.get("rows").asInstanceOf[Long]
    def conversions: Seq[Conversion] = {
      val m = observation.get
      rules.zipWithIndex.map { case ((c, r), i) =>
        Conversion(c, r.kind, m(s"rule$i").asInstanceOf[Long]) }
    }
  }

  /** Migrate a set of parquet-backed tables: apply schema rules,
    * extract per rules (where/joins/renames/casts), write PG-dialect
    * CSV dumps, and emit the full DDL bundle (create tables + FKs +
    * indexes + setvals + v1-compat views). Each source table is read
    * once and each output written once; rows and conversion counts
    * come from the write's Observation. */
  def migrate(spark: SparkSession, sfDir: String, outDir: String,
      tables: Seq[String], changes: SchemaChanges,
      node: NodeRules = NodeRules.mysqlToPg,
      pks: Map[String, Seq[String]] = Map.empty,
      skipPreSql: Boolean = false,
      sink: Sink = PgCsv,
      indexes: Map[String, Seq[IndexDef]] = Map.empty): MigrationResult = {

    // the reference forks a multiprocessing pool per table
    // (main.py:124-189); here the footer reads, then each table's
    // write, are independent Spark jobs submitted concurrently —
    // partitions of all tables interleave across the cluster, so
    // small tables don't serialize behind big ones.
    // The pool MUST be shut down before returning: its threads are
    // non-daemon, and a leaked pool keeps the whole JVM alive after
    // main() returns (a hung Verify/Bench process, found the hard way)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, tables.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def all[A, B](xs: Seq[A])(f: A => B): Seq[B] =
      Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    val load = new Sources(spark, sfDir)

    try {
      val originals = all(tables)(t =>
        Introspect.fromSpark(load(t), t,
          pk = pks.getOrElse(t, Nil), indexes = indexes.getOrElse(t, Nil)))
      val changedByOriginal = originals.flatMap(o =>
        target(o, changes, node).map(o -> _))
      val results = all(changedByOriginal) { case (orig, td) =>
        // extraction + per-column raw-dump value conversions
        // (boolean/bytea/time/zero-date/FK-zero), as the reference does
        // between extraction and CSV rendering
        val tally = new Tally(
          extract(load, orig, changes, node, skipPreSql), td)
        val converted = ValueRules.applyRawDump(tally.frame, td)
        val outPath = s"$outDir/${td.name}"
        sink match {
          case PgCsv => PgCopyWriter.write(converted, outPath)
          case ParquetLake(partitionBy) =>
            val w = converted.write.mode("overwrite")
            partitionBy.get(orig.name).filter(_.nonEmpty)
              .fold(w)(cols => w.partitionBy(cols: _*))
              .parquet(outPath)
        }
        TableResult(orig.name, td.name,
          rows = tally.rows,
          ddl = PgSqlGen.dropTable(td) + "\n" + PgSqlGen.createTable(td),
          copySql = PgSqlGen.copyStatement(td, outPath),
          conversions = tally.conversions)
      }
      MigrationResult(results,
        schemaSql = PgSqlGen.schemaPreamble("public") +
          results.map(_.ddl).mkString("\n\n"),
        constraintsSql = changedByOriginal.map { case (_, td) =>
          PgSqlGen.setval(td) + PgSqlGen.foreignKeys(td) + PgSqlGen.indexes(td)
        }.mkString("\n"),
        viewsSql = changedByOriginal.map { case (orig, td) =>
          PgSqlGen.compatView(orig, td, "v1", "public")
        }.mkString("\n"),
        originals = originals)
    } finally pool.shutdown()
  }

  /** The `all-databases` analog (main.py:168-189): migrate several
    * source directories ("databases") concurrently, optionally
    * filtered by a name prefix, each into its own output dir. */
  def migrateAll(spark: SparkSession, dbDirs: Map[String, String],
      outRoot: String, tables: Seq[String], changes: SchemaChanges,
      prefix: String = "",
      pks: Map[String, Seq[String]] = Map.empty): Map[String, MigrationResult] = {
    val selected = dbDirs.filter { case (db, _) => db.startsWith(prefix) }
    // non-daemon pool: shut down before returning (see migrate)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, selected.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = selected.toSeq.map { case (db, dir) =>
        Future(db -> migrate(spark, dir, s"$outRoot/$db", tables, changes,
          pks = pks))
      }
      Await.result(Future.sequence(futures), Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** Write the reference's per-database artifact bundle
    * (main.py:52-112: mysql_schema.json, mysql_schema_v2.json,
    * psql_schema.json, psql_tables.sql, psql_data.sql,
    * psql_index_fk.sql, psql_views.sql) alongside the per-table CSV
    * dumps migrate() already produced under `outDir`, plus
    * migration_report.json (rows and value conversions per table).
    * The three schema JSONs are distinct stages, as in main.py:54-69:
    * raw introspection → user changes applied (still mysql types) →
    * node type-map applied (PG types). Everything comes from `result`,
    * so no source is read again and no Spark job runs; `tables`,
    * `pks` and `indexes` must describe the migration that produced it. */
  def writeArtifacts(spark: SparkSession, sfDir: String, outDir: String,
      tables: Seq[String], changes: SchemaChanges,
      result: MigrationResult,
      node: NodeRules = NodeRules.mysqlToPg,
      pks: Map[String, Seq[String]] = Map.empty,
      indexes: Map[String, Seq[IndexDef]] = Map.empty): Unit = {
    import java.nio.file.{Files, Paths}
    val originals = result.originals
    require(originals.map(_.name) == tables,
      s"tables ${tables.mkString(",")} are not the migrated " +
        originals.map(_.name).mkString(","))
    originals.foreach { o =>
      val pk = pks.getOrElse(o.name, Nil)
      require(o.pkColumns.map(_.name) == o.columns.map(_.name).filter(pk.contains) &&
        o.indexes == indexes.getOrElse(o.name, Nil),
        s"pks/indexes for ${o.name} differ from the migration's")
    }
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    def write(name: String, content: String): Unit =
      Files.writeString(dir.resolve(name), content)
    // v2 = user changes only (mysql-flavoured types, RuleHandler
    // .obtain_modified_schema); psql = v2 + the mysql_to_psql node map
    // (PsqlParser.get_schema_from_mysql:38-41)
    val v2 = originals.flatMap(SchemaRules.applyTable(_, changes))
    val psql = v2.map(SchemaRules.applyNode(_, node))
    write("mysql_schema.json", PgSqlGen.schemaJson(originals))
    write("mysql_schema_v2.json", PgSqlGen.schemaJson(v2))
    write("psql_schema.json", PgSqlGen.schemaJson(psql))
    write("psql_tables.sql", result.schemaSql)
    write("psql_data.sql",
      PgSqlGen.dumpInitial +
        result.tables.map(_.copySql).mkString("\n") + "\n" +
        PgSqlGen.dumpFinal)
    write("psql_index_fk.sql",
      "SET client_min_messages TO ERROR;\nSET SCHEMA 'public';\n\n" +
        result.constraintsSql)
    write("psql_views.sql",
      "SET client_min_messages TO ERROR;\n" +
        "DROP SCHEMA IF EXISTS v1 CASCADE;\nCREATE SCHEMA IF NOT EXISTS v1;\n\n" +
        result.viewsSql)
    write("migration_report.json", reportJson(result))
  }

  /** migration_report.json: per migrated table its source and output
    * names, rows, the cells each raw-dump rule rewrote summed by rule,
    * and the same per column. */
  private def reportJson(result: MigrationResult): String = {
    import PgSqlGen.js
    result.tables.map { t =>
      val byRule = t.conversions.groupBy(_.rule).toSeq.sortBy(_._1)
        .map { case (r, cs) => s"${js(r)}: ${cs.map(_.cells).sum}" }
      val cols = t.conversions.map(c =>
        s"""{"column": ${js(c.column)}, "rule": ${js(c.rule)}, "cells": ${c.cells}}""")
      s"""{"source": ${js(t.originalName)}, "output": ${js(t.outputName)}, """ +
        s""""rows": ${t.rows}, "conversions": ${byRule.mkString("{", ", ", "}")}, """ +
        s""""columns": ${cols.mkString("[", ", ", "]")}}"""
    }.mkString("{\"tables\": [\n  ", ",\n  ", "\n]}\n")
  }

  /** Distributed twin of the reference's file-level mysqldump INSERT
    * conversion (PsqlParser.generate_dump_from_mysql_dump:73-100):
    * read a dump, rewrite each INSERT line per the change-set (value
    * fixes, table/column renames, skip-table filtering), write the PG
    * dump. One narrow map over a text scan — at 100 TB of dump files
    * every partition converts independently. Returns the lines
    * written, counted by an Observation on the write itself. */
  def convertMysqlDump(spark: SparkSession, changes: SchemaChanges,
      dumpPath: String, outPath: String): Long = {
    import spark.implicits._
    val lines = Observation()
    spark.read.textFile(dumpPath)
      .flatMap(line => PgSqlGen.convertInsert(changes, line))
      .observe(lines, count(lit(1)).as("lines"))
      .write.mode("overwrite").text(outPath)
    lines.get("lines").asInstanceOf[Long]
  }
}
