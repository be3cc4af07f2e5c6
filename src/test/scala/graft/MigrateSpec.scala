package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.rules._
import graft.schema._

/** The one-pass migration: source footers read once, rows and value
  * conversions counted by the write's own Observation, artifacts built
  * from the migration's schemas. */
class MigrateSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Runs `body` under a fresh job group and returns, with its value,
    * the call site of every job it started (the stage names Spark
    * derives from the user frame, "parquet at Tables.scala:49") and
    * the action name of every query execution it ran. */
  private def recording[A](body: => A): (A, Seq[String], Seq[String]) = {
    val group = java.util.UUID.randomUUID().toString
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(e.stageInfos.sortBy(-_.stageId).headOption.fold("?")(_.name))
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(f)
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    sc.setJobGroup(group, "recording")
    try {
      val a = body
      org.apache.spark.graft.ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (a, sites.asScala.toSeq, actions.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(jobs)
    }
  }

  /** Fails instead of hanging if an Observation never reports. */
  private def within[A](body: => A): A =
    Await.result(Future(body)(ExecutionContext.global), 3.minutes)

  test("migrate reads each source once, counts in the write, and " +
    "writeArtifacts runs no job") {
    val out = tmp("onepass")
    val changes = SchemaChanges(Map(
      "orders" -> TableChange(
        preSql = Seq("DELETE FROM orders WHERE o_custkey IN " +
          "(SELECT c_custkey FROM customer WHERE c_nationkey = 3)"),
        dropOrphans = Seq(OrphanRule("o_custkey", "customer", "c_custkey"))),
      "customer" -> TableChange(rename = Some("clients"),
        where = Some("c_acctbal > 0"),
        joins = Seq(JoinRule("nation", "c_nationkey", "n_nationkey"))),
      "nation" -> TableChange(
        joins = Seq(JoinRule("region", "n_regionkey", "r_regionkey")))))
    val tables = Seq("orders", "customer", "nation")
    val pks = Map("orders" -> Seq("o_orderkey"))
    val (res, sites, actions) = recording(
      Pipeline.migrate(spark, sf, out, tables, changes, pks = pks))
    // orders, customer, nation and the join-only region: one footer
    // read each, however many plans look a table up
    assert(sites.count(_.contains("Tables.scala")) == 4, sites)
    assert(!actions.contains("count"), actions)
    assert(!sites.exists(_.startsWith("count at")), sites)
    val (_, artifactSites, _) = recording(
      Pipeline.writeArtifacts(spark, sf, out, tables, changes, res, pks = pks))
    assert(artifactSites.isEmpty, artifactSites)
    assert(Files.exists(Paths.get(out, "migration_report.json")))
    // the observed rows are the rows of the plan that was written
    res.tables.foreach { t =>
      assert(t.rows == Pipeline.convertedFrame(spark, sf, t.originalName,
        changes).count(), t.originalName)
    }
    assert(res.tables.forall(_.rows > 0))
    assert(res.tables.find(_.originalName == "orders").get.rows <
      Tables.load(spark, sf, "orders").count())
  }

  test("writeArtifacts refuses arguments that are not the migration's") {
    val out = tmp("mismatch")
    val res = Pipeline.migrate(spark, sf, out, Seq("nation"), SchemaChanges(),
      pks = Map("nation" -> Seq("n_nationkey")))
    intercept[IllegalArgumentException](Pipeline.writeArtifacts(spark, sf,
      out, Seq("nation", "region"), SchemaChanges(), res,
      pks = Map("nation" -> Seq("n_nationkey"))))
    intercept[IllegalArgumentException](Pipeline.writeArtifacts(spark, sf,
      out, Seq("nation"), SchemaChanges(), res))
  }

  test("a _WHERE_ that empties a table reports 0 rows") {
    val out = tmp("empty")
    // a filter that runs and matches nothing, and one the optimizer
    // folds to an empty relation, so no scan task ever runs
    val changes = SchemaChanges(Map(
      "customer" -> TableChange(where = Some("c_custkey < 0")),
      "nation" -> TableChange(where = Some("1 = 0"))))
    val res = within(Pipeline.migrate(spark, sf, out,
      Seq("customer", "nation", "region"), changes))
    assert(res.tables.map(t => t.originalName -> t.rows).toMap ==
      Map("customer" -> 0L, "nation" -> 0L, "region" -> 5L))
  }

  test("observed rows are frame rows, not dump lines") {
    val dir = tmp("notes")
    val bodies = Seq("line one\nline two", "it's", "NULL", null, "plain")
    spark.createDataFrame(
      spark.sparkContext.parallelize(bodies.zipWithIndex.map { case (b, i) =>
        Row(i.toLong, b) }, 2),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("body", StringType))))
      .write.parquet(s"$dir/notes.parquet")
    val out = tmp("notes_out")
    val res = within(Pipeline.migrate(spark, dir, out, Seq("notes"),
      SchemaChanges()))
    val notes = res.tables.head
    assert(notes.rows == bodies.size)
    val lines = spark.read.textFile(s"$out/notes").collect()
    assert(lines.length == bodies.size + 1) // the embedded newline
    // the literal text stays quoted, apart from the NULL cell
    assert(lines.contains("2,'NULL'") && lines.contains("3,NULL"))
    assert(lines.contains("1,'it''s'"))
  }

  test("migrateAll keeps each database's own counts") {
    val out = tmp("multicount")
    val dbs = Map("small" -> sf,
      "large" -> Paths.get(sf).resolveSibling("sf0.01").toString)
    val res = Pipeline.migrateAll(spark, dbs, out, Seq("customer"),
      SchemaChanges())
    dbs.foreach { case (db, dir) =>
      assert(res(db).tables.head.rows ==
        Tables.load(spark, dir, "customer").count(), db)
    }
    assert(res("small").tables.head.rows != res("large").tables.head.rows)
  }

  test("migration_report.json reconciles with direct counts over the source") {
    val dir = tmp("bookings")
    val src = Seq(
      Row(1L, "2020-01-02", "0000-00-00", 0L, "12:30", Array[Byte](1, 2)),
      Row(2L, "0000-00-00", "2021-05-06", 1L, "bad", null),
      Row(3L, "0000-00-00", null, 0L, null, Array[Byte](3)),
      Row(4L, null, "0000-00-00", null, "", null),
      Row(5L, "2021-03-04", "2022-01-01", 4L, "07:15:00", Array[Byte]()))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("booked", StringType),
      StructField("due", StringType),
      StructField("parent_id", LongType),
      StructField("slot", StringType),
      StructField("payload", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(src, 2), schema)
      .write.parquet(s"$dir/bookings.parquet")
    val changes = SchemaChanges(Map("bookings" -> TableChange(columns = Map(
      "booked" -> ColumnChange(fullType = Some("date")),
      "due" -> ColumnChange(fullType = Some("date"), nullable = Some(false)),
      "parent_id" -> ColumnChange(reference = Some(Reference("bookings", "id"))),
      "slot" -> ColumnChange(dataType = Some("time"))))))
    val out = tmp("bookings_out")
    val res = within(Pipeline.migrate(spark, dir, out, Seq("bookings"), changes,
      pks = Map("bookings" -> Seq("id"))))
    Pipeline.writeArtifacts(spark, dir, out, Seq("bookings"), changes, res,
      pks = Map("bookings" -> Seq("id")))

    // direct counts, in plain Scala over the rows read back
    val rows = Tables.load(spark, dir, "bookings").collect()
    def str(r: Row, c: String): Option[String] = Option(r.getAs[String](c))
    val zero = (s: Option[String]) => s.exists(_.startsWith("0000"))
    val direct = Map(
      ("booked", "zero_date_to_null") -> rows.count(r => zero(str(r, "booked"))),
      ("due", "zero_date_to_1900") ->
        rows.count(r => str(r, "due").forall(_.startsWith("0000"))),
      ("parent_id", "fk_zero_to_null") ->
        rows.count(r => !r.isNullAt(r.fieldIndex("parent_id")) &&
          r.getAs[Long]("parent_id") == 0L),
      ("slot", "invalid_time") ->
        rows.count(r => str(r, "slot").exists(!_.matches("""\d\d:\d\d.*"""))),
      ("payload", "bytea_emptied") ->
        rows.count(r => !r.isNullAt(r.fieldIndex("payload"))))
    assert(direct.values.forall(_ > 0))
    val t = res.tables.head
    assert(t.rows == rows.length)
    assert(t.conversions.map(c => (c.column, c.rule) -> c.cells.toInt).toMap ==
      direct)

    val report = new String(Files.readAllBytes(
      Paths.get(out, "migration_report.json")))
    assert(report.contains("\"source\": \"bookings\"") &&
      report.contains(s""""rows": ${rows.length}"""))
    direct.foreach { case ((c, rule), n) =>
      assert(report.contains(s"""{"column": "$c", "rule": "$rule", "cells": $n}"""),
        report)
    }
    // and the dump carries the conversions the report counted
    val dump = spark.read.textFile(s"$out/bookings").collect()
    assert(dump.count(_.contains("'1900-01-01'")) ==
      direct(("due", "zero_date_to_1900")))
  }
}
