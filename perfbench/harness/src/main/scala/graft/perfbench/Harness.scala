package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Pipeline, SparkEntry, Tables, Verify}
import graft.rules._
import graft.schema.{Introspect, Reference}

/** One benchmark run in a fresh JVM, driven by `perfbench/run.py`.
  *
  *   Harness <workload> <corpusDir> <workDir> <seed> <seconds> <trace> <outJson>
  *
  * A run builds the session and opens the workload's tables, prints
  * `PERFBENCH_READY`, runs one cold pass over the workload's operations
  * and then steady passes until `seconds` have passed (at least four).
  * One client issues one operation at a time. The seed fixes the
  * order of the operations in every pass. After the passes, outside
  * the timed part, it dumps what the checker compares: each key's
  * result with its pinned oracle SQL, or the migration's expected row
  * counts. With trace on, steady passes alternate between traced and
  * untraced, and the record carries the trace.
  */
object Harness {

  /** The engine workload's keys: plain SQL, two keys that publish a
    * one-time artifact (a materialized view, a MinHash index) and a
    * streaming query that publishes a late-arriving event log once per
    * corpus and reads it in three micro-batches against a watermark. */
  val engineKeys: Seq[String] = Seq("q1_agg", "q_mv_rollup", "dedup_minhash",
    "stream_late_data")

  val migrateTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  /** The benchmark's change-set: every rule kind migrate applies. */
  val changes: SchemaChanges = SchemaChanges(Map(
    "region" -> TableChange(rename = Some("regions")),
    "nation" -> TableChange(columns = Map(
      "n_name" -> ColumnChange(rename = Some("name")))),
    "customer" -> TableChange(rename = Some("clients"), columns = Map(
      "c_name" -> ColumnChange(rename = Some("full_name")),
      "c_mktsegment" -> ColumnChange(skip = true),
      // nation key 0 exists, so the FK 0 -> NULL rule fires
      "c_nationkey" -> ColumnChange(nullable = Some(true),
        reference = Some(Reference("nation", "n_nationkey"))))),
    "supplier" -> TableChange(columns = Map(
      "s_nationkey" -> ColumnChange(nullable = Some(true),
        reference = Some(Reference("nation", "n_nationkey"))))),
    "part" -> TableChange(preSql = Seq("DELETE FROM part WHERE p_size > 45")),
    "orders" -> TableChange(where = Some("o_orderstatus <> 'P'"),
      dropOrphans = Seq(OrphanRule("o_custkey", "customer", "c_custkey"))),
    "lineitem" -> TableChange(
      joins = Seq(JoinRule("orders", "l_orderkey", "o_orderkey"))),
    "events" -> TableChange(utcShiftHours = Some(2), columns = Map(
      "value" -> ColumnChange(rename = Some("amount"))))))

  val pks: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"))

  def tablesOf(workload: String): Seq[String] =
    if (workload == "migrate") migrateTables else Tables.all

  def keysOf(workload: String): Seq[String] =
    if (workload == "engine") engineKeys else Nil

  val cores = 4

  def session(work: String): SparkSession = {
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Opens the workload's tables: resolves each one's schema from its
    * parquet footers. */
  def open(spark: SparkSession, corpus: String, workload: String): Unit =
    tablesOf(workload).foreach(t => Tables.load(spark, corpus, t).schema)

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val Array(workload, corpus, work, seedS, secondsS, traceS, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val spark = session(work)
    open(spark, corpus, workload)
    val trace = if (traced) Some(new Trace(spark)) else None
    // micro-batch trigger times are reported by every run with
    // streaming keys: a listener is cheap, and the per-batch time is the
    // streaming queries' own latency figure. The program runs its
    // queries in child sessions, so the events are taken from the
    // shared listener bus, not from this session's query manager.
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (keysOf(workload).exists(_.startsWith("stream_")))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case p: StreamingQueryListener.QueryProgressEvent =>
            Option(p.progress.durationMs.get("triggerExecution")).foreach { ms =>
              batches.add(Json.obj("end_ms" -> System.currentTimeMillis().toString,
                "trigger_ms" -> ms.toString))
            }
          case _ => ()
        }
      })
    println("PERFBENCH_READY")
    System.out.flush()

    def span[A](name: String)(body: => A): A =
      trace.fold(body)(_.span(name)(body))

    // one operation: a key into the noop sink, or one whole migration
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var migration: Option[(String, Pipeline.MigrationResult)] = None
    def runKey(key: String): Unit = {
      val df = span("operators.build")(SparkEntry.queries(key)(spark, corpus))
      if (trace.exists(_.enabled))
        span("plans.plan")(df.queryExecution.executedPlan)
      span("operators.exec")(df.write.format("noop").mode("overwrite").save())
    }
    def runMigrate(pass: Int, tables: Seq[String]): Unit = {
      val outDir = s"$work/dump/pass$pass"
      if (trace.exists(_.enabled)) {
        // the layers migrate goes through, called one by one
        val defs = span("schema.introspect")(tables.map(t =>
          Introspect.fromSpark(Tables.load(spark, corpus, t), t,
            pk = pks.getOrElse(t, Nil))))
        span("rules.schema")(SchemaRules(defs, changes))
        span("rules.plan")(tables.filterNot(changes.forTable(_).skip)
          .foreach(t => Pipeline.convertedFrame(spark, corpus, t, changes)))
      }
      val res = span("pipeline.migrate")(Pipeline.migrate(spark, corpus,
        outDir, tables, changes, pks = pks, sink = Pipeline.PgCsv))
      span("sqlgen.artifacts")(Pipeline.writeArtifacts(spark, corpus, outDir,
        tables, changes, res, pks = pks))
      migration = Some(outDir -> res)
    }

    case class PassRecord(index: Int, traced: Boolean, startMs: Long,
        endMs: Long, wallS: Double, cpuS: Double,
        ops: Seq[(String, Double, Boolean)])

    def runPass(index: Int, tracedPass: Boolean): PassRecord = {
      val rnd = new scala.util.Random(seed * 1000003L + index)
      trace.foreach(_.enabled = tracedPass)
      System.gc()
      val cpu0 = processCpuNs
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ops: Seq[(String, Double, Boolean)] =
        if (workload == "migrate") {
          val tables = rnd.shuffle(migrateTables)
          trace.foreach(_.label("migrate", index))
          val s0 = System.nanoTime()
          val ok = try { runMigrate(index, tables); true } catch {
            case e: Throwable =>
              failures += s"pass $index migrate: $e"; false
          }
          trace.foreach(_.drain())
          Seq(("migrate", (System.nanoTime() - s0) / 1e9, ok))
        } else rnd.shuffle(keysOf(workload)).map { key =>
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          trace.foreach(_.label(key, index))
          val s0 = System.nanoTime()
          val ok = try { runKey(key); true } catch {
            case e: Throwable =>
              failures += s"pass $index $key: $e"; false
          }
          val sec = (System.nanoTime() - s0) / 1e9
          trace.foreach(_.drain())
          (key, sec, ok)
        }
      val rec = PassRecord(index, tracedPass, startMs,
        System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9,
        (processCpuNs - cpu0) / 1e9, ops)
      trace.foreach(_.enabled = false)
      // the previous pass's dump is not read again
      if (workload == "migrate" && index > 0)
        deleteTree(Paths.get(s"$work/dump/pass${index - 1}"))
      System.err.println(f"[perfbench] $workload pass $index: ${rec.wallS}%.3f s")
      rec
    }

    val start = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer(runPass(0, traced))
    while (passes.size - 1 < 4 ||
        (System.nanoTime() - start) / 1e9 < seconds) {
      val i = passes.size
      passes += runPass(i, traced && i % 2 == 1)
    }
    val peakRss = peakRssKb

    // correctness material, outside the timed passes
    val checks: String = workload match {
      case "migrate" =>
        val (outDir, res) = migration.getOrElse(sys.error("no migration ran"))
        Json.obj(
          "dump_dir" -> Json.str(outDir),
          "tables" -> Json.arr(res.tables.map { t =>
            val expected = Pipeline.convertedFrame(spark, corpus,
              t.originalName, changes)
            Json.obj("table" -> Json.str(t.originalName),
              "output" -> Json.str(t.outputName),
              "reported_rows" -> t.rows.toString,
              "expected_rows" -> expected.count().toString,
              "columns" -> expected.columns.length.toString)
          }))
      case _ =>
        val sfTag = Tables.sfTag(corpus)
        Json.arr(keysOf(workload).map { key =>
          val res = s"$work/check/$key"
          try {
            val df = SparkEntry.queries(key)(spark, corpus)
            val ord = Verify.pinCols(df)
            Verify.pinFrame(df, ord).coalesce(1).write.mode("overwrite")
              .parquet(res)
            val oracle = SparkEntry.oracleSql.get(key).map(sql =>
              Verify.pinSqlFor(sql.replace("__SFTAG__", sfTag), ord))
            Json.obj("key" -> Json.str(key), "result" -> Json.str(res),
              "oracle" -> oracle.fold("null")(Json.str))
          } catch { case e: Throwable =>
            Json.obj("key" -> Json.str(key), "error" -> Json.str(e.toString))
          }
        })
    }

    val record = Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "passes" -> Json.arr(passes.map(p => Json.obj(
        "index" -> p.index.toString, "traced" -> p.traced.toString,
        "start_ms" -> p.startMs.toString, "end_ms" -> p.endMs.toString,
        "wall_s" -> p.wallS.toString, "cpu_s" -> p.cpuS.toString,
        "ops" -> Json.arr(p.ops.map { case (n, s, ok) =>
          Json.obj("op" -> Json.str(n), "s" -> s.toString, "ok" -> ok.toString)
        })))),
      "peak_rss_kb" -> peakRss.toString,
      "batches" -> Json.arr(batches.toArray(Array.empty[String])),
      "failures" -> Json.arr(failures.map(Json.str)),
      "checks" -> checks,
      "trace" -> trace.fold("null")(_.json))
    Files.writeString(Paths.get(out), record)
    spark.stop()
    // a leaked non-daemon thread must not keep the JVM alive
    sys.exit(0)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
}
