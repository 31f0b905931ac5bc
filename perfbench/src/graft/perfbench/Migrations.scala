package graft.perfbench

import java.util.concurrent.Executors
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.catalog.Catalog
import graft.ddl.DdlConverter
import graft.pipeline.{Pipeline, RunLog}
import graft.pipeline.Pipeline.RunReport
import graft.sqlrewrite.SqlRewriter
import graft.transfer.{CopyEncoder, Transfer}
import graft.transfer.Transfer.{Jdbc, TransferResult}

/** The two migration workloads: Derby source → fresh Derby target through
  * `Pipeline.run`, truncate-before-sync and validation on.
  *
  *  - bulk-jdbc: customer, orders and lineitem from the corpus; stages
  *    schema, data, validate. Nearly all data plane.
  *  - schema-objects: the seeded 40-table object catalog; every stage
  *    except `users`, whose PostgreSQL-only `DO $$` guard always fails on
  *    Derby. Nearly all control plane.
  *
  * An iteration creates an empty target before the clock starts, times
  * `Pipeline.run`, then (untimed) checks the report, recounts every target
  * table through `Catalog.rowCount` against the fixture's own counts,
  * counts the recreated objects in Derby's system tables, records the
  * state left in the session, drops the target and reads the heap after a
  * full GC. */
object Migrations {
  val Concurrency = 4
  val SetupRepeats = 3
  /** Iterations after the cold one that only warm the JIT and are not
    * timed into `iteration_s` (iteration times fall steeply until then). */
  val WarmUp = 4
  /** Timed iterations every run makes, however short `--seconds` is.
    * Retained heap is read over the cold, warm-up and these iterations only,
    * so it does not grow when a faster program fits more into the run. */
  val MinTimed = 5
  private val quiet = new RunLog(showConsoleLogs = false)

  def stagesFor(workload: String): Seq[String] = workload match {
    case "bulk-jdbc" => Seq("schema", "data", "validate")
    case _ => Pipeline.allStages.filterNot(_ == "users")
  }

  private def config(stages: Seq[String]) = Pipeline.Config(
    truncateBeforeSync = true, validateData = true, stopOnError = false,
    concurrency = Concurrency, stages = stages)

  final case class Iter(seconds: Double, problems: Seq[String], heapMb: Double,
      left: Int, report: Option[RunReport])

  /** Untimed output check of one finished migration. */
  def check(report: Try[RunReport], dst: String, fx: Derby.Fixture,
      stages: Seq[String]): Seq[String] = report match {
    case Failure(e) => Seq(s"Pipeline.run threw: $e")
    case Success(r) =>
      val p = ArrayBuffer.empty[String]
      if (r.stats.map(_.stage) != stages)
        p += s"stages run ${r.stats.map(_.stage).mkString(",")}, expected ${stages.mkString(",")}"
      r.stats.foreach(s => s.failures.foreach(f => p += s"stage ${s.stage} failed: $f"))
      r.inconsistent.foreach(t =>
        p += s"${t.table} inconsistent: src=${t.srcRows} dst=${t.dstRows} checksum=${t.checksumMatch}")
      p ++= checkTarget(r.results, dst, fx)
      p.toSeq
  }

  private def checkTarget(results: Seq[TransferResult], dst: String,
      fx: Derby.Fixture): Seq[String] = {
    val p = ArrayBuffer.empty[String]
    val byTable = results.map(r => r.table -> r).toMap
    fx.expect.rows.toSeq.sorted.foreach { case (t, n) =>
      Try(Catalog.rowCount(dst, t)) match {
        case Success(`n`) =>
        case other => p += s"$t: target count $other, fixture holds $n rows"
      }
      if (!byTable.get(t).exists(r => r.srcRows == n && r.dstRows == n))
        p += s"$t: pipeline reported ${byTable.get(t)}, fixture holds $n rows"
    }
    val want = Map("tables" -> fx.expect.tables.toLong, "views" -> fx.expect.views.toLong,
      "indexes" -> fx.expect.indexes.toLong, "functions" -> fx.expect.functions.toLong,
      "grants" -> fx.expect.grants.toLong)
    val got = Derby.objectsOn(dst)
    want.toSeq.sorted.foreach { case (k, n) =>
      if (got(k) != n) p += s"target holds ${got(k)} $k, expected $n"
    }
    p.toSeq
  }

  private def buildFixture(spark: SparkSession, o: Main.Opts,
      lines: ArrayBuffer[String]): (Double, Derby.Fixture) = {
    val corpus = if (o.workload == "bulk-jdbc") {
      val t0 = System.nanoTime()
      val c = Derby.loadCorpus(spark, o.dataDir)
      Some((Stats.secondsSince(t0), c))
    } else None
    // the fixture is built SetupRepeats times and the median counted, so
    // set-up time is as steady as the timed iterations; the last copy is kept
    val builds = (0 until SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      val fx = corpus match {
        case Some((_, c)) => Derby.bulkSource(s"src$k", c, o.seed)
        case None => Derby.objectsSource(s"src$k", o.seed)
      }
      if (k < SetupRepeats - 1) Derby.drop(s"src$k")
      (Stats.secondsSince(t0), fx)
    }
    lines += s"set-up: corpus read ${Stats.fmt(corpus.map(_._1).getOrElse(0.0))} s, fixture builds " +
      builds.map(b => Stats.fmt(b._1)).mkString(", ") + " s"
    (corpus.map(_._1).getOrElse(0.0) + Stats.median(builds.map(_._1)), builds.last._2)
  }

  /** One timed `Pipeline.run` into a fresh target, checked afterwards. */
  def migrateOnce(spark: SparkSession, fx: Derby.Fixture, stages: Seq[String],
      i: Int): Iter = {
    val name = s"dst$i"
    val dst = Derby.create(name)
    val before = Hygiene.snapshot(spark)
    val t0 = System.nanoTime()
    val report = Try(Pipeline.run(spark, Jdbc(fx.url, "%s"), Jdbc(dst, "%s"),
      config(stages), fx.tables, quiet))
    val secs = Stats.secondsSince(t0)
    val problems = check(report, dst, fx, stages)
    val left = Hygiene.left(before, Hygiene.snapshot(spark))
    Derby.drop(name)
    Iter(secs, problems, Jvm.retainedHeapMb(), left, report.toOption)
  }

  private def units(workload: String, fx: Derby.Fixture): Double =
    if (workload == "bulk-jdbc") fx.expect.totalRows.toDouble else fx.expect.objects.toDouble

  def run(spark: SparkSession, o: Main.Opts, sessionS: Double): Result = {
    val stages = stagesFor(o.workload)
    val lines = ArrayBuffer.empty[String]
    lines += s"set-up: session ${Stats.fmt(sessionS)} s"
    val (fixtureS, fx) = buildFixture(spark, o, lines)
    val setupS = sessionS + fixtureS
    lines += s"workload ${o.workload}: seed ${o.seed}, ${fx.tables.size} tables, " +
      s"${fx.expect.totalRows} rows, ${fx.expect.objects} objects, stages ${stages.mkString(",")}"
    val cold = migrateOnce(spark, fx, stages, 0)
    val res = if (o.trace) traced(spark, o, fx, stages, cold, lines)
      else untraced(spark, o, fx, stages, setupS, cold, lines)
    Derby.drop("src" + (SetupRepeats - 1))
    res
  }

  private def describe(tag: String, it: Iter): String =
    s"$tag ${Stats.fmt(it.seconds)} s, left ${it.left}, heap ${Stats.fmt(it.heapMb)} MB" +
      (if (it.problems.isEmpty) "" else " FAILED: " + it.problems.mkString("; "))

  private def untraced(spark: SparkSession, o: Main.Opts, fx: Derby.Fixture,
      stages: Seq[String], setupS: Double, cold: Iter,
      lines: ArrayBuffer[String]): Result = {
    val warmUp = (1 to WarmUp).map(i => migrateOnce(spark, fx, stages, i))
    val warm = Stats.loop(o.seconds, MinTimed)(i => migrateOnce(spark, fx, stages, WarmUp + i + 1))
    val all = (cold +: warmUp) ++ warm
    lines += describe("cold", cold)
    warmUp.zipWithIndex.foreach { case (it, i) => lines += describe(s"warm-up ${i + 1}", it) }
    warm.zipWithIndex.foreach { case (it, i) => lines += describe(s"timed ${i + 1}", it) }
    val migrateS = Stats.median(warm.map(_.seconds))
    val perS = units(o.workload, fx) / migrateS
    val failed = all.count(_.problems.nonEmpty)
    lines += s"migrate_s = ${Stats.fmt(migrateS)} s (median of ${warm.size} timed iterations)"
    lines += s"first_migrate_s = ${Stats.fmt(cold.seconds)} s"
    lines += (if (o.workload == "bulk-jdbc") s"rows_per_s = ${Stats.fmt(perS)} rows/s"
      else s"objects_per_s = ${Stats.fmt(perS)} objects/s")
    lines += s"fail_share = ${Stats.fmt(failed.toDouble / all.size)} ($failed of ${all.size} iterations)"
    Result(all.size, failed, Map(
      "setup_s" -> setupS,
      "iteration_s" -> migrateS,
      "first_iteration_s" -> cold.seconds,
      "work_per_s" -> perS,
      "retained_heap_mb" -> all.take(1 + WarmUp + MinTimed).map(_.heapMb).max), trace = false,
      lines.toSeq)
  }

  // ---------------------------------------------------------------- traced

  /** The pipeline's stage order driven through the layers' public
    * functions, one span per call. Mirrors `Pipeline.run` for a JDBC source
    * and a non-PostgreSQL JDBC target (so no `FunctionDdl` conversion and
    * no `TypeMapper` call: target types come from the Spark schema). The
    * one addition is a direct `SqlRewriter.rewrite` per view, which
    * `DdlConverter.viewDdl` repeats internally; it is timed as the
    * sqlrewrite layer and its cost is part of the tracing overhead. */
  def decomposed(spark: SparkSession, tr: Tracer, fx: Derby.Fixture,
      stages: Seq[String], dstUrl: String): (Seq[String], Seq[TransferResult]) = {
    val src = Jdbc(fx.url, "%s")
    val dst = Jdbc(dstUrl, "%s")
    val failures = ArrayBuffer.empty[String]
    var results = Seq.empty[TransferResult]
    def attempt(label: String)(f: => Unit): Unit =
      Try(f).failed.foreach(e => failures += s"$label: ${e.getMessage}")
    def exec(label: String, stmts: Seq[String], dropOptional: Boolean): Unit =
      stmts.zipWithIndex.foreach { case (s, i) =>
        tr.span("catalog", "executeDdl")(Pipeline.execLenient(dstUrl, s)) match {
          case Failure(e) if !(dropOptional && i == 0) => failures += s"$label: ${e.getMessage}"
          case _ =>
        }
      }
    stages.foreach { stage =>
      tr.span("stage", stage) {
        stage match {
          case "schema" => fx.tables.foreach { t =>
            attempt(s"schema $t") {
              if (!tr.span("catalog", "tableExists")(Catalog.tableExists(dstUrl, t))) {
                val schema = tr.span("transfer", "read")(Transfer.read(spark, src, t).schema)
                val ddl = tr.span("ddl", "ddlForSchema")(
                  DdlConverter.ddlForSchema(t, schema, false, dstUrl))
                tr.span("catalog", "executeDdl")(Catalog.executeDdl(dstUrl, ddl))
              }
            }
          }
          case "views" => attempt("views") {
            tr.span("catalog", "listViews")(Catalog.listViews(fx.url)).foreach { v =>
              tr.span("sqlrewrite", "rewrite")(SqlRewriter.rewrite(v.definition.trim))
              exec(v.name, tr.span("ddl", "viewDdl")(DdlConverter.viewDdl(v.name, v.definition)),
                dropOptional = true)
            }
          }
          case "data" =>
            val parent = tr.current
            val pool = Executors.newFixedThreadPool(Concurrency)
            implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
            try {
              val futures = fx.tables.map { t =>
                t -> Future(Try(tr.span("transfer", "copyTable", parent)(
                  Transfer.copyTable(spark, src, dst, t, truncate = true, validateChecksum = true))))
              }
              futures.foreach { case (t, f) =>
                Await.result(f, Duration.Inf) match {
                  case Success(r) => results :+= r
                  case Failure(e) => failures += s"data $t: ${e.getMessage}"
                }
              }
            } finally pool.shutdown()
          case "validate" =>
            results.filter(r => r.srcRows != r.dstRows || !r.checksumMatch)
              .foreach(r => failures += s"validate ${r.table}: ${r.srcRows} != ${r.dstRows}")
          case "indexes" => fx.tables.foreach { t =>
            attempt(s"indexes $t") {
              val pk = tr.span("catalog", "primaryKeys")(Catalog.primaryKeys(fx.url, t))
              tr.span("catalog", "tableIndexes")(Catalog.tableIndexes(fx.url, t))
                .filterNot(ix => ix.unique && pk.nonEmpty && ix.columns == pk)
                .foreach { ix =>
                  tr.span("ddl", "indexDdl")(
                    DdlConverter.indexDdl(ix.table, ix.name, ix.columns, ix.unique))
                    .foreach(s => exec(s"$t.${ix.name}", Seq(s), dropOptional = false))
                }
            }
          }
          case "functions" => attempt("functions") {
            tr.span("catalog", "listFunctions")(Catalog.listFunctions(fx.url))
              .foreach(f => exec(f.name, Seq(f.ddl), dropOptional = false))
          }
          case "privileges" => attempt("privileges") {
            val dstByLower = tr.span("catalog", "listTables")(Catalog.listTables(dstUrl))
              .map(t => t.toLowerCase -> t).toMap
            tr.span("catalog", "listTablePrivileges")(Catalog.listTablePrivileges(fx.url))
              .flatMap(p => dstByLower.get(p.table.toLowerCase).map(p -> _))
              .foreach { case (p, d) =>
                exec(s"${p.user}/$d",
                  tr.span("ddl", "tablePrivDdl")(DdlConverter.tablePrivDdl(p.user, d, p.privCsv)),
                  dropOptional = false)
              }
          }
          case other => failures += s"unknown stage $other"
        }
      }
    }
    (failures.toSeq, results)
  }

  private val Layers = Set("catalog", "ddl", "sqlrewrite", "types", "transfer")

  /** Per-layer numbers of one traced iteration rooted at `root`. */
  private def layerNumbers(tr: Tracer, all: Seq[Span], root: Span, tables: Int,
      gcS: Double): Map[String, Double] = {
    val desc = Trace.descendants(all, root.id)
    val self = Trace.selfNs(root +: desc)
    def busy(layer: String) = desc.filter(_.layer == layer).map(s => self(s.id)).sum / 1e9
    val copies = desc.filter(_.name == "copyTable").map(s => tr.workOf(s.id))
    val works = (root +: desc).filter(s => tr.hasWork(s.id)).map(s => tr.workOf(s.id))
    val wall = root.ns / 1e9
    val covered = Trace.unionNs(desc.filter(s => Layers(s.layer)).map(s => (s.startNs, s.endNs))) / 1e9
    val taskS = works.map(_.taskNs).sum / 1e9
    Map(
      "catalog.calls" -> desc.count(_.layer == "catalog").toDouble,
      "catalog.busy_s" -> busy("catalog"),
      "catalog.ddl_statements" -> desc.count(_.name == "executeDdl").toDouble,
      "catalog.ddl_s" -> desc.filter(_.name == "executeDdl").map(_.ns).sum / 1e9,
      "ddl.calls" -> desc.count(_.layer == "ddl").toDouble,
      "ddl.busy_s" -> busy("ddl"),
      "sqlrewrite.busy_s" -> busy("sqlrewrite"),
      "types.busy_s" -> busy("types"),
      "transfer.snapshot_s" -> copies.map(_.execNs("count")).sum / 1e9,
      "transfer.write_s" -> copies.map(_.execNs("save")).sum / 1e9,
      "transfer.validate_s" -> copies.map(_.execNs("collect")).sum / 1e9,
      "transfer.rows_read" -> copies.map(_.rowsRead).sum.toDouble,
      "transfer.rows_written" -> copies.map(_.rowsWritten).sum.toDouble,
      "transfer.read_tasks" -> copies.map(w => w.execTasks("count") + w.execTasks("collect")).sum.toDouble,
      "transfer.write_tasks" -> copies.map(_.execTasks("save")).sum.toDouble,
      "transfer.jobs_per_table" -> copies.map(_.jobsStarted).sum.toDouble / math.max(1, tables),
      "spark.jobs" -> works.map(_.jobsStarted).sum.toDouble,
      "spark.stages" -> works.map(_.stages).sum.toDouble,
      "spark.tasks" -> works.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.longest_task_s" -> works.map(_.longestTaskNs).maxOption.getOrElse(0L) / 1e9,
      "spark.cores_busy_share" -> taskS / (wall * Main.Cores),
      "spark.shuffle_bytes" -> works.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> works.map(_.spillBytes).sum.toDouble,
      "spark.gc_s" -> gcS,
      "spark.sql_executions" -> works.map(_.executions).sum.toDouble,
      "spark.planning_s" -> works.map(_.planningNs).sum / 1e9,
      "trace.iteration_s" -> wall,
      "trace.uncovered_s" -> (wall - covered))
  }

  private def traced(spark: SparkSession, o: Main.Opts, fx: Derby.Fixture,
      stages: Seq[String], cold: Iter, lines: ArrayBuffer[String]): Result = {
    // phase 1, untraced: reference wall time and Pipeline's own stage stats
    val warmUp = (1 to WarmUp).map(i => migrateOnce(spark, fx, stages, i))
    val plain = Stats.loop(o.seconds / 2.0, 2)(i => migrateOnce(spark, fx, stages, WarmUp + i + 1))
    val plainS = Stats.median(plain.map(_.seconds))
    // phase 2, traced: the same stages, one span per layer call
    val tr = new Tracer(spark)
    spark.sparkContext.addSparkListener(tr)
    tr.resetCachedPeak()
    val traced = Stats.loop(o.seconds / 2.0, 2) { i =>
      val name = s"tdst$i"
      val dst = Derby.create(name)
      val before = Hygiene.snapshot(spark)
      val gc0 = Jvm.gcSeconds()
      val (failures, results) =
        tr.span("bench", "iteration")(decomposed(spark, tr, fx, stages, dst))
      val gcS = Jvm.gcSeconds() - gc0
      val problems = failures ++ checkTarget(results, dst, fx)
      tr.settle()
      val left = Hygiene.left(before, Hygiene.snapshot(spark))
      Derby.drop(name)
      Jvm.retainedHeapMb() // start each iteration on a collected heap, as untraced ones do
      val root = tr.spans.filter(s => s.layer == "bench").last
      (root, gcS, left, if (tr.openJobs != 0) problems :+ s"${tr.openJobs} jobs without end event"
        else problems)
    }
    spark.sparkContext.removeSparkListener(tr)
    val all = tr.spans
    val perIter = traced.map { case (root, gcS, _, _) =>
      layerNumbers(tr, all, root, fx.tables.size, gcS) }
    val med = perIter.flatMap(_.keys).distinct
      .map(k => k -> Stats.median(perIter.map(_.getOrElse(k, 0.0)))).toMap
    val reports = plain.flatMap(_.report)
    val stageS = Pipeline.allStages.map(st => st ->
      Stats.median(reports.map(_.stats.filter(_.stage == st).map(_.seconds).sum))).toMap
    val encode = if (o.workload == "bulk-jdbc") copyEncodeMbPerS(spark, fx) else 0.0
    val untraced = (cold +: warmUp) ++ plain
    val failedIters = untraced.count(_.problems.nonEmpty) + traced.count(_._4.nonEmpty)
    untraced.filter(_.problems.nonEmpty).foreach(it => lines += describe("untraced", it))
    traced.filter(_._4.nonEmpty).foreach(t => lines += s"traced FAILED: ${t._4.mkString("; ")}")
    lines += s"untraced migrate_s ${Stats.fmt(plainS)} s over ${plain.size}; traced " +
      s"${Stats.fmt(med("trace.iteration_s"))} s over ${traced.size}, of which " +
      s"${Stats.fmt(med("trace.uncovered_s"))} s outside any layer span"
    val copyWork = all.filter(_.name == "copyTable").map(s => tr.workOf(s.id))
    lines += "copyTable executions by action (s): " + copyWork.flatMap(_.execNs.keys).distinct.sorted
      .map(a => s"$a ${Stats.fmt(copyWork.map(_.execNs(a)).sum / 1e9)}").mkString(", ") +
      s" over ${traced.size} iterations"
    lines += s"pipeline validate stage ${Stats.fmt(stageS("validate"))} s: validation runs " +
      "inside copyTable, so transfer.validate_s comes from its read-back executions"
    lines += classify(s"migration ${o.workload}", med("trace.iteration_s"),
      med("spark.task_s"), med("spark.longest_task_s"), med("spark.tasks"))
    val values = med ++ Map(
      "pipeline.schema_s" -> stageS("schema"), "pipeline.views_s" -> stageS("views"),
      "pipeline.data_s" -> stageS("data"), "pipeline.validate_s" -> stageS("validate"),
      "pipeline.indexes_s" -> stageS("indexes"), "pipeline.functions_s" -> stageS("functions"),
      "pipeline.privileges_s" -> stageS("privileges"),
      "pipeline.per_table_s" -> stageS("data") / fx.tables.size,
      "transfer.cached_bytes_peak" -> tr.cachedPeak.toDouble,
      "transfer.cached_left" -> (plain.map(_.left) ++ traced.map(_._3)).max.toDouble,
      "transfer.copy_encode_mb_per_s" -> encode,
      "trace.overhead_share" -> (med("trace.iteration_s") / plainS - 1.0),
      "trace.unattributed_jobs" -> tr.unattributedJobs.toDouble)
    Result(untraced.size + traced.size, failedIters, values, trace = true, lines.toSeq)
  }

  /** `CopyEncoder.encodeBatch` over every bulk-jdbc source row: the COPY
    * text kernel on its own (no PostgreSQL server exists here), median of 3. */
  private def copyEncodeMbPerS(spark: SparkSession, fx: Derby.Fixture): Double = {
    val frames = fx.tables.map { t =>
      val df = Transfer.read(spark, Jdbc(fx.url, "%s"), t)
      (df.schema, df.collect())
    }
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val bytes = frames.map { case (schema, rows) =>
        CopyEncoder.encodeBatch(schema, rows.iterator).length.toLong }.sum
      bytes / 1048576.0 / Stats.secondsSince(t0)
    }
    Stats.median(runs)
  }

  /** One-line regime verdict from a traced record. With T the summed task
    * time and W the wall time: driver-bound when T < W/2 (no task runs for
    * most of the wall), under-parallel when tasks run but fill fewer than
    * half the cores on average (T < W * cores / 2), task-bound otherwise. */
  def classify(what: String, wallS: Double, taskS: Double, longestS: Double,
      tasks: Double): String = {
    val busy = if (wallS > 0) taskS / (wallS * Main.Cores) else 0.0
    val verdict =
      if (taskS < 0.5 * wallS) "driver-bound"
      else if (busy < 0.5) "under-parallel"
      else "task-bound"
    s"regime $what: $verdict (wall ${Stats.fmt(wallS)} s, task ${Stats.fmt(taskS)} s, " +
      s"longest task ${Stats.fmt(longestS)} s, ${tasks.toLong} tasks, cores busy ${Stats.fmt(busy)})"
  }
}
