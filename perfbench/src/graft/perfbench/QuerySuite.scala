package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Random, Success, Try}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.SparkEntry

/** The query-suite workload: a fixed slice of `SparkEntry.queries` that
  * covers scan/aggregate/window, dedup, shuffle-heavy, driver-bound loop and
  * under-parallel queries, run back to back in one shared session in an
  * order the seed permutes, so state one query leaves behind reaches the
  * next.
  *
  * Every result is produced in full through the `noop` sink, with a fused
  * `observe(count, bit_xor(xxhash64(all columns)))` fingerprint riding the
  * same pass; the fingerprint is compared (untimed) with the expected one
  * from `perfbench/expected/query_fingerprints.tsv`. */
object QuerySuite {
  val SetupRepeats = 3
  /** Timed passes every run makes (more cannot fit the run-time budget:
    * a pass takes 12-15 s); retained heap is read over the cold pass and
    * these only (see Migrations.MinTimed). */
  val MinTimed = 2

  final case class QRun(name: String, buildS: Double, actionS: Double,
      rows: Long, xor: Long, error: Option[String], left: Int, span: Int) {
    def seconds: Double = buildS + actionS
  }

  final case class Pass(runs: Seq[QRun], heapMb: Double, gcS: Double) {
    def seconds: Double = runs.map(_.seconds).sum
  }

  /** name → (rows, xor fingerprint), from the tab-separated expected file. */
  def loadExpected(path: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> (f(1).toLong, f(2).toLong)
      }.toMap
    finally src.close()
  }

  private var observations = 0

  /** Build one query's frame, then produce it through `noop` with the
    * fingerprint fused into that pass. With a tracer, the query gets a root
    * span holding a build span (the ops/operators/functions code behind
    * `SparkEntry.queries`) and an action span; the listener bus is drained
    * after the root span closes, outside every timed region. */
  def runQuery(spark: SparkSession, dir: String, name: String,
      fn: (SparkSession, String) => DataFrame, tr: Option[Tracer]): QRun = {
    def span[A](layer: String, what: String)(f: => A): A =
      tr.fold(f)(_.span(layer, what)(f))
    val before = Hygiene.snapshot(spark)
    var buildS, actionS = 0.0
    var root = 0
    observations += 1
    val obs = Observation(s"perfbench_fp_$observations")
    val outcome = Try {
      span("bench", name) {
        root = tr.fold(0)(_.current)
        val t0 = System.nanoTime()
        val df = span("ops", "build")(fn(spark, dir))
        val t1 = System.nanoTime()
        span("spark", "action") {
          val cols = df.schema.fieldNames.map(n => col("`" + n.replace("`", "``") + "`"))
          df.observe(obs, count(lit(1)).as("n"), bit_xor(xxhash64(cols.toIndexedSeq: _*)).as("x"))
            .write.format("noop").mode("overwrite").save()
        }
        buildS = (t1 - t0) / 1e9
        actionS = Stats.secondsSince(t1)
      }
      val m = obs.get
      (m("n").asInstanceOf[Long], Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    tr.foreach(_.settle())
    val left = Hygiene.left(before, Hygiene.snapshot(spark))
    outcome match {
      case Success((n, x)) => QRun(name, buildS, actionS, n, x, None, left, root)
      case Failure(e) => QRun(name, buildS, actionS, 0L, 0L, Some(e.toString), left, root)
    }
  }

  /** The session warm-up `graft.Bench` performs before timing: codegen,
    * a parquet scan, the RDD↔DataFrame bridge and GlobalOrder. */
  private def warmSession(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))),
      new StructType().add("id", LongType, nullable = false)).selectExpr("sum(id)").collect()
    graft.operators.GlobalOrder.withRowNumber(spark.range(100).toDF(), Seq(col("id")), "rn").count()
  }

  def run(spark: SparkSession, o: Main.Opts, sessionS: Double): Result = {
    val warm = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime(); warmSession(spark, o.dataDir); Stats.secondsSince(t0)
    }
    val setupS = sessionS + Stats.median(warm)
    val expected = loadExpected(o.expected)
    val fns = SparkEntry.queries
    val order = new Random(o.seed).shuffle(Metrics.Queries)
    val lines = ArrayBuffer.empty[String]
    lines += s"workload query-suite: seed ${o.seed}, order ${order.mkString(",")}"

    def problems(r: QRun): Seq[String] = r.error match {
      case Some(e) => Seq(s"${r.name} threw: $e")
      case None => expected.get(r.name) match {
        case Some((n, x)) if n == r.rows && x == r.xor => Nil
        case Some((n, x)) =>
          Seq(s"${r.name} fingerprint rows=${r.rows} xor=${r.xor}, expected rows=$n xor=$x")
        case None => Seq(s"${r.name} has no expected fingerprint (rows=${r.rows} xor=${r.xor})")
      }
    }
    def pass(tr: Option[Tracer]): Pass = {
      val gc0 = Jvm.gcSeconds()
      val runs = order.map(q => runQuery(spark, o.dataDir, q, fns(q), tr))
      val gcS = Jvm.gcSeconds() - gc0
      Pass(runs, Jvm.retainedHeapMb(), gcS)
    }
    def describe(tag: String, p: Pass): String =
      s"$tag ${Stats.fmt(p.seconds)} s, heap ${Stats.fmt(p.heapMb)} MB: " +
        p.runs.map(r => s"${r.name} ${Stats.fmt(r.seconds)} s left ${r.left}").mkString(", ")

    val cold = pass(None)
    var unattributed = 0L
    val (passes, values) =
      if (!o.trace) {
        val warmPasses = Stats.loop(o.seconds, MinTimed)(_ => pass(None))
        // a slow moment of the machine hits single queries of single passes;
        // from three passes on, the per-query median discards it where a
        // median of whole passes would not
        val suiteS = order.map(q => Stats.median(
          warmPasses.flatMap(_.runs.filter(_.name == q).map(_.seconds)))).sum
        val all = cold +: warmPasses
        lines += describe("cold", cold)
        warmPasses.zipWithIndex.foreach { case (p, i) => lines += describe(s"timed ${i + 1}", p) }
        lines += s"suite_s = ${Stats.fmt(suiteS)} s (sum of per-query medians over " +
          s"${warmPasses.size} timed passes)"
        lines += s"first_suite_s = ${Stats.fmt(cold.seconds)} s"
        (all, Map(
          "setup_s" -> setupS,
          "iteration_s" -> suiteS,
          "first_iteration_s" -> cold.seconds,
          "work_per_s" -> Metrics.Queries.size / suiteS,
          "retained_heap_mb" -> all.take(1 + MinTimed).map(_.heapMb).max))
      } else {
        val plain = Stats.loop(o.seconds / 2.0, 1)(_ => pass(None))
        val tr = new Tracer(spark)
        spark.sparkContext.addSparkListener(tr)
        val traced = Stats.loop(o.seconds / 2.0, 1)(_ => pass(Some(tr)))
        spark.sparkContext.removeSparkListener(tr)
        unattributed = tr.openJobs
        if (unattributed != 0) lines += s"FAILED: $unattributed traced jobs without an end event"
        ((cold +: plain) ++ traced, layerValues(tr, plain, traced, lines))
      }
    val runs = passes.flatMap(_.runs)
    val bad = runs.filter(r => problems(r).nonEmpty)
    bad.flatMap(problems).foreach(p => lines += s"FAILED: $p")
    lines += s"fail_share = ${Stats.fmt(bad.size.toDouble / runs.size)} (${bad.size} of ${runs.size} query runs)"
    Result(runs.size, bad.size + (if (unattributed != 0) 1 else 0), values, o.trace, lines.toSeq)
  }

  private def layerValues(tr: Tracer, plain: Seq[Pass], traced: Seq[Pass],
      lines: ArrayBuffer[String]): Map[String, Double] = {
    val spans = tr.spans
    val children = spans.groupBy(_.parent)
    def rec(r: QRun): Map[String, Double] = {
      val root = spans.find(_.id == r.span).get
      val kids = children.getOrElse(root.id, Nil)
      val ws = (root +: kids).filter(s => tr.hasWork(s.id)).map(s => tr.workOf(s.id))
      def half(n: String) = kids.find(_.name == n).map(_.ns / 1e9).getOrElse(0.0)
      Map(
        "build_s" -> half("build"), "action_s" -> half("action"),
        "wall_s" -> root.ns / 1e9,
        "uncovered_s" -> (root.ns - Trace.unionNs(kids.map(k => (k.startNs, k.endNs)))) / 1e9,
        "executions" -> ws.map(_.executions).sum.toDouble,
        "jobs" -> ws.map(_.jobsStarted).sum.toDouble,
        "stages" -> ws.map(_.stages).sum.toDouble,
        "tasks" -> ws.map(_.tasks).sum.toDouble,
        "task_s" -> ws.map(_.taskNs).sum / 1e9,
        "longest_task_s" -> ws.map(_.longestTaskNs).maxOption.getOrElse(0L) / 1e9,
        "shuffle_bytes" -> ws.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ws.map(_.spillBytes).sum.toDouble,
        "planning_s" -> ws.map(_.planningNs).sum / 1e9,
        "cached_left" -> r.left.toDouble)
    }
    val perPass = traced.map(p => p.runs.map(r => r.name -> rec(r)).toMap)
    val values = scala.collection.mutable.Map.empty[String, Double]
    Metrics.Queries.foreach { q =>
      def med(k: String) = Stats.median(perPass.flatMap(_.get(q)).map(_(k)))
      Seq("build_s", "action_s", "executions", "tasks", "task_s", "longest_task_s", "cached_left")
        .foreach(k => values(s"query.$q.$k") = med(k))
      lines += Migrations.classify(s"query $q", med("wall_s"), med("task_s"),
        med("longest_task_s"), med("tasks")) + s", ${med("executions").toLong} executions"
    }
    def perPassSum(k: String) = Stats.median(perPass.map(_.values.map(_(k)).sum))
    val wall = perPassSum("wall_s")
    val plainS = Stats.median(plain.map(_.seconds))
    lines += s"untraced suite_s ${Stats.fmt(plainS)} s over ${plain.size}; traced " +
      s"${Stats.fmt(wall)} s over ${traced.size}, of which " +
      s"${Stats.fmt(perPassSum("uncovered_s"))} s outside any layer span"
    values ++= Seq(
      "spark.jobs" -> perPassSum("jobs"), "spark.stages" -> perPassSum("stages"),
      "spark.tasks" -> perPassSum("tasks"), "spark.task_s" -> perPassSum("task_s"),
      "spark.longest_task_s" -> Stats.median(perPass.map(_.values.map(_("longest_task_s")).max)),
      "spark.cores_busy_share" -> perPassSum("task_s") / (wall * Main.Cores),
      "spark.shuffle_bytes" -> perPassSum("shuffle_bytes"),
      "spark.spill_bytes" -> perPassSum("spill_bytes"),
      "spark.gc_s" -> Stats.median(traced.map(_.gcS)),
      "spark.sql_executions" -> perPassSum("executions"),
      "spark.planning_s" -> perPassSum("planning_s"),
      "trace.iteration_s" -> wall, "trace.uncovered_s" -> perPassSum("uncovered_s"),
      "trace.overhead_share" -> (wall / plainS - 1.0),
      "trace.unattributed_jobs" -> tr.unattributedJobs.toDouble)
    values.toMap
  }
}
