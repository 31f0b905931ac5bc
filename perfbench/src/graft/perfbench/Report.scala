package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkInternals

/** Metric names and units, in the order BENCHMARK.json lists them. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "iteration_s" -> "s",
    "first_iteration_s" -> "s",
    "work_per_s" -> "1/s",
    "retained_heap_mb" -> "MB")

  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_join_agg", "q06_window_topk",
    "q32_dedup_exact", "q34_dedup_minhash",
    "q133_curriculum", "q142_prefix_join",
    "q106_kmeans", "q320_bpe_train",
    "q254_scene_cuts", "q399_bh_fdr")

  val PerLayer: Seq[(String, String)] = Seq(
    "catalog.calls" -> "count", "catalog.busy_s" -> "s",
    "catalog.ddl_statements" -> "count", "catalog.ddl_s" -> "s",
    "ddl.calls" -> "count", "ddl.busy_s" -> "s",
    "sqlrewrite.busy_s" -> "s", "types.busy_s" -> "s",
    "pipeline.schema_s" -> "s", "pipeline.views_s" -> "s", "pipeline.data_s" -> "s",
    "pipeline.validate_s" -> "s", "pipeline.indexes_s" -> "s",
    "pipeline.functions_s" -> "s", "pipeline.privileges_s" -> "s",
    "pipeline.per_table_s" -> "s",
    "transfer.snapshot_s" -> "s", "transfer.write_s" -> "s", "transfer.validate_s" -> "s",
    "transfer.rows_read" -> "count", "transfer.rows_written" -> "count",
    "transfer.read_tasks" -> "count", "transfer.write_tasks" -> "count",
    "transfer.jobs_per_table" -> "count", "transfer.cached_bytes_peak" -> "bytes",
    "transfer.cached_left" -> "count", "transfer.copy_encode_mb_per_s" -> "MB/s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.longest_task_s" -> "s", "spark.cores_busy_share" -> "share",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "spark.sql_executions" -> "count", "spark.planning_s" -> "s") ++
    Queries.flatMap(q => Seq(
      s"query.$q.build_s" -> "s", s"query.$q.action_s" -> "s",
      s"query.$q.executions" -> "count", s"query.$q.tasks" -> "count",
      s"query.$q.task_s" -> "s", s"query.$q.longest_task_s" -> "s",
      s"query.$q.cached_left" -> "count")) ++ Seq(
    "trace.iteration_s" -> "s", "trace.uncovered_s" -> "s",
    "trace.overhead_share" -> "share", "trace.unattributed_jobs" -> "count")
}

/** Outcome of one run: every metric of the run's mode, plus free-text lines
  * printed above the JSON result. */
final case class Result(attempted: Long, failed: Long, values: Map[String, Double],
    trace: Boolean, lines: Seq[String]) {

  private def names = if (trace) Metrics.PerLayer else Metrics.EndToEnd

  def print(footer: String): Unit = {
    lines.foreach(println)
    println(footer)
    names.foreach { case (n, u) => println(s"metric $n = ${values.getOrElse(n, 0.0)} $u") }
    val ms = names.map { case (n, u) =>
      val v = values.getOrElse(n, 0.0)
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body` at least `min` times and until `seconds` have passed. */
  def loop[A](seconds: Double, min: Int)(body: Int => A): Seq[A] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = ArrayBuffer.empty[A]
    while (out.size < min || System.nanoTime() < deadline) out += body(out.size)
    out.toSeq
  }

  def fmt(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
}

/** Heap and GC readings. */
object Jvm {
  /** Heap still in use after full collections, in MiB. A collection lets
    * Spark's ContextCleaner see unreachable RDDs and drop their blocks, which
    * the next collection frees, so collect until the reading settles. */
  def retainedHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    Thread.sleep(50)
    var now = collect()
    var rounds = 2
    while (last - now > 1.0 && rounds < 5) {
      last = now
      Thread.sleep(50)
      now = collect()
      rounds += 1
    }
    now
  }

  /** Total JVM garbage-collection time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** State a unit of work leaves in the shared session: RDDs still persisted
  * and CacheManager entries that were not there before it ran. */
object Hygiene {
  final case class Snapshot(rdds: Set[Int], cacheEntries: Int)

  def snapshot(spark: SparkSession): Snapshot =
    Snapshot(spark.sparkContext.getPersistentRDDs.keySet.toSet,
      SparkInternals.cachedEntries(spark))

  def left(before: Snapshot, after: Snapshot): Int =
    (after.rdds -- before.rdds).size + math.max(0, after.cacheEntries - before.cacheEntries)
}
