package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Task-time vs wall-time instrumentation for the 32-core anti-scaling
  * investigation (round-16 item #1): runs each named SparkEntry query
  * under the EXACT Bench session config (same master/shuffle-partition
  * contract via SPARK_GRAFT_CPUS, same maxPartitionBytes, same AQE flag)
  * with a SparkListener accumulating, per query:
  *   jobs, stages, tasks, sum of task run times, sum of scheduler-visible
  *   task deserialize/serialize overhead, and wall time. Each query runs
  *   twice and both rows are printed; read the faster one (the first run
  *   pays the cold JIT and plan caches).
  *
  * wall >> taskTime/cores  --> scheduling/driver overhead dominates
  * tasks >> rows/64k       --> partition counts oversized for the data
  *
  * Extra spark confs can be injected through SPARK_GRAFT_EXTRA_CONF
  * ("k1=v1;k2=v2") to A/B e.g. AQE coalescing settings without editing
  * the harness. Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.tools.ScaleProbe q133_curriculum ..."
  *
  * Bad input (no query, an unknown query name, a conf pair without `=`)
  * is refused before the session starts, with a message naming the value.
  */
object ScaleProbe {
  private def fail(msg: String): Nothing = {
    System.err.println(s"ScaleProbe: $msg\nusage: ScaleProbe <query>... " +
      "(SPARK_GRAFT_EXTRA_CONF=\"k1=v1;k2=v2\")")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) fail("no query named")
    val unknown = args.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(", ")}")
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty).map { pair =>
        pair.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => fail(s"SPARK_GRAFT_EXTRA_CONF pair '$pair' is not k=v")
        }
      }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(4L << 20))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config(extraConf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same warmup block as Bench
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType, nullable = false))
      .selectExpr("sum(id)").collect()
    graft.operators.GlobalOrder.withRowNumber(
      spark.range(100).toDF(), Seq(org.apache.spark.sql.functions.col("id")), "rn")
      .count()

    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val taskMs = new LongAdder
    val deserMs = new LongAdder; val gcMs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.add(m.executorRunTime)
          deserMs.add(m.executorDeserializeTime + m.resultSerializationTime)
          gcMs.add(m.jvmGCTime)
        }
      }
    })

    println(f"query,run,wall_s,jobs,stages,tasks,task_s,deser_s,gc_s")
    args.foreach { q =>
      (1 to 2).foreach { r =>
        jobs.set(0); stages.set(0); tasks.set(0)
        taskMs.reset(); deserMs.reset(); gcMs.reset()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // allow the async listener bus to drain before reading counters
        Thread.sleep(800)
        println(f"$q,$r,$wall%.3f,${jobs.get},${stages.get},${tasks.get}," +
          f"${taskMs.sum / 1e3}%.3f,${deserMs.sum / 1e3}%.3f,${gcMs.sum / 1e3}%.3f")
      }
    }
    spark.stop()
  }
}
