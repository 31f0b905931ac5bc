package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** JVM entry point of the repository benchmark (see perfbench/README.md).
  * `perfbench/run.py` checks the command line, builds the program and this
  * package, and starts one JVM per run:
  *
  * {{{
  * graft.perfbench.Main --workload bulk-jdbc|schema-objects|query-suite
  *   --seed N --seconds S --trace 0|1 --data DIR --work DIR --expected FILE
  * }}}
  *
  * stdout carries readable lines, then one JSON result as its last line.
  * Exit code 0 when every output check passed, 1 when one failed, 2 on a
  * bad argument. */
object Main {
  val Workloads: Seq[String] = Seq("bulk-jdbc", "schema-objects", "query-suite")
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      dataDir: String, workDir: String, expected: String)

  def parse(args: Array[String]): Either[String, Opts] = {
    if (args.length % 2 != 0) return Left(s"arguments must be --key value pairs: ${args.mkString(" ")}")
    val kv = args.grouped(2).map(a => a(0) -> a(1)).toMap
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--data", "--work", "--expected")
    kv.keys.find(k => !known(k)) match {
      case Some(k) => return Left(s"unknown option $k")
      case None =>
    }
    def need(k: String) = kv.get(k).toRight(s"missing option $k")
    for {
      w <- need("--workload").filterOrElse(Workloads.contains,
        s"unknown workload '${kv("--workload")}' (expected one of ${Workloads.mkString(", ")})")
      seed <- need("--seed").flatMap(s => s.toLongOption.filter(_ >= 0)
        .toRight(s"bad seed '$s' (expected a non-negative integer)"))
      secs <- need("--seconds").flatMap(s => s.toIntOption.filter(_ >= 1)
        .toRight(s"bad seconds '$s' (expected a positive integer)"))
      trace <- need("--trace").flatMap(s => s match {
        case "0" => Right(false); case "1" => Right(true)
        case _ => Left(s"bad trace '$s' (expected 0 or 1)")
      })
      data <- need("--data").filterOrElse(d => Files.isRegularFile(Paths.get(d, "lineitem.parquet")),
        s"testdata directory '${kv("--data")}' holds no lineitem.parquet")
      work <- need("--work")
      expected <- need("--expected").filterOrElse(f => Files.isRegularFile(Paths.get(f)),
        s"expected-fingerprint file '${kv("--expected")}' does not exist")
    } yield Opts(w, seed, secs, trace, data, work, expected)
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // the settings graft.Bench times the suite under
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(4L << 20))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // keep every file the run writes inside the work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.scratch.dir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args) match {
      case Right(o) => o
      case Left(msg) =>
        System.err.println(s"perfbench: $msg")
        sys.exit(2)
    }
    Derby.configure(Paths.get(o.workDir))
    val spark = session(o.workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val result =
      try {
        if (o.workload == "query-suite") QuerySuite.run(spark, o, sessionS)
        else Migrations.run(spark, o, sessionS)
      } finally spark.stop()
    result.print(s"run wall ${Stats.fmt((System.currentTimeMillis() - jvmStartMs) / 1e3)} s since JVM start")
    sys.exit(if (result.failed == 0) 0 else 1)
  }
}
