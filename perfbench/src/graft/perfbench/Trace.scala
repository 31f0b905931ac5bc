package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

/** One traced call: the layer it entered, the function, its interval and
  * the span that caused it (0 for a root). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spark work attributed to one span. `execNs` and `execTasks` split the
  * span's SQL executions by the action their call site names (`count`,
  * `save`, `collect`, ...), which is how a `Transfer.copyTable` span is
  * divided into snapshot, write and read-back work. */
final class SparkWork {
  var jobsStarted, jobsEnded, stages, tasks, executions = 0L
  var taskNs, longestTaskNs, shuffleBytes, spillBytes = 0L
  var rowsRead, rowsWritten, planningNs = 0L
  val execNs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val execTasks: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** In-memory span recorder plus the one Spark listener that attributes jobs,
  * stages, tasks and SQL executions to spans.
  *
  * Attribution: a span adds the job tag `pbspan-<id>` to its thread for the
  * duration of the call. Spark copies a thread's tags into every job, stage
  * and SQL execution the call submits (and into its own helper threads), so
  * the listener charges each event to the innermost open span. Spans opened
  * on pool threads pass their parent explicitly. Nothing is written out
  * until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val nextId = new AtomicInteger(1)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageAction = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val execInfo = new ConcurrentHashMap[Long, (Int, String, Long)]()
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  private val open = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  @volatile var unattributedJobs = 0L
  @volatile private var cachedNow = 0L
  @volatile var cachedPeak = 0L

  def current: Int = open.get

  def span[A](layer: String, name: String, parent: Int = -1)(body: => A): A = {
    val id = nextId.getAndIncrement()
    val p = if (parent >= 0) parent else open.get.intValue
    val sc = spark.sparkContext
    val tag = s"pbspan-$id"
    val saved = open.get
    sc.addJobTag(tag)
    open.set(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(saved)
      sc.removeJobTag(tag)
      done.add(Span(id, p, layer, name, t0, t1))
    }
  }

  /** Deliver every pending listener event; call outside timed regions. */
  def settle(): Unit = SparkInternals.drainListenerBus(spark)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  def workOf(id: Int): SparkWork = work.computeIfAbsent(id, _ => new SparkWork)
  def hasWork(id: Int): Boolean = work.containsKey(id)

  /** Jobs started under a span whose end event has not arrived: must be 0
    * after [[settle]] for the span's counts to be complete. */
  def openJobs: Long = work.values.asScala.map(w => w.jobsStarted - w.jobsEnded).sum

  def resetCachedPeak(): Unit = cachedPeak = cachedNow

  private def spanOfTags(tags: Iterable[String]): Int =
    tags.iterator.collect { case t if t.startsWith("pbspan-") =>
      t.stripPrefix("pbspan-").toInt }.maxOption.getOrElse(0)

  private def spanOf(props: java.util.Properties): Int =
    if (props == null) 0
    else Option(props.getProperty("spark.job.tags"))
      .map(s => spanOfTags(s.split(",").toSeq)).getOrElse(0)

  private def actionOf(description: String): String =
    Option(description).map(_.trim.takeWhile(c => !c.isWhitespace))
      .filter(_.nonEmpty).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s == 0) { unattributedJobs += 1; return }
    val w = workOf(s)
    w.synchronized(w.jobsStarted += 1)
    jobSpan.put(e.jobId, s)
    val action = Option(e.properties.getProperty("spark.sql.execution.id"))
      .flatMap(id => Option(execInfo.get(id.toLong))).map(_._2).getOrElse("rdd")
    e.stageIds.foreach { st => stageSpan.putIfAbsent(st, s); stageAction.putIfAbsent(st, action) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { s =>
      val w = workOf(s)
      w.synchronized(w.jobsEnded += 1)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = Option(stageSpan.get(e.stageInfo.stageId)).map(_.intValue).getOrElse(0)
    if (s != 0) { val w = workOf(s); w.synchronized(w.stages += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(0)
    val m = e.taskMetrics
    if (s == 0 || m == null) return
    val w = workOf(s)
    val runNs = m.executorRunTime * 1000000L
    w.synchronized {
      w.tasks += 1
      w.taskNs += runNs
      w.longestTaskNs = math.max(w.longestTaskNs, runNs)
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.rowsRead += m.inputMetrics.recordsRead
      w.rowsWritten += m.outputMetrics.recordsWritten
      val a = Option(stageAction.get(e.stageId)).getOrElse("rdd")
      w.execTasks(a) += 1
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (!info.blockId.isRDD) return
    val bytes = info.memSize + info.diskSize
    val before = Option(blockBytes.put(info.blockId.name, bytes)).map(_.longValue).getOrElse(0L)
    if (bytes == 0L) blockBytes.remove(info.blockId.name)
    cachedNow += bytes - before
    if (cachedNow > cachedPeak) cachedPeak = cachedNow
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val span = spanOfTags(s.jobTags)
      execInfo.put(s.executionId, (span, actionOf(s.description), s.time))
      if (span != 0) { val w = workOf(span); w.synchronized(w.executions += 1) }
    case end: SparkListenerSQLExecutionEnd =>
      Option(execInfo.remove(end.executionId)).foreach { case (span, action, t0) =>
        if (span != 0) {
          val planning = SparkInternals.planningMs(end)
          val w = workOf(span)
          w.synchronized {
            w.execNs(action) += (end.time - t0) * 1000000L
            w.planningNs += planning * 1000000L
          }
        }
      }
    case _ =>
  }
}

object Trace {

  /** Total length of the union of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its child
    * spans cover (children on parallel threads are merged, not summed). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.ns - covered)
    }.toMap
  }

  /** All spans below `root` (children, grandchildren, ...). */
  def descendants(spans: Seq[Span], root: Int): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(c => c +: walk(c.id))
    walk(root)
  }
}
