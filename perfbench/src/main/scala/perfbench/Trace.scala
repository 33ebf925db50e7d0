package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval of the client thread: an op (the unit the
  * workload counts), a public library call inside it, or a Spark job the
  * listener saw. Times are `System.nanoTime` on one clock. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, var end: Long = -1L, commit: Boolean = false) {
  def ns: Long = end - start
}

/** A Spark job as the listener saw it, with its task metrics summed. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var schedDelayMs = 0L
}

/** Sums task metrics per job. Lives on Spark's listener bus thread; the
  * client reads it only after [[Tracer.drain]]. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, g, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        val info = e.taskInfo
        if (info != null && info.finished)
          j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime)
      }
    }
  }
}

/** Spans around every op and public call the client makes. Spans are
  * always kept (two clock reads each); with `deep` on, each op also runs
  * in its own Spark job group, a [[JobListener]] sums its jobs, and ops
  * record extra per-layer values (plan metrics, table file counts).
  * Everything stays in memory until the run ends. */
final class Tracer(val deep: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  /** Per op id: named values recorded by the op (counts, bytes, phases). */
  val values = mutable.HashMap.empty[Int, mutable.LinkedHashMap[String, Double]]
  val opKinds = mutable.HashMap.empty[Int, String]
  val failures = ArrayBuffer.empty[(Int, String, String)]
  private var stack: List[Span] = Nil
  private var opId = -1
  private var spark: SparkSession = _
  private var listener: JobListener = _
  /** nanoTime - currentTimeMillis*1e6, to put listener times on our clock */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  /** Client-thread time spent in deep-trace bookkeeping. */
  var bookkeepingNs = 0L

  def attach(s: SparkSession): Unit = {
    spark = s
    if (deep) {
      listener = new JobListener
      s.sparkContext.addSparkListener(listener)
    }
  }

  private def push(name: String, commit: Boolean): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.length, parent, opId, name, System.nanoTime(),
      commit = commit)
    spans += s
    stack = s :: stack
    s
  }

  private def pop(s: Span): Unit = {
    s.end = System.nanoTime()
    stack = stack.tail
  }

  /** Times one op. Job group and listener attribution only when deep. */
  def op[T](id: Int, kind: String)(body: => T): T = {
    opId = id
    opKinds(id) = kind
    if (deep) spark.sparkContext.setJobGroup(s"pb-op-$id", kind)
    val s = push(s"op.$kind", commit = false)
    try body finally {
      pop(s)
      if (deep) spark.sparkContext.clearJobGroup()
    }
  }

  /** Per op id: the client-visible parts of an op (`write`, `read`),
    * kept in every run for the summary lines. */
  val phases = mutable.HashMap.empty[Int, mutable.LinkedHashMap[String, Long]]

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val m = phases.getOrElseUpdate(opId, mutable.LinkedHashMap.empty)
      m(name) = m.getOrElse(name, 0L) + (System.nanoTime() - t0)
    }
  }

  /** Times one public library call (or one step of it) inside an op.
    * `commit` marks writer calls: their time outside Spark jobs is the
    * commit's own work (log replay, listing, manifests, the claim). */
  def call[T](name: String, commit: Boolean = false)(body: => T): T = {
    val s = push(name, commit)
    try body finally pop(s)
  }

  /** Records a per-op value; the closure runs only when deep. Its cost
    * counts as tracing bookkeeping. */
  def value(name: String)(v: => Double): Unit =
    if (deep) {
      val t0 = System.nanoTime()
      try values.getOrElseUpdate(opId, mutable.LinkedHashMap.empty)
        .update(name, v)
      catch { case e: Exception =>
        failures += ((opId, name, e.toString))
      } finally bookkeepingNs += System.nanoTime() - t0
    }

  def opSpans: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (deep) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Jobs per op id, by job group; a job without one of ours (started on
    * a library-owned thread pool) goes to the op whose span holds its
    * start. Times are on the spans' clock. */
  def jobsByOp(): Map[Int, Seq[(JobRec, Long, Long)]] = {
    if (!deep) return Map.empty
    drain()
    val ops = opSpans
    val byStart = ops.sortBy(_.start)
    listener.synchronized {
      listener.jobs.values.toSeq.flatMap { j =>
        val s = j.startMs * 1000000L + clockOffsetNs
        val e = (if (j.endMs < 0) j.startMs else j.endMs) * 1000000L + clockOffsetNs
        val op =
          if (j.group.startsWith("pb-op-")) j.group.stripPrefix("pb-op-").toInt
          else byStart.find(o => o.start <= s && s <= o.end).map(_.op)
            .getOrElse(-1)
        if (op >= 0) Some(op -> ((j, s, e))) else None
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    }
  }
}

object Tracer {
  /** Total length of the union of `[s, e]` intervals clipped to `[lo, hi]`. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
