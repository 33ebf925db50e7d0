package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Scan-node SQL metrics of an executed query. */
object Plans extends AdaptiveSparkPlanHelper {
  def recordScans(t: Tracer, df: DataFrame, resultRows: Int): Unit = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics
      case s: BatchScanExec => s.metrics
    }
    def total(k: String) = scans.flatMap(_.get(k)).map(_.value).sum.toDouble
    t.value("io.scan_files_read")(total("numFiles"))
    t.value("io.rows_scanned")(total("numOutputRows"))
    t.value("io.rows_returned")(resultRows.toDouble)
  }
}

/** Turns a traced run's spans, jobs and recorded values into per-op
  * layer metrics, the per-layer metrics the benchmark reports, and the
  * per-op-type table. */
object Layers {
  /** Span names whose summed duration is a metric `<name>_ms`. */
  val Timed = Seq("sql.resolve", "sql.plan", "sql.dml", "table.merge",
    "table.read", "catalog.call", "io.snapshot", "io.dataset_write",
    "ops.construct")

  /** Per-op metrics reported as a run sum and a per-op median. */
  val Summed: Seq[(String, String, String)] = Seq(
    ("sql.resolve_ms", "ms", "lower"),
    ("sql.plan_ms", "ms", "lower"),
    ("sql.phase_analysis_ms", "ms", "lower"),
    ("sql.phase_optimization_ms", "ms", "lower"),
    ("sql.phase_planning_ms", "ms", "lower"),
    ("sql.dml_ms", "ms", "lower"),
    ("table.merge_ms", "ms", "lower"),
    ("table.read_ms", "ms", "lower"),
    ("catalog.call_ms", "ms", "lower"),
    ("io.commit_driver_ms", "ms", "lower"),
    ("io.snapshot_ms", "ms", "lower"),
    ("io.log_files", "count", "lower"),
    ("io.metadata_bytes", "bytes", "lower"),
    ("io.live_data_files", "count", "lower"),
    ("io.delete_files", "count", "lower"),
    ("io.bytes_rewritten", "bytes", "lower"),
    ("io.dataset_write_ms", "ms", "lower"),
    ("io.files_written", "count", "lower"),
    ("io.bytes_written", "bytes", "lower"),
    ("io.scan_files_read", "count", "lower"),
    ("io.scan_files_total", "count", "lower"),
    ("io.relation_cache_hits", "count", "higher"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_ms", "ms", "lower"),
    ("exec.cpu_ms", "ms", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.output_bytes", "bytes", "lower"),
    ("exec.in_jobs_ms", "ms", "lower"),
    ("exec.scheduler_delay_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.outside_jobs_ms", "ms", "lower"),
    ("ops.construct_ms", "ms", "lower"),
    ("ops.output_rows", "count", "higher"),
    ("ops.persisted_rdds_after", "count", "lower"),
    ("ops.storage_bytes_after", "bytes", "lower"))

  /** Ratios: a run-level ratio of sums and a per-op median. */
  val Ratios: Seq[(String, String, String)] = Seq(
    ("exec.slot_busy_ratio", "ratio", "higher"),
    ("io.rows_returned_per_row_scanned", "ratio", "higher"))

  /** Layers that own a span's self time; `unattributed` is op time
    * outside every call span. */
  val SelfLayers = Seq("sql", "catalog", "io", "table", "ops", "exec",
    "unattributed")

  /** Every per-layer metric a traced run reports: (name, unit, better). */
  val Metrics: Seq[(String, String, String)] =
    Seq(("session.build_ms.sum", "ms", "lower"),
      ("session.build_ms.p50", "ms", "lower")) ++
      Summed.flatMap { case (n, u, b) => Seq((s"$n.sum", u, b), (s"$n.p50", u, b)) } ++
      Ratios.flatMap { case (n, u, b) => Seq((s"$n.run", u, b), (s"$n.p50", u, b)) } ++
      SelfLayers.map(l => (s"self.${l}_ms", "ms", "lower")) ++
      Seq(("trace.op_p50_ms", "ms", "lower"),
        ("trace.unattributed_share", "ratio", "lower"),
        ("trace.bookkeeping_share", "ratio", "lower"))

  final case class OpLayers(op: Int, kind: String, wallMs: Double,
      m: mutable.LinkedHashMap[String, Double],
      self: mutable.LinkedHashMap[String, Double],
      outsideByCall: mutable.LinkedHashMap[String, Double])

  def perOp(t: Tracer, slots: Int): Seq[OpLayers] = {
    val jobs = t.jobsByOp()
    val byOp = t.spans.filter(_.parent >= 0).groupBy(_.op)
    val children = t.spans.groupBy(_.parent)
    t.opSpans.map { o =>
      val m = mutable.LinkedHashMap.empty[String, Double]
      val desc = byOp.getOrElse(o.op, Nil)
      for (n <- Timed) {
        val ds = desc.filter(_.name == n)
        if (ds.nonEmpty) m(s"${n}_ms") = ds.map(_.ns).sum / 1e6
      }
      val js = jobs.getOrElse(o.op, Nil)
      val ivs = js.map { case (_, s, e) => (s, e) }
      def inJobs(s: Span) = Tracer.unionNs(ivs, s.start, s.end)
      val commits = desc.filter(_.commit)
      if (commits.nonEmpty)
        m("io.commit_driver_ms") = commits.map(s => s.ns - inJobs(s)).sum / 1e6
      val in = inJobs(o)
      val rec = js.map(_._1)
      m("exec.jobs") = rec.length
      m("exec.stages") = rec.map(_.stages).sum
      m("exec.tasks") = rec.map(_.tasks).sum.toDouble
      m("exec.task_ms") = rec.map(_.taskMs).sum.toDouble
      m("exec.cpu_ms") = rec.map(_.cpuNs).sum / 1e6
      m("exec.shuffle_write_bytes") = rec.map(_.shuffleWrite).sum.toDouble
      m("exec.shuffle_read_bytes") = rec.map(_.shuffleRead).sum.toDouble
      m("exec.spill_bytes") = rec.map(_.spill).sum.toDouble
      m("exec.input_bytes") = rec.map(_.input).sum.toDouble
      m("exec.output_bytes") = rec.map(_.output).sum.toDouble
      m("exec.in_jobs_ms") = in / 1e6
      m("exec.scheduler_delay_ms") = rec.map(_.schedDelayMs).sum.toDouble
      m("exec.gc_ms") = rec.map(_.gcMs).sum.toDouble
      m("exec.outside_jobs_ms") = (o.ns - in) / 1e6
      if (in > 0) m("exec.slot_busy_ratio") = m("exec.task_ms") / (in / 1e6 * slots)
      val vals = t.values.getOrElse(o.op, mutable.LinkedHashMap.empty[String, Double])
      vals.foreach { case (k, v) => m(k) = v }
      for (scanned <- vals.get("io.rows_scanned") if scanned > 0)
        m("io.rows_returned_per_row_scanned") = vals("io.rows_returned") / scanned
      val self = mutable.LinkedHashMap.from(SelfLayers.map(_ -> 0.0))
      (o +: desc).foreach { s =>
        val kids = children.getOrElse(s.id, Nil)
        val selfNs = s.ns - kids.map(_.ns).sum
        val jobNs = inJobs(s) - kids.map(inJobs).sum
        val layer = if (s.parent < 0) "unattributed" else s.name.takeWhile(_ != '.')
        self(layer) += (selfNs - jobNs) / 1e6
        self("exec") += jobNs / 1e6
      }
      val outside = mutable.LinkedHashMap.empty[String, Double]
      children.getOrElse(o.id, Nil).foreach { c =>
        outside(c.name) = outside.getOrElse(c.name, 0.0) + (c.ns - inJobs(c)) / 1e6
      }
      outside("(between calls)") = ((o.ns - in) / 1e6) - outside.values.sum
      OpLayers(o.op, t.opKinds(o.op), o.ns / 1e6, m, self, outside)
    }
  }

  /** The per-layer metrics of [[Metrics]] for one traced run. */
  def report(ops: Seq[OpLayers], buildMs: Seq[Double], slots: Int,
      bookkeepingNs: Long, loopNs: Long): mutable.LinkedHashMap[String, Double] = {
    val r = mutable.LinkedHashMap.empty[String, Double]
    r("session.build_ms.sum") = buildMs.sum
    r("session.build_ms.p50") = Util.median(buildMs)
    def present(n: String) = ops.flatMap(_.m.get(n))
    def sumOf(n: String) = present(n).sum
    Summed.foreach { case (n, _, _) =>
      r(s"$n.sum") = sumOf(n)
      r(s"$n.p50") = Util.median(present(n))
    }
    val inJobs = sumOf("exec.in_jobs_ms")
    r("exec.slot_busy_ratio.run") =
      if (inJobs > 0) sumOf("exec.task_ms") / (inJobs * slots) else 0.0
    r("exec.slot_busy_ratio.p50") = Util.median(present("exec.slot_busy_ratio"))
    val scanned = sumOf("io.rows_scanned")
    r("io.rows_returned_per_row_scanned.run") =
      if (scanned > 0) sumOf("io.rows_returned") / scanned else 0.0
    r("io.rows_returned_per_row_scanned.p50") =
      Util.median(present("io.rows_returned_per_row_scanned"))
    val wall = ops.map(_.wallMs).sum
    SelfLayers.foreach(l => r(s"self.${l}_ms") = ops.map(_.self(l)).sum)
    r("trace.op_p50_ms") = Util.median(ops.map(_.wallMs))
    r("trace.unattributed_share") =
      if (wall > 0) r("self.unattributed_ms") / wall else 0.0
    r("trace.bookkeeping_share") =
      if (loopNs > 0) bookkeepingNs.toDouble / loopNs else 0.0
    r
  }

  /** Rows of the per-op-type table: kind, metric, run sum, per-op median,
    * ops. */
  def table(ops: Seq[OpLayers]): Seq[Seq[Any]] =
    ops.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (kind, os) =>
      val wall = Seq(Seq[Any](kind, "op.wall_ms", os.map(_.wallMs).sum,
        Util.median(os.map(_.wallMs)), os.length))
      val names = os.flatMap(_.m.keys).distinct
      val metrics = names.map { n =>
        val xs = os.flatMap(_.m.get(n))
        Seq[Any](kind, n, xs.sum, Util.median(xs), xs.length)
      }
      val selfRows = SelfLayers.map { l =>
        val xs = os.map(_.self(l))
        Seq[Any](kind, s"self.${l}_ms", xs.sum, Util.median(xs), xs.length)
      }
      val calls = os.flatMap(_.outsideByCall.keys).distinct.map { c =>
        val xs = os.flatMap(_.outsideByCall.get(c))
        Seq[Any](kind, s"exec.outside_jobs_ms[$c]", xs.sum, Util.median(xs), xs.length)
      }
      wall ++ metrics ++ selfRows ++ calls
    }
}
