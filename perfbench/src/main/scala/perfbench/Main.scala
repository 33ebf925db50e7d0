package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.session.GraftSession

final case class Args(workload: String = "", seed: Long = 1L,
    seconds: Double = 10.0, trace: Boolean = false, data: String = "",
    work: String = "", out: String = "", cores: Int = 4, setups: Int = 3,
    docs: Int = 1000)

object Args {
  def parse(argv: Array[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Array("--workload", v)) => a.copy(workload = v)
    case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
    case (a, Array("--trace", v)) => a.copy(trace = v == "1")
    case (a, Array("--data", v)) => a.copy(data = v)
    case (a, Array("--work", v)) => a.copy(work = v)
    case (a, Array("--out", v)) => a.copy(out = v)
    case (a, Array("--cores", v)) => a.copy(cores = v.toInt)
    case (a, Array("--setups", v)) => a.copy(setups = v.toInt)
    case (a, Array("--docs", v)) => a.copy(docs = v.toInt)
    case (_, other) =>
      throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
  }
}

/** The benchmark client: builds the session and fixtures, runs one
  * workload's closed loop for `--seconds`, checks every op, and writes
  * `result.json` (and, when traced, `spans.jsonl`) under `--out`.
  * `--workload inputs` only generates the inputs under `--data`;
  * `--workload train` runs one set-up and one cycle of every workload, to
  * record the class-data archive.
  * `--list-oracles` prints the curation operators' DuckDB oracle SQL
  * instead. */
object Main {
  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--list-oracles"))) {
      println(Util.json(CurateBatch.operators.map { case (k, _, sql) => k -> sql }.toMap))
      System.exit(0)
    }
    val code =
      try { run(Args.parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def session(a: Args): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cores}]", appName = "perfbench")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    graft.expr.AthenaBucketHash.register(s)
    graft.plans.TopKPerKey.install(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(a: Args): Unit = {
    Files.createDirectories(Paths.get(a.out))
    if (!Files.exists(Paths.get(a.data, "_READY"))) {
      val s = session(a)
      Inputs.ensure(s, a.data, a.docs)
      s.stop()
    }
    if (a.workload == "inputs") return
    if (a.workload == "train") {
      for (w <- Workload.Names)
        run(a.copy(workload = w, work = s"${a.work}/$w", out = s"${a.out}/$w"))
      return
    }
    val w = Workload(a.workload, a)
    // set-up, several times, each on a fresh session and table root
    var spark: SparkSession = null
    val buildMs = ArrayBuffer.empty[Double]
    val setupS = ArrayBuffer.empty[Double]
    for (i <- 0 until a.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      val t1 = System.nanoTime()
      w.setup(spark, s"${a.work}/tables$i")
      val t2 = System.nanoTime()
      buildMs += (t1 - t0) / 1e6
      setupS += (t2 - t0) / 1e9
    }
    val tPrep = System.nanoTime()
    w.prepare(spark)
    val prepareS = (System.nanoTime() - tPrep) / 1e9

    val tracer = new Tracer(a.trace)
    tracer.attach(spark)
    val rng = new SplittableRandom(a.seed)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    def runOp(make: () => Op): Unit = {
      val id = attempted
      attempted += 1
      try {
        val op = make()
        val check = tracer.op(id, op.kind)(op.run(tracer))
        check().foreach(m => failures += s"${op.kind}: $m")
      } catch { case e: Exception => failures += s"op $id: $e" }
    }
    val loopStart = System.nanoTime()
    val deadline = loopStart + (a.seconds * 1e9).toLong
    var cycles = 0
    // whole cycles only, so every run holds the same op mix
    while (System.nanoTime() < deadline) {
      w.cycle(rng).foreach(runOp)
      cycles += 1
    }
    val loopNs = System.nanoTime() - loopStart
    val timedS = loopNs / 1e9

    val ops = tracer.opSpans
    val opMs = ops.map(_.ns / 1e6)
    // throughput over the time inside ops: the loop's own work (drawing
    // batches, checking answers, saving outputs for the oracle) is left out
    val opS = opMs.sum / 1e3
    val stored = w.bytesStoredPerUserByte(spark)
    val facts = w.record
    val peakRss = Util.peakRssMb()
    w.release()
    val liveHeap = Util.liveHeapMb()
    // the geometric mean, not the median: a run holds 5 to 24 ops of
    // kinds with very different costs, so its median jumps between kinds
    val e2e = mutable.LinkedHashMap[String, Double](
      "op_geomean_ms" -> math.exp(opMs.map(math.log).sum / opMs.length),
      "op_p90_ms" -> Util.quantile(opMs, 0.9),
      "ops_per_s" -> ops.length / opS,
      "setup_s" -> Util.median(setupS.toSeq),
      "live_heap_mb" -> liveHeap,
      "bytes_stored_per_user_byte" -> stored)

    // client-visible breakdown for the summary lines
    val summary = mutable.LinkedHashMap[String, Double](
      "op_p50_ms" -> Util.median(opMs), "ops" -> opMs.length.toDouble,
      "peak_rss_mb" -> peakRss)
    def phaseMs(p: String) = ops.flatMap(o =>
      tracer.phases.get(o.op).flatMap(_.get(p))).map(_ / 1e6)
    for (p <- Seq("read", "write") if phaseMs(p).nonEmpty) {
      summary(s"${p}_p50_ms") = Util.median(phaseMs(p))
      summary(s"${p}_p90_ms") = Util.quantile(phaseMs(p), 0.9)
    }
    val byKind = ops.groupBy(o => tracer.opKinds(o.op)).toSeq.sortBy(_._1)
    byKind.foreach { case (k, os) =>
      summary(s"$k.p50_ms") = Util.median(os.map(_.ns / 1e6))
    }
    if (a.workload == "curate_batch")
      summary("rows_per_s") = a.docs.toDouble * ops.length / opS

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "attempted" -> attempted, "failed" -> failures.length,
      "failures" -> failures.take(20), "cycles" -> cycles,
      "timed_s" -> timedS, "setup_s_all" -> setupS,
      "prepare_s" -> prepareS,
      "session_build_ms_all" -> buildMs, "end_to_end" -> e2e,
      "summary" -> summary,
      "ops_by_kind" -> tracer.opKinds.values.groupBy(identity)
        .map { case (k, v) => k -> v.size }) ++ facts

    if (a.trace) {
      val layers = Layers.perOp(tracer, a.cores)
      record("per_layer") = Layers.report(layers, buildMs.toSeq, a.cores,
        tracer.bookkeepingNs, loopNs)
      record("per_layer_units") = mutable.LinkedHashMap.from(
        Layers.Metrics.map { case (n, u, _) => n -> u })
      record("layer_table") = Layers.table(layers)
      record("trace_value_errors") = tracer.failures.take(20).map(_.toString)
      writeSpans(tracer, s"${a.out}/spans.jsonl", loopStart)
    }
    spark.stop()
    Files.write(Paths.get(a.out, "result.json"),
      Util.json(record).getBytes("UTF-8"))
  }

  /** One JSON line per span: ops, public calls, and Spark jobs. */
  private def writeSpans(t: Tracer, file: String, origin: Long): Unit = {
    def ms(ns: Long) = (ns - origin) / 1e6
    val lines = t.spans.map(s => Util.json(mutable.LinkedHashMap(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> ms(s.start), "end_ms" -> ms(s.end)))) ++
      t.jobsByOp().toSeq.flatMap { case (op, js) => js.map { case (j, s, e) =>
        Util.json(mutable.LinkedHashMap("id" -> s"job-${j.id}", "parent" -> -1,
          "op" -> op, "name" -> "exec.job", "start_ms" -> ms(s),
          "end_ms" -> ms(e)))
      } }
    Files.write(Paths.get(file), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
