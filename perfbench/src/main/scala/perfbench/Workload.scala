package perfbench

import java.util.{Collections, IdentityHashMap, SplittableRandom}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One user-facing unit of work. `run` makes the timed library calls and
  * returns the check, which the loop runs after the op's clock stops:
  * `None` when the result is right, else what was wrong. */
trait Op {
  def kind: String
  def run(t: Tracer): () => Option[String]
}

object Op {
  def apply(k: String)(body: Tracer => () => Option[String]): Op = new Op {
    val kind = k
    def run(t: Tracer) = body(t)
  }
}

/** A closed-loop workload with one client. */
trait Workload {
  /** Fixture writes through the library under a fresh `root`. */
  def setup(spark: SparkSession, root: String): Unit
  /** Expected answers and other untimed preparation. */
  def prepare(spark: SparkSession): Unit = ()
  /** The next cycle of ops; every cycle holds the same op mix. Each op
    * is made (its batch drawn, its model updated) just before it runs,
    * outside its clock. */
  def cycle(rng: SplittableRandom): Seq[() => Op]
  /** Bytes under the table roots over the same live rows written once as
    * plain Parquet. */
  def bytesStoredPerUserByte(spark: SparkSession): Double
  /** Extra facts for the run record (oracle inputs, sizes). */
  def record: Map[String, Any] = Map.empty
  /** Drops the client's own expected-answer state once every op is
    * checked, so the live heap measured after it is the library's. */
  def release(): Unit = ()
}

object Workload {
  val Names = Seq("lake_commits", "lake_queries", "curate_batch")

  def apply(name: String, a: Args): Workload = name match {
    case "lake_commits" => new LakeCommits(a)
    case "lake_queries" => new LakeQueries(a)
    case "curate_batch" => new CurateBatch(a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Collects `df` inside an `exec.collect` span. With deep tracing it
    * first forces and times the physical plan and records the planning
    * phases and the scan nodes' file and row counts. */
  def collect(t: Tracer, df: DataFrame, sql: Boolean = false): Array[Row] = {
    if (t.deep && sql) {
      t.call("sql.plan")(df.queryExecution.executedPlan)
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        t.value(s"sql.phase_${p}_ms")(
          phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
    }
    val rows = t.call("exec.collect")(df.collect())
    if (t.deep) Plans.recordScans(t, df, rows.length)
    rows
  }
}

/** Counts TxnLog reads served by the library's per-version relation
  * cache: on a hit `TableFormats.readTable` returns the very DataFrame an
  * earlier read of that version returned. */
final class RelationHits {
  private val seen = Collections.newSetFromMap(
    new IdentityHashMap[DataFrame, java.lang.Boolean])

  def apply(t: Tracer, df: DataFrame): DataFrame = {
    val hit = !seen.add(df)
    t.value("io.relation_cache_hits")(if (hit) 1.0 else 0.0)
    df
  }

  def clear(): Unit = seen.clear()
}
