package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.DatasetWriter
import graft.ops.{Curation, Dedup}

/** `curate_batch`: one op is one operator run over the documents corpus
  * — `Curation.curatePipelineV3`, `Dedup.ngramJaccard` and
  * `Dedup.minhashLsh` — each cycle running each operator once. The
  * result is
  * collected to the client; the benchmark then frees the operators'
  * persisted blocks with `Dedup.releaseCaches()`.
  * Every run of an operator must return the rows its first run returned,
  * and the first run's rows are saved for the launcher to compare with
  * the repo's own DuckDB oracle SQL over the raw corpus. */
final class CurateBatch(a: Args) extends Workload {
  private var spark: SparkSession = _
  private var root: String = _
  private val firstDigest = mutable.HashMap.empty[String, String]
  private val saved = mutable.LinkedHashMap.empty[String, String]

  def setup(s: SparkSession, r: String): Unit = {
    spark = s
    root = r
    DatasetWriter.toParquet(spark.read.parquet(s"${a.data}/documents.parquet"),
      s"$root/documents.parquet", DatasetWriter.Overwrite)
  }

  private def run(kind: String, op: (SparkSession, String) => DataFrame): Op =
    Op(kind) { t =>
      val df = t.call("ops.construct")(op(spark, root))
      val rows = Workload.collect(t, df)
      () => {
        t.value("ops.output_rows")(rows.length.toDouble)
        t.value("ops.persisted_rdds_after")(
          spark.sparkContext.getPersistentRDDs.size.toDouble)
        t.value("ops.storage_bytes_after")(spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum.toDouble)
        Dedup.releaseCaches()
        val d = Util.digest(rows.toSeq)
        firstDigest.get(kind) match {
          case None =>
            firstDigest(kind) = d
            val out = s"${a.out}/$kind"
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.parquet(out)
            saved(kind) = out
            None
          case Some(f) if f == d => None
          case Some(f) => Some(s"$kind returned ${rows.length} rows with " +
            s"digest $d, the first run's was $f")
        }
      }
    }

  /** Each operator once, in a fixed order: a run holds one cycle and its
    * first op pays the JVM's warm-up, so a seeded order would make each
    * run's op times depend on which operator came first. */
  def cycle(rng: SplittableRandom): Seq[() => Op] =
    CurateBatch.operators.map { case (k, f, _) => () => run(k, f) }

  def bytesStoredPerUserByte(s: SparkSession): Double =
    Util.bytesUnder(s"$root/documents.parquet").toDouble /
      Util.dataFiles(s"${a.data}/documents.parquet").map(_._2).sum

  override def record: Map[String, Any] = Map("outputs" -> saved)
}

object CurateBatch {
  /** (op kind, operator, the repo's DuckDB oracle SQL for it) */
  val operators: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("curate_v3", (s: SparkSession, d: String) =>
      Curation.curatePipelineV3(s, d, stopWords = Curation.CorpusStopWords),
      Curation.curatePipelineV3Oracle(Curation.CorpusStopWords)),
    ("ngram_jaccard", Dedup.ngramJaccard _, Dedup.ngramJaccardOracle),
    ("minhash_lsh", Dedup.minhashLsh _, Dedup.minhashLshOracle))
}
