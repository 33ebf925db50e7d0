package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The raw inputs every workload reads: TPC-H-shaped `orders` (150k
  * rows) and `lineitem` (600k rows, four lines per order) and a
  * `documents` corpus shaped like the repo's sf0.1 test corpus. They are
  * a pure function of the row index (hash expressions, a fixed-seed
  * generator), so every run reads the same bytes; the workload seed
  * drives only the op sequence, parameters and batches. Written once per
  * data directory with plain Spark and reused by later runs. */
object Inputs {
  val Orders = 150000L
  val LinesPerOrder = 4
  val Sources = 20
  val Vocabulary: Seq[String] = Seq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def h(c: String, salt: Int, mod: Long) =
    pmod(xxhash64(col(c), lit(salt)), lit(mod))

  private def pick(values: Seq[String], c: String, salt: Int) =
    element_at(array(values.map(lit): _*),
      (h(c, salt, values.length.toLong) + 1).cast("int"))

  /** Order date as a day offset from 1992-01-01, keyed by order index. */
  private def orderDay(c: String) = h(c, 14, 2406L).cast("int")

  def orders(spark: SparkSession): DataFrame =
    spark.range(0L, Orders, 1L, 4).select(
      (col("id") + 1).as("o_orderkey"),
      (h("id", 11, 15000L) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), "id", 12).as("o_orderstatus"),
      round(h("id", 13, 50000000L) / 100.0 + 900.0, 2).as("o_totalprice"),
      to_timestamp(date_add(lit("1992-01-01").cast("date"), orderDay("id")))
        .as("o_orderdate"),
      pick(Priorities, "id", 15).as("o_orderpriority"))

  def lineitem(spark: SparkSession): DataFrame =
    spark.range(0L, Orders * LinesPerOrder, 1L, 4)
      .withColumn("oid", col("id").divide(LinesPerOrder).cast("long"))
      .withColumn("qty", (h("id", 23, 50L) + 1).cast("double"))
      .select(
        (col("oid") + 1).as("l_orderkey"),
        (h("id", 21, 20000L) + 1).as("l_partkey"),
        (h("id", 22, 1000L) + 1).as("l_suppkey"),
        (pmod(col("id"), lit(LinesPerOrder.toLong)) + 1).cast("int")
          .as("l_linenumber"),
        col("qty").as("l_quantity"),
        round(col("qty") * (h("id", 24, 100000L) / 100.0 + 900.0), 2)
          .as("l_extendedprice"),
        (h("id", 25, 11L) / 100.0).as("l_discount"),
        (h("id", 26, 9L) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), "id", 27).as("l_returnflag"),
        pick(Seq("O", "F"), "id", 28).as("l_linestatus"),
        to_timestamp(date_add(lit("1992-01-01").cast("date"),
          orderDay("oid") + (h("id", 29, 121L) + 1).cast("int")))
          .as("l_shipdate"))

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** `n` documents over the sf0.1 test corpus's 30-word vocabulary,
    * 10–100 words each; about 5% are near duplicates (an earlier
    * document of the same source plus one token) and a few are exact
    * copies. The curation pipeline's perplexity cutoffs are calibrated
    * to this vocabulary. Every pair of such documents shares most of its
    * tokens, so MinHash-LSH's candidate pairs grow with n squared. */
  def documents(n: Int): Seq[Doc] = {
    val rng = new java.util.SplittableRandom(20211L)
    val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val source = s"src${i % Sources}"
      val r = rng.nextDouble()
      val text =
        if (r < 0.05 && i >= Sources) texts(i - Sources * (1 + rng.nextInt(
          math.min(10, i / Sources)))) + " dup"
        else if (r < 0.052 && i > 0) texts(rng.nextInt(i))
        else Seq.fill(10 + rng.nextInt(91))(
          Vocabulary(rng.nextInt(Vocabulary.length))).mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, langs(rng.nextInt(langs.length)), source,
        text.length.toLong)
    }
  }

  /** Writes the inputs under `dir` unless a previous run already did. */
  def ensure(spark: SparkSession, dir: String, docs: Int): Unit = {
    val ready = Paths.get(dir, "_READY")
    if (Files.exists(ready)) return
    val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
    orders(spark).write.parquet(s"$tmp/orders.parquet")
    lineitem(spark).write.parquet(s"$tmp/lineitem.parquet")
    import spark.implicits._
    documents(docs).toDS().coalesce(1).write.parquet(s"$tmp/documents.parquet")
    Files.write(Paths.get(tmp, "_READY"), Array.emptyByteArray)
    Util.deleteTree(Paths.get(dir))
    Files.move(Paths.get(tmp), Paths.get(dir))
  }
}
