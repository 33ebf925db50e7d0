package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.io.{DatasetReader, DatasetWriter, TableFormats}
import graft.sql.SqlEngine

/** `lake_queries`: read-only analyst calls over fixtures built in
  * set-up — a hive-partitioned, catalogued lineitem dataset, a bucketed
  * orders dataset, a Delta orders table loaded by one large append and
  * ten small ones (so a checkpoint), an Iceberg orders table loaded
  * by three appends, and a TxnLog orders table of one commit. Every
  * result is collected to the client and must equal an answer computed
  * in preparation with plain Spark over the raw Parquet inputs, or from
  * the raw orders held in memory. No writes run, so every TxnLog read
  * after the first is served by its per-version relation cache; the
  * result cache stays off. */
final class LakeQueries(a: Args) extends Workload {
  private val Buckets = 16
  /** Upper key of each append's slice of orders, in commit order. */
  private val DeltaSlices: Seq[Long] = 100000L to Inputs.Orders by 5000L
  private val IcebergSlices: Seq[Long] = Seq(100000L, 125000L, Inputs.Orders)
  private val RangeRows = 2000L
  private val Years = 1992 to 1998
  private val Q3Dates: Seq[Timestamp] =
    for (y <- Seq(1994, 1995); m <- 1 to 12)
      yield Timestamp.valueOf(f"$y-$m%02d-01 00:00:00")

  private var spark: SparkSession = _
  private var root: String = _
  private def path(t: String) = s"$root/$t"

  /** Raw orders by `o_orderkey - 1`, as plain rows. */
  private var orders: Array[Row] = _
  private val scanAggAnswers = mutable.HashMap.empty[(Int, Int), Seq[Seq[Any]]]
  private val q3Answers = mutable.HashMap.empty[(Timestamp, String), Seq[Seq[Any]]]
  private var icebergSnapshots: Seq[Long] = Nil
  private val fixtureFiles = mutable.HashMap.empty[String, Double]
  private val fixtureMeta = mutable.HashMap.empty[String, (Double, Double)]
  private val hits = new RelationHits

  private def raw(t: String): DataFrame = spark.read.parquet(s"${a.data}/$t.parquet")

  private def slices(df: DataFrame, bounds: Seq[Long]): Seq[DataFrame] =
    (0L +: bounds).zip(bounds).map { case (lo, hi) =>
      df.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
    }

  /** The commit (0-based) whose append wrote `key`. */
  private def sliceOf(key: Long, bounds: Seq[Long]): Int =
    bounds.indexWhere(key <= _)

  def setup(s: SparkSession, r: String): Unit = {
    spark = s
    root = r
    val li = raw("lineitem").withColumn("l_year", year(col("l_shipdate")))
    DatasetWriter.toParquet(li, path("li"), DatasetWriter.Overwrite,
      partitionCols = Seq("l_year"))
    Catalog.createParquetTable(spark, "lq_lineitem", path("li"),
      li.schema.fields.filter(_.name != "l_year").map(f =>
        f.name -> graft.types.AthenaTypes.toAthena(f.dataType)).toSeq,
      partitionCols = Seq("l_year" -> "int"))
    Catalog.repairTable(spark, "lq_lineitem")
    val o = raw("orders")
    DatasetWriter.toParquet(o, path("ob"), DatasetWriter.Overwrite,
      bucketing = Some(DatasetWriter.BucketingInfo(Seq("o_orderkey"), Buckets)))
    Catalog.createParquetTable(spark, "lq_orders", path("ob"),
      o.schema.fields.map(f =>
        f.name -> graft.types.AthenaTypes.toAthena(f.dataType)).toSeq)
    slices(o, DeltaSlices).foreach(TableFormats.toDeltalake(_, path("dl"), "append"))
    slices(o, IcebergSlices).foreach(TableFormats.toIceberg(_, path("ib"), "append"))
    TableFormats.toTable(o, path("tx"), "append")
  }

  override def prepare(s: SparkSession): Unit = {
    orders = raw("orders").orderBy("o_orderkey").collect()
    answers()
    icebergSnapshots = TableFormats.icebergMetadataTable(spark, path("ib"),
      "snapshots").select("snapshot_id").collect().map(_.getLong(0)).toSeq
    require(icebergSnapshots.length == IcebergSlices.length,
      s"iceberg fixture has ${icebergSnapshots.length} snapshots")
    for (t <- Seq("li", "ob", "dl", "ib", "tx")) {
      fixtureFiles(t) = Util.dataFiles(path(t)).length.toDouble
      val meta = Util.metadataFiles(path(t))
      fixtureMeta(t) = (meta.length.toDouble, meta.map(_._2).sum.toDouble)
    }
    fixtureFiles("dl") = graft.io.DeltaLogReader.snapshot(spark, path("dl")).files.length
    fixtureFiles("ib") = TableFormats.icebergMetadataTable(spark, path("ib"), "files")
      .filter(col("content") === 0).count().toDouble
  }

  /** Answers to every scan-aggregate and q3 query the generator can draw,
    * from plain Spark over the raw inputs. They depend on the inputs
    * only, so they are kept beside them and computed once. */
  private def answers(): Unit = {
    val file = Paths.get(a.data, "lake_queries-answers.bin")
    if (Files.exists(file)) {
      val in = new java.io.ObjectInputStream(Files.newInputStream(file))
      try {
        scanAggAnswers ++= in.readObject().asInstanceOf[Map[(Int, Int), Seq[Seq[Any]]]]
        q3Answers ++= in.readObject().asInstanceOf[Map[(Timestamp, String), Seq[Seq[Any]]]]
      } finally in.close()
      return
    }
    val o = raw("orders")
    // scan-aggregate answers: per (year, month) partial sums, then the
    // running sum over the months before each cutoff
    val li = raw("lineitem")
    val parts = li.groupBy(year(col("l_shipdate")).as("y"),
        month(col("l_shipdate")).as("m"), col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("q"), sum("l_extendedprice").as("p"),
        count(lit(1)).as("n"))
      .collect()
    for (y <- Years; m <- 2 to 12) {
      val rows = parts.filter(r => r.getInt(0) == y && r.getInt(1) < m)
        .groupBy(r => (r.getString(2), r.getString(3))).toSeq.map {
          case ((f, st), rs) =>
            Seq[Any](f, st, rs.map(_.getDouble(4)).sum,
              rs.map(_.getDouble(5)).sum, rs.map(_.getLong(6)).sum)
        }
      scanAggAnswers((y, m)) = rows.sortBy(_.mkString("\u0001"))
    }
    // q3 answers for every (date, priority) the generator can draw
    val params = spark.createDataFrame(
      for (d <- Q3Dates; p <- Inputs.Priorities) yield (d, p))
      .toDF("d", "prio")
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(params), col("o_orderpriority") === col("prio") &&
        col("o_orderdate") < col("d") && col("l_shipdate") > col("d"))
      .groupBy(col("d"), col("prio"), col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    val top = joined.withColumn("rk", row_number().over(
        Window.partitionBy("d", "prio").orderBy(col("revenue").desc, col("l_orderkey"))))
      .filter(col("rk") <= 10).collect()
    for (d <- Q3Dates; p <- Inputs.Priorities) q3Answers((d, p)) = Nil
    top.groupBy(r => (r.getTimestamp(0), r.getString(1))).foreach { case (k, rs) =>
      q3Answers(k) = Util.canon(rs.toSeq.map(r =>
        Row(r.getLong(2), r.getDouble(5), r.getTimestamp(3), r.getString(4))))
    }
    val tmp = Paths.get(s"$file.tmp-${ProcessHandle.current().pid()}")
    val out = new java.io.ObjectOutputStream(Files.newOutputStream(tmp))
    try {
      out.writeObject(scanAggAnswers.toMap)
      out.writeObject(q3Answers.toMap)
    } finally out.close()
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE)
  }

  private def orderRows(lo: Long, hi: Long, keep: Long => Boolean): Seq[Seq[Any]] =
    Util.canon((lo to hi).filter(k => k >= 1 && k <= Inputs.Orders && keep(k))
      .map(k => orders((k - 1).toInt)))

  private def check(got: Array[Row], exp: Seq[Seq[Any]], what: String)
      : () => Option[String] = () => {
    val g = Util.canon(got.toSeq)
    if (Util.sameRows(g, exp)) None
    else Some(s"$what: ${g.length} rows, expected ${exp.length}" +
      g.zip(exp).find { case (x, y) => !Util.sameRows(Seq(x), Seq(y)) }
        .map { case (x, y) => s"; first diff $x vs $y" }.getOrElse(""))
  }

  private def shape(t: Tracer, tables: String*): Unit = {
    t.value("io.scan_files_total")(tables.map(fixtureFiles).sum)
    t.value("io.log_files")(tables.map(x => fixtureMeta(x)._1).sum)
    t.value("io.metadata_bytes")(tables.map(x => fixtureMeta(x)._2).sum)
  }

  private def sqlOp(kind: String, sql: String, params: Map[String, Any],
      exp: Seq[Seq[Any]], tables: String*): Op = Op(kind) { t =>
    val df = t.call("sql.resolve")(SqlEngine.readSqlQuery(spark, sql, params))
    val rows = Workload.collect(t, df, sql = true)
    val c = check(rows, exp, s"$kind $params")
    () => { shape(t, tables: _*); c() }
  }

  /** A read through a reader call; `span` is `table.read` for the table
    * formats and `io.read` for the bucketed dataset. */
  private def readOp(kind: String, table: String, exp: Seq[Seq[Any]],
      span: String = "table.read")(read: Tracer => DataFrame): Op = Op(kind) { t =>
    val rows = t.call(span) {
      val df = t.call("io.snapshot")(read(t))
      Workload.collect(t, df)
    }
    val c = check(rows, exp, kind)
    () => { shape(t, table); c() }
  }

  private def keyRange(rng: SplittableRandom): (Long, Long) = {
    val lo = 1 + rng.nextLong(Inputs.Orders - RangeRows)
    (lo, lo + RangeRows - 1)
  }

  def cycle(rng: SplittableRandom): Seq[() => Op] = {
    val scanAgg = () => {
      val y = Years(rng.nextInt(Years.length))
      val m = 2 + rng.nextInt(11)
      sqlOp("scan_agg",
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          |  sum(l_extendedprice) AS sum_base_price, count(*) AS count_order
          |FROM lq_lineitem
          |WHERE l_year = :y AND l_shipdate < :cutoff
          |GROUP BY l_returnflag, l_linestatus""".stripMargin,
        Map("y" -> y, "cutoff" -> Timestamp.valueOf(f"$y-$m%02d-01 00:00:00")),
        scanAggAnswers((y, m)), "li")
    }
    val q3 = () => {
      val d = Q3Dates(rng.nextInt(Q3Dates.length))
      val p = Inputs.Priorities(rng.nextInt(Inputs.Priorities.length))
      sqlOp("q3_join_agg",
        """SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
          |  o_orderdate, o_orderpriority
          |FROM lq_lineitem JOIN lq_orders ON l_orderkey = o_orderkey
          |WHERE o_orderpriority = :prio AND o_orderdate < :d
          |  AND l_shipdate > :d AND l_year >= :y
          |GROUP BY l_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin,
        Map("prio" -> p, "d" -> d, "y" -> (d.toLocalDateTime.getYear)),
        q3Answers((d, p)), "li", "ob")
    }
    val bucketLookup = () => {
      val k = 1 + rng.nextLong(Inputs.Orders)
      readOp("bucket_lookup", "ob", orderRows(k, k, _ => true), "io.read")(_ =>
        DatasetReader.readBucketed(spark, path("ob"), Seq("o_orderkey"),
          Buckets, Seq(k)))
    }
    val keyLookup = () => {
      val k = 1 + rng.nextLong(Inputs.Orders)
      sqlOp("key_lookup", "SELECT * FROM lq_orders WHERE o_orderkey = :k",
        Map("k" -> k), orderRows(k, k, _ => true), "ob")
    }
    val deltaWhere = () => {
      val (lo, hi) = keyRange(rng)
      readOp("delta_where", "dl", orderRows(lo, hi, _ => true))(_ =>
        TableFormats.readDeltalakeWhere(spark, path("dl"),
          col("o_orderkey").between(lo, hi)))
    }
    val icebergWhere = () => {
      val (lo, hi) = keyRange(rng)
      readOp("iceberg_where", "ib", orderRows(lo, hi, _ => true))(_ =>
        TableFormats.fromIcebergWhere(spark, path("ib"),
          col("o_orderkey").between(lo, hi)))
    }
    val deltaTravel = () => {
      val (lo, hi) = keyRange(rng)
      val v = rng.nextInt(DeltaSlices.length)
      readOp("delta_travel", "dl",
        orderRows(lo, hi, k => sliceOf(k, DeltaSlices) <= v))(_ =>
        TableFormats.readDeltalake(spark, path("dl"), version = Some(v))
          .filter(col("o_orderkey").between(lo, hi)))
    }
    val icebergTravel = () => {
      val (lo, hi) = keyRange(rng)
      val v = rng.nextInt(IcebergSlices.length)
      readOp("iceberg_travel", "ib",
        orderRows(lo, hi, k => sliceOf(k, IcebergSlices) <= v))(_ =>
        TableFormats.fromIcebergSnapshot(spark, path("ib"), icebergSnapshots(v))
          .filter(col("o_orderkey").between(lo, hi)))
    }
    val txnlogRead = () => {
      val (lo, hi) = keyRange(rng)
      readOp("txnlog_read", "tx", orderRows(lo, hi, _ => true))(t =>
        hits(t, TableFormats.readTable(spark, path("tx")))
          .filter(col("o_orderkey").between(lo, hi)))
    }
    // two passes: the drawn key ranges and versions move single ops by up
    // to half, so a run averages over more draws
    val pass = Seq(scanAgg, q3, bucketLookup, keyLookup, deltaWhere,
      icebergWhere, txnlogRead, scanAgg, q3, bucketLookup, keyLookup,
      deltaTravel, icebergTravel, txnlogRead)
    pass ++ pass
  }

  /** The raw inputs are the user's rows written once as plain Parquet;
    * orders backs four of the fixtures. */
  def bytesStoredPerUserByte(s: SparkSession): Double = {
    val stored = Seq("li", "ob", "dl", "ib", "tx").map(t => Util.bytesUnder(path(t))).sum
    def rawBytes(t: String) = Util.dataFiles(s"${a.data}/$t.parquet").map(_._2).sum
    stored.toDouble / (rawBytes("lineitem") + 4 * rawBytes("orders"))
  }

  override def release(): Unit = {
    orders = null
    scanAggAnswers.clear()
    q3Answers.clear()
    hits.clear()
  }
}
