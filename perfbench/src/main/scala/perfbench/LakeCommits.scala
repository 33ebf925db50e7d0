package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.Catalog
import graft.io.{DatasetWriter, TableFormats}
import graft.sql.SqlEngine

/** `lake_commits`: a write-heavy sequence over five tables — a
  * hive-partitioned Parquet dataset in the catalog, a Delta table, two
  * Iceberg tables and a TxnLog table — each write followed by a read-back
  * of the table it wrote. A cycle holds every write kind once, in a fixed
  * order, with batches, keys and delete predicates drawn from the seed,
  * and ends with compaction and clean-up, so the logs grow and are
  * compacted over several cycles. Every read-back lands on the version
  * just committed. After each write the read-back's row count and
  * order-independent checksum must equal an in-memory model. Key upserts
  * (equality deletes) get an Iceberg table of their own, `iu`: the
  * library refuses a copy-on-write merge over equality delete files. */
final class LakeCommits(a: Args) extends Workload {
  private val InitialRows = 20000
  private val BatchRows = 2000
  private val Parts = 8
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField("s", StringType), StructField("p", IntegerType)))

  /** The rows a table should hold, keyed by `k`. */
  final class Model {
    val rows = mutable.LinkedHashMap.empty[Long, (Long, String)]
    var nextKey = 1L

    def upsert(batch: Seq[Row]): Unit = batch.foreach { r =>
      rows(r.getLong(0)) = (r.getLong(1), r.getString(2))
    }
    def delete(residue: Int): Unit =
      rows.filterInPlace { case (k, _) => k % DeleteModulus != residue }

    /** (rows, sum(k * 1000003 + v), sum(crc32(s))) */
    def expected: (Long, Long, Long) = {
      var h1 = 0L; var h2 = 0L
      rows.foreach { case (k, (v, s)) =>
        h1 += k * 1000003L + v
        val c = new java.util.zip.CRC32
        c.update(s.getBytes("UTF-8"))
        h2 += c.getValue
      }
      (rows.size.toLong, h1, h2)
    }
  }

  private val DeleteModulus = 101
  private var spark: SparkSession = _
  private var root: String = _
  private val models = mutable.LinkedHashMap.empty[String, Model]
  private val hits = new RelationHits

  private def path(t: String) = s"$root/$t"
  private val DsTable = "lc_ds"
  private val IbName = "lc_ib"

  private def row(rng: SplittableRandom, k: Long): Row = {
    val n = 8 + rng.nextInt(17)
    val s = new String(Array.fill(n)(
      "abcdefghijklmnopqrstuvwxyz0123456789".charAt(rng.nextInt(36))))
    Row(k, rng.nextLong(1000000L), s, (k % Parts).toInt)
  }

  private def fresh(m: Model, rng: SplittableRandom, n: Int): Seq[Row] =
    (0 until n).map { _ => val k = m.nextKey; m.nextKey += 1; row(rng, k) }

  /** Half updates of live keys, half new keys. */
  private def upserts(m: Model, rng: SplittableRandom): Seq[Row] = {
    val live = m.rows.keysIterator.toArray
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(BatchRows / 2, live.length))
      picked += live(rng.nextInt(live.length))
    picked.toSeq.map(row(rng, _)) ++ fresh(m, rng, BatchRows - picked.size)
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def setup(s: SparkSession, r: String): Unit = {
    spark = s
    root = r
    models.clear()
    val rng = new SplittableRandom(a.seed ^ 0x5eed)
    Seq("ds", "dl", "ib", "iu", "tx").foreach { t =>
      val m = new Model
      models(t) = m
      val init = fresh(m, rng, InitialRows)
      m.upsert(init)
      val df = frame(init)
      t match {
        case "ds" =>
          DatasetWriter.toParquet(df, path(t), DatasetWriter.Overwrite,
            partitionCols = Seq("p"))
          Catalog.createParquetTable(spark, DsTable, path(t),
            Seq("k" -> "bigint", "v" -> "bigint", "s" -> "string"),
            partitionCols = Seq("p" -> "int"))
          Catalog.addPartitions(spark, DsTable,
            (0 until Parts).map(p => Map("p" -> p.toString)))
        case "dl" => TableFormats.toDeltalake(df, path(t), "overwrite")
        case "ib" | "iu" => TableFormats.toIceberg(df, path(t), "overwrite")
        case "tx" => TableFormats.toTable(df, path(t), "overwrite")
      }
    }
  }

  private def checksum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum(col("k") * 1000003L + col("v")).as("h1"),
      sum(crc32(col("s").cast("binary"))).as("h2"))

  /** Reads `t` back through its public reader; the returned check
    * compares it with the model. */
  private def readBack(t: Tracer, table: String): () => Option[String] = {
    val got = t.phase("read") {
      val rows = table match {
        case "ds" =>
          val df = t.call("sql.resolve")(SqlEngine.readSqlQuery(spark,
            s"SELECT count(*) AS n, sum(k * 1000003 + v) AS h1, " +
              s"sum(crc32(to_utf8(s))) AS h2 FROM $DsTable"))
          Workload.collect(t, df, sql = true)
        case _ =>
          t.call("table.read") {
            val df = t.call("io.snapshot")(table match {
              case "dl" => TableFormats.readDeltalake(spark, path(table))
              case "ib" | "iu" => TableFormats.fromIceberg(spark, path(table))
              case "tx" => hits(t, TableFormats.readTable(spark, path(table)))
            })
            Workload.collect(t, checksum(df))
          }
      }
      rows.head
    }
    () => {
      val exp = models(table).expected
      val g = (got.getLong(0),
        if (got.isNullAt(1)) 0L else got.getLong(1),
        if (got.isNullAt(2)) 0L else got.getLong(2))
      if (g == exp) None else Some(s"$table read-back $g, model $exp")
    }
  }

  /** Table-shape values for the traced run. */
  private def tableStats(t: Tracer, table: String): Unit = {
    val dir = path(table)
    t.value("io.log_files")(Util.metadataFiles(dir).length.toDouble)
    t.value("io.metadata_bytes")(Util.metadataFiles(dir).map(_._2).sum.toDouble)
    val (live, deletes) = liveFiles(table)
    t.value("io.live_data_files")(live.size.toDouble)
    t.value("io.delete_files")(deletes.toDouble)
    t.value("io.scan_files_total")(live.size.toDouble)
  }

  /** Live data files (path -> bytes) and delete files of a table. */
  private def liveFiles(table: String): (Map[String, Long], Int) = {
    val dir = path(table)
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName
    table match {
      case "dl" =>
        val snap = graft.io.DeltaLogReader.snapshot(spark, dir)
        (snap.files.map(f => name(f.path) -> f.size).toMap,
          snap.files.count(_.deletionVector.isDefined))
      case "ib" | "iu" =>
        val fs = TableFormats.icebergMetadataTable(spark, dir, "files")
          .select("content", "file_path", "file_size_in_bytes").collect()
        (fs.filter(_.getInt(0) == 0)
          .map(r => name(r.getString(1)) -> r.getLong(2)).toMap,
          fs.count(_.getInt(0) != 0))
      case "tx" =>
        val dirs = graft.table.TxnLog.currentSnapshot(spark, dir).toSeq
          .flatMap(_.dataDirs)
        (dirs.flatMap(d => Util.dataFiles(d.stripPrefix("file:")))
          .map { case (p, b) => name(p) -> b }.toMap, 0)
      case _ =>
        (Util.dataFiles(dir).map { case (p, b) => name(p) -> b }.toMap, 0)
    }
  }

  /** A write op: the timed writer call, then the read-back. The traced
    * run also records the files and bytes the write added and the
    * table's shape, outside the op's clock. */
  private def write(kind: String, table: String)(body: Tracer => Unit): Op = {
    val before = if (a.trace) liveFiles(table)._1 else Map.empty[String, Long]
    val onDiskBefore =
      if (a.trace) Util.dataFiles(path(table)).map(_._1).toSet else Set.empty[String]
    Op(kind) { t =>
      t.phase("write")(body(t))
      val check = readBack(t, table)
      () => {
        if (t.deep) {
          val after = liveFiles(table)._1
          val newOnDisk = Util.dataFiles(path(table))
            .filterNot { case (p, _) => onDiskBefore(p) }
          t.value("io.files_written")(newOnDisk.length.toDouble)
          t.value("io.bytes_written")(newOnDisk.map(_._2).sum.toDouble)
          t.value("io.bytes_rewritten")(
            if ((before.keySet -- after.keySet).nonEmpty)
              (after.keySet -- before.keySet).toSeq.map(after).sum.toDouble
            else 0.0)
          tableStats(t, table)
        }
        check()
      }
    }
  }

  private def deletePred(r: Int): Column = col("k") % DeleteModulus === r

  def cycle(rng: SplittableRandom): Seq[() => Op] = {
    val m = models
    val writes = Seq[() => Op](
      () => {
        val b = fresh(m("ds"), rng, BatchRows); m("ds").upsert(b)
        val df = frame(b)
        write("ds_append", "ds") { t =>
          t.call("io.dataset_write", commit = true)(
            DatasetWriter.toParquet(df, path("ds"), DatasetWriter.Append,
              partitionCols = Seq("p")))
          t.call("catalog.call")(Catalog.addPartitions(spark, DsTable,
            b.map(_.getInt(3)).distinct.sorted.map(p => Map("p" -> p.toString))))
        }
      },
      () => {
        val b = fresh(m("dl"), rng, BatchRows); m("dl").upsert(b)
        val df = frame(b)
        write("delta_append", "dl") { t =>
          t.call("io.write", commit = true)(
            TableFormats.toDeltalake(df, path("dl"), "append"))
        }
      },
      () => {
        val b = upserts(m("dl"), rng); m("dl").upsert(b)
        val df = frame(b)
        write("delta_merge", "dl") { t =>
          t.call("table.merge", commit = true)(
            TableFormats.toDeltalake(df, path("dl"), mergeKeys = Seq("k")))
        }
      },
      () => {
        val r = rng.nextInt(DeleteModulus); m("dl").delete(r)
        write("delta_delete", "dl") { t =>
          t.call("io.delete", commit = true)(
            TableFormats.deleteFromDeltalake(spark, path("dl"), deletePred(r)))
        }
      },
      () => {
        val b = fresh(m("ib"), rng, BatchRows); m("ib").upsert(b)
        val df = frame(b)
        write("iceberg_append", "ib") { t =>
          t.call("io.write", commit = true)(
            TableFormats.toIceberg(df, path("ib"), "append"))
        }
      },
      () => {
        val b = upserts(m("ib"), rng); m("ib").upsert(b)
        val df = frame(b)
        write("iceberg_merge", "ib") { t =>
          t.call("table.merge", commit = true)(
            TableFormats.toIceberg(df, path("ib"), mergeCols = Seq("k")))
        }
      },
      () => {
        val b = upserts(m("iu"), rng); m("iu").upsert(b)
        val df = frame(b)
        write("iceberg_upsert", "iu") { t =>
          t.call("table.merge", commit = true)(
            TableFormats.upsertIceberg(spark, path("iu"), df, Seq("k")))
        }
      },
      () => {
        val r = rng.nextInt(DeleteModulus); m("ib").delete(r)
        write("iceberg_delete", "ib") { t =>
          t.call("io.delete", commit = true)(
            TableFormats.deleteFromIceberg(spark, path("ib"), deletePred(r)))
        }
      },
      () => {
        val b = upserts(m("tx"), rng); m("tx").upsert(b)
        val df = frame(b)
        write("txnlog_merge", "tx") { t =>
          t.call("table.merge", commit = true)(
            TableFormats.toTable(df, path("tx"), mergeKeys = Seq("k")))
        }
      },
      () => {
        val b = upserts(m("ib"), rng); m("ib").upsert(b)
        val df = frame(b)
        write("sql_merge", "ib") { t =>
          df.createOrReplaceTempView("lc_src")
          t.call("sql.dml", commit = true)(SqlEngine.executeSql(spark,
            s"""MERGE INTO "$IbName" target
               |USING "lc_src" source
               |ON (target."k" = source."k")
               |WHEN MATCHED THEN
               |    UPDATE SET "k" = source."k", "v" = source."v", "s" = source."s", "p" = source."p"
               |WHEN NOT MATCHED THEN
               |    INSERT ("k", "v", "s", "p")
               |    VALUES (source."k", source."v", source."s", source."p")
               |""".stripMargin, tables = Map(IbName -> path("ib"))))
        }
      })
    writes ++ Seq[() => Op](
      () => write("delta_optimize", "dl") { t =>
        t.call("io.maintain", commit = true)(
          TableFormats.optimizeDeltalake(spark, path("dl")))
      },
      () => write("iceberg_rewrite", "ib") { t =>
        t.call("io.maintain", commit = true)(
          TableFormats.rewriteIcebergDataFiles(spark, path("ib")))
      },
      () => write("iceberg_rewrite_upserts", "iu") { t =>
        t.call("io.maintain", commit = true)(
          TableFormats.rewriteIcebergDataFiles(spark, path("iu")))
      },
      () => write("delta_vacuum", "dl") { t =>
        t.call("io.maintain", commit = true)(
          TableFormats.vacuumDeltalake(spark, path("dl"), retentionMs = 0L))
      },
      () => write("iceberg_expire", "ib") { t =>
        t.call("io.maintain", commit = true)(
          TableFormats.expireIcebergSnapshots(spark, path("ib"),
            retentionMs = 0L, retainLast = 1))
      })
  }

  def bytesStoredPerUserByte(s: SparkSession): Double = {
    val stored = models.keys.toSeq.map(t => Util.bytesUnder(path(t))).sum
    val plain = models.map { case (t, m) =>
      val rows = m.rows.iterator.map { case (k, (v, str)) =>
        Row(k, v, str, (k % Parts).toInt) }.toSeq
      frame(rows).coalesce(1).write.parquet(s"$root/plain_$t")
      Util.dataFiles(s"$root/plain_$t").map(_._2).sum
    }.sum
    stored.toDouble / plain
  }

  override def record: Map[String, Any] = Map(
    "table_rows" -> models.map { case (t, m) => t -> m.rows.size })

  override def release(): Unit = {
    models.clear()
    hits.clear()
  }
}
