package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sinks

/** The sink tables' input: lineitem rows under a synthetic unique key
  * (`(l_orderkey, l_linenumber)` is not unique in the fixture), with the
  * ship date, its year as the partition value, and three value columns.
  */
object SinkInputs {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("d", DateType, nullable = false),
    StructField("part", StringType, nullable = false),
    StructField("qty", DoubleType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("disc", DoubleType, nullable = false)))

  val columns: Seq[String] = schema.fieldNames.toSeq

  /** Write the base snapshot: the lineitem rows of every `modulo`-th
    * order, keyed by order key and rank within the order.
    */
  def writeBase(spark: SparkSession, dataDir: String, out: String,
                modulo: Int): Unit = {
    val li = graft.Tables.lineitem(spark, dataDir)
      .where(pmod(col("l_orderkey"), lit(modulo.toLong)) === 0)
    val within = Window.partitionBy(col("l_orderkey")).orderBy(
      Seq("l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_shipdate").map(col): _*)
    li.select(
        (col("l_orderkey") * 64 + row_number().over(within)).as("k"),
        to_date(col("l_shipdate")).as("d"),
        date_format(col("l_shipdate"), "yyyy").as("part"),
        col("l_quantity").as("qty"),
        col("l_extendedprice").as("price"),
        col("l_discount").as("disc"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(out)
  }
}

/** What one sink operation did to the files under its table. */
final case class FileDelta(bytesWritten: Long, filesWritten: Long,
                           logBytesWritten: Long, filesDeleted: Long,
                           partitionsRewritten: Long)

object FileDelta {
  val zero: FileDelta = FileDelta(0, 0, 0, 0, 0)

  def listing(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally w.close()
    }
  }

  /** Per-partition generation pointers of a partitioned table. */
  def pointers(root: String): Map[String, String] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Map.empty
    else {
      val ls = Files.list(p)
      try ls.iterator().asScala
        .map(_.resolve("_CURRENT")).filter(Files.isRegularFile(_))
        .map(f => f.getParent.getFileName.toString ->
          Files.readString(f).trim).toMap
      finally ls.close()
    }
  }

  def between(before: Map[String, Long], after: Map[String, Long],
              ptrBefore: Map[String, String],
              ptrAfter: Map[String, String]): FileDelta = {
    val written = after.filter { case (f, n) => !before.get(f).contains(n) }
    FileDelta(
      written.values.sum, written.size.toLong,
      written.filter(_._1.contains("_delta_log")).values.sum,
      before.keySet.count(!after.contains(_)).toLong,
      ptrAfter.count { case (k, v) => !ptrBefore.get(k).contains(v) }.toLong)
  }
}

object SinkPair {
  /** Hash of one sink row. The values are stored exactly as generated, so
    * they are hashed bit for bit.
    */
  def rowHash(r: Row): Long = {
    def mix(h: Long, x: Long): Long = {
      var z = (h ^ x) * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    }
    var h = mix(17L, r.getLong(0))
    h = mix(h, r.getDate(1).toLocalDate.toEpochDay)
    h = mix(h, r.getString(2).hashCode.toLong)
    h = mix(h, java.lang.Double.doubleToLongBits(r.getDouble(3)))
    h = mix(h, java.lang.Double.doubleToLongBits(r.getDouble(4)))
    mix(h, java.lang.Double.doubleToLongBits(r.getDouble(5)))
  }

  /** Load the base snapshot into both (empty) tables under `root`. */
  def load(spark: SparkSession, root: String, baseDir: String): Unit = {
    val base = spark.read.schema(SinkInputs.schema).parquet(baseDir)
    Sinks.upsertParquet(spark, s"$root/u", base, keys = Seq("k"))
    Sinks.upsertParquetPartitioned(spark, s"$root/p", base, keys = Seq("k"),
      partitionCol = "part")
  }
}

/** A pair of sink tables under one root, both loaded from the same base
  * snapshot and fed the same seeded stream of batches: `u` through
  * `Sinks.upsertParquet`, `p` through `Sinks.upsertParquetPartitioned` on
  * the ship year. Each batch updates about `updateFrac` of the live keys,
  * drawn from the most recent ship dates, and adds
  * `newPerBatch` fresh keys dated in the last weeks of the data.
  *
  * The expected content is an independent last-writer-wins fold of the
  * base and every batch, kept in driver memory; [[check]] compares a
  * table's fingerprint with the fold's, maintained incrementally.
  */
final class SinkPair(spark: SparkSession, root: String,
                     baseRowsIn: Array[Row], seed: Long, updateFrac: Double,
                     newPerBatch: Int) {
  val u: String = s"$root/u"
  val p: String = s"$root/p"
  val tables: Seq[String] = Seq(u, p)
  private val fold = new scala.collection.mutable.LongMap[Row]()
  private var foldHash = 0L
  private def put(r: Row): Unit = {
    val k = r.getLong(0)
    fold.get(k).foreach(o => foldHash -= SinkPair.rowHash(o))
    fold.update(k, r)
    foldHash += SinkPair.rowHash(r)
  }

  baseRowsIn.foreach(put)
  private val byRecency: Array[Long] = fold.values.toArray
    .sortBy(r => (-r.getDate(1).toLocalDate.toEpochDay, r.getLong(0)))
    .map(_.getLong(0))
  private val lastDay = java.time.LocalDate.ofEpochDay(
    fold.values.map(_.getDate(1).toLocalDate.toEpochDay).max)
  private var nextKey = fold.keys.max + 1
  private val rnd = new java.util.Random(seed * 7919 + 17)
  private var batches = 0

  def liveRows: Long = fold.size.toLong

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  /** Generate the next batch, fold it into the expected content and
    * write it as parquet; returns its directory and row count.
    */
  def nextBatch(inputs: String): (String, Long) = {
    batches += 1
    val nUpd = math.max(1, (byRecency.length * updateFrac).toInt)
    // a daily reload re-states recent rows: updates come from the most
    // recent 2% of keys, denser towards the newest
    val window = math.max(2 * nUpd, byRecency.length / 50)
    val keys = scala.collection.mutable.LinkedHashSet[Long]()
    while (keys.size < nUpd) {
      val x = rnd.nextDouble()
      keys += byRecency((x * x * window).toInt)
    }
    def values(k: Long, d: java.sql.Date): Row = Row(k, d,
      d.toLocalDate.toString.take(4), (1 + rnd.nextInt(50)).toDouble,
      cents(900 + rnd.nextDouble() * 100000), rnd.nextInt(11) / 100.0)
    val upd = keys.toSeq.map(k => values(k, fold(k).getDate(1)))
    val fresh = (0 until newPerBatch).map { _ =>
      val k = nextKey; nextKey += 1
      values(k, java.sql.Date.valueOf(lastDay.minusDays(rnd.nextInt(28))))
    }
    val rows = upd ++ fresh
    rows.foreach(put)
    val dir = s"$inputs/batch-${"%05d".format(batches)}"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      SinkInputs.schema).write.mode("overwrite").parquet(dir)
    (dir, rows.size.toLong)
  }

  def batch(dir: String): DataFrame =
    spark.read.schema(SinkInputs.schema).parquet(dir)

  def read(table: String): DataFrame =
    if (table == p) Sinks.readUpsertPartitionedTable(spark, p)
    else Sinks.readUpsertTable(spark, u)

  /** None when the table equals the fold, else what differs. */
  def check(table: String): Option[String] = {
    val (n, h) = read(table).select(SinkInputs.columns.map(col): _*).rdd
      .map(SinkPair.rowHash)
      .aggregate((0L, 0L))((a, x) => (a._1 + 1, a._2 + x),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    if (n == fold.size && h == foldHash) None
    else Some(s"table ${Paths.get(table).getFileName}: expected " +
      s"${fold.size} rows/hash $foldHash, got $n/$h")
  }

  /** Data files a full read of the table opens. */
  def scanFiles(table: String): Long =
    read(table).inputFiles.length.toLong

  /** Parquet files in the generations the tables' pointers name. */
  def liveFiles: Long = {
    def inGen(dir: Path): Long = {
      val ptr = dir.resolve("_CURRENT")
      if (!Files.isRegularFile(ptr)) 0L
      else {
        val gen = dir.resolve(Files.readString(ptr).trim)
        if (!Files.isDirectory(gen)) 0L
        else {
          val ls = Files.list(gen)
          try ls.iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet")).toLong
          finally ls.close()
        }
      }
    }
    val parts = {
      val ls = Files.list(Paths.get(p))
      try ls.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally ls.close()
    }
    inGen(Paths.get(u)) + parts.map(inGen).sum
  }

  def diskBytes: Long = tables.map(FileDelta.listing(_).values.sum).sum
}
