package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark workload. [[setup]] builds its state into a fresh
  * warehouse (and is repeated to measure set-up time); [[runUnit]] is one
  * closed-loop unit of work; [[verify]] checks the outputs in full. */
trait Workload {
  def unitName: String
  def setup(warehouse: Path): Unit
  /** Units a run makes even when `--seconds` ends sooner; a traced run
    * alternates traced and untraced units, so at least two. */
  def minUnits: Int = 2
  /** Untimed preparation before unit `i`. */
  def prepareUnit(i: Int): Unit = ()
  /** Runs unit `i`; returns the input rows it consumed. */
  def runUnit(i: Int): Long
  def verify(): Unit
  /** Table directories whose bytes count toward stored_bytes_per_row. */
  def tableDirs: Seq[Path]
  def liveRows: Long
  /** Input properties the workload's behaviour depends on. */
  def traffic: Seq[(String, Double)]
  /** Workload-specific layer counters (sampled outside the timed ops). */
  def layerExtras: Seq[(String, Double)] = Nil
}

object Workload {
  val EventSchema: StructType = new StructType()
    .add("event_id", LongType)
    .add("event_type", StringType)
    .add("ts", TimestampType)
    .add("user_id", LongType)
    .add("value", DoubleType)
    .add("props", StringType)
  val EventCols: Seq[String] = EventSchema.fieldNames.toSeq

  /** A DataFrame over generated rows, backed by an RDD the way a source's
    * batch is — not a local relation, which the optimizer would evaluate
    * on the driver instead of in tasks. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      spark.sparkContext.defaultParallelism), schema)

  def eventRow(e: Gen.Event): Row =
    Row(e.id, e.etype, new java.sql.Timestamp(e.tsSec * 1000L), e.user,
      e.value, e.props)

  /** Order-independent digest of every event column of every row: the
    * row count and the exact sum of per-row 64-bit hashes. */
  def rowHash: Column = xxhash64(EventCols.map(col): _*).cast("decimal(20,0)")

  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(EventCols.map(col): _*)
      .agg(count(lit(1)), sum(rowHash)).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Bytes of every regular file under `dirs` (data files and log). */
  def bytesUnder(dirs: Seq[Path]): Long =
    dirs.filter(Files.isDirectory(_)).map { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }.sum

  /** Data files (parquet) under a table directory, log excluded. */
  def dataFiles(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
          !p.toString.contains("_graft_log")).toLong
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
