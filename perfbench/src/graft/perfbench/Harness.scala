package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.WarehouseIO

object Json {
  /** A finite number with all its digits (NaN/Inf become null). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile, q in [0,1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** WarehouseIO's process-wide metadata counters, read as one value. */
final case class Io(listings: Long, metaReads: Long, manifestReads: Long,
    metaBytes: Long) {
  def -(o: Io): Io = Io(listings - o.listings, metaReads - o.metaReads,
    manifestReads - o.manifestReads, metaBytes - o.metaBytes)
}
object Io {
  def now(): Io = Io(WarehouseIO.dirListings.get(), WarehouseIO.metaReads.get(),
    WarehouseIO.manifestContentReads.get(), WarehouseIO.metaBytesWritten.get())
}

/** One timed operation: its class (commit, point_read, …), the unit it
  * ran in, wall time, metadata IO, and its span when traced. */
final case class OpRec(cls: String, unit: Int, wallMs: Double, io: Io,
    span: Option[Span], ok: Boolean)

/** One unit of work (a micro-batch, a cycle, a curation pass). */
final case class UnitRec(wallMs: Double, cpuS: Double, rows: Long,
    traced: Boolean)

/** Run state shared by the workloads: the session, the optional tracer,
  * and every op, unit and check recorded. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val trace: Option[Tracer]) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer()
  val units: mutable.ArrayBuffer[UnitRec] = mutable.ArrayBuffer()
  var attempted = 0L
  var failed = 0L
  private var curUnit = -1

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** A span around `body` when tracing, else just `body`. */
  def span[A](name: String)(body: => A): (A, Option[Span]) =
    trace.fold((body, Option.empty[Span]))(_.span(name)(body))

  /** Public call until its DataFrame (or plan) returns. */
  def plan[A](body: => A): A = span("plan")(body)._1
  /** The terminal action that computes the full result. */
  def execute[A](body: => A): A = span("execute")(body)._1

  def attr(k: String, v: Double): Unit = trace.foreach(_.attr(k, v))

  /** Time one operation of class `cls` (its span carries the class name;
    * the body opens a span per module it calls). A throw counts as a
    * failed op and yields None; the run goes on. */
  def op[A](cls: String)(body: => A): Option[A] = {
    val io0 = Io.now()
    val t0 = System.nanoTime()
    val (res, sp) = span(cls) {
      try Some(body) catch { case NonFatal(e) =>
        System.err.println(s"perfbench: $cls op failed: $e")
        e.printStackTrace()
        None
      }
    }
    val wall = (System.nanoTime() - t0) / 1e6
    val io = Io.now() - io0
    sp.foreach { s =>
      s.attrs("dir_listings") = io.listings.toDouble
      s.attrs("meta_reads") = io.metaReads.toDouble
      s.attrs("manifest_content_reads") = io.manifestReads.toDouble
      s.attrs("meta_bytes_written") = io.metaBytes.toDouble
    }
    ops += OpRec(cls, curUnit, wall, io, sp, res.isDefined)
    attempted += 1
    if (res.isEmpty) failed += 1
    res
  }

  /** Record one correctness check; a false one counts as a failed op. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: CHECK FAILED $name $detail")
    }
    ok
  }

  /** Run one unit; returns the rows it consumed. In a traced run every
    * other unit runs untraced, so the two halves give the tracing
    * overhead under the same load. */
  def unit(idx: Int, unitName: String)(body: => Long): Unit = {
    val traced = trace.isDefined && idx % 2 == 0
    trace.foreach(_.active = traced)
    curUnit = idx
    val cpu0 = processCpuS()
    val t0 = System.nanoTime()
    val rows = span(unitName)(body)._1
    units += UnitRec((System.nanoTime() - t0) / 1e6, processCpuS() - cpu0,
      rows, traced)
    curUnit = -1
    trace.foreach(_.active = true)
  }
}
