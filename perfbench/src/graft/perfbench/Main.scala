package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Benchmark entry point:
  * {{{
  * Main --workload <lake_mixed|curation_batch> --seed <n>
  *      --seconds <s> --trace <0|1> --work-dir <dir>
  * }}}
  * Sets the workload up several times (set-up time is the median), then
  * runs closed-loop units of work for `--seconds`, checks every output,
  * and prints one JSON result as the last line of stdout: end-to-end
  * metrics with `--trace 0`, per-layer metrics with `--trace 1`. The
  * traced run also writes its spans to `<work-dir>/../trace-<workload>-
  * <seed>.jsonl`. Everything else it writes stays under `--work-dir`. */
object Main {
  val Workloads: Seq[String] = Seq("lake_mixed", "curation_batch")
  /** Set-ups per run; set-up time is their median. */
  val Setups = 3
  /** Untimed warm-up in the first set-up: JIT keeps compiling hot paths
    * for seconds, and timed units still getting faster would make a
    * run's median depend on how far it got. */
  val WarmupS = 2.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = need("seconds").toDoubleOption.filter(_ > 0)
      .getOrElse(usage("--seconds must be positive"))
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val workDir = Paths.get(need("work-dir")).toAbsolutePath
    Files.createDirectories(workDir)

    val session0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder("perfbench", Some(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("spark-warehouse").toString)
      // Spark's own history of finished queries and jobs would otherwise
      // grow the heap with the number of units run; keep it small so
      // driver_heap_mb shows what the program holds
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - session0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, seed, tracer)
    val wl: Workload = workload match {
      case "lake_mixed" => new Lake(ctx)
      case "curation_batch" => new Curation(ctx)
    }

    // set-up, repeated into fresh warehouses; the last one is measured.
    // The first set-up in a fresh JVM also runs untimed units for
    // WarmupS, so timed units do not pay first-use JIT and codegen; the
    // first set-up is the slowest of the three either way, so the median
    // is not moved.
    val setupS = (1 to Setups).map { i =>
      if (i > 1) Workload.deleteTree(workDir.resolve(s"warehouse-${i - 1}"))
      val t0 = System.nanoTime()
      wl.setup(workDir.resolve(s"warehouse-$i"))
      if (i == 1) {
        val w0 = System.nanoTime()
        var w = -1
        while (w == -1 || System.nanoTime() - w0 < WarmupS * 1e9) {
          wl.prepareUnit(w); wl.runUnit(w); w -= 1
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    val cpu0 = ctx.processCpuS()
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsedS < seconds || i < wl.minUnits) {
      wl.prepareUnit(i)
      ctx.unit(i, wl.unitName)(wl.runUnit(i))
      i += 1
    }
    val loopS = elapsedS
    val loopCpuS = ctx.processCpuS() - cpu0
    // nothing was unpersisted between units: what is still reachable
    // after full collections is what the program kept. Spark's cleaner
    // releases dropped shuffles and broadcasts asynchronously after a
    // collection finds them, so collect a few times and keep the least.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    wl.verify()
    val units = ctx.units.toSeq
    System.err.println("perfbench: setup s " + setupS.map(x => f"$x%.2f").mkString(" ") +
      "; unit ms " + units.map(u => f"${u.wallMs}%.0f").mkString(" ") + "; ops ms " +
      ctx.ops.filter(_.unit >= 0).groupBy(_.cls).map { case (c, os) =>
        c + " " + os.map(o => f"${o.wallMs}%.0f").mkString(",") }.mkString("; "))
    val storedBytes = Workload.bytesUnder(wl.tableDirs)

    println(Json.obj(Seq("traffic" -> Json.obj(
      (wl.traffic ++ Seq("units" -> units.size.toDouble, "loop_s" -> loopS,
        "loop_cpu_s" -> loopCpuS, "session_s" -> sessionS,
        "setup_samples" -> setupS.size.toDouble))
        .map { case (k, v) => k -> Json.num(v) }))))

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("unit_p50_ms", Stats.median(units.map(_.wallMs)), "ms"),
        ("rows_per_s", units.map(_.rows).sum / loopS, "rows/s"),
        ("cpu_s", Stats.median(units.map(_.cpuS)), "s"),
        ("driver_heap_mb", heapMb, "MB"),
        ("stored_bytes_per_row", storedBytes.toDouble / math.max(wl.liveRows, 1L), "B/row"))
      case Some(tr) =>
        org.apache.spark.sql.graft.Bridge.drainListeners(spark)
        val traceFile = workDir.getParent.resolve(s"trace-$workload-$seed.jsonl")
        tr.write(traceFile)
        val layers = Layers.compute(ctx, wl, tr)
        println(s"per-layer summary ($workload, seed $seed, ${units.size} units, " +
          s"${units.count(_.traced)} traced); spans in $traceFile")
        println(f"  ${"metric"}%-58s ${"value"}%14s ${"n"}%5s  should move")
        layers.foreach { m =>
          println(f"  ${m.name}%-58s ${m.value}%14.3f ${m.samples}%5d  ${Layers.movesFor(m.name)}")
        }
        layers.map(m => (m.name, m.value, unitOf(m.name)))
    }

    val correct = ctx.failed == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    spark.stop()
  }

  /** Unit of a per-layer metric, from its name. */
  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_pct")) "%"
    else if (name.contains("bytes")) "bytes"
    else if (Seq("ratio", "_over_first", "recall", "skew", "per_row_returned")
        .exists(name.endsWith)) "ratio"
    else "count"

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>")
    sys.exit(2)
  }
}
