package graft.perfbench

/** Per-layer metrics from a traced run. Layer names are module names;
  * each metric is a median over the traced ops of one class (or over the
  * traced units, for the engine layer) unless its name says otherwise.
  * A layer the workload never calls reports 0 with 0 samples. */
object Layers {
  final case class M(name: String, value: Double, samples: Int)

  /** The end-to-end metric and workload each layer should move. */
  val Moves: Seq[(String, String)] = Seq(
    "Ops." -> "unit_p50_ms on curation_batch (slightly)",
    "TableSink.commit." -> "unit_p50_ms on lake_mixed; none on curation_batch",
    "WarehouseIO." -> "unit_p50_ms on lake_mixed; none on curation_batch",
    "TableSink.read." -> "unit_p50_ms on lake_mixed; none on curation_batch",
    "GraftCatalog." -> "unit_p50_ms on lake_mixed",
    "TableSink.mor." -> "unit_p50_ms on lake_mixed",
    "TextAnalysis." -> "unit_p50_ms on curation_batch; none elsewhere",
    "Dedup." -> "unit_p50_ms on curation_batch; none elsewhere",
    "Similarity." -> "unit_p50_ms on curation_batch; none elsewhere",
    "spark." -> "cpu_s everywhere; driver_only_ms moves unit_p50_ms",
    "trace." -> "none (tracing cost)")

  val ReadClasses: Seq[String] = Seq("scan_read", "time_travel", "changelog")
  val IoClasses: Seq[String] = Seq("commit", "point_read", "scan_read",
    "time_travel", "changelog", "upsert", "delete")
  val Curation: Seq[(String, String)] = Seq("quality" -> "TextAnalysis.quality",
    "exact" -> "Dedup.exact", "minhash" -> "Dedup.minhash", "topk" -> "Similarity.topk")

  def compute(ctx: Ctx, wl: Workload, tr: Tracer): Seq[M] = {
    val out = Seq.newBuilder[M]
    def put(name: String, xs: Seq[Double], agg: Seq[Double] => Double = Stats.median): Unit =
      out += M(name, if (xs.isEmpty) 0.0 else agg(xs), xs.size)
    def one(name: String, v: Double): Unit = out += M(name, v, 1)
    // counters the workload samples itself (ok ratio, recall, sidecars, …)
    val extras = wl.layerExtras.toMap
    def extra(name: String): Unit =
      out += extras.get(name).map(M(name, _, 1)).getOrElse(M(name, 0.0, 0))

    val timed = ctx.ops.filter(o => o.unit >= 0 && o.ok)
    val tracedOps = timed.filter(_.span.isDefined)
    def opSpans(cls: String): Seq[Span] = tracedOps.filter(_.cls == cls).flatMap(_.span).toSeq
    def layer(cls: String, name: String): Seq[Span] =
      opSpans(cls).flatMap(s => tr.subtree(s).find(_.name == name))
    def child(s: Span, name: String): Option[Span] =
      tr.subtree(s).find(x => x.name == name && x.parent == s.id)
    def cpuMs(s: Span): Double = tr.jobsUnder(s).map(_.cpuNs).sum / 1e6
    def jobSum(s: Span)(f: JobAgg => Long): Double = tr.jobsUnder(s).map(f).sum.toDouble
    def walls(cls: String): Seq[Double] = timed.filter(_.cls == cls).map(_.wallMs).toSeq
    def rowsRet(s: Span): Double = math.max(s.attrs.getOrElse("rows_returned", 0.0), 1.0)

    // op classes, as the traced run saw them
    put("commit_p50_ms", walls("commit"))
    put("commit_p90_ms", walls("commit"), Stats.quantile(_, 0.9))
    for (c <- Seq("point_read", "scan_read", "time_travel", "changelog", "upsert", "delete"))
      put(s"${c}_p50_ms", walls(c))
    one("failed_op_ratio", ctx.failed.toDouble / math.max(ctx.attempted, 1L))

    val unitSpans = tr.spans.filter(_.name == wl.unitName).toSeq
    val opsSpans = unitSpans.flatMap(u => tr.subtree(u).filter(_.name == "Ops"))
    put("Ops.plan_ms", opsSpans.map(_.dur))
    extra("Ops.ok_ratio")

    val commits = layer("commit", "TableSink.commit")
    put("TableSink.commit.self_ms", commits.map(tr.selfMs))
    put("TableSink.commit.job_ms", commits.map(tr.jobMs))
    put("TableSink.commit.jobs", commits.map(tr.jobsUnder(_).size.toDouble))
    put("TableSink.commit.exec_cpu_ms", commits.map(cpuMs))
    put("TableSink.commit.files_added",
      opSpans("commit").flatMap(_.attrs.get("files_added")))
    put("TableSink.commit.bytes_written", commits.map(jobSum(_)(_.bytesWritten)))
    val selfs = commits.sortBy(_.start).map(tr.selfMs)
    val dec = math.max(1, selfs.size / 10)
    put("TableSink.commit.self_ms.last_decile_over_first",
      if (selfs.size < 2) Nil
      else Seq(Stats.median(selfs.takeRight(dec)) / Stats.median(selfs.take(dec))))

    for (c <- IoClasses) {
      val os = timed.filter(_.cls == c).toSeq
      def mean(f: Io => Long): Seq[Double] =
        if (os.isEmpty) Nil else Seq(os.map(o => f(o.io).toDouble).sum / os.size)
      put(s"WarehouseIO.$c.dir_listings_per_op", mean(_.listings))
      put(s"WarehouseIO.$c.meta_reads_per_op", mean(_.metaReads))
      put(s"WarehouseIO.$c.manifest_content_reads_per_op", mean(_.manifestReads))
      if (Set("commit", "upsert", "delete")(c))
        put(s"WarehouseIO.$c.meta_bytes_written_per_op", mean(_.metaBytes))
    }

    for (c <- ReadClasses) {
      val rs = layer(c, "TableSink.read")
      put(s"TableSink.read.$c.plan_ms", rs.flatMap(child(_, "plan")).map(_.dur))
      put(s"TableSink.read.$c.exec_ms", rs.flatMap(child(_, "execute")).map(_.dur))
      put(s"TableSink.read.$c.exec_cpu_ms", rs.map(cpuMs))
      put(s"TableSink.read.$c.bytes_read", rs.map(jobSum(_)(_.bytesRead)))
      put(s"TableSink.read.$c.rows_examined_per_row_returned",
        rs.map(s => jobSum(s)(_.recordsRead) / rowsRet(s)))
    }

    val pr = layer("point_read", "GraftCatalog")
    put("GraftCatalog.point_read.resolve_ms", pr.flatMap(child(_, "plan")).map(_.dur))
    put("GraftCatalog.point_read.exec_ms", pr.flatMap(child(_, "execute")).map(_.dur))
    put("GraftCatalog.point_read.bytes_read", pr.map(jobSum(_)(_.bytesRead)))
    put("GraftCatalog.point_read.rows_examined_per_row_returned",
      pr.map(s => jobSum(s)(_.recordsRead) / rowsRet(s)))

    val up = layer("upsert", "TableSink.mor")
    put("TableSink.mor.upsert.self_ms", up.map(tr.selfMs))
    put("TableSink.mor.upsert.job_ms", up.map(tr.jobMs))
    put("TableSink.mor.upsert.jobs", up.map(tr.jobsUnder(_).size.toDouble))
    put("TableSink.mor.upsert.exec_cpu_ms", up.map(cpuMs))
    put("TableSink.mor.upsert.shuffle_bytes", up.map(jobSum(_)(_.shuffleWrite)))
    val del = layer("delete", "TableSink.mor")
    put("TableSink.mor.delete.self_ms", del.map(tr.selfMs))
    put("TableSink.mor.delete.jobs", del.map(tr.jobsUnder(_).size.toDouble))

    for ((c, name) <- Curation) {
      val ss = layer(c, name)
      put(s"$name.wall_ms", ss.map(_.dur))
      put(s"$name.exec_cpu_ms", ss.map(cpuMs))
      put(s"$name.shuffle_write_bytes", ss.map(jobSum(_)(_.shuffleWrite)))
      put(s"$name.spill_bytes", ss.map(jobSum(_)(_.spill)))
      put(s"$name.rows_out", ss.map(_.attrs.getOrElse("rows_returned", 0.0)))
    }

    Seq("TableSink.commit.replay_skip_ratio", "WarehouseIO.log_entries",
      "TableSink.mor.pending_sidecars", "Dedup.minhash.recall",
      "Dedup.exact.removed_ratio").foreach(extra)

    // untraced units leave no span: these are the traced timed units
    put("spark.exec_cpu_s", unitSpans.map(cpuMs(_) / 1e3))
    put("spark.gc_ms", unitSpans.map(jobSum(_)(_.gcMs)))
    put("spark.task_wait_ms", unitSpans.map(jobSum(_)(_.waitMs)))
    put("spark.stage_skew", unitSpans.map(u =>
      (tr.jobsUnder(u).map(_.skew) :+ 1.0).max))
    put("spark.shuffle_write_bytes", unitSpans.map(jobSum(_)(_.shuffleWrite)))
    put("spark.spill_bytes", unitSpans.map(jobSum(_)(_.spill)))
    put("spark.driver_only_ms", unitSpans.map(u => u.dur - tr.jobMs(u)))

    val on = ctx.units.filter(_.traced).map(_.wallMs).toSeq
    val off = ctx.units.filter(!_.traced).map(_.wallMs).toSeq
    put("trace.overhead_pct",
      if (on.isEmpty || off.isEmpty) Nil
      else Seq((Stats.median(on) / Stats.median(off) - 1.0) * 100.0))
    out.result()
  }

  def movesFor(name: String): String =
    Moves.find(m => name.startsWith(m._1)).map(_._2)
      .getOrElse("its share of unit_p50_ms (op-class latency)")
}
