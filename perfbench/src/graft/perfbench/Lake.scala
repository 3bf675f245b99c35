package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft._

/** lake_mixed: reads beside merge-on-read writes on a table with a
  * streamed history. Set-up streams the history into a table; each unit
  * is one fixed cycle on a fresh file copy of that table: a CDC batch
  * through upsertMor, a deleteWhere, a small append, a point lookup
  * through the SQL door, a head scan-aggregate, a time-travel read of a
  * seeded older version, and a changelog read since the cycle began.
  * Writes and reads share the cycle, so work moved from one side to the
  * other shows.
  *
  * Every cycle starts from the same table state, so cycles differ only
  * in their seeded inputs and the median over a run does not depend on
  * how many cycles fit in it (on one ever-growing table each cycle costs
  * more than the last, and a faster build would be measured on a longer
  * history). The copy is made between units and is not timed.
  *
  * Every result is checked against a driver-side model of the op log:
  * event_id → visible row, per version. Delete predicates are event_id
  * ranges over rows already written and new rows always get fresh ids,
  * so a committed predicate never hides a later write and the model
  * stays a plain map. */
final class Lake(ctx: Ctx) extends Workload {
  val HistoryCommits = 6
  val HistoryRows = 500
  val UpsertKeys = 200
  val UpdateShare = 0.7
  val AppendRows = 200

  private val spark = ctx.spark
  private val schema = Workload.EventSchema
  private var warehouse: Path = _
  private var catalog = ""
  private var setups = 0
  private var copies = 0
  // the set-up table, never written after set-up
  private var baseModel = Map.empty[Int, Map[Long, Gen.Event]]
  private var baseHead = 0
  private var baseNextId = 1L
  // the table the current cycle works on
  private var table = ""
  private var sink: TableSink = _
  private var nextId = 1L
  private var nextBatch = 0L
  private var head = 0
  /** Visible rows after each committed version of the current table. */
  private val model = mutable.Map[Int, Map[Long, Gen.Event]]()
  /** Digest checks whose expected side is computed in one job at the
    * end: (name, expected rows per group, digest per group read). */
  private val deferred = mutable.ArrayBuffer[(String, Map[String, Iterable[Gen.Event]],
    Map[String, (Long, BigDecimal)])]()
  private val upsertHotShare = mutable.ArrayBuffer[Double]()
  private var replays = 0L
  private var replaysSkipped = 0L

  def unitName = "cycle"
  /** A cycle takes seconds; four of them keep one slow cycle on a noisy
    * host from setting the run's median. */
  override def minUnits: Int = 4

  private def frame(rows: Seq[Gen.Event]): DataFrame =
    Workload.frame(spark, rows.map(Workload.eventRow), schema)

  private def open(name: String): Unit = {
    table = name
    sink = new TableSink(SinkConfig(name, warehouse.toString, versioned = true,
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
  }

  private def dir(name: String): Path = warehouse.resolve(name)

  private def freshEvents(r: java.util.SplittableRandom, n: Int,
      tsLo: Long): Seq[Gen.Event] =
    (0 until n).map { _ =>
      val e = Gen.event(r, nextId, tsLo, 6 * 3600)
      nextId += 1
      e
    }

  /** Record a successful write: the new head version and its rows. */
  private def committed(update: Map[Long, Gen.Event] => Map[Long, Gen.Event]): Unit = {
    val prev = model(head)
    head = sink.snapshotVersions().last
    model(head) = update(prev)
  }

  /** One streamed micro-batch; returns its batch id. */
  private def streamAppend(rows: Seq[Gen.Event]): Long = {
    val b = nextBatch
    nextBatch += 1
    val traced = ctx.trace.exists(_.active)
    val filesBefore = if (traced) Workload.dataFiles(dir(table)) else 0L
    ctx.op("commit") {
      ctx.span("TableSink.commit")(sink.appendStreamBatch(frame(rows), "lake", b))._1
    }.foreach(_ => committed(_ ++ rows.map(e => e.id -> e)))
    if (traced) ctx.ops.last.span.foreach(_.attrs("files_added") =
      (Workload.dataFiles(dir(table)) - filesBefore).toDouble)
    b
  }

  /** The same batch delivered again, as by a stream restarted from a
    * checkpoint that missed the commit: the exactly-once sink must skip
    * it. */
  private def replay(rows: Seq[Gen.Event], b: Long): Unit = {
    replays += 1
    ctx.op("replay") {
      ctx.span("TableSink.commit")(sink.appendStreamBatch(frame(rows), "lake", b))._1
    }.foreach { done =>
      if (ctx.check(s"replay of batch $b skipped", !done)) replaysSkipped += 1
    }
  }

  def setup(wh: Path): Unit = {
    setups += 1
    warehouse = wh
    // a fresh catalog name per warehouse: Spark keeps the first instance
    // registered under a name
    catalog = s"lake$setups"
    GraftSession.registerCatalog(spark, wh.toString, catalog)
    open("events")
    nextId = 1L; nextBatch = 0L; head = 0
    model.clear(); model(0) = Map.empty
    val r = Gen.rng(ctx.seed, "lake-history")
    for (h <- 0 until HistoryCommits)
      streamAppend(freshEvents(r, HistoryRows, Gen.T0Sec + h * 6 * 3600L))
    baseModel = model.toMap; baseHead = head; baseNextId = nextId
    // first use of the SQL door and of the read path
    pointRead(1L)
    scanRead()
  }

  /** Copy the set-up table to a fresh name for cycle `i`; the previous
    * cycle's copy is removed. */
  override def prepareUnit(i: Int): Unit = {
    if (table != "events") Workload.deleteTree(dir(table))
    copies += 1
    val name = s"events_c$copies"
    val src = dir("events")
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val to = dir(name).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally s.close()
    open(name)
    model.clear(); model ++= baseModel
    head = baseHead; nextId = baseNextId; nextBatch = HistoryCommits
  }

  /** `n` distinct live keys, biased toward recent ids (hot keys). */
  private def hotKeys(r: java.util.SplittableRandom, live: Array[Long],
      n: Int): Seq[Long] = {
    val picked = mutable.LinkedHashSet[Long]()
    while (picked.size < math.min(n, live.length)) {
      val pos = live.length - 1 - (live.length * math.pow(r.nextDouble(), 2)).toInt
      picked += live(math.max(pos, 0))
    }
    picked.toSeq
  }

  private def pointRead(key: Long): Unit = {
    val expect = model(head).get(key)
    ctx.op("point_read") {
      ctx.span("GraftCatalog") {
        val df = ctx.plan(spark.sql(s"SELECT ${Workload.EventCols.mkString(", ")} " +
          s"FROM $catalog.$table WHERE event_id = $key"))
        val rows = ctx.execute(df.collect())
        ctx.attr("rows_returned", rows.length)
        rows
      }._1
    }.foreach { rows =>
      val got = rows.map(r => Gen.Event(r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime / 1000L, r.getLong(3), r.getDouble(4), r.getString(5)))
      ctx.check(s"point read $key", got.toSeq == expect.toSeq, s"${got.toSeq} vs $expect")
    }
  }

  private def scanRead(): Unit = {
    val want = model(head).values.groupBy(_.etype).map { case (t, es) =>
      t -> (es.size.toLong, es.map(_.value).sum, es.map(_.tsSec).max)
    }
    ctx.op("scan_read") {
      ctx.span("TableSink.read") {
        val df = ctx.plan(sink.read(spark))
        val rows = ctx.execute(df.groupBy("event_type")
          .agg(count(lit(1)), sum("value"), max("ts")).collect())
        ctx.attr("rows_returned", rows.map(_.getLong(1)).sum)
        rows
      }._1
    }.foreach { rows =>
      val got = rows.map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getTimestamp(3).getTime / 1000L)).toMap
      ctx.check("scan aggregate", got == want, s"$got vs $want")
    }
  }

  private def timeTravel(v: Int, name: String): Unit =
    ctx.op("time_travel") {
      ctx.span("TableSink.read") {
        val df = ctx.plan(sink.readVersion(spark, v))
        val d = ctx.execute(Workload.digest(df))
        ctx.attr("rows_returned", d._1)
        d
      }._1
    }.foreach(d => deferred += ((name, Map("all" -> model(v).values), Map("all" -> d))))

  def runUnit(i: Int): Long = {
    val r = Gen.rng(ctx.seed, "lake-cycle", i)
    val start = head
    val live = model(head).keys.toArray.sorted

    // CDC micro-batch: updates of hot live keys plus new keys
    val updates = hotKeys(r, live, (UpsertKeys * UpdateShare).toInt)
    upsertHotShare += updates.count(_ > live(live.length * 3 / 4)).toDouble / updates.size
    val tsLo = Gen.T0Sec + HistoryCommits * 6 * 3600L
    val cdc = updates.map(k => Gen.event(r, k, tsLo, 6 * 3600)) ++
      freshEvents(r, UpsertKeys - updates.size, tsLo)
    ctx.op("upsert") {
      ctx.span("TableSink.mor")(sink.upsertMor(frame(cdc), Seq("event_id")))._1
    }.foreach(_ => committed(_ ++ cdc.map(e => e.id -> e)))

    // merge-on-read delete of an id range around a live key
    val lo = live(r.nextInt(live.length))
    val hi = lo + 20 + r.nextInt(40)
    ctx.op("delete") {
      ctx.span("TableSink.mor")(sink.deleteWhere(s"event_id BETWEEN $lo AND $hi"))._1
    }.foreach(_ => committed(_.filter { case (id, _) => id < lo || id > hi }))

    val appended = freshEvents(r, AppendRows, tsLo)
    replay(appended, streamAppend(appended))

    // point lookup: mostly a live key, sometimes a deleted one
    val liveNow = model(head).keys.toArray.sorted
    pointRead(if (r.nextDouble() < 0.9) liveNow(r.nextInt(liveNow.length)) else lo)

    scanRead()

    val older = model.keys.filter(v => v > 0 && v <= start).toArray.sorted
    val v = older(r.nextInt(older.length))
    timeTravel(v, s"cycle $i: time travel to v$v")

    val to = head
    ctx.op("changelog") {
      ctx.span("TableSink.read") {
        val df = ctx.plan(sink.readChangelog(spark, start, to))
        val rows = ctx.execute(df.groupBy("_change_type", "_change_version")
          .agg(count(lit(1)), sum(Workload.rowHash)).collect())
        ctx.attr("rows_returned", rows.map(_.getLong(2)).sum)
        rows
      }._1
    }.foreach { rows =>
      val got = rows.map(x => s"${x.getString(0)}@${x.getLong(1)}" ->
        (x.getLong(2), BigDecimal(x.getDecimal(3)))).toMap
      deferred += ((s"cycle $i: changelog $start..$to", expectedChanges(start, to), got))
    }
    cdc.size.toLong + AppendRows
  }

  /** Expected changelog rows between two versions, grouped by
    * `<change type>@<version>`. */
  private def expectedChanges(from: Int, to: Int): Map[String, Iterable[Gen.Event]] = {
    val vs = model.keys.filter(v => v > from && v <= to).toSeq.sorted
    var prev = model(from)
    vs.flatMap { v =>
      val cur = model(v)
      val out = prev.toSeq.collect { case (id, e) if !cur.get(id).contains(e) =>
        s"delete@$v" -> e } ++
        cur.toSeq.collect { case (id, e) if !prev.get(id).contains(e) => s"insert@$v" -> e }
      prev = cur
      out
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
  }

  def verify(): Unit = {
    ctx.op("final_read")(Workload.digest(sink.read(spark))).foreach(d =>
      deferred += (("final head", Map("all" -> model(head).values), Map("all" -> d))))
    val versions = model.keys.filter(_ > 0).toArray.sorted
    timeTravel(versions(Gen.rng(ctx.seed, "lake-verify").nextInt(versions.length)),
      "final: seeded time travel")
    // the expected side of every deferred check, in one job
    val tagged = for {
      ((_, exp, _), i) <- deferred.zipWithIndex.toSeq
      (group, rows) <- exp.toSeq
      e <- rows
    } yield Row.fromSeq(s"$i/$group" +: Workload.eventRow(e).toSeq)
    val want = spark.createDataFrame(tagged.asJava,
        StructType(StructField("tag", StringType) +: schema.fields))
      .groupBy("tag").agg(count(lit(1)), sum(Workload.rowHash)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    deferred.zipWithIndex.foreach { case ((name, _, got), i) =>
      val exp = want.collect { case (k, d) if k.startsWith(s"$i/") => k.drop(s"$i/".length) -> d }
      ctx.check(name, got == exp, s"$got vs $exp")
    }
  }

  def tableDirs: Seq[Path] = Seq(dir(table))
  def liveRows: Long = model(head).size.toLong

  def traffic: Seq[(String, Double)] = Seq(
    "history_commits" -> HistoryCommits.toDouble,
    "rows_per_history_commit" -> HistoryRows.toDouble,
    "cdc_rows_per_cycle" -> UpsertKeys.toDouble,
    "cdc_update_share" -> UpdateShare,
    "append_rows_per_cycle" -> AppendRows.toDouble,
    "cycle_start_version" -> baseHead.toDouble,
    "manifest_merge_threshold" -> sink.config.manifestMergeThreshold.toDouble,
    "delete_consolidate_threshold" -> sink.config.deleteConsolidateThreshold.toDouble,
    "upsert_keys_in_newest_quartile" ->
      (if (upsertHotShare.isEmpty) 0.0 else upsertHotShare.sum / upsertHotShare.size))

  override def layerExtras: Seq[(String, Double)] = {
    val log = Option(dir(table).resolve("_graft_log").toFile.list()).getOrElse(Array.empty)
    Seq(
      "TableSink.commit.replay_skip_ratio" ->
        (if (replays == 0) 1.0 else replaysSkipped.toDouble / replays),
      "TableSink.mor.pending_sidecars" -> log.count(n =>
        n.startsWith("del-") || n.startsWith("pos-") || n.startsWith("keys-")).toDouble,
      "WarehouseIO.log_entries" -> log.length.toDouble)
  }
}
