package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftCatalog]]: SQL reads over the versioned sink warehouse — latest,
  * VERSION AS OF, TIMESTAMP AS OF, DDL surface, and the read-only guard. */
class CatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("catalog_wh")
  spark.conf.set("spark.sql.catalog.gtest", classOf[GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.gtest.warehouse", wh)

  private def mkVersioned(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "cat", "v"))
    sink.append(Seq((4L, "b", 40.0), (5L, "c", 50.0)).toDF("id", "cat", "v"))
    sink
  }

  test("a catalog registers purely from a SinkConfig's passthrough fields") {
    val sink = mkVersioned("ttcfg")
    // catalogType graft over the config's own warehouse
    GraftSession.registerCatalog(spark,
      sink.config.copy(catalogType = Some("graft")), "gcfg")
    assert(spark.sql("SELECT * FROM gcfg.ttcfg").count() == 5)
    // catalogUri overrides the warehouse root ('hadoop' = directory-backed)
    GraftSession.registerCatalog(spark,
      sink.config.copy(catalogType = Some("hadoop"),
        catalogUri = Some(wh), warehousePath = "/nonexistent"), "gcfg2")
    assert(spark.sql("SELECT id FROM gcfg2.ttcfg VERSION AS OF 1").count() == 3)
    // service-backed types reject with the reason, not a silent carry
    val e = intercept[IllegalArgumentException] {
      GraftSession.registerCatalog(spark,
        sink.config.copy(catalogType = Some("hive"),
          catalogUri = Some("thrift://localhost:9083")), "gcfg3")
    }
    assert(e.getMessage.contains("service-backed"))
  }

  test("latest read sees both commits; VERSION AS OF 1 only the first") {
    mkVersioned("tt1")
    assert(spark.sql("SELECT * FROM gtest.tt1").count() == 5)
    val v1 = spark.sql("SELECT id FROM gtest.tt1 VERSION AS OF 1")
      .as[Long].collect().sorted.toSeq
    assert(v1 == Seq(1L, 2L, 3L), s"snapshot v1 must be the first batch: $v1")
  }

  test("partition pruning and filter pushdown survive the catalog") {
    mkVersioned("tt2")
    val plan = spark.sql(
      "SELECT id FROM gtest.tt2 VERSION AS OF 1 WHERE cat = 'a' AND id > 1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)"),
      s"data filter must reach the parquet scan:\n$plan")
    // cat is a hive-partition column recovered via basePath: it must be
    // pruned at planning, never scanned as data
    assert(plan.contains("PartitionFilters: [isnotnull(cat"),
      s"partition filter must prune directories:\n$plan")
    assert(spark.sql(
      "SELECT id FROM gtest.tt2 VERSION AS OF 1 WHERE cat = 'a' AND id > 1")
      .as[Long].collect().toSeq == Seq(3L))
  }

  test("TIMESTAMP AS OF resolves by manifest commit time") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    mkVersioned("tt3")
    val log = Paths.get(s"$wh/tt3/_graft_log")
    // pin commit times: v1 at t=100000s, v2 at t=200000s (epoch)
    Files.setLastModifiedTime(log.resolve("v00001.list"),
      FileTime.fromMillis(100000000L))
    Files.setLastModifiedTime(log.resolve("v00002.list"),
      FileTime.fromMillis(200000000L))
    val asOf = spark.sql(
      "SELECT id FROM gtest.tt3 TIMESTAMP AS OF '1970-01-02 07:00:00Z'")
      .as[Long].collect().sorted.toSeq // 111600s: after v1, before v2
    assert(asOf == Seq(1L, 2L, 3L), s"as-of between commits must see v1: $asOf")
    val late = spark.sql(
      "SELECT count(*) FROM gtest.tt3 TIMESTAMP AS OF '1970-01-04 00:00:00Z'")
      .as[Long].head()
    assert(late == 5, "as-of after the last commit must see everything")
    val early = intercept[Exception](spark.sql(
      "SELECT * FROM gtest.tt3 TIMESTAMP AS OF '1970-01-01 00:00:01Z'")
      .collect())
    assert(early.getMessage.contains("no snapshot"),
      s"as-of before the first commit must fail: ${early.getMessage}")
  }

  test("SQL DML works on identity-partitioned tables (spec persisted)") {
    val sink = mkVersioned("tt4") // identity(cat), two commits
    // recovered schema orders partition columns last: (id, v, cat)
    spark.sql("INSERT INTO gtest.tt4 VALUES (9, 90.0, 'z')")
    assert(sink.snapshotVersions() == Seq(1, 2, 3),
      "a SQL insert into a partitioned table must commit a snapshot")
    // the row landed in its hive partition directory
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$wh/tt4/cat=z")))
    assert(spark.sql("SELECT count(*) FROM gtest.tt4 WHERE cat = 'z'")
      .head().getLong(0) == 1)
    // partition-scoped SQL DELETE and UPDATE
    spark.sql("DELETE FROM gtest.tt4 WHERE cat = 'z'")
    spark.sql("UPDATE gtest.tt4 SET v = v + 0.5 WHERE cat = 'a'")
    val got = spark.sql("SELECT id, v FROM gtest.tt4 ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got == Seq(1L -> 10.5, 2L -> 20.0, 3L -> 30.5, 4L -> 40.0,
      5L -> 50.0))
  }

  test("SQL UPDATE can re-home rows across identity partitions") {
    val sink = new TableSink(SinkConfig(tableName = "tt4m",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink.append(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "cat"))
    // the library update refuses partition-deriving SETs (partition-scoped
    // commit can't move rows); the SQL door's full guarded swap CAN
    spark.sql("UPDATE gtest.tt4m SET cat = 'c' WHERE id = 1")
    val got = spark.sql("SELECT id, cat FROM gtest.tt4m ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "c", 2L -> "a", 3L -> "b"))
    // physically re-homed: partition pruning finds it in cat=c
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$wh/tt4m/cat=c")))
    assert(spark.sql("SELECT id FROM gtest.tt4m WHERE cat = 'c'")
      .head().getLong(0) == 1L)
  }

  test("bucket-transform tables take source-column DML; legacy " +
    "partitioned tables stay read-only") {
    // bucket transform: the derived column is projected out of the SQL
    // schema — an INSERT supplying it (3 values for 2 logical columns)
    // fails at analysis, and a source-column INSERT derives correctly
    val sink = new TableSink(SinkConfig(tableName = "tt4b",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("id", Transform.Bucket(4)))))
    sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val e = intercept[Exception](
      spark.sql("INSERT INTO gtest.tt4b VALUES (9, 'z', 0)"))
    assert(e.isInstanceOf[AnalysisException] ||
      e.isInstanceOf[UnsupportedOperationException],
      s"an insert supplying the derived column must fail at analysis: $e")
    spark.sql("INSERT INTO gtest.tt4b VALUES (9, 'z')")
    assert(spark.sql("SELECT s FROM gtest.tt4b WHERE id = 9")
      .as[String].head() == "z",
      "a source-column insert derives the bucket and reads back")
    // legacy: partitioned dirs but no persisted spec line
    val cfgFile = java.nio.file.Paths.get(s"$wh/tt4c/_graft_config")
    val sink2 = new TableSink(SinkConfig(tableName = "tt4c",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("cat", Transform.Identity))))
    sink2.append(Seq((1L, "a")).toDF("id", "cat"))
    val stripped = java.nio.file.Files.readString(cfgFile).linesIterator
      .filterNot(_.startsWith("partition=")).mkString("\n")
    java.nio.file.Files.writeString(cfgFile, stripped)
    val e2 = intercept[Exception](
      spark.sql("INSERT INTO gtest.tt4c VALUES (9, 'z')"))
    assert(e2.isInstanceOf[AnalysisException] ||
      e2.isInstanceOf[UnsupportedOperationException],
      s"legacy partitioned insert must fail at analysis, got: $e2")
  }

  test("INSERT INTO routes through the sink's staged manifest commit") {
    val sink = new TableSink(SinkConfig(tableName = "ttw",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    spark.sql("INSERT INTO gtest.ttw VALUES (3, 'c')")
    assert(sink.snapshotVersions() == Seq(1, 2),
      "a SQL insert must commit a snapshot like any library append")
    assert(spark.sql("SELECT count(*) FROM gtest.ttw").head().getLong(0) == 3)
    assert(sink.readVersion(spark, 1).count() == 2,
      "time travel below the SQL insert must still work")
    // whole-table INSERT OVERWRITE is the guarded rewrite swap (detailed
    // cases in "INSERT OVERWRITE replaces the whole table...")
    spark.sql("INSERT OVERWRITE gtest.ttw VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM gtest.ttw").head().getLong(0) == 1)
  }

  test("DELETE FROM routes through the copy-on-write delete") {
    val sink = new TableSink(SinkConfig(tableName = "ttdel",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "s"))
    spark.sql("DELETE FROM gtest.ttdel WHERE id IN (2, 4) OR s = 'c'")
    val got = spark.sql("SELECT id FROM gtest.ttdel")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L), s"SQL delete must remove 2, 3, 4: $got")
    // copy-on-write: the table stays READABLE through this catalog (a
    // merge-on-read sidecar would make catalog reads refuse)
    assert(spark.sql("SELECT count(*) FROM gtest.ttdel").head().getLong(0)
      == 1L)
    // string escaping: a quote inside the literal must not break out
    spark.sql("DELETE FROM gtest.ttdel WHERE s = 'it''s'")
    assert(spark.sql("SELECT count(*) FROM gtest.ttdel").head().getLong(0)
      == 1L)
  }

  test("SQL inserts honor the table's persisted CHECK constraints") {
    val sink = new TableSink(SinkConfig(tableName = "ttck",
      warehousePath = wh, versioned = true,
      checkConstraints = Seq("v > 0")))
    sink.append(Seq((1L, 1.0)).toDF("id", "v")) // persists _graft_config
    val e = intercept[Exception](
      spark.sql("INSERT INTO gtest.ttck VALUES (2, -5.0)"))
    assert(e.getMessage.contains("v > 0") ||
      Option(e.getCause).exists(_.getMessage.contains("v > 0")),
      s"a SQL insert must hit the same gate as the library: $e")
    assert(spark.sql("SELECT count(*) FROM gtest.ttck").head().getLong(0)
      == 1L, "the violating SQL insert must not commit")
    spark.sql("INSERT INTO gtest.ttck VALUES (3, 3.0)")
    assert(spark.sql("SELECT count(*) FROM gtest.ttck").head().getLong(0)
      == 2L)
  }

  test("DELETE filter translation: LIKE metachars, floats, timestamps") {
    val sink = new TableSink(SinkConfig(tableName = "ttfx",
      warehousePath = wh, versioned = true))
    sink.append(Seq(
      (1L, "50%_off today", 0.1f),
      (2L, "50 cents offer", 0.1f),
      (3L, "plain", 0.25f)).toDF("id", "s", "f"))
    // '%' and '_' in the prefix must match LITERALLY — only row 1 goes
    // (startswith() pushes as StringStartsWith, the translated shape)
    spark.sql("DELETE FROM gtest.ttfx WHERE startswith(s, '50%_off')")
    val afterLike = spark.sql("SELECT id FROM gtest.ttfx")
      .as[Long].collect().sorted.toSeq
    assert(afterLike == Seq(2L, 3L),
      s"unescaped LIKE metachars would also delete row 2: $afterLike")
    // float equality must survive the literal round-trip (0.1f != 0.1d)
    spark.sql("DELETE FROM gtest.ttfx WHERE f = CAST(0.1 AS FLOAT)")
    assert(spark.sql("SELECT id FROM gtest.ttfx").as[Long].collect().toSeq
      == Seq(3L), "float-literal delete must match the 0.1f row")
    // timestamp predicates render as explicit-'Z' ISO instants — the
    // dedicated timezone test below pins the cutoff semantics
  }

  test("CREATE TABLE, INSERT, and CTAS through pure SQL") {
    spark.sql("CREATE TABLE gtest.sqlmade (id BIGINT, s STRING) " +
      "TBLPROPERTIES('versioned'='true')")
    assert(spark.sql("SELECT * FROM gtest.sqlmade").count() == 0,
      "a created-but-empty table reads as typed empty")
    spark.sql("INSERT INTO gtest.sqlmade VALUES (1, 'a'), (2, 'b')")
    val sink = new TableSink(SinkConfig(tableName = "sqlmade",
      warehousePath = wh, versioned = true))
    assert(sink.snapshotVersions() == Seq(1),
      "the versioned property must make the first SQL insert commit v1")
    assert(spark.sql("SELECT sum(id) FROM gtest.sqlmade").head().getLong(0)
      == 3L)
    spark.sql(
      "CREATE TABLE gtest.ctas AS SELECT id, s FROM gtest.sqlmade WHERE id = 1")
    assert(spark.sql("SELECT * FROM gtest.ctas").count() == 1)
    // identity PARTITIONED BY is honored; hidden transforms refuse — both
    // pinned in "CREATE TABLE PARTITIONED BY identity columns: …"
  }

  test("orc tables read through the same catalog (format sniffed)") {
    val sink = new TableSink(SinkConfig(tableName = "ttorc",
      warehousePath = wh, versioned = true, fileFormat = "orc"))
    sink.append(Seq((1L, "x"), (2L, "y")).toDF("id", "s"))
    val rows = spark.sql("SELECT id FROM gtest.ttorc VERSION AS OF 1")
      .as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L))
  }

  test("SHOW TABLES lists sink tables; DROP and RENAME work") {
    mkVersioned("tt5")
    val listed = spark.sql("SHOW TABLES IN gtest").select("tableName")
      .as[String].collect().toSet
    assert(listed.contains("tt5"), s"tt5 must be listed: $listed")
    spark.sql("ALTER TABLE gtest.tt5 RENAME TO tt5renamed")
    assert(spark.sql("SELECT count(*) FROM gtest.tt5renamed")
      .as[Long].head() == 5)
    spark.sql("DROP TABLE gtest.tt5renamed")
    assert(!new java.io.File(s"$wh/tt5renamed").exists())
  }

  test("swap scratch siblings never surface as tables") {
    import org.apache.hadoop.fs.{Path => HPath}
    val sink = mkVersioned("tt5s")
    // a live rewrite's tmp dir and a crashed run's trash are DOT-PREFIXED
    // siblings of the table root — SHOW TABLES must not list them and
    // loadTable must not read them (a half-written tmp dir served as a
    // table would expose uncommitted rows)
    WarehouseIO.writeString(
      new HPath(s"$wh/.tt5s_pre_rewrite/part-x.parquet"), "junk")
    val listed = spark.sql("SHOW TABLES IN gtest").select("tableName")
      .as[String].collect().toSet
    assert(!listed.exists(_.contains("tt5s_pre_rewrite")),
      s"scratch sibling leaked into the listing: $listed")
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM gtest.`.tt5s_pre_rewrite`").collect()
    }
    // and the real recovery path places trash under the dotted name:
    // delete() rewrites via the swap, leaving no visible residue
    sink.delete(spark, expr("id = 1"))
    val after = spark.sql("SHOW TABLES IN gtest").select("tableName")
      .as[String].collect().toSet
    assert(after.contains("tt5s") && !after.exists(n =>
        n.contains("rewriting") || n.contains("pre_rewrite")),
      s"post-rewrite listing must show only real tables: $after")
    // names the catalog could never serve are refused at creation/rename,
    // not silently written into invisibility
    val e1 = intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE gtest.`.shadow` (id BIGINT)")
    }
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      spark.sql("ALTER TABLE gtest.tt5s RENAME TO `_hidden`")
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
  }

  test("CALL procedures run maintenance through SQL with summary results") {
    val sink = mkVersioned("proc1") // v1: 3 rows, v2: +2 rows (4 files/commit)
    // expire_snapshots: returns exactly the dropped versions
    val expired = spark.sql(
      "CALL gtest.system.expire_snapshots(`table` => 'proc1', keep_last => 1)")
      .collect().map(_.getInt(0)).toSeq
    assert(expired == Seq(1), s"v1 must expire: $expired")
    assert(spark.sql("SELECT version FROM gtest.proc1.snapshots")
      .collect().map(_.getLong(0)).toSeq == Seq(2))
    // compact: file counts shrink, rows survive, table still reads via SQL
    val c = spark.sql(
      "CALL gtest.system.compact(`table` => 'proc1')").collect().head
    assert(c.getInt(0) > c.getInt(1) && c.getInt(1) >= 1,
      s"compaction must shrink the file count: $c")
    assert(spark.sql("SELECT count(*) FROM gtest.proc1").as[Long].head() == 5)
    // remove_orphans: plant one, reclaim it by name (grace 0: no live writer)
    WarehouseIO.writeString(new org.apache.hadoop.fs.Path(
      s"$wh/proc1/cat=zz/orphan.parquet"), "junk")
    val gone = spark.sql(
      "CALL gtest.system.remove_orphans(`table` => 'proc1', grace_ms => 0)")
      .collect().map(_.getString(0)).toSeq
    assert(gone == Seq("cat=zz/orphan.parquet"), s"orphan sweep: $gone")
    // rollback: head moves back as a NEW commit, observable through SQL
    sink.append(Seq((9L, "z", 90.0)).toDF("id", "cat", "v"))
    val preRollbackHead = sink.snapshotVersions().max
    spark.sql("CALL gtest.system.rollback(`table` => 'proc1', " +
      s"version => ${preRollbackHead - 1})")
    assert(spark.sql("SELECT count(*) FROM gtest.proc1").as[Long].head() == 5,
      "rollback must restore the pre-append row count")
    // unknown procedure: Spark's standard FAILED_TO_LOAD_ROUTINE wrap
    // (the catalog's precise listing rides the cause chain)
    val e = intercept[Exception] {
      spark.sql("CALL gtest.system.nonsense(`table` => 'proc1')").collect()
    }
    assert(e.getMessage.contains("nonsense"), e.getMessage)
  }

  test("CALL adopt converts a plain parquet directory without rewriting") {
    // stock df.write — no graft protocol touched this directory
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$wh/adp1")
    val filesBefore = WarehouseIO.listDataFilesRel(
      new org.apache.hadoop.fs.Path(s"$wh/adp1"))
    val out = spark.sql("CALL gtest.system.adopt(`table` => 'adp1')")
      .collect().head
    assert(out.getInt(0) == 1 && out.getInt(1) == filesBefore.size, out)
    // the adopted files ARE v1 — byte-identical, no rewrite happened
    assert(WarehouseIO.listDataFilesRel(
      new org.apache.hadoop.fs.Path(s"$wh/adp1")) == filesBefore)
    assert(spark.sql("SELECT * FROM gtest.adp1 VERSION AS OF 1").count() == 3)
    // post-adoption the table takes versioned SQL writes (v2 off the
    // manifest) and time travel separates the generations
    spark.sql("INSERT INTO gtest.adp1 VALUES (4, 4.0)")
    assert(spark.sql("SELECT count(*) FROM gtest.adp1").as[Long].head() == 4)
    assert(spark.sql("SELECT version FROM gtest.adp1.snapshots")
      .collect().map(_.getLong(0)).toSeq == Seq(1, 2))
    // a second adopt refuses: there is history now
    val e = intercept[Exception] {
      spark.sql("CALL gtest.system.adopt(`table` => 'adp1')").collect()
    }
    assert(e.getMessage.contains("already has committed history") ||
      Option(e.getCause).exists(
        _.getMessage.contains("already has committed history")), e.getMessage)
  }

  test("dropTable reclaims a crashed-mid-swap table's stranded trash") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    mkVersioned("tt5c")
    // simulate a crash between the swap's two renames: the root has been
    // moved to the trash sibling and nothing has restored it yet
    WarehouseIO.rename(
      new HPath(s"$wh/tt5c"), new HPath(s"$wh/.tt5c_pre_rewrite"))
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM gtest.tt5c").collect()
    }
    // the stranded state is invisible to SQL but must not be immortal:
    // the DSv2 dropTable contract is the recovery-ABORT tool
    val cat = spark.sessionState.catalogManager.catalog("gtest")
      .asInstanceOf[TableCatalog]
    assert(cat.dropTable(Identifier.of(Array.empty[String], "tt5c")),
      "drop must report success when only stranded trash existed")
    assert(!new java.io.File(s"$wh/.tt5c_pre_rewrite").exists(),
      "stranded trash must be reclaimed")
    assert(!cat.dropTable(Identifier.of(Array.empty[String], "tt5c")),
      "second drop finds nothing")
  }

  test("latest read of a versioned table is the newest COMMIT, not the dir") {
    mkVersioned("tt8")
    // simulate a crashed write: a data file lands without a manifest commit
    val orphan = java.nio.file.Paths.get(s"$wh/tt8/cat=zz")
    java.nio.file.Files.createDirectories(orphan)
    val stray = Seq((99L, 999.0)).toDF("id", "v")
    stray.write.mode("overwrite").parquet(orphan.toString + "_tmp")
    val f = java.nio.file.Files.list(
        java.nio.file.Paths.get(orphan.toString + "_tmp"))
      .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst.get
    java.nio.file.Files.move(f, orphan.resolve("part-orphan.parquet"))
    assert(spark.sql("SELECT count(*) FROM gtest.tt8").as[Long].head() == 5,
      "uncommitted files must stay invisible to snapshot reads")
  }

  test("removeOrphans deletes only uncommitted files; commits stay readable") {
    val sink = mkVersioned("tt9")
    val orphan = java.nio.file.Paths.get(s"$wh/tt9/cat=a/part-orphan.parquet")
    Seq((99L, 999.0)).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(orphan.getParent.toString + "_tmp")
    val f = java.nio.file.Files.list(
        java.nio.file.Paths.get(orphan.getParent.toString + "_tmp"))
      .filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst.get
    java.nio.file.Files.move(f, orphan)
    val removed = sink.removeOrphans(graceMs = 0L)
    assert(removed == Seq("cat=a/part-orphan.parquet"), s"got $removed")
    assert(!java.nio.file.Files.exists(orphan))
    assert(sink.readVersion(spark, 2).count() == 5,
      "every committed snapshot must survive orphan cleanup")
    assert(sink.removeOrphans(graceMs = 0L).isEmpty, "idempotent on a clean table")
    val unversioned = new TableSink(SinkConfig("tt9u", wh))
    unversioned.append(Seq((1L, "x")).toDF("id", "s"))
    intercept[IllegalArgumentException](unversioned.removeOrphans())
  }

  test("GraftSession.registerCatalog wires the same catalog by name") {
    mkVersioned("tt7")
    GraftSession.registerCatalog(spark, wh, catalogName = "greg")
    assert(spark.sql("SELECT count(*) FROM greg.tt7 VERSION AS OF 1")
      .as[Long].head() == 3)
  }

  test("unknown table and expired snapshot produce clear errors") {
    val missing = intercept[AnalysisException](
      spark.sql("SELECT * FROM gtest.nope").collect())
    assert(missing.getMessage.toLowerCase.contains("table"))
    mkVersioned("tt6")
    val bad = intercept[Exception](
      spark.sql("SELECT * FROM gtest.tt6 VERSION AS OF 99").collect())
    assert(bad.getMessage.contains("snapshot v99"),
      s"expired/missing snapshot must name what exists: ${bad.getMessage}")
  }

  test("INSERT OVERWRITE replaces the whole table under the guard battery") {
    spark.sql("CREATE TABLE gtest.ovw1 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.ovw1 VALUES (1L, 1.0), (2L, 2.0)")
    spark.sql("INSERT OVERWRITE gtest.ovw1 VALUES (9L, 9.0)")
    val rows = spark.sql("SELECT id, v FROM gtest.ovw1").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 9L)
    // still writable + versioned afterwards (sidecars rode the swap)
    spark.sql("INSERT INTO gtest.ovw1 VALUES (10L, 10.0)")
    assert(spark.sql("SELECT count(*) FROM gtest.ovw1").head().getLong(0) == 2)
    // overwrite is gated like any write
    val sink = new TableSink(SinkConfig(tableName = "ovw2",
      warehousePath = wh, versioned = true, checkConstraints = Seq("v >= 0")))
    sink.append(Seq((1L, 1.0)).toDF("id", "v"))
    val e = intercept[Exception](
      spark.sql("INSERT OVERWRITE gtest.ovw2 VALUES (2L, -1.0)"))
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    assert(spark.sql("SELECT v FROM gtest.ovw2").head().getDouble(0) == 1.0)
  }

  test("constraint gate and declared schema survive rewriting ops") {
    // constraints: a COW delete must not strip the gate from later SQL
    // inserts (the _graft_config sidecar rides the rewrite swap)
    val sink = new TableSink(SinkConfig(tableName = "surv1",
      warehousePath = wh, versioned = true,
      checkConstraints = Seq("v >= 0")))
    sink.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    sink.delete(spark, expr("id = 1")) // copy-on-write: full rewrite swap
    val e = intercept[Exception](
      spark.sql("INSERT INTO gtest.surv1 VALUES (9L, -5.0)"))
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    // declared schema: an ALTER-evolved schema must survive a SQL UPDATE
    spark.sql("CREATE TABLE gtest.surv2 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.surv2 VALUES (1L, 1.0)")
    spark.sql("ALTER TABLE gtest.surv2 ADD COLUMNS (tag STRING)")
    spark.sql("UPDATE gtest.surv2 SET tag = 'x' WHERE id = 1")
    // a second ALTER proves the declared schema file is still the evolved
    // one (a re-freeze from files would also pass reads; the duplicate
    // check below only fires against the DECLARED schema)
    val dup = intercept[Exception](
      spark.sql("ALTER TABLE gtest.surv2 ADD COLUMNS (tag STRING)"))
    assert(dup.getMessage.contains("already exists"))
    spark.sql("ALTER TABLE gtest.surv2 ADD COLUMNS (tag2 STRING)")
    assert(spark.sql("SELECT * FROM gtest.surv2").columns.toSeq ==
      Seq("id", "v", "tag", "tag2"))
  }

  test("SHOW TBLPROPERTIES surfaces the governing sink config") {
    val sink = new TableSink(SinkConfig(tableName = "props1",
      warehousePath = wh, versioned = true,
      checkConstraints = Seq("v >= 0"), sortOrder = Seq("id")))
    sink.append(Seq((1L, 1.0)).toDF("id", "v"))
    val props = spark.sql("SHOW TBLPROPERTIES gtest.props1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("versioned") == "true")
    assert(props("format") == "parquet")
    assert(props("constraint.c0") == "v >= 0")
    assert(props("write.sort-order") == "id")
  }

  test("metadata tables serve through SQL: snapshots, files, partitions") {
    mkVersioned("meta1") // two commits, identity-partitioned on cat
    val snaps = spark.sql(
      "SELECT version, parent_version, n_added_files, n_removed_files " +
        "FROM gtest.meta1.snapshots ORDER BY version").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(snaps.head.isNullAt(1) && snaps(1).getLong(1) == 1L)
    assert(snaps.forall(_.getLong(3) == 0L)) // appends never remove
    // history is the Iceberg-name alias of the same view
    assert(spark.sql("SELECT * FROM gtest.meta1.history").count() == 2)
    // files: record counts from footers must sum to the row count
    assert(spark.sql("SELECT CAST(SUM(record_count) AS BIGINT) " +
      "FROM gtest.meta1.files").head().getLong(0) == 5L)
    // partitions: the identity spine recovered from paths
    val parts = spark.sql("SELECT `partition`, record_count " +
      "FROM gtest.meta1.partitions ORDER BY `partition`").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(parts == Seq("cat=a" -> 2L, "cat=b" -> 2L, "cat=c" -> 1L))
    // read-only: INSERT refuses (no write capability)
    val e = intercept[Exception](
      spark.sql("INSERT INTO gtest.meta1.snapshots " +
        "VALUES (9L, NULL, current_timestamp(), 0L, 0L, 0L, 0L, NULL)"))
    assert(e.getMessage.toLowerCase.contains("does not support"),
      e.getMessage)
    // a real table always shadows the metadata name
    val missing = intercept[Exception](
      spark.sql("SELECT * FROM gtest.meta1.nope").collect())
    assert(missing.getMessage.toLowerCase.contains("table"))
  }

  test("deletes metadata table lists live MoR sidecars through SQL") {
    val sink = new TableSink(SinkConfig(tableName = "meta2",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v"))
    sink.deleteWhere("id = 2")
    val rows = spark.sql(
      "SELECT flavor, n_entries FROM gtest.meta2.deletes").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "predicate")
  }

  test("changes metadata table serves the row-level changelog through SQL") {
    val sink = new TableSink(SinkConfig(tableName = "meta3",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))   // v1: +2
    sink.append(Seq((3L, 3.0)).toDF("id", "v"))              // v2: +1
    sink.deleteWhere("id = 2")                               // v3: -1 (MoR)
    val got = spark.sql(
      "SELECT _change_type, _change_version, id FROM gtest.meta3.changes " +
        "ORDER BY _change_version, _change_type, id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("insert", 1, 1L), ("insert", 1, 2L),
      ("insert", 2, 3L), ("delete", 3, 2L)),
      s"changelog through SQL must replay the MoR delete: $got")
  }

  test("changes metadata table survives expiry that orphans a delete " +
    "commit's base snapshot") {
    val sink = new TableSink(SinkConfig(tableName = "meta4",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")) // v1
    sink.deleteWhere("id = 2")                             // v2: MoR delete
    sink.expireSnapshotsKeepLast(1) // drops v1 — v2's replay base is gone
    // the parameterless SQL surface cannot pass a range, so `changes`
    // must not throw forever: the unreplayable oldest commit's
    // POST-commit state folds in as inserts (a from-scratch consumer
    // still reconstructs the table) and only its delete replay is skipped
    val base = spark.sql(
      "SELECT _change_type, _change_version, id FROM gtest.meta4.changes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(base == Seq(("insert", 2, 1L)),
      s"expiry-surviving rows must fold in as base inserts: $base")
    sink.append(Seq((3L, 3.0)).toDF("id", "v"))            // v3: +1
    val got = spark.sql(
      "SELECT _change_type, _change_version, id FROM gtest.meta4.changes " +
        "ORDER BY _change_version")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("insert", 2, 1L), ("insert", 3, 3L)),
      s"base fold + replayable suffix must reconstruct the table: $got")
  }

  test("ALTER TABLE ADD COLUMNS: pre-evolution rows NULL-fill, history included") {
    spark.sql("CREATE TABLE gtest.alt1 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.alt1 VALUES (1L, 1.0), (2L, 2.0)")
    spark.sql("ALTER TABLE gtest.alt1 ADD COLUMNS (tag STRING)")
    // evolved schema immediately visible; old rows read NULL
    assert(spark.sql("SELECT * FROM gtest.alt1").columns.toSeq ==
      Seq("id", "v", "tag"))
    assert(spark.sql("SELECT count(*) FROM gtest.alt1 WHERE tag IS NULL")
      .head().getLong(0) == 2)
    // post-evolution insert carries the column; both generations co-read
    spark.sql("INSERT INTO gtest.alt1 VALUES (3L, 3.0, 'new')")
    val got = spark.sql("SELECT id, tag FROM gtest.alt1 ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> null, 2L -> null, 3L -> "new"))
    // declared schema governs time travel too — no mid-history shape shift
    assert(spark.sql("SELECT * FROM gtest.alt1 VERSION AS OF 1")
      .columns.toSeq == Seq("id", "v", "tag"))
    // the evolved column participates in SQL DML
    spark.sql("UPDATE gtest.alt1 SET tag = 'old' WHERE tag IS NULL")
    assert(spark.sql("SELECT count(*) FROM gtest.alt1 WHERE tag = 'old'")
      .head().getLong(0) == 2)
  }

  test("first ALTER on a library-created table freezes the inferred schema") {
    val sink = new TableSink(SinkConfig(tableName = "alt2",
      warehousePath = wh, versioned = true))
    sink.append(Seq((1L, 10.0)).toDF("id", "v"))
    spark.sql("ALTER TABLE gtest.alt2 ADD COLUMNS (note STRING)")
    assert(spark.sql("SELECT * FROM gtest.alt2").columns.toSeq ==
      Seq("id", "v", "note"))
    assert(spark.sql("SELECT note FROM gtest.alt2").head().isNullAt(0))
  }

  test("ALTER TABLE refuses everything except nullable top-level adds " +
    "and top-level drops") {
    spark.sql("CREATE TABLE gtest.alt3 (id BIGINT, v DOUBLE, s STRUCT<a: INT>)")
    def refused(sql: String, hint: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(hint), s"$sql -> ${e.getMessage}")
    }
    refused("ALTER TABLE gtest.alt3 DROP COLUMN s.a", "nested")
    refused("ALTER TABLE gtest.alt3 ALTER COLUMN v TYPE STRING",
      "WIDENING promotions") // cross-family retype (widenings now pass)
    refused("ALTER TABLE gtest.alt3 ADD COLUMNS (id STRING)",
      "already exists")
    refused("ALTER TABLE gtest.alt3 ADD COLUMNS (s.b INT)", "nested")
    // hive-partitioned tables stay fully read-only
    mkVersioned("alt4")
    refused("ALTER TABLE gtest.alt4 ADD COLUMNS (x INT)", "hive-partitioned")
  }

  test("CREATE TABLE PARTITIONED BY identity columns: SQL writes derive " +
    "and cluster; hidden transforms refuse toward the library") {
    spark.sql("CREATE TABLE gtest.ttpart (id BIGINT, v DOUBLE, cat STRING) " +
      "PARTITIONED BY (cat) TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.ttpart VALUES " +
      "(1, 10.0, 'a'), (2, 20.0, 'b'), (3, 30.0, 'a')")
    // physically hive-partitioned: the INSERT derived and clustered on cat
    assert(WarehouseIO.childDirNames(
      new org.apache.hadoop.fs.Path(s"$wh/ttpart"))
      .count(_.startsWith("cat=")) == 2,
      "SQL insert must write one directory per partition value")
    assert(spark.sql("SELECT * FROM gtest.ttpart WHERE cat = 'a'")
      .count() == 2)
    // identity-partitioned tables stay in the WRITABLE class: DML works
    spark.sql("DELETE FROM gtest.ttpart WHERE cat = 'b'")
    assert(spark.sql("SELECT COUNT(*) FROM gtest.ttpart")
      .head().getLong(0) == 2)
    spark.sql("INSERT INTO gtest.ttpart VALUES (4, 40.0, 'c')")
    assert(spark.sql("SELECT COUNT(*) FROM gtest.ttpart")
      .head().getLong(0) == 3)
    // hidden transforms are honored too: the DDL persists the transform
    // spec and the first INSERT derives through it (full coverage in the
    // dedicated hidden-partition test below)
    spark.sql("CREATE TABLE gtest.ttpart2 (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO gtest.ttpart2 VALUES " +
      "(1, TIMESTAMP '2024-03-01 10:00:00')")
    assert(WarehouseIO.childDirNames(
      new org.apache.hadoop.fs.Path(s"$wh/ttpart2"))
      .contains("ts_day=2024-03-01"),
      "the INSERT must land in the derived day directory")
    // and a partition column must exist in the schema (Spark's analyzer
    // catches it first; our own require is the non-SQL-door backstop)
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE gtest.ttpart3 (id BIGINT) PARTITIONED BY (nope)"))
    assert(e2.getMessage.contains("no such column") ||
      e2.getMessage.contains("Couldn't find column"), e2.getMessage)
  }

  test("SQL scans prune files by MANIFEST STATS at planning — the " +
    "Iceberg manifest-evaluation step") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
    val sink = new TableSink(SinkConfig(tableName = "ttstats",
      warehousePath = wh, versioned = true))
    // 32 range-clustered files on v; k hash-spread so only blooms prune it
    val df = spark.range(8192).select($"id", ($"id" % 64).as("k"),
      ($"id" % 1024).as("v"))
    sink.appendClustered(ZOrder.cluster(df, Seq(("v", 0L, 1023L)),
      nRanges = 32))
    new ZoneMaps(sink).analyze(spark, Seq("v"))
    new BloomSkip(sink).analyze(spark, Seq("k"))
    def scanFiles(sql: String): (Long, Int) = {
      val q = spark.sql(sql)
      val n = q.count()
      val scan = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }.head.scan.asInstanceOf[ParquetScan]
      (n, scan.fileIndex.inputFiles.length)
    }
    val (allRows, allFiles) = scanFiles("SELECT id FROM gtest.ttstats")
    assert(allRows == 8192 && allFiles >= 16, s"many-file fixture: $allFiles")
    // zone bounds cut the file list at PLANNING — before any footer read
    val (zr, zf) = scanFiles(
      "SELECT id FROM gtest.ttstats WHERE v BETWEEN 100 AND 199")
    assert(zr == 8192 / 1024 * 100 &&
      zf < allFiles / 2,
      s"a 10% range must prune most files at planning: $zf of $allFiles")
    // bloom equality prunes hash-spread keys zone maps cannot
    val (br, bf) = scanFiles("SELECT id FROM gtest.ttstats WHERE k = 7")
    assert(br == 8192 / 64 && bf < allFiles,
      s"the bloom probe must drop provably-missing files: $bf of $allFiles")
    // conservative: a filter on an unregistered column prunes nothing
    val (ir, ifl) = scanFiles("SELECT id FROM gtest.ttstats WHERE id = 7")
    assert(ir == 1 && ifl == allFiles,
      "unregistered columns must not prune (no stats to prove absence)")
  }

  test("HIDDEN partitioning prunes derived directories from a SOURCE-" +
    "column predicate — no analyze needed (the reference's headline)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
    val sink = new TableSink(SinkConfig(tableName = "tthide2",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    // 10 days × 10 rows; one NULL-ts row lands in the default partition
    val rows = (0 until 100).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-${i / 10 + 1}%02d " +
        f"0${i % 10}:00:00"), i * 1.0)) :+
      ((999L, null.asInstanceOf[java.sql.Timestamp], -1.0))
    sink.append(rows.toDF("id", "ts", "v"))
    def scanFiles(sql: String): (Long, Int) = {
      val q = spark.sql(sql)
      val n = q.count()
      val scan = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b
      }.head.scan.asInstanceOf[ParquetScan]
      (n, scan.fileIndex.inputFiles.length)
    }
    val (allN, allF) = scanFiles("SELECT id FROM gtest.tthide2")
    assert(allN == 101 && allF >= 11, s"one file per day + null: $allF")
    // a ts range touching 2 of 10 days reads ~2 directories' files —
    // with NO stats registry: the derivation itself prunes
    val (rn, rf) = scanFiles("SELECT id FROM gtest.tthide2 WHERE " +
      "ts >= TIMESTAMP '2024-03-04 00:00:00' AND " +
      "ts < TIMESTAMP '2024-03-06 00:00:00'")
    assert(rn == 20 && rf <= allF / 3,
      s"a 2-day window must read ~2 day dirs: $rf of $allF")
    // equality on the source timestamp prunes to one day's files
    val (en, ef) = scanFiles("SELECT id FROM gtest.tthide2 WHERE " +
      "ts = TIMESTAMP '2024-03-07 03:00:00'")
    assert(en == 1 && ef <= 2, s"a point ts reads one day dir: $ef")
    // the NULL row is reachable (no predicate → nothing pruned)
    assert(spark.sql("SELECT COUNT(*) FROM gtest.tthide2 WHERE ts IS NULL")
      .head().getLong(0) == 1)
    // bucket transforms prune on source-column equality
    val bs = new TableSink(SinkConfig(tableName = "tthideb",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("k", Transform.Bucket(8)))))
    bs.append((0L until 256L).map(i => (i, i % 32)).toDF("id", "k"))
    val (bn, bf) = scanFiles("SELECT id FROM gtest.tthideb WHERE k = 5")
    val (_, bAll) = scanFiles("SELECT id FROM gtest.tthideb")
    assert(bn == 8 && bf < bAll,
      s"a bucket equality probe reads one bucket dir: $bf of $bAll")
  }

  test("scan-planning pruning never drops a matching row (randomized " +
    "bounds, equality, IN-lists; mixed analyzed/unanalyzed files)") {
    val rnd = new scala.util.Random(20260815L)
    val sink = new TableSink(SinkConfig(tableName = "ttstatsprop",
      warehousePath = wh, versioned = true))
    val df = spark.range(4000).select($"id",
      (($"id" * 2654435761L) % 1000).as("a"),
      concat(lit("u"), ($"id" % 97).cast("string")).as("b"))
    sink.appendClustered(ZOrder.cluster(df, Seq(("a", 0L, 999L)),
      nRanges = 16))
    new ZoneMaps(sink).analyze(spark, Seq("a"))
    new BloomSkip(sink).analyze(spark, Seq("b"))
    // a post-analyze append: its stats come from commit-time upkeep, and
    // a second one AFTER dropping the registry would be stats-less — the
    // conservative always-read class
    sink.append(Seq((99991L, 1500L, "zz1"), (99992L, -5L, "zz2"))
      .toDF("id", "a", "b"))
    val oracle = sink.read(spark).cache()
    def check(where: String): Unit = {
      val got = spark.sql(
        s"SELECT CAST(SUM(id) AS BIGINT) AS s, COUNT(*) AS n " +
          s"FROM gtest.ttstatsprop WHERE $where").head()
      val exp = oracle.where(where)
        .agg(sum($"id").cast("long"), count(lit(1))).head()
      assert(got == exp, s"WHERE $where: got $got, expected $exp")
    }
    (1 to 15).foreach { _ =>
      val lo = rnd.nextInt(1200) - 100
      val hi = lo + rnd.nextInt(300)
      check(s"a BETWEEN $lo AND $hi")
      check(s"a > $lo")
      check(s"a <= $hi AND a >= $lo")
    }
    (1 to 10).foreach { _ =>
      val k = rnd.nextInt(120) // some absent (>96), some present
      check(s"b = 'u$k'")
      check(s"b IN ('u$k', 'u${rnd.nextInt(120)}', 'zz1')")
      check(s"b = 'u$k' AND a < ${rnd.nextInt(1000)}")
    }
    check("a = 1500")     // only in the post-analyze file
    check("a = -5")       // below every analyzed zone
    check("b = 'nope'")   // in no file at all
    oracle.unpersist()
    ()
  }

  test("hidden-transform partitioned tables take SQL DML: INSERT derives " +
    "the partition, reads project the derived column away, DELETE works") {
    import org.apache.hadoop.fs.{Path => HPath}
    // the library-created day(ts) table — the reference's core semantic
    val sink = new TableSink(SinkConfig(tableName = "tthidden",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("ts", Transform.Day))))
    sink.append(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 08:00:00"), 10.0),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 09:00:00"), 20.0))
      .toDF("id", "ts", "v"))
    // SQL reads see the LOGICAL schema: no ts_day column
    assert(spark.table("gtest.tthidden").columns.toSeq ==
      Seq("id", "ts", "v"),
      "the derived directory column must be projected away")
    // SQL INSERT supplies only source columns; the sink re-derives
    spark.sql("INSERT INTO gtest.tthidden VALUES " +
      "(3, TIMESTAMP '2024-03-02 17:30:00', 30.0), " +
      "(4, TIMESTAMP '2024-03-03 05:10:00', 40.0)")
    assert(WarehouseIO.childDirNames(new HPath(s"$wh/tthidden")).toSet
      .filter(_.startsWith("ts_day=")) ==
      Set("ts_day=2024-03-01", "ts_day=2024-03-02", "ts_day=2024-03-03"),
      "the SQL INSERT must land in the derived day directories")
    // the row landed beside the library-written 2024-03-02 row
    assert(spark.sql(
      "SELECT id FROM gtest.tthidden WHERE CAST(ts AS DATE) = " +
        "DATE '2024-03-02' ORDER BY id").as[Long].collect().toSeq ==
      Seq(2L, 3L))
    // SQL DELETE routes through the library's copy-on-write path
    spark.sql("DELETE FROM gtest.tthidden WHERE id = 2")
    assert(spark.sql("SELECT id, v FROM gtest.tthidden ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (3L, 30.0), (4L, 40.0)))
    // and the library read agrees with the SQL read
    assert(sink.read(spark).count() == 3)
  }

  test("ALTER COLUMN TYPE widening: int->bigint serves old files upcast, " +
    "new long values land, time travel reads widened; narrowing refuses") {
    spark.sql("CREATE TABLE gtest.ttwiden (id BIGINT, n INT, f FLOAT) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.ttwiden VALUES (1, 10, CAST(1.5 AS FLOAT))," +
      " (2, 20, CAST(2.5 AS FLOAT))")
    spark.sql("ALTER TABLE gtest.ttwiden ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE gtest.ttwiden ALTER COLUMN f TYPE DOUBLE")
    // declared schema now carries the widened types
    val sch = spark.table("gtest.ttwiden").schema
    assert(sch("n").dataType.sql == "BIGINT" &&
      sch("f").dataType.sql == "DOUBLE", sch.sql)
    // values a 32-bit int cannot hold land through the widened door
    spark.sql("INSERT INTO gtest.ttwiden VALUES (3, 5000000000, 3.5)")
    val got = spark.sql(
      "SELECT sum(n) AS s, sum(f) AS sf FROM gtest.ttwiden").head()
    assert(got.getLong(0) == 5000000030L && got.getDouble(1) == 7.5,
      s"mixed int32/int64 files must aggregate under the widened type: $got")
    // time travel BEFORE the widen reads under the widened declared
    // schema (one schema governs every read — never schema-shifted)
    assert(spark.sql("SELECT sum(n) FROM gtest.ttwiden VERSION AS OF 1")
      .head().getLong(0) == 30L)
    // narrowing refuses — Spark's analyzer rejects non-upcasts before
    // the catalog (NOT_SUPPORTED_CHANGE_COLUMN); the catalog's own
    // isSafeWidening guard backstops direct API calls
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE gtest.ttwiden ALTER COLUMN n TYPE INT"))
    assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e1.getMessage.contains("WIDENING"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE gtest.ttwiden ALTER COLUMN f TYPE STRING"))
    assert(e2.getMessage.contains("WIDENING") ||
      e2.getMessage.contains("cross-family"), e2.getMessage)
  }

  test("ALTER COLUMN TYPE refuses retyping a partition-spec source " +
    "(derived directory values are type-sensitive)") {
    val sink = new TableSink(SinkConfig(tableName = "ttwidenp",
      warehousePath = wh, versioned = true,
      partitionSpec = Seq(PartitionField("b", Transform.Bucket(4)))))
    sink.append(Seq((1L, 10), (2L, 20)).toDF("id", "b"))
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gtest.ttwidenp ALTER COLUMN b TYPE BIGINT"))
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("ALTER TABLE DROP COLUMN refuses a partition-spec column — even " +
    "on a created-but-still-empty partitioned table") {
    // an empty partitioned table has no hive dirs yet, so it slips past
    // the blanket partitioned-ALTER refusal; without the spec check the
    // drop would succeed and every later INSERT would fail at write time
    // with a confusing partition-derivation error
    spark.sql("CREATE TABLE gtest.ttdroppart (id BIGINT, cat STRING) " +
      "PARTITIONED BY (cat) TBLPROPERTIES('versioned'='true')")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gtest.ttdroppart DROP COLUMN cat"))
    assert(e.getMessage.contains("partition spec"), e.getMessage)
    // the table still works end-to-end after the refused ALTER
    spark.sql("INSERT INTO gtest.ttdroppart VALUES (1, 'a')")
    assert(spark.sql("SELECT COUNT(*) FROM gtest.ttdroppart")
      .head().getLong(0) == 1)
  }

  test("ALTER TABLE RENAME COLUMN: mixed file generations coalesce under " +
    "the new name, time travel included; collisions refuse") {
    spark.sql("CREATE TABLE gtest.ttren (id BIGINT, val DOUBLE) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.ttren VALUES (1, 10.0), (2, 20.0)") // v1: 'val'
    spark.sql("ALTER TABLE gtest.ttren RENAME COLUMN val TO amount")
    spark.sql("INSERT INTO gtest.ttren VALUES (3, 30.0)")          // v2: 'amount'
    assert(spark.table("gtest.ttren").columns.toSeq == Seq("id", "amount"))
    assert(spark.sql("SELECT id, amount FROM gtest.ttren ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      "pre-rename files must serve their values under the NEW name")
    // filters and pruning on the renamed column work
    assert(spark.sql(
      "SELECT id FROM gtest.ttren WHERE amount > 15.0 ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // pre-rename snapshot time travel serves the CURRENT schema (the
    // Iceberg contract): v1's rows under the new name
    assert(spark.sql(
      "SELECT id, amount FROM gtest.ttren VERSION AS OF 1 ORDER BY id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 10.0), (2L, 20.0)))
    // chained rename: both physical generations still resolve
    spark.sql("ALTER TABLE gtest.ttren RENAME COLUMN amount TO total")
    spark.sql("INSERT INTO gtest.ttren VALUES (4, 40.0)")          // 'total'
    assert(spark.sql("SELECT id, total FROM gtest.ttren ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    // colliding renames refuse
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE gtest.ttren RENAME COLUMN id TO total"))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE gtest.ttren RENAME COLUMN id TO amount"))
      .getMessage.contains("resurrect"),
      "renaming onto a superseded physical name must refuse")
    // re-ADDing a pre-rename physical name must refuse (resurrection)
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE gtest.ttren ADD COLUMNS (val DOUBLE)"))
      .getMessage.contains("resurrect"))
    // SQL DML still works through the projected scan
    spark.sql("DELETE FROM gtest.ttren WHERE total < 15.0")
    assert(spark.sql("SELECT COUNT(*) FROM gtest.ttren").head().getLong(0)
      == 3L)
  }

  test("DELETE FROM with a timestamp predicate renders the cutoff " +
    "timezone-independently") {
    spark.sql("CREATE TABLE gtest.ttts2 (id BIGINT, ts TIMESTAMP) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.ttts2 VALUES " +
      "(1, TIMESTAMP '2024-01-01 00:00:00'), " +
      "(2, TIMESTAMP '2024-06-01 12:00:00'), " +
      "(3, TIMESTAMP '2024-12-31 23:59:59')")
    spark.sql("DELETE FROM gtest.ttts2 WHERE ts < TIMESTAMP '2024-06-01 12:00:00'")
    assert(spark.sql("SELECT id FROM gtest.ttts2 ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L),
      "the timestamp cutoff must delete exactly the earlier row")
    // equals the library-API delete on the same cutoff semantics
    val sink = new TableSink(SinkConfig(tableName = "ttts_lib",
      warehousePath = wh, versioned = true))
    sink.append(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-06-01 12:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-12-31 23:59:59")))
      .toDF("id", "ts"))
    sink.deleteWhere("ts < TIMESTAMP '2024-06-01 12:00:00'")
    sink.compact(spark)
    assert(sink.read(spark).select($"id").as[Long].collect().sorted.toSeq ==
      spark.sql("SELECT id FROM gtest.ttts2 ORDER BY id")
        .as[Long].collect().toSeq)
  }

  test("ALTER TABLE DROP COLUMN projects the column away; the tombstone " +
    "refuses a same-name re-add") {
    spark.sql("CREATE TABLE gtest.ttdrop (id BIGINT, v DOUBLE, tag STRING) " +
      "TBLPROPERTIES('versioned'='true')")
    spark.sql("INSERT INTO gtest.ttdrop VALUES (1, 10.0, 'x'), (2, 20.0, 'y')")
    spark.sql("ALTER TABLE gtest.ttdrop DROP COLUMN tag")
    // the declared schema governs every read: pre-drop files still carry
    // tag bytes, but the column is projected away at scan time
    assert(spark.table("gtest.ttdrop").columns.toSeq == Seq("id", "v"))
    // inserts continue against the evolved (smaller) schema
    spark.sql("INSERT INTO gtest.ttdrop VALUES (3, 30.0)")
    assert(spark.sql("SELECT * FROM gtest.ttdrop").count() == 3)
    // time travel reads under the evolved schema too — never schema-shifted
    assert(spark.sql("SELECT * FROM gtest.ttdrop VERSION AS OF 1")
      .columns.toSeq == Seq("id", "v"))
    // re-adding the dropped NAME would resurrect pre-drop values from the
    // old files (no field ids) — refused with the reason, permanently
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gtest.ttdrop ADD COLUMNS (tag STRING)"))
    assert(e.getMessage.contains("resurrect"), e.getMessage)
    // a FRESH name is fine and reads NULL-filled on old rows
    spark.sql("ALTER TABLE gtest.ttdrop ADD COLUMNS (tag2 STRING)")
    assert(spark.sql(
      "SELECT COUNT(*) FROM gtest.ttdrop WHERE tag2 IS NULL")
      .head().getLong(0) == 3)
    // the only remaining column cannot be dropped
    spark.sql("CREATE TABLE gtest.ttdrop1 (solo BIGINT)")
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE gtest.ttdrop1 DROP COLUMN solo"))
    assert(e2.getMessage.contains("only column"), e2.getMessage)
    // renaming onto a TOMBSTONED name refuses (old files carry its bytes)
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE gtest.ttdrop RENAME COLUMN v TO tag"))
    assert(e3.getMessage.contains("resurrect"), e3.getMessage)
  }

  test("a SELECT through the catalog over one pending merge-on-read " +
    "sidecar takes a pinned number of log listings and metadata reads") {
    // the pins are the counts measured before the catalog delegated its
    // log reads to TableSink: the delegation may not add metadata IO, and
    // a change that removes some lowers the pins on purpose
    val sink = mkVersioned("ttio")
    sink.deleteWhere("id = 1")
    val l0 = WarehouseIO.dirListings.get()
    val r0 = WarehouseIO.metaReads.get()
    val ids = spark.sql("SELECT id FROM gtest.ttio").as[Long].collect()
    val listings = WarehouseIO.dirListings.get() - l0
    val reads = WarehouseIO.metaReads.get() - r0
    assert(ids.sorted.toSeq == Seq(2L, 3L, 4L, 5L))
    assert(listings == 6 && reads == 14,
      s"SQL-door metadata IO moved: $listings listings (pin 6), " +
        s"$reads metadata reads (pin 14)")
  }
}
