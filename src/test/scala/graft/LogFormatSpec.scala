package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot log and its consumers' markers each have one on-disk
  * shape. A file in any other shape is refused with an error naming it —
  * never read as an empty snapshot, a restarted cursor or a
  * never-refreshed view. */
class LogFormatSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = TestSpark.tmpDir("logformat_wh")

  private def mkSink(name: String): TableSink = {
    val sink = new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true))
    sink.append(Seq((1L, "a", 10.0)).toDF("id", "cat", "v"))
    sink
  }

  test("a snapshot file without the #manifests header is refused by name") {
    val sink = mkSink("lf_snap")
    val v2 = new HPath(s"$wh/lf_snap/_graft_log/v00002.list")
    WarehouseIO.writeString(v2, "part-00000.parquet")
    def refused(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(v2.getName) &&
        e.getMessage.contains("#manifests"), s"$what: ${e.getMessage}")
    }
    refused("time travel")(sink.readVersion(spark, 2))
    refused("head read")(sink.read(spark))
    refused("next commit")(
      sink.append(Seq((2L, "b", 20.0)).toDF("id", "cat", "v")))
    assert(sink.snapshotVersions() == Seq(1, 2),
      "the refused commit must not claim a version")
  }

  test("a bare-version changelog cursor is refused naming the cursor") {
    val sink = mkSink("lf_cursor")
    val cursor = s"$wh/lf_cursor_c"
    WarehouseIO.writeString(new HPath(cursor), "1")
    val e = intercept[RuntimeException](sink.readChangelogSince(spark, cursor))
    assert(e.getMessage.contains(cursor) && e.getMessage.contains("'1'"),
      e.getMessage)
  }

  test("a bare-version view marker is refused naming the marker file") {
    val src = mkSink("lf_mv")
    val mv = new MaterializedView(src, s"$wh/lf_mv_view", Seq("cat"), Seq("v"))
    mv.refresh(spark)
    assert(mv.reflects == 1)
    val marker = new HPath(s"$wh/lf_mv_view/state/_mv_reflects")
    WarehouseIO.writeStringAtomic(marker, "1")
    val e = intercept[RuntimeException](mv.reflects)
    assert(e.getMessage.contains(marker.toString) &&
      e.getMessage.contains("'1'"), e.getMessage)
  }
}
