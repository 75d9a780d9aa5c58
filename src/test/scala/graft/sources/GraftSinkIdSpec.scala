package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Catalog, SnapshotTable}

/** The sink's construction contract. Its idempotency key comes from
  * the engine's queryId local property or an explicit txnAppId — NEVER
  * a per-table fallback (two writers sharing one key silently skip
  * each other's batch ids; ADVICE r10) — on plain and governed tables
  * alike; and an option the target cannot honour is refused when the
  * sink is built, not silently dropped or written as data. */
class GraftSinkIdSpec extends graft.GraftSuite {
  import spark.implicits._

  test("sink refuses a missing writer id instead of a shared per-table fallback") {
    val dir = Files.createTempDirectory("graft-sinkid").toString
    val df = Seq(("a", 1L, "d1")).toDF("k", "n", "day")
    // outside a micro-batch thread there is no sql.streaming.queryId
    // local property
    spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    val targets: Seq[(Map[String, String], () => Long)] = Seq(
      Map("path" -> s"$dir/t") ->
        (() => SnapshotTable.read(spark, s"$dir/t").count()),
      Map("path" -> "t", "catalog" -> s"$dir/cat") ->
        (() => Catalog.read(spark, s"$dir/cat", "t").count()))
    targets.foreach { case (params, rows) =>
      val noId = GraftStreaming.sinkOf(params, Seq("day"), OutputMode.Append())
      val e = intercept[IllegalStateException] { noId.addBatch(0L, df) }
      assert(e.getMessage.contains("txnAppId"), params)
      // an explicit txnAppId in the same situation commits fine
      val withId = GraftStreaming.sinkOf(params + ("txnAppId" -> "w1"),
        Seq("day"), OutputMode.Append())
      withId.addBatch(0L, df)
      withId.addBatch(0L, df) // replay: already stamped, skipped
      assert(rows() === 1L, params)
    }
  }

  test("sink refuses, when built, an option its target cannot honour") {
    val dir = Files.createTempDirectory("graft-sinkopts").toString
    val plain = Map("path" -> s"$dir/t", "txnAppId" -> "w1")
    val governed = Map("path" -> "t", "catalog" -> s"$dir/cat",
      "txnAppId" -> "w1")
    def refused(params: Map[String, String], mode: OutputMode,
                words: String*): Unit = {
      val e = intercept[IllegalArgumentException] {
        GraftStreaming.sinkOf(params, Seq("day"), mode)
      }
      words.foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    }
    // delete tombstones need the governed CDC commit; a plain sink
    // would write the op column as data and upsert tombstones as rows
    refused(plain ++ Map("mergeKeys" -> "k", "cdcOps" -> "op"),
      OutputMode.Update(), "cdcOps")
    // a governed full-table replace per trigger is a batch transact
    refused(governed, OutputMode.Complete(), "Complete")
    // governed commits record no skipping sidecars
    refused(governed + ("statsCols" -> "n"), OutputMode.Append(), "statsCols")
    refused(governed + ("bloomCols" -> "k"), OutputMode.Append(), "bloomCols")
    // each option is still honoured where its target supports it
    GraftStreaming.sinkOf(governed ++ Map("mergeKeys" -> "k",
      "cdcOps" -> "op"), Seq("day"), OutputMode.Update())
    GraftStreaming.sinkOf(plain, Seq.empty, OutputMode.Complete())
    GraftStreaming.sinkOf(plain ++ Map("statsCols" -> "n", "bloomCols" -> "k"),
      Seq("day"), OutputMode.Append())
  }
}
