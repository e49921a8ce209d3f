package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.AdvancedQueries

class AdvancedSpec extends AnyFunSuite {
  import TestSpark._

  test("asof join: every matched click precedes its purchase") {
    val r = AdvancedQueries.asofJoin(spark, sfDir)
    assert(r.count() > 0)
    assert(r.filter(col("click_ts_us") > col("purchase_ts_us")).count() == 0)
  }

  test("asof join picks the latest qualifying click, not just any") {
    // recompute with an explicit per-purchase max over all prior clicks
    val ev = Tables.t(spark, sfDir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("pu"), unix_micros(col("ts")).as("pts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("cts"))
    val expected = p.join(c, col("pu") === col("cu") && col("cts") <= col("pts"))
      .groupBy("event_id").agg(max("cts").as("click_ts_us"))
    val got = AdvancedQueries.asofJoin(spark, sfDir)
      .select("event_id", "click_ts_us")
    assert(got.join(expected, "event_id")
      .filter(got("click_ts_us") =!= expected("click_ts_us")).count() == 0)
    assert(got.count() == expected.count())
  }

  test("session type affinity counts co-membership per session with exact lift") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("affinity").toString
    def ns(sec: Long): Long = 1700000000L * 1000000000L + sec * 1000000000L
    // user 1: view+click in one session, then a >30min gap and a
    // view-only session; user 2: click-only session → 3 sessions,
    // view supp 2, click supp 2, co-membership 1 → lift 3/4.
    val ev = Seq(
      (1L, ns(0), 1L, "view"), (2L, ns(60), 1L, "click"),
      (3L, ns(10000), 1L, "view"),
      (4L, ns(0), 2L, "click"))
    TestFixtures.writeEvents(spark, d,
      ev.map { case (id, t, u, ty) => (id, t, u, ty, 1.0, "{}") })
    val r = AdvancedQueries.sessionTypeAffinity(spark, d).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getString(0), row.getString(1)) == (("click", "view")))
    assert(row.getLong(2) == 1L && row.getLong(3) == 2L && row.getLong(4) == 2L)
    assert(row.getDouble(5) == 0.75, "lift = N·both/(a·b) = 3/4")
  }

  test("islands sessionization agrees with the stateful sessionizer") {
    import spark.implicits._
    import graft.streaming.StreamOps
    val islands = AdvancedQueries.sessionize(spark, sfDir)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val events = StreamOps.withEventTime(
      spark.read.schema(StreamOps.eventsRawSchema).parquet(s"$sfDir/events.parquet"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamOps.Event]
    val stateful = StreamOps.sessionize(events)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(islands == stateful)
  }

  test("approx profile: every accuracy-contract flag holds and n_rows matches exact") {
    val exact = AdvancedQueries.distinctProfile(spark, sfDir).head
    val approx = AdvancedQueries.approxProfile(spark, sfDir).head
    assert(approx.getAs[Long]("n_rows") == exact.getAs[Long]("n_rows"))
    for (flag <- Seq("orders_ok", "parts_ok", "suppliers_ok", "p50_ok", "p99_ok"))
      assert(approx.getAs[Long](flag) == 1L, s"accuracy flag $flag failed")
  }

  /** The per-source top-3 composed on the driver: every non-null
    * document of a source, sorted (n_chars desc, doc_id asc), first 3. */
  private def composedTop3(docs: DataFrame): Seq[(String, Long, Long, Long)] =
    docs.select("source", "doc_id", "n_chars").collect().toSeq
      .filter(r => !r.isNullAt(2))
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .flatMap { case (src, rows) =>
        rows.map(r => (r.getLong(1), r.getLong(2)))
          .sortBy { case (id, n) => (-n, id) }.take(3).zipWithIndex
          .map { case ((id, n), i) => (src, i + 1L, id, n) }
      }

  private def rowsOf(df: DataFrame): Seq[(String, Long, Long, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("q119 top-3 per source: ties break by doc_id, a null never ranks, a short source keeps what it has") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("topk").toString
    // a: a tie at 200 inside the top 3 and a tie at 100 across its
    // boundary; b: one ranked doc beside a null; c: only a null;
    // d: four docs all tied.
    val docs = Seq[(Long, String, Option[Long])](
      (1, "a", Some(100)), (2, "a", Some(200)), (3, "a", Some(200)),
      (4, "a", Some(100)), (5, "a", None), (6, "a", Some(50)),
      (10, "b", Some(5)), (11, "b", None), (12, "c", None),
      (23, "d", Some(7)), (21, "d", Some(7)), (22, "d", Some(7)), (20, "d", Some(7)))
      .map { case (id, src, n) => (id, s"text $id", "en", src, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = rowsOf(AdvancedQueries.topKBySource(spark, d))
    assert(got == Seq(
      ("a", 1L, 2L, 200L), ("a", 2L, 3L, 200L), ("a", 3L, 1L, 100L),
      ("b", 1L, 10L, 5L),
      ("d", 1L, 20L, 7L), ("d", 2L, 21L, 7L), ("d", 3L, 22L, 7L)))
    assert(got == composedTop3(docs))
  }

  test("q119 equals the composed per-source top-3 on the fixture corpus, in order") {
    val got = rowsOf(AdvancedQueries.topKBySource(spark, sfDir))
    assert(got.nonEmpty)
    assert(got == composedTop3(Tables.t(spark, sfDir, "documents")))
  }
}
