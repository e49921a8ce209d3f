package graft

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.DeltaDirs

/** The shared `b<id>` delta-directory read: the half-written-batch
  * degradation contract (ADVICE r9). A maintainer that crashes BETWEEN
  * its two segment writes (semDedupMaintain lands b<N>/edges, dies
  * before b<N>/vecs) leaves a batch dir where one sub exists and the
  * other doesn't. An unbounded probe-time read (batchId = MaxValue —
  * which no replay ever heals, since replays bound strictly below)
  * must degrade to MISSING ROWS for the absent sub — exactly the state
  * a replay of that batch will overwrite — not throw
  * path-does-not-exist forever. */
class DeltaDirsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val schema = StructType(Seq(StructField("x", LongType)))

  test("half-written batch degrades to missing rows, not an exception") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs").toString
    // b0 crashed between writes: edges landed, vecs did not.
    Seq(10L).toDF("x").write.parquet(s"$root/b0/edges")
    // b1 completed both.
    Seq(20L).toDF("x").write.parquet(s"$root/b1/edges")
    Seq(21L).toDF("x").write.parquet(s"$root/b1/vecs")
    val edges = DeltaDirs.readSegs(spark, root, "edges", schema)
      .collect().map(_.getLong(0)).sorted.toSeq
    val vecs = DeltaDirs.readSegs(spark, root, "vecs", schema)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(edges == Seq(10L, 20L))
    assert(vecs == Seq(21L), "b0's missing vecs sub must read as no rows")
    // Replay of b0 (strictly-before read at batchId=0) sees neither.
    assert(DeltaDirs.readSegs(spark, root, "vecs", schema, 0L).isEmpty)
  }

  test("empty sub-name path still reads whole batch dirs") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs2").toString
    Seq(1L).toDF("x").write.parquet(s"$root/b0")
    Seq(2L).toDF("x").write.parquet(s"$root/b7")
    new java.io.File(s"$root/not-a-batch").mkdirs()
    val all = DeltaDirs.readSegs(spark, root, "", schema)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(all == Seq(1L, 2L))
  }

  private def rows(root: String, sub: String, batchId: Long = Long.MaxValue) =
    DeltaDirs.readSegs(spark, root, sub, schema, batchId)
      .collect().map(_.getLong(0)).sorted.toSeq

  private def dirNames(root: String) =
    new java.io.File(root).listFiles().map(_.getName).sorted.toSeq

  test("compaction is row-preserving, prunes covered dirs, " +
      "half-written covered batch still degrades to missing rows") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs3").toString
    Seq(10L).toDF("x").write.parquet(s"$root/b0/edges")
    Seq(11L).toDF("x").write.parquet(s"$root/b0/vecs")
    // b1 crashed between writes: edges landed, vecs did not.
    Seq(20L).toDF("x").write.parquet(s"$root/b1/edges")
    Seq(30L).toDF("x").write.parquet(s"$root/b2/edges")
    Seq(31L).toDF("x").write.parquet(s"$root/b2/vecs")
    val subs = Seq("edges" -> schema, "vecs" -> schema)
    val before = (rows(root, "edges"), rows(root, "vecs"))
    // fold strictly below batch 2 (the in-flight batch keeps its dir)
    assert(DeltaDirs.compact(spark, root, subs, 2L))
    assert(dirNames(root) == Seq("b2", "t0_1"),
      "b0/b1 folded into t0_1; in-flight b2 untouched")
    assert((rows(root, "edges"), rows(root, "vecs")) == before,
      "compacted read must equal the uncompacted read row-for-row")
    // nothing new landed: no new segment, state unchanged
    assert(!DeltaDirs.compact(spark, root, subs, 2L))
    assert(dirNames(root) == Seq("b2", "t0_1"))
  }

  test("replay across compaction sees identical rows") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs4").toString
    (0L to 4L).foreach(i => Seq(i * 10).toDF("x").write.parquet(s"$root/b$i"))
    val subs = Seq("" -> schema)
    // batch 5 is replaying: its strictly-before read, then the
    // compaction batch 5 performed before the crash, then the re-read.
    val before = rows(root, "", 5L)
    assert(DeltaDirs.compact(spark, root, subs, 5L))
    assert(rows(root, "", 5L) == before)
    assert(before == Seq(0L, 10L, 20L, 30L, 40L))
  }

  test("crash windows: markerless fold is invisible; published fold " +
      "with unpruned inputs never double-counts; next compact prunes") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs5").toString
    (0L to 2L).foreach(i => Seq(i).toDF("x").write.parquet(s"$root/b$i"))
    val subs = Seq("" -> schema)
    // window 1: fold written but rename never happened (stale tmp) —
    // and a markerless c dir (non-atomic-FS crash during rename)
    Seq(99L).toDF("x").write.parquet(s"$root/c1.tmp-deadbeef")
    Seq(98L).toDF("x").write.parquet(s"$root/c0")
    assert(rows(root, "") == Seq(0L, 1L, 2L),
      "stale tmp and markerless c dir must be invisible to readers")
    // window 2: a complete fold landed but the prune crashed — simulate
    // by compacting, then re-creating a covered b dir as the leftover
    assert(DeltaDirs.compact(spark, root, subs, 3L))
    Seq(0L).toDF("x").write.parquet(s"$root/b0")
    assert(rows(root, "") == Seq(0L, 1L, 2L),
      "covered b dir below the watermark must not double-count")
    // the next compact call (even with nothing new) finishes the prune
    assert(!DeltaDirs.compact(spark, root, subs, 3L))
    assert(dirNames(root) == Seq("t0_2"))
    assert(rows(root, "") == Seq(0L, 1L, 2L))
  }

  test("liveness: a markerless segment dir AT the next publish target " +
      "(crashed non-atomic publish) is healed, not renamed-onto — " +
      "compact converges instead of throwing forever") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs6").toString
    (0L to 2L).foreach(i => Seq(i).toDF("x").write.parquet(s"$root/b$i"))
    val subs = Seq("" -> schema)
    // the crash: a previous compact's rename onto t0_2 died mid-copy on
    // a non-atomic FS, leaving a partial t0_2 WITHOUT the marker — and
    // with garbage rows a reader must never see (plus a legacy-named
    // leftover from the pre-tiering layout, same crash shape)
    Seq(777L).toDF("x").write.parquet(s"$root/t0_2")
    Seq(666L).toDF("x").write.parquet(s"$root/c1")
    assert(rows(root, "") == Seq(0L, 1L, 2L),
      "partial markerless segment dirs must be invisible to readers")
    // the replay recomputes the same fold; without the heal the rename
    // would NEST the tmp inside the leftover t0_2 (marker nested →
    // readers skip forever) while prune deletes the inputs — row loss
    assert(DeltaDirs.compact(spark, root, subs, 3L))
    assert(dirNames(root) == Seq("t0_2"))
    assert(rows(root, "") == Seq(0L, 1L, 2L),
      "the healed publish must carry exactly the folded rows")
    // and it stays stable
    assert(!DeltaDirs.compact(spark, root, subs, 3L))
    assert(rows(root, "") == Seq(0L, 1L, 2L))
  }

  /** Drive compact at cadence 1 over many synthetic batches and return
    * the dir names after each call — the tiered chain evolution. */
  private def drive(root: String, n: Int): Seq[Long] = {
    val subs = Seq("" -> schema)
    (0L until n.toLong).foreach { i =>
      Seq(i).toDF("x").write.parquet(s"$root/b$i")
      if (i > 0) DeltaDirs.compact(spark, root, subs, i)
    }
    (0L until n.toLong)
  }

  test("tiered chain: segment count stays logarithmic, spans are " +
      "geometric old-to-young, reads stay row-identical throughout") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs7").toString
    val ids = drive(root, 40)
    val segs = dirNames(root).filter(_.startsWith("t"))
      .map { n => val a = n.drop(1).split("_"); (a(0).toLong, a(1).toLong) }
      .sortBy(_._1)
    // laminar + contiguous: maximal segments tile [0, maxHi]
    segs.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) => assert(l2 == h1 + 1, segs)
      case _ =>
    }
    // geometric invariant: each older span ≥ 2× the next younger span
    val spans = segs.map { case (l, h) => h - l + 1 }
    spans.sliding(2).foreach {
      case Seq(a, b) => assert(a >= 2 * b, s"invariant broken: $spans")
      case _ =>
    }
    assert(segs.length <= 7, s"log-many segments expected, got $segs")
    assert(rows(root, "") == ids.map(identity),
      "tiered read must hold every row exactly once")
  }

  test("replay across a tier MERGE boundary sees identical rows") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs8").toString
    val subs = Seq("" -> schema)
    (0L to 6L).foreach(i => Seq(i * 10).toDF("x").write.parquet(s"$root/b$i"))
    // first fold: b0..b3 → t0_3
    assert(DeltaDirs.compact(spark, root, subs, 4L))
    // batch 7 is replaying: its strictly-before read, then the compact
    // batch 7 performed before the crash (folds b4..b6 → t4_6; 4 < 2*3
    // so the cascade merges t0_3+t4_6 → t0_6), then the re-read.
    val before = rows(root, "", 7L)
    assert(DeltaDirs.compact(spark, root, subs, 7L))
    assert(dirNames(root) == Seq("t0_6"), dirNames(root))
    assert(rows(root, "", 7L) == before)
    assert(before == (0L to 6L).map(_ * 10))
  }

  test("crash mid-cascade: a published merge with a stale invariant " +
      "deeper in the chain is repaired by the next compact call") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs9").toString
    val subs = Seq("" -> schema)
    // hand-build a chain that violates the invariant in the MIDDLE —
    // the state a crash between two cascade merges leaves behind:
    // spans (2, 2, 1): t0_1 vs t2_3 violates, tail pair does not.
    (0L to 4L).foreach(i => Seq(i).toDF("x").write.parquet(s"$root/b$i"))
    assert(DeltaDirs.compact(spark, root, subs, 2L)) // t0_1
    // publish t2_3 directly (simulating the crashed call's first merge)
    Seq(2L, 3L).toDF("x").write.parquet(s"$root/t2_3")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/t2_3/_COMPACTED"), true)
      .close()
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/b2"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/b3"), true)
    assert(rows(root, "", 5L) == Seq(0L, 1L, 2L, 3L, 4L))
    // resume: folds b4 → t4_4, then must repair the t0_1/t2_3 violation
    // even though it is not at the tail (spans 2,2,1 → merge the
    // violating middle pair → spans 4,1, which is stable)
    assert(DeltaDirs.compact(spark, root, subs, 5L))
    assert(dirNames(root) == Seq("t0_3", "t4_4"), dirNames(root))
    assert(rows(root, "", 5L) == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("adopted predecessor publish: a complete segment whose inputs " +
      "were never pruned is not double-counted and compact finishes " +
      "the prune without republishing") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs10").toString
    val subs = Seq("" -> schema)
    (0L to 2L).foreach(i => Seq(i).toDF("x").write.parquet(s"$root/b$i"))
    assert(DeltaDirs.compact(spark, root, subs, 3L)) // t0_2 published
    // the crash: prune never ran — resurrect the covered inputs
    (0L to 2L).foreach(i => Seq(i).toDF("x").write.parquet(s"$root/b$i"))
    assert(rows(root, "") == Seq(0L, 1L, 2L),
      "covered b dirs must not double-count against the segment")
    assert(!DeltaDirs.compact(spark, root, subs, 3L),
      "nothing new: the resumed call publishes nothing")
    assert(dirNames(root) == Seq("t0_2"))
    assert(rows(root, "") == Seq(0L, 1L, 2L))
  }

  test("legacy c<W> dir interop: a markered pre-tiering fold is read, " +
      "chained under the geometric rule, and merged away") {
    val root = java.nio.file.Files.createTempDirectory("deltadirs11").toString
    val subs = Seq("" -> schema)
    // a complete legacy fold covering batches 0..1
    Seq(0L, 1L).toDF("x").write.parquet(s"$root/c1")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/c1/_COMPACTED"), true)
      .close()
    (2L to 3L).foreach(i => Seq(i).toDF("x").write.parquet(s"$root/b$i"))
    assert(rows(root, "") == Seq(0L, 1L, 2L, 3L),
      "legacy fold must read alongside live b dirs")
    // fold b2..b3 → t2_3 (span 2); c1 has span 2 < 2*2 → cascade merge
    assert(DeltaDirs.compact(spark, root, subs, 4L))
    assert(dirNames(root) == Seq("t0_3"), dirNames(root))
    assert(rows(root, "") == Seq(0L, 1L, 2L, 3L))
  }
}
