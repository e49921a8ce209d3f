package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared staged-asset lifecycle (StagedAsset): identity-keyed
  * location, tmp-dir build, atomic rename, marker completeness, and
  * lost-race recovery — now defined once and used by all four offline
  * indexes plus the interchange exports, so THIS is the spec that pins
  * the publish discipline for every staged asset at once.
  */
class StagedAssetSpec extends AnyFunSuite {
  import TestSpark._

  private def freshOut(): String =
    StagedAsset.dir("spec", s"staged-asset-spec-${System.nanoTime()}")

  private def buildInto(out: String, tag: Int): Unit = {
    val tmp = StagedAsset.tmpDir(out)
    spark.range(100).select(col("id"), lit(tag).as("builder"))
      .write.mode("overwrite").parquet(s"$tmp/data")
    StagedAsset.publish(spark, tmp, out, "data/_SUCCESS", "spec asset")
  }

  test("concurrent ensure builds produce one complete, readable asset") {
    val out = freshOut()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val races = Seq(1, 2).map { tag =>
      Future(StagedAsset.ensure(spark, out, "data/_SUCCESS")(buildInto(out, tag)))
    }
    val dirs = Await.result(Future.sequence(races), 120.seconds)
    assert(dirs.toSet == Set(out))
    assert(StagedAsset.isComplete(spark, out, "data/_SUCCESS"))
    // Whoever won, the asset is complete and fully readable, and every
    // row came from ONE builder (no interleaved halves).
    val rows = spark.read.parquet(s"$out/data").collect()
    assert(rows.length == 100)
    assert(rows.map(_.getInt(1)).toSet.size == 1,
      "published asset mixed rows from two builders")
  }

  test("a crashed publish (final dir without marker) is cleared and rebuilt") {
    val out = freshOut()
    // Simulate a crash: final path exists, no completeness marker.
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/data"))
    assert(!StagedAsset.isComplete(spark, out, "data/_SUCCESS"))
    StagedAsset.ensure(spark, out, "data/_SUCCESS")(buildInto(out, 7))
    assert(StagedAsset.isComplete(spark, out, "data/_SUCCESS"))
    assert(spark.read.parquet(s"$out/data").count() == 100)
    // The round-9 recovery moves the crashed leftover aside via an
    // atomic rename before deleting; neither the trash dir nor any tmp
    // staging dir may survive the republish.
    val parent = new org.apache.hadoop.fs.Path(out).getParent
    val leftovers = fs.listStatus(parent).map(_.getPath.getName)
      .filter(n => n.startsWith(new org.apache.hadoop.fs.Path(out).getName + ".trash-")
        || n.startsWith(new org.apache.hadoop.fs.Path(out).getName + ".tmp-"))
    assert(leftovers.isEmpty, s"recovery left residue: ${leftovers.toSeq}")
  }

  test("a lost publish race never nests the loser's copy inside the winner") {
    // Hadoop rename(src, existingDir) moves src INTO the directory
    // (RawLocalFileSystem falls through to copy-as-child) and returns
    // TRUE — so a naive `if (!rename)` loser path is unreachable and
    // the loser's full staging copy would silently pollute the
    // winner's published asset. publish() must detect the nested
    // landing, remove it, and keep the winner's rows.
    val out = freshOut()
    buildInto(out, 1) // the winner
    assert(StagedAsset.isComplete(spark, out, "data/_SUCCESS"))
    buildInto(out, 2) // the loser: publishes against an existing asset
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName).toSet
    assert(children == Set("data"),
      s"loser's staging copy leaked into the published asset: $children")
    // Winner's rows intact, readable, and attributed to builder 1.
    val rows = spark.read.parquet(s"$out/data")
    assert(rows.count() == 100)
    assert(rows.select("builder").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("publish sweeps stranded crashed-recovery trash siblings") {
    val out = freshOut()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Simulate a recovery that crashed between rename-aside and delete.
    val strandedTrash = new org.apache.hadoop.fs.Path(
      s"$out.trash-deadbeef-0000")
    fs.mkdirs(new org.apache.hadoop.fs.Path(strandedTrash, "data"))
    buildInto(out, 3)
    assert(!fs.exists(strandedTrash),
      "publish must sweep stranded .trash- siblings of its asset")
    assert(spark.read.parquet(s"$out/data").count() == 100)
  }

  test("ensure is a no-op once the marker exists") {
    val out = freshOut()
    StagedAsset.ensure(spark, out, "data/_SUCCESS")(buildInto(out, 3))
    // A second ensure must not invoke the build at all.
    StagedAsset.ensure(spark, out, "data/_SUCCESS")(
      sys.error("build must not re-run for a complete asset"))
    assert(spark.read.parquet(s"$out/data").count() == 100)
  }

  test("staged reads carry the schema inference gives every published table") {
    val published = Seq(
      graft.llm.IvfIndex.ensure(spark, sfDir),
      graft.llm.PostingIndex.ensure(spark, sfDir),
      graft.ops.GraphIndex.ensure(spark, sfDir),
      graft.llm.BandIndex.ensure(spark, sfDir, graft.llm.BandIndex.Boundary.all))
    published.foreach { idx =>
      val tables = new java.io.File(idx).listFiles().filter(f =>
        f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(tables.nonEmpty, idx)
      tables.foreach { t =>
        val path = s"$idx/${t.getName}"
        StagedAsset.read(spark, path)
        assert(StagedAsset.read(spark, path).schema == spark.read.parquet(path).schema, path)
      }
    }
  }

  test("build paths are read with their own schema, never a memoized one") {
    val tmp = StagedAsset.tmpDir(freshOut())
    spark.range(3).write.mode("overwrite").parquet(s"$tmp/t")
    assert(StagedAsset.read(spark, s"$tmp/t").columns.toSeq == Seq("id"))
    spark.range(3).select(col("id").as("other")).write.mode("overwrite").parquet(s"$tmp/t")
    assert(StagedAsset.read(spark, s"$tmp/t").columns.toSeq == Seq("other"))
  }
}
