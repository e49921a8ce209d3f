package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.MaintainerHarness
import graft.tools.StreamSoak

/** The maintainer soak's wiring, without a long stream: every family fed
  * three batches (folding on every batch after the first) must probe
  * equal to its one-shot twin, a corrupted segment must show as exactly
  * its own MISMATCH, and the `rate-micro-batch` path must run end to end.
  * The family table must cover every maintainer the sources define. */
class StreamSoakSpec extends AnyFunSuite {
  import TestSpark._

  private def values(vs: Seq[Long]): DataFrame = spark.createDataFrame(
    vs.map(v => Row(v)).asJava,
    StructType(Seq(StructField("value", LongType, nullable = false))))

  // batch 1 re-delivers half of batch 0's text and vector pool members
  // (values one text pool further on, which the vector pool divides)
  // beside new ones; every value is a fresh graph order
  private val batches: Seq[Seq[Long]] = Seq(
    0L until 48L,
    (0L until 24L).map(_ + StreamSoak.TextPool) ++ (48L until 72L),
    72L until 120L)

  private lazy val bases = new StreamSoak.Bases(spark, sfDir)

  private lazy val soak = {
    val root = Files.createTempDirectory("streamsoak").toString
    val k = new StreamSoak.Soak(spark, StreamSoak.families, root, bases, foldSegments = 1)
    batches.zipWithIndex.foreach { case (vs, b) => k.feed(values(vs), b.toLong) }
    k.twin(values(batches.flatten))
    k
  }

  test("the family table covers every Streaming*Maintenance object, and README counts them") {
    def src(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    val objects = Files.list(Paths.get("src/main/scala/graft/streaming")).iterator.asScala
      .flatMap(p => "object (Streaming\\w+Maintenance)\\b".r
        .findAllMatchIn(src(p)).map(_.group(1))).toSet
    val wired = "(Streaming\\w+Maintenance)\\.\\w+Maintain\\(".r
      .findAllMatchIn(src(Paths.get("src/main/scala/graft/tools/StreamSoak.scala")))
      .map(_.group(1)).toSet
    assert(objects.nonEmpty, "src/main not found from the working directory")
    assert((objects -- wired).isEmpty, s"maintainers with no soak family: ${objects -- wired}")
    val names = StreamSoak.families.map(_.name)
    assert(names.distinct.size == objects.size,
      s"${objects.size} maintainers, soak families ${names.mkString(",")}")
    val words = Seq("zero", "one", "two", "three", "four", "five", "six", "seven",
      "eight", "nine", "ten", "eleven", "twelve", "thirteen", "fourteen", "fifteen")
    val counted = src(Paths.get("README.md")).replaceAll("\\s+", " ")
      .contains(s"${words(objects.size)} index-maintainer families")
    assert(counted, s"README's streaming/ entry must say ${words(objects.size)} families")
  }

  test("posting without digest before it is rejected") {
    intercept[IllegalArgumentException](StreamSoak.select("posting"))
    intercept[IllegalArgumentException](StreamSoak.select("posting,digest"))
    assert(StreamSoak.select("digest,posting").map(_.name) == Seq("digest", "posting"))
    assert(StreamSoak.select("all") == StreamSoak.families)
  }

  test("every family's streamed state equals its one-shot twin (16 DONE-probes)") {
    val res = soak.probe(batches.size.toLong)
    assert(res.size == 16)
    assert(res.forall(_._2), s"mismatched: ${res.filterNot(_._2).map(_._1)}")
  }

  test("a segment with a dropped row is exactly that family's MISMATCH") {
    // batch 2 is media's live segment (folds take only earlier ids) and
    // holds only its own first deliveries
    val seg = MaintainerHarness.segPath(soak.delta("media"), 2L, "fps")
    val rows = spark.read.parquet(seg)
    val kept = rows.collect().toSeq.tail
    assert(kept.nonEmpty)
    spark.createDataFrame(kept.asJava, rows.schema).write.mode("overwrite").parquet(seg)
    assert(soak.probe(batches.size.toLong).filterNot(_._2).map(_._1) == Seq("media/fps"))
  }

  test("the rate-micro-batch path feeds digest and posting and probes MATCH") {
    val root = Files.createTempDirectory("streamsoak-rate").toString
    val k = new StreamSoak.Soak(spark, StreamSoak.select("digest,posting"), root, bases,
      foldSegments = 1)
    val res = StreamSoak.stream(spark, k, nBatches = 3, rowsPerBatch = 48, reportEvery = 1)
    assert(res.map(_._1) == Seq("digest", "posting/postings", "posting/df"))
    assert(res.forall(_._2), s"mismatched: ${res.filterNot(_._2).map(_._1)}")
  }
}
