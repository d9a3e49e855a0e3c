package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.streaming.Sink
import graft.topo.Topology

/** Topology assembly (input → processors → output, reference
  * internal/stream/type.go:90-135) and multimodal plumbing.
  */
class TopologySpec extends SparkTestBase {
  import spark.implicits._

  test("builder chains processors in config order over the input") {
    val dir = tempDir("topo").toString + "/d"
    Seq(1, 2, 3, 4).toDF("v").write.parquet(dir)
    val out = Topology.fromParquet(dir)
      .proc(_.filter(col("v") > 1))
      .proc(_.withColumn("v2", col("v") * 10))
      .build(spark)
      .select("v2").as[Int].collect().sorted
    assert(out.toSeq == Seq(20, 30, 40))
  }

  test("fanIn merges inputs like the fan_in broker, aligning schemas") {
    val d1 = tempDir("t1").toString + "/d"
    val d2 = tempDir("t2").toString + "/d"
    Seq((1, "a")).toDF("v", "s").write.parquet(d1)
    Seq(2, 3).toDF("v").write.parquet(d2)
    val merged = Topology.fanIn(Seq(
      _.read.parquet(d1), _.read.parquet(d2))).build(spark)
    assert(merged.count() == 3)
    assert(merged.columns.toSet == Set("v", "s"))
  }

  test("switchSink routes rows to the first matching case's sink") {
    val outA = tempDir("sa").toString
    val outB = tempDir("sb").toString
    val batch = Seq(1, 5, 20, 25).toDF("v")
    Topology.switchSink(Seq(
      (col("v") < 10) -> Sink.writeBatchIdempotent(outA),
      (col("v") < 30) -> Sink.writeBatchIdempotent(outB)))(batch, 0L)
    assert(Sink.readCommitted(spark, outA).select("v").as[Int].collect().sorted.toSeq == Seq(1, 5))
    assert(Sink.readCommitted(spark, outB).select("v").as[Int].collect().sorted.toSeq == Seq(20, 25))
  }

  test("streams mode: N named streams run concurrently in one session (SURVEY §3.2)") {
    // the reference's streams mode / StreamBuilder hosts N independent
    // input→pipeline→output streams in one process (internal/stream/
    // type.go; docs/guides/streams_mode) — here: one SparkSession, two
    // Topologies with different pipelines over the same staged input,
    // both StreamingQueries live at once, each with its own checkpoint
    // and exactly-once sink.
    val work = tempDir("streamsmode").toString
    Seq(1, 2, 3, 4, 5, 6).toDF("v").repartition(2).write.parquet(s"$work/in")
    def topo(name: String, p: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      Topology.fromParquetStream(s"$work/in", "v INT").proc(p)
        .run(spark, s"$work/out-$name", s"$work/ck-$name")
    val qa = topo("evens", _.filter(col("v") % 2 === 0))
    val qb = topo("tens", _.withColumn("v", col("v") * 10))
    qa.awaitTermination(); qb.awaitTermination()
    assert(Sink.readCommitted(spark, s"$work/out-evens")
      .select("v").as[Int].collect().sorted.toSeq == Seq(2, 4, 6))
    assert(Sink.readCommitted(spark, s"$work/out-tens")
      .select("v").as[Int].collect().sorted.toSeq == Seq(10, 20, 30, 40, 50, 60))
  }

  test("csv file source reads batch and streaming, gzip transparently (codec chain)") {
    val work = tempDir("csvsrc").toString
    val in = s"$work/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    // one plain csv + one gzipped csv in the same directory — the
    // reference's file input with `gzip`/`csv` codecs reads both
    Files.write(java.nio.file.Paths.get(s"$in/a.csv"),
      "id,name\n1,alpha\n2,beta\n".getBytes("UTF-8"))
    locally {
      val gz = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$in/b.csv.gz"))
      gz.write("id,name\n3,gamma\n".getBytes("UTF-8")); gz.close()
    }
    val schema = "id INT, name STRING"
    val batch = Topology.fromCsv(in, schema).build(spark)
      .as[(Int, String)].collect().sortBy(_._1)
    assert(batch.toSeq == Seq((1, "alpha"), (2, "beta"), (3, "gamma")))
    // same directory through the streaming form + exactly-once sink
    val q = Topology.fromCsvStream(in, schema)
      .proc(_.filter(col("id") > 1))
      .run(spark, s"$work/out", s"$work/ck")
    q.awaitTermination()
    assert(Sink.readCommitted(spark, s"$work/out")
      .select("id").as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("lines file source: one row per line with the reference's path metadata") {
    val work = tempDir("linesrc").toString
    val in = s"$work/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    Files.write(java.nio.file.Paths.get(s"$in/log1.txt"),
      "first line\nsecond line\n".getBytes("UTF-8"))
    val rows = Topology.fromLines(in).build(spark)
      .as[(String, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("first line", "second line"))
    assert(rows.forall(_._2.endsWith("log1.txt")))
    val q = Topology.fromLinesStream(in)
      .proc(_.filter(col("content").startsWith("second")))
      .run(spark, s"$work/out", s"$work/ck")
    q.awaitTermination()
    val streamed = Sink.readCommitted(spark, s"$work/out")
      .select("content").as[String].collect()
    assert(streamed.toSeq == Seq("second line"))
  }

  test("multimodal decode round-trips the stub metadata; malformed rows drop") {
    val docs = spark.range(10).toDF("doc_id")
    val media = Multimodal.withMedia(docs)
    val meta = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(meta.length == 10)
    assert(meta(3).width == 64 + 3 * 32 && meta(3).height == 48 + 3 * 32)
    assert(meta(4).format == "jpeg" && meta(4).n_frames == 5)
    // malformed payload is dropped, not failed
    val bad = Seq(Multimodal.MediaRow(99L, Array[Byte](1, 2, 3))).toDS()
    assert(Multimodal.decode(bad).count() == 0)
  }
}
