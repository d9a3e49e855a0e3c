package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen

/** Seeded staging of the benchmark inputs. The program only ever sees the
  * generated parquet files.
  *
  * FileStreamSource replays new files in modification-time order, so every
  * layout stamps strictly increasing mtimes in event-time order; without
  * that, one parallel write gives all part files the same mtime and an
  * early trigger can carry the corpus's late event times, which makes the
  * watermark late-drop later files.
  */
object Stage {

  val Schema = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"

  /** Part files of a written parquet dir (no `_SUCCESS`, no checksums). */
  def parts(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.toSeq.filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    finally s.close()
  }

  private def stamp(files: Seq[Path]): Unit = {
    val base = System.currentTimeMillis() - files.size * 1000L
    files.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Time-ordered layout: `nFiles` files, each a disjoint event-time range,
    * mtimes in range order. Returns the files in replay order with their
    * row counts.
    */
  def timeOrdered(spark: SparkSession, dir: String, nConvs: Long, seed: Long,
      nFiles: Int): Seq[(Path, Long)] = {
    TranscriptGen.transcripts(spark, nConvs, seed).toDF()
      .repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions(col("ts"), col("conv_id"), col("turn_idx"))
      .write.parquet(dir)
    val files = perFile(spark, dir, min(col("ts"))).sortBy(_._3.asInstanceOf[java.sql.Timestamp].getTime)
      .map { case (p, n, _) => p -> n }
    stamp(files.map(_._1))
    files
  }

  /** (file, rows, agg) for every part file under `dir`. */
  private def perFile(spark: SparkSession, dir: String,
      agg: org.apache.spark.sql.Column): Seq[(Path, Long, Any)] =
    spark.read.schema(Schema).parquet(dir)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)), agg).collect()
      .map(r => (Paths.get(java.net.URI.create(r.getString(0))), r.getLong(1), r.get(2))).toSeq

  /** Conv-keyed, time-sliced layout (the conv_id-keyed ingest shape): rows
    * are cut into `slices` equal-frequency event-time slabs, each slab
    * hash-partitioned on conv_id into `filesPerSlice` files, slabs in time
    * order. A replay at `filesPerSlice` files per trigger advances every
    * conversation's event time together, while a hot conversation's turns
    * of one slab all sit in one file.
    */
  def keyedSliced(spark: SparkSession, dir: String, nConvs: Long, seed: Long,
      hotConvs: Int, hotMult: Int, slices: Int, filesPerSlice: Int): Seq[(Path, Long)] = {
    val df = TranscriptGen.transcripts(spark, nConvs, seed, hotConvs, hotMult).toDF()
      .withColumn("__sec", unix_timestamp(col("ts"))).persist()
    try {
      val bounds = df.stat.approxQuantile("__sec",
        (1 until slices).map(_.toDouble / slices).toArray, 1e-4)
      val ordered = scala.collection.mutable.ArrayBuffer.empty[Path]
      (0 until slices).foreach { i =>
        val lo = if (i == 0) lit(true) else col("__sec") >= bounds(i - 1)
        val hi = if (i == slices - 1) lit(true) else col("__sec") < bounds(i)
        val slabDir = s"$dir/.slab$i"
        df.filter(lo && hi).drop("__sec")
          .repartition(filesPerSlice, col("conv_id"))
          .write.parquet(slabDir)
        parts(slabDir).zipWithIndex.foreach { case (p, j) =>
          val to = Paths.get(dir, f"s$i%03d-$j%04d.parquet")
          Files.move(p, to)
          ordered += to
        }
        graft.util.Tmp.delete(slabDir)
      }
      stamp(ordered.toSeq)
      val rows = perFile(spark, dir, lit(0)).map { case (p, n, _) => p.getFileName -> n }.toMap
      ordered.toSeq.map(p => p -> rows.getOrElse(p.getFileName, 0L))
    } finally df.unpersist()
  }
}
