package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.ReadUntil

/** read_until semantics (reference input_read_until.go): the stream ends
  * at the first row passing the check — that row is emitted flagged
  * `read_until_final`, later rows and batches are dropped.
  */
class ReadUntilSpec extends SparkTestBase {
  import spark.implicits._

  test("stops at the triggering row: it is included, everything after is dropped") {
    // 30 rows staged as 3 parquet files of 10 (file order = batch order)
    val dir = tempDir("ru-in").toString
    (0 until 3).foreach { f =>
      (f * 10 until (f + 1) * 10).toDF("v").coalesce(1)
        .write.mode("append").parquet(dir)
      Thread.sleep(60) // distinct mtimes: file order == batch order
    }
    val outDir = tempDir("ru-out").toString
    val ck = tempDir("ru-ck").toString
    val stream = spark.readStream.schema("v INT")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = ReadUntil.run(stream, col("v") === 14, Seq(col("v")),
      (b: DataFrame, _: Long) => b.write.mode("append").parquet(outDir), ck)
    q.awaitTermination()
    val got = spark.read.parquet(outDir)
    val vs = got.select("v").as[Int].collect().sorted.toSeq
    assert(vs == (0 to 14)) // includes the terminator, drops 15..29
    val finals = got.filter(col("read_until_final")).select("v").as[Int].collect().toSeq
    assert(finals == Seq(14)) // the reference's `final` flag on the trigger row
  }
}
