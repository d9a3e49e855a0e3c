package graft.queries

import java.io.File
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** The streamed-query rig's run dir (staged input, checkpoint, sink) is
  * single-use: it goes when the query's result is read back, and when
  * the query fails too — `Verify` catches a failed query and moves on, so
  * a dir left behind would occupy the temp base until the host reboots.
  */
class ReplayStreamedSpec extends graft.SparkTestBase {
  import spark.implicits._

  test("a replay whose pipeline fails at run time leaves no run dir behind") {
    val sf = tempDir("replay-sf").toString
    Seq((1L, new Timestamp(1700000000000L), 7L, "click", 1.0, "{}"),
      (2L, new Timestamp(1700000060000L), 7L, "purchase", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$sf/events.parquet")
    val base = {
      val probe = graft.util.Tmp.dir("probe")
      graft.util.Tmp.delete(probe)
      new File(probe).getParentFile
    }
    def runDirs = base.listFiles().iterator.map(_.getName).filter(_.startsWith("qstream")).toSet
    val before = runDirs
    val boom = udf { (s: String) =>
      if (s != null) throw new IllegalStateException("boom in the pipeline")
      s
    }
    val e = intercept[Exception](WindowQueries.replayStreamed(spark, sf, "zzz-sentinel",
      _.withColumn("text", boom(col("text")))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom in the pipeline")))
    assert((runDirs -- before).isEmpty)
  }
}
