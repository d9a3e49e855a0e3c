package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of selected queries so
  * shuffle counts, pushed filters, pruned schemas and broadcast choices
  * can be reviewed (`runMain graft.Explain [queryName ...]`). Not part of
  * the driver contract — a development tool.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
    else Seq("q1_agg", "q3_shipping", "q_session_join", "q_branch_enrich",
      "q_minhash_pairs", "q_tumbling_agg", "q_cosine_score", "q_jmespath",
      "q_jq", "q_cache_ops", "q_ivf_topk", "q_cosine_dup_pairs")
    val spark = session()
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** The session the plans are printed from. */
  def session(): SparkSession = {
    val s = graft.util.LocalFs.getOrCreate(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
