package graft

/** Plan-shape regression guards: the scale properties BENCH.md claims
  * (broadcast dimension joins, pushdown reaching the scan, top-k via
  * TakeOrderedAndProject, no cartesian products, no single-partition
  * global windows in the ANN paths) asserted against the actual physical
  * plans so a refactor can't silently regress them.
  */
class PlanShapeSpec extends SparkTestBase {

  private val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
  // memoized: building some similarity queries runs real driver jobs
  // (query-vector head(), IVF centroid sample) — plan each query once
  private val planCache = scala.collection.mutable.Map.empty[String, String]
  private def plan(name: String): String = planCache.getOrElseUpdate(name, {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
  })

  test("no oracle query plans a cartesian product") {
    // every batch query; streaming rigs excluded (they execute, not plan)
    val batch = SparkEntry.queries.keys.filterNot(_.startsWith("q_stream")).toSeq.sorted
      .filterNot(Set("q_read_until", "q_while")) // driver-loop rigs execute eagerly
    batch.foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("dimension joins broadcast (q3_shipping, q_branch_enrich, q_hydrate_bcast)") {
    assert(plan("q3_shipping").contains("BroadcastHashJoin"))
    assert(plan("q_branch_enrich").contains("BroadcastHashJoin"))
    assert(plan("q_hydrate_bcast").contains("BroadcastHashJoin"))
  }

  test("filter pushdown reaches the parquet scan (q3_shipping)") {
    val p = plan("q3_shipping")
    assert(p.contains("PushedFilters: ["), p.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("EqualTo")))
  }

  test("top-k queries use TakeOrderedAndProject, never a full sort") {
    assert(plan("q_topk_convs").contains("TakeOrderedAndProject"),
      "q_topk_convs lost its top-k plan")
    // the threshold-with-ties queries run their k-th-boundary sub-query
    // eagerly; that sub-query is where the top-k plan must live
    val scored = spark.range(100).selectExpr("id AS vec_id", "id * 0.01 AS sim")
    val boundary = graft.ops.Similarity.kthBoundary(scored, "sim", 20)
    val p = boundary.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      s"kthBoundary lost its per-partition top-k plan:\n$p")
  }

  test("IVF centroid sample is one TakeOrderedAndProject, no global window") {
    // the round-1 scale-killer: row_number over an unpartitioned Window
    // sorted the whole corpus through one task to pick 16 centroids
    val named = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id AS id", "embedding AS emb")
    val p = graft.ops.Similarity.centroidCandidates(named, 16)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"), s"centroid pick lost top-k:\n$p")
    assert(!p.contains("Window"), s"centroid pick re-introduced a window:\n$p")
  }

  test("q_cosine_dup_pairs bucket exchange carries no embedding payload") {
    // the round-2 fix: the bucket self-join exchanges ONLY (bucket, id);
    // embeddings re-attach later via id-keyed broadcast joins — if `emb`
    // rides through a bucket-keyed Exchange, the thin-exchange discipline
    // has regressed
    val p = plan("q_cosine_dup_pairs")
    // every exchange node (shuffle OR broadcast — AQE broadcasts the
    // bucket join at small SF) that carries the bucket key must be thin
    val sections = p.split("""\(\d+\) (Exchange|BroadcastExchange)""").drop(1)
    val inputs = sections.flatMap(
      _.linesIterator.find(_.startsWith("Input")))
    val bucketExchanges = inputs.filter(_.contains("bucket#"))
    assert(bucketExchanges.nonEmpty, s"expected a bucket-keyed exchange in:\n$p")
    bucketExchanges.foreach { inp =>
      assert(!inp.contains("emb"), s"embedding payload in bucket exchange:\n$inp")
    }
  }

  test("q_session_join shuffles conv_id exactly once") {
    // conv_id is derived BEFORE the window stack precisely so all four
    // window passes + the pair filter reuse one hash(conv_id) exchange
    val p = plan("q_session_join")
    val nExchange = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(nExchange == 1, s"q_session_join has $nExchange exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("ANN/IVF paths have no single-partition global window") {
    // the round-1 scale-killer: row_number over Window.orderBy with no
    // partition spec forces the corpus through one task
    Seq("q_ivf_topk", "q_ann_topk", "q_cosine_dup_pairs", "q_minhash_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q re-introduced a window stage:\n" +
        p.linesIterator.filter(_.contains("Window")).mkString("\n"))
    }
  }

  test("column pruning: q_token_count scans only doc_id and text") {
    val p = plan("q_token_count")
    val schemaLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schemaLine.contains("doc_id") && schemaLine.contains("text"))
    assert(!schemaLine.contains("lang") && !schemaLine.contains("source"),
      s"unpruned scan: $schemaLine")
  }

  test("q_sample_stratified is a pure map-side filter: zero exchanges") {
    // deterministic sampling must never shuffle — it's a scan-speed filter
    val p = plan("q_sample_stratified")
    assert(!p.contains("Exchange"), s"sampler plans a shuffle:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Window"))
  }

  test("q_pack_sequences shuffles exactly once, on (strata, shard)") {
    // packing must stay one hash(lang, shard) exchange + per-partition
    // window sort — no global sort, no second shuffle
    val p = plan("q_pack_sequences")
    val nExchange = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(nExchange == 1, s"q_pack_sequences has $nExchange exchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // FormattedMode puts the partitioning on the Exchange's Arguments
    // line, so match the partitioning names themselves — a literal
    // "Exchange SinglePartition" substring never occurs in this format
    assert(p.contains("hashpartitioning"),
      s"packing exchange is not hash-partitioned:\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("rangepartitioning"),
      s"packing fell into a global sort:\n$p")
  }

  test("kmeans iteration: one thin exchange of combined sums, no embedding shuffle") {
    // the Lloyd-round scale contract: assignment is map-side (broadcast
    // centroids in a codegen'd argmax), then ONE hash(cell) exchange of
    // partial-aggregated (cell, n, s0..s{dim-1}) rows — the corpus and
    // its embeddings never repartition
    val named = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id AS id", "embedding AS emb")
    val cembs = (1 to 4).map(c => (c, Seq.fill(8)((c * 0.1).toFloat))).toSeq
    val p = graft.ops.Similarity.kmeansIterationSums(named, cembs, 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val nExchange = """\(\d+\) Exchange""".r.findAllIn(p).size
    assert(nExchange == 1, s"kmeans round has $nExchange exchanges:\n$p")
    // partial agg below the exchange (map-side combine), final above
    assert("""HashAggregate""".r.findAllIn(p).size >= 2, s"no two-phase agg:\n$p")
    // the exchange input is the combined sums, never the emb column
    val sections = p.split("""\(\d+\) Exchange""").drop(1)
    val inputs = sections.flatMap(_.linesIterator.find(_.startsWith("Input")))
    inputs.foreach { inp =>
      assert(!inp.contains("emb"), s"embedding rides the kmeans exchange:\n$inp")
    }
  }

  test("conv-keyed pipeline reuses one hash(conv_id) exchange (q_group_by_value)") {
    val p = plan("q_group_by_value")
    val nExchange = """\(\d+\) Exchange""".r.findAllIn(p).size
    // derivation window shuffle + (possibly) agg reuse; must not exceed 2
    assert(nExchange <= 2, s"q_group_by_value has $nExchange exchanges")
  }

  test("text gates run as one native TextGate pass in codegen, no HOF lambdas") {
    // q_quality, q_lang_id and the pipeline's heavy map once tokenized
    // each turn three times through interpreted `filter` lambdas plus six
    // `array_intersect`s; the native gate must stay inside a codegen
    // stage, and the heavy map's two gates (quality and language) must
    // share one evaluation through subexpression elimination
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import graft.functions.TextGate
    val frames = Seq(
      "q_quality" -> SparkEntry.queries("q_quality")(spark, dir),
      "q_lang_id" -> SparkEntry.queries("q_lang_id")(spark, dir),
      "heavy map" -> Flagship.textOpsGate(graft.sources.Tables.documents(spark, dir)))
    frames.foreach { case (name, df) =>
      val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(!p.contains("filter(") && !p.contains("array_intersect("),
        s"$name plans an interpreted HOF gate:\n$p")
      val executed = df.queryExecution.executedPlan
      val inCodegen = executed.collect { case w: WholeStageCodegenExec => w }
        .exists(_.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[TextGate]))))
      assert(inCodegen, s"$name has no TextGate inside a WholeStageCodegen stage:\n$p")
      val code = org.apache.spark.sql.execution.debug.codegenStringSeq(executed)
        .map(_._2).mkString("\n")
      val calls = code.split(java.util.regex.Pattern.quote("Native.textGate("), -1).length - 1
      assert(calls == 1, s"$name generates $calls TextGate calls per row, expected 1")
    }
  }
}
