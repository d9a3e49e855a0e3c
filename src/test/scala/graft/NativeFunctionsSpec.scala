package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions
import graft.ops.{Dedupe, Similarity, TextOps}

/** Native codegen expressions, built through the typed
  * `NativeFunctions`, must agree exactly with their higher-order-function
  * twins and stay inside WholeStageCodegen. (Case names keep the
  * expressions' earlier SQL names.)
  */
class NativeFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox",
    "  leading and trailing  ",
    "don't split contractions",
    "punct!!!then?words",
    "", "   ", "a",
    "digits 123 mix3d t0kens",
    // \p{N} that is not a digit (½ is No, Ⅻ is Nl), and lower("İ") =
    // "i" + U+0307, a combining mark that splits the word
    "a ½ b", "İstanbul trip", "Ⅻ chapter",
    null,
    "The cat and the dog: is it in the house, or with the neighbours?",
    "Der Hund und die Katze ist nicht auf dem Sofa; für die Kinder, das ist gut.",
    "La maison est dans la rue et les enfants que pour des vacances!",
    "la que una con per la la la", // stopwords shared by several languages: ties
    "it is what it is", // each stopword twice: hits count distinct words
    "THE DOG AND THE CAT", // stopwords match only after lowering
    "el perro y los gatos es una fiesta para con por",
    "naïve café — l'été c'est déjà fini. ÉTÉ! Straße & Œuvre",
    "emoji 👍 between the words and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 letters of il mondo e di sono del",
    "it's 'quoted' words, don't stop",
    "ΣΟΦΙΑ σοφία 日本語のテキスト 123 ٣٤٥")

  /** The higher-order-function forms of `TextOps.langId` and
    * `qualityScore` (split + `filter` + `array_intersect`), kept as the
    * equivalence oracle for the native `TextGate` forms.
    */
  private def hofWords(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}']+"), w => length(w) > 0)

  private def hofLangId(text: Column): Column = {
    val ws = hofWords(text)
    val scored = TextOps.lexicon.map { case (lang, stops) =>
      val hits = size(array_intersect(ws, array(stops.map(lit): _*)))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    val best = scored.reduceLeft { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    }
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  private def hofQualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val nWords = size(hofWords(text)).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val stopHits = size(array_intersect(hofWords(text),
      array(TextOps.lexicon.flatMap(_._2).distinct.map(lit): _*))).cast("double")
    val lenScore = least(len / 200.0, lit(1.0))
    val alphaScore = when(len > 0, alpha / len).otherwise(0.0)
    val punctScore = lit(1.0) - least(when(len > 0, punct / len * 10).otherwise(1.0), lit(1.0))
    val stopScore = least(when(nWords > 0, stopHits / nWords * 5).otherwise(0.0), lit(1.0))
    val meanWord = when(nWords > 0, alpha / nWords).otherwise(0.0)
    val wordScore = when(meanWord >= 3 && meanWord <= 10, 1.0).otherwise(0.5)
    round((lenScore + alphaScore + punctScore + stopScore + wordScore) / 5.0, 4)
  }

  /** The inputs twice: as a local frame, whose projections the optimizer
    * folds through the interpreted `eval` path, and read back from
    * parquet, which runs the generated code.
    */
  private def bothPaths(): Seq[(String, DataFrame)] = {
    val local = texts.toDF("text")
    val dir = tempDir("native").toString + "/d"
    local.write.parquet(dir)
    Seq("interpreted" -> local, "codegen" -> spark.read.parquet(dir))
  }

  private def assertPairsEqual(df: DataFrame, native: Column, hof: Column, what: String): Unit =
    df.select(col("text"), native, hof).collect().foreach { r =>
      assert(r.get(1) == r.get(2), s"$what on ${Option(r.getString(0))}: native ${r.get(1)} vs HOF ${r.get(2)}")
    }

  test("graft_token_count equals the HOF token count on every input") {
    bothPaths().foreach { case (path, df) =>
      assertPairsEqual(df, NativeFunctions.tokenCount(col("text")), TextOps.tokenCountWs(col("text")),
        s"token count ($path)")
    }
  }

  test("the native TextGate forms of langId and qualityScore equal the HOF forms") {
    bothPaths().foreach { case (path, df) =>
      assertPairsEqual(df, TextOps.langId(col("text")), hofLangId(col("text")), s"langId ($path)")
      assertPairsEqual(df, TextOps.qualityScore(col("text")), hofQualityScore(col("text")),
        s"qualityScore ($path)")
    }
  }

  test("graft_simhash64 equals the HOF simhash on ASCII inputs") {
    val df = texts.filter(t => t != null && t.nonEmpty && t.forall(_ < 128)).toDF("text")
    val got = df.select(NativeFunctions.simhash64(col("text")),
      Dedupe.simhash(col("text"))).as[(Long, Long)].collect()
    got.foreach { case (native, hof) => assert(native == hof) }
  }

  test("graft_simhash64 equality holds on non-ASCII text, locale-independently") {
    // both tokenizers treat non-ASCII letters as separators (the column
    // form's [^a-zA-Z0-9 ] class); no default-locale lowercasing anywhere
    val tricky = Seq("Überraschung İstanbul TITLE case",
      "naïve café déjà-vu MIXED", "日本語 tokens AND ascii 42")
    val got = tricky.toDF("text").select(NativeFunctions.simhash64(col("text")),
      Dedupe.simhash(col("text"))).as[(Long, Long)].collect()
    got.foreach { case (native, hof) => assert(native == hof) }
  }

  test("graft_ngram_jaccard equals the HOF charNgrams+jaccard form") {
    val pairs = Seq(
      ("the quick brown fox", "the quick brown fox"),
      ("the quick brown fox", "a quick brown dog"),
      ("abc", "xyz"), ("ab", "ab"), ("", "abc"),
      ("ααβγ unicode über", "ααβδ unicode über"))
    val df = pairs.toDF("a", "b")
    val got = df.select(
      NativeFunctions.ngramJaccard(col("a"), col("b"), 3),
      Dedupe.jaccard(Dedupe.charNgrams(col("a"), 3), Dedupe.charNgrams(col("b"), 3)))
      .as[(Double, Double)].collect()
    got.foreach { case (native, hof) => assert(native == hof) }
  }

  test("graft_cosine is bit-identical to the HOF fold") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 50).map(_ => (Seq.fill(16)(rnd.nextFloat() - 0.5f),
      Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val df = rows.toDF("a", "b")
    val got = df.select(NativeFunctions.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("b"))).as[(Double, Double)].collect()
    got.foreach { case (native, hof) => assert(native == hof) } // bit equality
  }

  test("graft_cosine_i8 is bit-identical to the HOF fold on byte arrays") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map(_ => (
      Seq.fill(16)((rnd.nextInt(255) - 127).toByte),
      Seq.fill(16)((rnd.nextInt(255) - 127).toByte)))
    val df = rows.toDF("a", "b")
    val got = df.select(NativeFunctions.cosineI8(col("a"), col("b")),
      Similarity.cosine(col("a"), col("b"))).as[(Double, Double)].collect()
    got.foreach { case (native, hof) => assert(native == hof) } // bit equality
    // zero-vector guard matches the HOF's when(d === 0, 0.0)
    val z = Seq((Seq.fill(4)(0.toByte), Seq.fill(4)(5.toByte))).toDF("a", "b")
    assert(z.select(NativeFunctions.cosineI8(col("a"), col("b"))).as[Double].head() == 0.0)
  }

  test("expressions participate in WholeStageCodegen") {
    // a file-backed frame so ConvertToLocalRelation can't pre-evaluate
    val dir = tempDir("native").toString + "/d"
    texts.toDF("text").write.parquet(dir)
    val df = spark.read.parquet(dir).filter(NativeFunctions.tokenCount(col("text")) > 1)
    val plan = df.queryExecution.executedPlan.toString
    // `*(1)` = WholeStageCodegen stage 1 wrapping the tokencount filter
    assert(plan.contains("*(1) Filter (tokencount"), plan)
    assert(df.count() == spark.read.parquet(dir).filter(TextOps.tokenCountWs(col("text")) > 1).count())
  }
}
