package graft

import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.blob.{Bloblang, BloblangCompiler}

/** The Bloblang → Catalyst translator against the interpreter: the same
  * program text must produce identical values on both paths, and the
  * compiled path must be UDF-free (native Column expressions inside
  * whole-stage codegen).
  */
class BloblangCompilerSpec extends SparkTestBase {
  import spark.implicits._

  private val M = new ObjectMapper()

  private val rows = Seq(
    ("Hello, World", 7L, 2.5, true),
    ("  padded text here  ", -3L, 4.0, false),
    ("a,b,,c", 0L, -1.25, true),
    ("user", 42L, 9.0, false))
  private def df = rows.toDF("s", "n", "d", "b")

  /** Run program on both paths; compare every assigned field per row. */
  private def assertEquivalent(program: String,
      base: org.apache.spark.sql.DataFrame = df): Unit = {
    val stage = BloblangCompiler.stage(program, base.schema)
      .getOrElse(fail(s"program did not compile to columns:\n$program"))
    val compiledRows = stage(base).collect()
    val names = stage(base).schema.fieldNames.drop(base.schema.length)
    val ex = Bloblang.compile(program)
    base.select(to_json(struct(base.columns.map(col): _*)).as("j"))
      .as[String].collect().zip(compiledRows).foreach { case (json, crow) =>
        val r = ex.mapText(json)
        assert(r.error.isEmpty, s"interpreter errored: ${r.error}")
        val interp = M.readTree(r.text.get)
        names.foreach { f =>
          val iv = interp.get(f)
          val cv = crow.getAs[Any](f)
          val ok = (iv, cv) match {
            case (n1, c: Long) if n1.isNumber => n1.asLong() == c
            case (n1, c: Double) if n1.isNumber => math.abs(n1.asDouble() - c) < 1e-12
            case (n1, c: String) if n1.isTextual => n1.asText() == c
            case (n1, c: Boolean) => n1.asBoolean() == c
            case (n1, null) => n1 == null || n1.isNull
            case (n1, c: scala.collection.Seq[_]) if n1.isArray =>
              n1.size == c.size &&
                c.indices.forall(i => n1.get(i).asText() == String.valueOf(c(i)))
            case _ => false
          }
          assert(ok, s"field $f: interpreter=$iv compiled=$cv (input $json)")
        }
      }
  }

  test("string methods chain identically") {
    assertEquivalent(
      """root.up = this.s.uppercase()
        |root.lo = this.s.lowercase()
        |root.t = this.s.trim()
        |root.len = this.s.length()
        |root.has = this.s.contains("e")
        |root.pre = this.s.has_prefix("H")""".stripMargin)
  }

  test("split/join/array length identically (trailing empties kept)") {
    assertEquivalent(
      """root.parts = this.s.split(",").length()
        |root.j = this.s.split(",").join("|")""".stripMargin)
  }

  test("arithmetic, comparisons, boolean ops identically") {
    assertEquivalent(
      """root.sum = this.n + 10
        |root.mix = this.n + this.d
        |root.div = this.n / 4
        |root.mod = this.n % 5
        |root.neg = -this.n
        |root.cmp = this.n > 5
        |root.both = (this.n > 5) && this.b
        |root.abs = this.n.abs()
        |root.fl = this.d.floor()
        |root.ce = this.d.ceil()""".stripMargin)
  }

  test("if/else and match compile to when-chains with identical results") {
    assertEquivalent(
      """root.band = if this.n > 10 { "big" } else if this.n > 0 { "small" } else { "neg" }
        |root.tag = match this.s { "user" => "U", _ => "other" }
        |root.pred = match { this.n > 10 => "big", _ => "rest" }""".stripMargin)
  }

  test("regex and concat identically; let bindings inline") {
    assertEquivalent(
      """let shout = this.s.uppercase()
        |root.re = this.s.re_replace_all("[aeiou]", "_")
        |root.m = this.s.re_match("[0-9]")
        |root.cat = $shout + "#" + this.n.string()""".stripMargin)
  }

  test("out-of-subset programs bail to the interpreter (None)") {
    val schema = df.schema
    for (p <- Seq(
        "root = this", // structural root
        """root.x = this.s | "d"""", // error-flow pipe
        """root.x = this.missing""", // unknown column
        """root.x = this.s.has_prefix(this.d)""", // double arg: Catalyst cast != goString
        """root.x = this.s.has_suffix(this.d)""",
        "root.a = 1\nroot.a.b = 2", // value + children at one path
        """root.x = this.s.number("nan-fallback")""", // non-numeric fallback
        """meta k = "v"""")) // meta write
      assert(BloblangCompiler.tryCompile(p, schema).isEmpty, s"should bail: $p")
  }

  test("assigning over an input column replaces it; other statements still read the input") {
    val program =
      """root.s = "gone"
        |root.keep = this.s.uppercase()""".stripMargin
    val stage = BloblangCompiler.stage(program, df.schema)
      .getOrElse(fail("shadowing program did not compile"))
    val out = stage(df).select("s", "keep").collect()
    assert(out.forall(_.getString(0) == "gone"))
    // `this.s` reads the ORIGINAL input even after root.s was assigned
    assert(out.map(_.getString(1)).toSeq === rows.map(_._1.toUpperCase))
  }

  test("round/number compile with interpreter-exact semantics") {
    assertEquivalent(
      """root.r1 = this.d.round()
        |root.r2 = (0 - this.d).round()
        |root.n1 = this.n.number()
        |root.n2 = this.d.number()
        |root.n3 = this.s.number(-1)""".stripMargin)
    // absolute pin, not just equivalence: the reference's round() is Go
    // math.Round — HALF AWAY FROM ZERO (methods_numbers.go:224), so
    // round(-2.5) = -3 (scala math.round would give -2)
    val r = Bloblang.compile("root.v = this.d.round()")
      .mapText("""{"d":-2.5}""")
    assert(M.readTree(r.text.get).get("v").asLong === -3L)
  }

  test("if-without-else and match-without-default map omission to null") {
    assertEquivalent(
      """root.maybe = if this.n > 10 { "big" }
        |root.m = match this.s { "user" => "U" }""".stripMargin)
  }

  test("nested root paths build struct columns (declaration order, last write wins)") {
    val program =
      """root.out.a = this.n + 1
        |root.out.b.deep = this.s.uppercase()
        |root.out.a = this.n + 2""".stripMargin
    val stage = BloblangCompiler.stage(program, df.schema)
      .getOrElse(fail("nested program did not compile"))
    val r = stage(df).select(col("out.a"), col("out.b.deep")).collect()
    assert(r.map(_.getLong(0)).toSeq === rows.map(_._2 + 2))
    assert(r.map(_.getString(1)).toSeq === rows.map(_._1.toUpperCase))
    // interpreter agreement on the nested doc shape
    val ex = Bloblang.compile(program)
    val j = ex.mapText("""{"s":"x","n":7,"d":1.0,"b":true}""").text.get
    assert(M.readTree(j).at("/out/a").asLong === 9L)
    assert(M.readTree(j).at("/out/b/deep").asText === "X")
  }

  test("reference corpus mappings compile verbatim (joining_streams, track_benthos_downloads)") {
    // verbatim from /root/reference/config/examples/joining_streams.yaml:44-46
    val joinMap =
      """root.comment.id = this.comment.id
        |root.article = this.article""".stripMargin
    val joinSchema = new org.apache.spark.sql.types.StructType()
      .add("comment", new org.apache.spark.sql.types.StructType().add("id", "string"))
      .add("article", new org.apache.spark.sql.types.StructType().add("title", "string"))
    // verbatim from /root/reference/config/examples/joining_streams.yaml:40
    val resultMap = "root.article = this.article"
    // verbatim from /root/reference/config/examples/track_benthos_downloads.yaml:21-24
    val dockerMap =
      """root.source = "docker"
        |root.dist = "docker"
        |root.download_count = this.pull_count
        |root.version = "all"""".stripMargin
    val dockerSchema = new org.apache.spark.sql.types.StructType()
      .add("pull_count", "long")
    // verbatim from /root/reference/config/examples/track_benthos_downloads.yaml:59-62
    val brewMap =
      """root.source = "homebrew"
        |root.dist = "brew"
        |root.download_count = this.analytics.install.30d.benthos
        |root.version = "all"""".stripMargin
    val brewSchema = new org.apache.spark.sql.types.StructType()
      .add("analytics", new org.apache.spark.sql.types.StructType()
        .add("install", new org.apache.spark.sql.types.StructType()
          .add("30d", new org.apache.spark.sql.types.StructType()
            .add("benthos", "long"))))
    val compiled = Seq(
      "joining_streams.result_map" -> BloblangCompiler.tryCompile(resultMap, joinSchema),
      "joining_streams.comment_map" -> BloblangCompiler.tryCompile(joinMap, joinSchema),
      "track_benthos.docker" -> BloblangCompiler.tryCompile(dockerMap, dockerSchema),
      "track_benthos.brew" -> BloblangCompiler.tryCompile(brewMap, brewSchema))
    compiled.foreach { case (n, c) => assert(c.isDefined, s"$n should compile") }
    // value check for the hairiest one (nested input path with a `30d` segment)
    val bdf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(org.apache.spark.sql.Row(org.apache.spark.sql.Row(123L)))))),
      brewSchema)
    val out = BloblangCompiler.stage(brewMap, brewSchema).get(bdf)
      .select("source", "dist", "download_count", "version").head()
    assert(out.toSeq === Seq("homebrew", "brew", 123L, "all"))
  }

  test("map_each/filter/sort over typed arrays match the interpreter") {
    assertEquivalent(
      """root.caps = this.s.split(",").map_each(x -> x.uppercase()).join("|")
        |root.short = this.s.split(",").filter(x -> x.length() < 3).join(",")
        |root.bare = this.s.split(",").map_each(this.trim()).join("-")
        |root.sorted = this.s.split(",").sort().join(",")""".stripMargin)
  }

  test("round-5 reference corpus programs compile (cities, joining_streams meta)") {
    // verbatim from /root/reference/config/test/bloblang/cities.blobl
    val cities =
      """root.Cities = this.locations.
        |                filter(loc -> loc.state == "WA").
        |                map_each(loc -> loc.name).
        |                sort().join(", ")""".stripMargin
    val citySchema = new org.apache.spark.sql.types.StructType()
      .add("locations", org.apache.spark.sql.types.ArrayType(
        new org.apache.spark.sql.types.StructType()
          .add("name", "string").add("state", "string")))
    // verbatim from /root/reference/config/examples/joining_streams.yaml:57
    val hydrated = """meta output_topic = "comments_hydrated""""
    val metaSchema = new org.apache.spark.sql.types.StructType()
      .add("text", "string")
      .add("meta", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType))
    // verbatim from /root/reference/config/test/bloblang/github_releases.blobl
    // (also track_benthos_downloads.yaml:38-43): whole-root replacement,
    // nested lambdas, object literal per element, filter on a constructed
    // struct field, flatten, trim cutset, $N backrefs
    val releases =
      """root = this.map_each(release -> release.assets.map_each(asset -> {
        |  "source":         "github",
        |  "dist":           asset.name.re_replace_all("^benthos-?((lambda_)|_)[0-9\\.]+(-rc[0-9]+)?_([^\\.]+).*", "$2$4"),
        |  "download_count": asset.download_count,
        |  "version":        release.tag_name.trim("v"),
        |}).filter(asset -> asset.dist != "checksums")).flatten()""".stripMargin
    val relSchema = new org.apache.spark.sql.types.StructType()
      .add("releases", org.apache.spark.sql.types.ArrayType(
        new org.apache.spark.sql.types.StructType()
          .add("tag_name", "string")
          .add("assets", org.apache.spark.sql.types.ArrayType(
            new org.apache.spark.sql.types.StructType()
              .add("name", "string").add("download_count", "long")))))
    Seq("cities" -> BloblangCompiler.tryCompile(cities, citySchema),
      "joining_streams.hydrated" -> BloblangCompiler.tryCompile(hydrated, metaSchema),
      "github_releases" -> BloblangCompiler.tryCompile(releases, relSchema,
        thisCol = Some("releases")))
      .foreach { case (n, c) => assert(c.isDefined, s"$n should compile") }

    // value check for github_releases against the interpreter on a
    // realistic doc (lambda asset → dist "lambda_linux", checksums row
    // filtered out, version v-prefix trimmed)
    val relDoc =
      """[{"tag_name":"v4.11.0","assets":[
        |{"name":"benthos_4.11.0_linux_amd64.tar.gz","download_count":100},
        |{"name":"benthos-lambda_4.11.0_linux_amd64.zip","download_count":7},
        |{"name":"benthos_4.11.0_checksums.txt","download_count":3}]}]""".stripMargin.replace("\n", "")
    val interpRel = M.readTree(Bloblang.compile(releases).mapText(relDoc).text.get)
    val rdf = spark.read.schema(new org.apache.spark.sql.types.StructType()
        .add("releases", relSchema.fields(0).dataType))
      .json(spark.createDataset(Seq(s"""{"releases":$relDoc}"""))(
        org.apache.spark.sql.Encoders.STRING))
    val outRel = BloblangCompiler.stage(releases, relSchema,
      thisCol = Some("releases")).get(rdf)
    assert(outRel.schema.fieldNames.toSeq === Seq("root"))
    import org.apache.spark.sql.Row
    val got = outRel.select(org.apache.spark.sql.functions.explode(col("root"))).collect()
      .map { case Row(Row(src: String, dist: String, dc: Long, ver: String)) =>
        (src, dist, dc, ver) }.toSeq
    val want = (0 until interpRel.size()).map { i =>
      val n = interpRel.get(i)
      (n.get("source").asText(), n.get("dist").asText(),
        n.get("download_count").asLong(), n.get("version").asText())
    }
    assert(got === want)
    assert(got.map(_._2).toSet === Set("linux_amd64", "lambda_linux_amd64"))
    assert(got.forall(_._4 == "4.11.0")) // trim("v") cutset applied

    // value check for cities against the interpreter (the reference's own
    // test input shape: config/test/bloblang — WA cities sorted, joined)
    val doc =
      """{"locations":[{"name":"Seattle","state":"WA"},{"name":"Portland","state":"OR"},
        |{"name":"Bellevue","state":"WA"},{"name":"Olympia","state":"WA"}]}""".stripMargin.replace("\n", "")
    val interp = M.readTree(Bloblang.compile(cities).mapText(doc).text.get)
      .get("Cities").asText()
    val cdf = spark.read.schema(citySchema).json(
      spark.createDataset(Seq(doc))(org.apache.spark.sql.Encoders.STRING))
    val compiled = BloblangCompiler.stage(cities, citySchema).get(cdf)
      .select("Cities").head().getString(0)
    assert(compiled === interp)
    assert(compiled === "Bellevue, Olympia, Seattle")
  }

  test("meta writes compile to MapType-column updates matching the interpreter") {
    val program =
      """meta topic = "out-" + this.s
        |meta n_plus = this.n + 1
        |meta topic = this.s.uppercase()""".stripMargin // last write wins
    val metaDf = df.withColumn("meta",
      org.apache.spark.sql.functions.map(
        lit("existing"), lit("kept"), lit("topic"), lit("overwritten")))
    val stage = BloblangCompiler.stage(program, metaDf.schema)
      .getOrElse(fail("meta program did not compile"))
    val outRows = stage(metaDf).select(col("s"), col("n"), col("meta")).collect()
    outRows.foreach { r =>
      val m = r.getMap[String, String](2)
      // interpreter on the same doc + meta
      val res = Bloblang.compile(program).run(
        s"""{"s":"${r.getString(0)}","n":${r.getLong(1)}}""".getBytes("UTF-8"),
        meta0 = Map("existing" -> "kept", "topic" -> "overwritten"))
      assert(res.error.isEmpty)
      assert(m.toMap === res.meta)
    }
    // null meta column → writes still land
    val nullDf = df.withColumn("meta",
      lit(null).cast("map<string,string>"))
    val m2 = BloblangCompiler.stage(program, nullDf.schema).get(nullDf)
      .select("meta").head().getMap[String, String](0)
    assert(m2.keySet === Set("topic", "n_plus"))
  }

  test("compiled plan is UDF-free; interpreted plan is not") {
    val program = """root.up = this.s.uppercase()
                    |root.tag = match this.s { "user" => "U", _ => "o" }""".stripMargin
    val compiled = BloblangCompiler.stage(program, df.schema).get(df)
    val cplan = compiled.queryExecution.executedPlan.toString
    assert(!cplan.contains("UDF"), s"compiled plan must be native:\n$cplan")
    val interp = Bloblang.procStage(program, Map.empty)(
      df.select(to_json(struct(col("s"))).as("text"),
        map[String, String]().as("meta"), lit(null).cast("string").as("error")))
    // analyzed plan: ConvertToLocalRelation folds the UDF over this local
    // relation at optimize time, so the executed plan is just a scan
    assert(interp.queryExecution.analyzed.toString.contains("UDF"))
  }

  /** Strings and typed arrays for the methods the base rows cannot reach:
    * Go whitespace beyond U+0020, HTML specials, repeats, empties.
    */
  private def odd = Seq(
    ("\t x \n", Seq("b", "a", "b"), Seq(3L, 1L, 3L, 2L), 0L),
    (" y\u3000", Seq("x"), Seq(5L), -1L),
    ("""<a href="q">Tom & 'Jerry'</a>""", Seq.empty[String], Seq.empty[Long], 5L),
    ("élan vital", Seq("c", "c", "a"), Seq(-2L, 7L, 7L), -3L),
    ("ab", Seq("p"), Seq(4L), 5000000000L),
    ("c d", Seq("q"), Seq(6L), 4294967296L),
    ("Zed", Seq("r"), Seq(8L), -5000000000L))
    .toDF("s", "arr", "nums", "i")

  test("trim() strips Go whitespace (unicode.IsSpace) on both paths") {
    assertEquivalent(
      """root.t = this.s.trim()
        |root.cut = this.s.trim(" ex")""".stripMargin, odd)
    val got = odd.select(graft.blob.Blob.trim_(col("s"))).as[String].collect().take(2)
    assert(got.toSeq === Seq("x", "y"))
  }

  test("replace_all with an empty from inserts between every char on both paths") {
    assertEquivalent(
      """root.ins = this.s.replace_all("", "-")
        |root.lit = this.s.replace_all(",", "$")""".stripMargin)
    assertEquivalent("""root.ins = this.s.replace_all("", "-")""", odd)
  }

  test("escape_html, capitalize and reverse compile and match the interpreter") {
    val program =
      """root.esc = this.s.escape_html()
        |root.cap = this.s.capitalize()
        |root.rev = this.s.reverse()
        |root.rarr = this.arr.reverse().join(",")""".stripMargin
    assertEquivalent(program, odd)
    assertEquivalent(program.split("\n").take(3).mkString("\n"))
  }

  test("unique and index over typed arrays match the interpreter (negative and out-of-range index)") {
    assertEquivalent(
      """root.u = this.arr.unique().join(",")
        |root.un = this.nums.unique()
        |root.first = this.nums.index(0)
        |root.last = this.nums.index(-1)
        |root.far = this.nums.index(5)
        |root.at = this.nums.index(this.i)
        |root.sat = this.arr.index(this.i)""".stripMargin, odd)
  }

  test("has_suffix, array contains, sort and env() compile through Blob and match the interpreter") {
    assertEquivalent(
      """root.suf = this.s.has_suffix("e")
        |root.has_b = this.arr.contains("b")
        |root.sorted = this.nums.sort()
        |root.home = env("HOME")
        |root.none = env("GRAFT_SURELY_UNSET_VARIABLE")""".stripMargin, odd)
  }

  test("whole-root replacement keeps an unwritten meta column") {
    val metaDf = df.withColumn("meta",
      org.apache.spark.sql.functions.map(lit("topic"), lit("in"), lit("k"), col("s")))
    val stage = BloblangCompiler.stage("root = this.s.uppercase()", metaDf.schema)
      .getOrElse(fail("whole-root program did not compile"))
    val out = stage(metaDf)
    assert(out.schema.fieldNames.toSet === Set("root", "meta"))
    val got = out.select(col("root"), col("meta")).collect()
      .map(r => (r.getString(0), r.getMap[String, String](1).toMap)).toSeq
    assert(got === rows.map(r => (r._1.toUpperCase, Map("topic" -> "in", "k" -> r._1))))
    // a `meta` payload field that is not MAP<STRING,STRING> is replaced
    // with the rest of the document
    val structDf = df.withColumn("meta", struct(lit("in").as("topic")))
    val replaced = BloblangCompiler.stage("root = this.s.uppercase()", structDf.schema)
      .getOrElse(fail("whole-root program did not compile"))(structDf)
    assert(replaced.schema.fieldNames.toSeq === Seq("root"))
  }

  private def map[K, V](): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.map()
}
