package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PorterStemmer, TextFunctions}
import graft.operators.{Dedup, Fusion, TextSearch}

/** Validates the Porter-stemmed BM25 analyzer path (`txt_bm25_stemmed`):
  *
  *  1. [[PorterStemmer.stem]] against full-word vectors hand-derived from
  *     the published algorithm (Porter 1980, "An algorithm for suffix
  *     stripping") — each word traced through steps 1a..5b, covering every
  *     rule family including the interactions the per-step paper examples
  *     don't show (e.g. step-1b's AT→ATE restore feeding step-5a's e-drop:
  *     conflated→conflat; step-2's ATIONAL→ATE feeding step-5a:
  *     relational→relat).
  *  2. Analyzer recall on an inline corpus with inflected forms: stemmed
  *     BM25 matches the documents the standard analyzer matches PLUS the
  *     morphological variants, never fewer.
  *  3. The sf0.01 fixture: the fixture vocabulary has no inflected variants
  *     of the query terms, so stemmed and standard BM25 must agree on the
  *     match set and the top-10 — pinned here as overlap assertions (the
  *     exact values are pinned by GoldenSpec's txt_bm25_stemmed digest).
  *  4. The one-pass BM25: the same scores however an analyzer is passed, a
  *     caller-supplied analyzer run once per document, and a warm
  *     `search` / `hybridSearch` held to 4 / 7 Spark jobs with no cache.
  *  5. The ICU-free tokenizer against `lower()` on every code point.
  *  6. The term index over a stored table: the same scores as the one-pass
  *     form over the same files, warm `search` / `hybridSearch` in exactly
  *     2 / 3 jobs, a rebuild after every write that changes the files, a
  *     duplicated id failing only when it matches, and its blocks freed by
  *     a replacement and by [[Caches.release]].
  */
class TextSearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"

  // (word, expected stem) — full-word outputs of the published algorithm.
  private val porterVectors = Seq(
    // step 1a: plural stripping
    "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
    "flies" -> "fli", "caress" -> "caress", "cats" -> "cat",
    // step 1b: EED / ED / ING, with the m-gate and cleanup rules
    "feed" -> "feed",           // EED with m=0 stem: unchanged
    "agreed" -> "agre",         // EED→EE, then step-5a drops the e
    "plastered" -> "plaster", "bled" -> "bled", "motoring" -> "motor",
    "sing" -> "sing",
    "conflated" -> "conflat",   // AT→ATE restore, then step-5a e-drop
    "troubled" -> "troubl",     // BL→BLE restore, then step-5a e-drop
    "sized" -> "size",          // IZ→IZE restore, kept by 5a (m=1, cvc)
    "hopping" -> "hop", "tanned" -> "tan",          // double-consonant undouble
    "falling" -> "fall", "hissing" -> "hiss", "fizzed" -> "fizz", // l/s/z kept
    "failing" -> "fail",
    "filing" -> "file",         // cvc → restore e
    // step 1c: y→i after a vowel-bearing stem
    "happy" -> "happi", "sky" -> "sky",
    // step 2 (via 1c where the word ends -y)
    "relational" -> "relat", "conditional" -> "condit", "rational" -> "ration",
    "valency" -> "valenc", "digitizer" -> "digit", "differently" -> "differ",
    "operator" -> "oper", "feudalism" -> "feudal", "hopefulness" -> "hope",
    "callousness" -> "callous", "formality" -> "formal", "sensitivity" -> "sensit",
    "radically" -> "radic",
    // step 3
    "triplicate" -> "triplic", "formative" -> "form", "formalize" -> "formal",
    "electricity" -> "electr", "goodness" -> "good",
    // step 4 (m>1 strips)
    "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
    "airliner" -> "airlin", "adjustable" -> "adjust", "defensible" -> "defens",
    "irritant" -> "irrit", "replacement" -> "replac", "adjustment" -> "adjust",
    "dependent" -> "depend", "adoption" -> "adopt", "communism" -> "commun",
    "activate" -> "activ", "angularity" -> "angular", "homologous" -> "homolog",
    "effective" -> "effect", "bowdlerize" -> "bowdler",
    "agreement" -> "agreement", // EMENT gated on m>1: m("agre")=1 → kept
    // step 5
    "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
    "controlling" -> "control", "roll" -> "roll",
    // guard: length ≤ 2 untouched
    "as" -> "as", "is" -> "is", "a" -> "a")

  test("PorterStemmer matches the published algorithm on full-word vectors") {
    val bad = porterVectors.collect {
      case (w, want) if PorterStemmer.stem(w) != want =>
        s"$w: got ${PorterStemmer.stem(w)}, want $want"
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
    assert(PorterStemmer.stem(null) == null)
  }

  test("stemQueryTerms folds morphology and dedups") {
    assert(TextSearch.stemQueryTerms("searching searched searches") === Seq("search"))
    assert(TextSearch.stemQueryTerms("Joining the JOINS") === Seq("join", "the"))
    assert(TextSearch.stemQueryTerms("spark join vector") === Seq("spark", "join", "vector"))
  }

  test("stemmed BM25 recall is a superset of standard recall on inflected forms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark joins vectors quickly"),   // standard matches via 'spark' only
      (2L, "joining and joined tables"),     // only morphological variants
      (3L, "nothing relevant here"),
      (4L, "spark join vector")              // exact terms
    ).toDF("doc_id", "text")
    val q = "spark join vector"
    val std = TextSearch.bm25(docs, Seq("spark", "join", "vector"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stm = TextSearch.bm25(docs, TextSearch.stemQueryTerms(q),
        analyzer = TextSearch.stemmedTokens)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(std === Set(1L, 4L))
    assert(stm === Set(1L, 2L, 4L))
    assert(std.subsetOf(stm))
  }

  test("fixture: stemmed and standard analyzers agree where no morphology differs") {
    val docs = Tables.documents(spark, dir)
    val std = TextSearch.bm25(docs, Seq("spark", "join", "vector"))
    val stm = TextSearch.bm25(docs, TextSearch.stemQueryTerms("spark join vector"),
      analyzer = TextSearch.stemmedTokens)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val stdIds = ids(std); val stmIds = ids(stm)
    // the sf0.01 vocabulary carries no inflected variants of the query
    // terms, so recall must be EQUAL (superset with nothing extra to gain)
    assert(stdIds === stmIds)
    assert(stdIds.nonEmpty)
    // top-10 overlap (the registered txt_bm25_stemmed surface vs standard)
    def top10(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("text_score").desc, col("doc_id").asc).limit(10)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val overlap = top10(std).intersect(top10(stm)).size
    assert(overlap >= 6, s"top-10 overlap $overlap < 6")
    graft.Caches.release()
  }

  test("bm25 scores are identical for every way of passing an analyzer") {
    // one analyzer pass whatever the analyzer: the standard one by default,
    // as the `standardTokens` value or eta-expanded (a fresh function
    // object), and the stemmed one as its value or wrapped in a fresh one
    val docs = Tables.documents(spark, dir)
    val terms = Seq("spark", "join", "vector")
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaDefault = scores(TextSearch.bm25(docs, terms))
    assert(viaDefault.nonEmpty)
    assert(scores(TextSearch.bm25(docs, terms, analyzer = TextSearch.standardTokens)) ===
      viaDefault)
    assert(scores(TextSearch.bm25(docs, terms, analyzer = TextSearch.tokens _)) === viaDefault)
    val stems = TextSearch.stemQueryTerms("spark join vector")
    val viaStemmed = scores(TextSearch.bm25(docs, stems, analyzer = TextSearch.stemmedTokens))
    assert(viaStemmed.nonEmpty)
    assert(scores(TextSearch.bm25(docs, stems,
      analyzer = c => TextSearch.stemmedTokens(c))) === viaStemmed)
  }

  test("bm25 runs a caller-supplied analyzer once per document") {
    val docs = Tables.documents(spark, dir)
    val calls = spark.sparkContext.longAccumulator("analyzer calls")
    val counting = udf { (t: String) => calls.add(1); Dedup.wordsScala(t).toSeq }
    val scored = TextSearch.bm25(docs, Seq("spark", "join", "vector"),
      analyzer = c => counting(c)).collect()
    assert(scored.nonEmpty)
    assert(calls.value === docs.count())
  }

  test("tokens equal lower()-split tokens and Dedup.wordsScala on every code point") {
    import spark.implicits._
    // every Unicode scalar value alone, between ASCII letters, and either
    // side of a capital sigma (final-sigma contexts for ICU's lower case)
    val cps = spark.range(0, Character.MAX_CODE_POINT + 1)
      .filter(!($"id" >= 0xD800 && $"id" <= 0xDFFF))
    val str = udf((cp: Long) => new String(Character.toChars(cp.toInt)))
    val contexts = Seq[Column => Column](
      c => c, c => concat(lit("a"), c, lit("B")),
      c => concat(lit("ΟΔΟΣ"), c), c => concat(c, lit("Σ")))
    val strings = contexts.map(f => cps.select(f(str($"id")).as("s"))).reduce(_ union _)
      .union(Seq("ΟΔΟΣ", "ΟΔΟΣ.", "Σ", "ΑΣΑ", "aΣ", "AΣ b", "İSTANBUL", "\u212Aelvin")
        .toDF("s"))
    val scala = udf((t: String) => Dedup.wordsScala(t).toSeq)
    val ascii = (c: Column) => regexp_replace(c, "[^\\x00-\\x7F]+", "\uFFFD")
    val icuTokens = filter(split(lower($"s"), "[^a-z0-9]+"), t => length(t) > 0)
    val bad = strings.filter(
      !(TextSearch.tokens($"s") <=> icuTokens) ||
      !(TextSearch.tokens($"s") <=> scala($"s")) ||
      !(TextFunctions.queryIntent($"s") <=> TextFunctions.queryIntent(lower($"s"))) ||
      !(ascii(TextFunctions.foldCase($"s")) <=> ascii(lower($"s"))))
      .select($"s").as[String].take(5)
    assert(bad.isEmpty, bad.map(_.codePoints.toArray.map(Integer.toHexString).mkString(" "))
      .mkString("mismatches: ", "; ", ""))
  }

  test("warm search runs at most 4 Spark jobs, hybridSearch at most 7, and neither caches") {
    val docs = Tables.documents(spark, dir)
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_hybrid_corpus").toString
    docs.join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val qv = Tables.embeddings(spark, dir).filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    def jobs(body: => Unit): Seq[Int] = {
      body // warm-up: plan caches, the first job of a kind
      val caches = Caches.liveCount
      val counts = Seq.fill(2)(org.apache.spark.JobCount.of(spark.sparkContext)(body))
      assert(Caches.liveCount === caches)
      counts
    }
    val (search, hybrid) =
      try (jobs(TextSearch.search(corpus, "spark join vector", 10).collect()),
           jobs(Fusion.hybridSearch(corpus, qv, "spark join vector", 10).collect()))
      finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpusDir))
    info(s"warm jobs: search $search, hybridSearch $hybrid")
    assert(search.distinct.size === 1 && search.head <= 4, s"search jobs $search")
    assert(hybrid.distinct.size === 1 && hybrid.head <= 7, s"hybrid jobs $hybrid")
  }

  private def jobs(body: => Unit): Int = JobCount.of(spark.sparkContext)(body)

  /** `rows` saved as the stored catalog table `name`, replacing it. */
  private def stored(name: String, rows: DataFrame): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    rows.write.format("parquet").saveAsTable(name)
    spark.table(name)
  }

  /** The files of stored table `name`, read as a plain parquet frame. */
  private def filesOf(name: String): DataFrame = spark.read.parquet(
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name)).location.toString)

  private def scoreMap(df: DataFrame): Map[Any, Double] =
    df.collect().map(r => r.get(0) -> r.getDouble(1)).toMap

  private def indexBlocks: Int =
    spark.sparkContext.getPersistentRDDs.values.count(_.name.startsWith("bm25 term index"))

  test("the term index scores exactly as the one-pass form over the same files") {
    import spark.implicits._
    val extra = Seq[(java.lang.Long, String)](
      (null, "spark join vector spark"), (900001L, ""), (900002L, "!!! ???"), (900003L, null),
      (null, null), (900004L, "Spark joins vectors, searching searched searches"))
    val name = "graft_bm25_index_parity"
    val table = stored(name, Tables.documents(spark, dir).select("doc_id", "text")
      .union(extra.toDF("doc_id", "text")))
    val vocab = Tables.documents(spark, dir).select("text").as[String].take(40)
      .flatMap(Dedup.wordsScala).distinct.toSeq
    assert(vocab.size >= 17)
    val queries = Seq(Seq("spark"), vocab.take(16), vocab.take(17), Nil, Seq(""),
      Seq("zzqqxx", "nonexistentterm"), Seq("spark", "zzqqxx", "join", "vector"))
    for (q <- queries) {
      val want = scoreMap(TextSearch.bm25(filesOf(name), q))
      assert(scoreMap(TextSearch.bm25(spark.table(name), q)) === want, s"query $q")
    }
    val stems = TextSearch.stemQueryTerms("spark join vector searching")
    val stemmed = scoreMap(TextSearch.bm25(table, stems, analyzer = TextSearch.stemmedTokens))
    assert(stemmed.contains(900004L))
    assert(stemmed === scoreMap(TextSearch.bm25(filesOf(name), stems,
      analyzer = TextSearch.stemmedTokens)))
    assert(TextSearch.search(table, "spark join vector", 10).collect().toSeq ===
      TextSearch.search(filesOf(name), "spark join vector", 10).collect().toSeq)
    // warm, the scores came from the index: a df count and the scoring pass
    assert(jobs(TextSearch.bm25(spark.table(name), Seq("spark")).collect()) === 2)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("over a stored table, warm search runs exactly 2 jobs and hybridSearch 3") {
    val sdir = "/root/testdata/sf0.001"
    // every call re-reads the store, whose refreshTable must leave the index
    def chunks() = ChunkCatalog.flatChunks(spark, sdir)
    val qv = chunks().select("embedding").head().getSeq[Float](0).toArray
    def search() = TextSearch.search(chunks(), "spark join vector", 10, "chunk_id", "content")
      .collect().toSeq
    def hybrid() = Fusion.hybridSearch(chunks(), qv, "spark join vector", 10, "chunk_id",
      "content", "embedding").collect().toSeq
    search(); hybrid()
    val counts = (Seq.fill(2)(jobs(search())), Seq.fill(2)(jobs(hybrid())))
    info(s"warm jobs over the stored chunk table: search ${counts._1}, hybridSearch ${counts._2}")
    assert(counts === (Seq(2, 2), Seq(3, 3)))
    val files = spark.read.parquet(spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(TableStore.tableName("chunks", sdir))).location.toString)
    assert(search() === TextSearch.search(files, "spark join vector", 10, "chunk_id", "content")
      .collect().toSeq)
    assert(hybrid() === Fusion.hybridSearch(files, qv, "spark join vector", 10, "chunk_id",
      "content", "embedding").collect().toSeq)
  }

  test("the term index is rebuilt after every write that changes the files") {
    import spark.implicits._
    val name = "graft_bm25_index_fresh"
    def check(t: String, term: String, want: Set[Long]): Unit = {
      val got = scoreMap(TextSearch.bm25(spark.table(t), Seq("spark", term)))
      assert(got === scoreMap(TextSearch.bm25(filesOf(t), Seq("spark", term))), s"$t $term")
      assert(got.keySet.map(_.asInstanceOf[Long]).intersect(Set(1L, 2L, 3L)) === want, s"$t $term")
    }
    stored(name, Seq((1L, "spark alpha"), (2L, "beta gamma")).toDF("doc_id", "text"))
    check(name, "alpha", Set(1L))
    val blocks = indexBlocks
    // an append adds a file
    Seq((3L, "spark delta")).toDF("doc_id", "text").write.mode("append").saveAsTable(name)
    check(name, "delta", Set(1L, 3L))
    assert(jobs(TextSearch.bm25(spark.table(name), Seq("spark", "delta")).collect()) === 2,
      "warm after the rebuild")
    // an in-place rewrite
    Seq((2L, "spark delta"), (3L, "epsilon")).toDF("doc_id", "text")
      .write.mode("overwrite").saveAsTable(name)
    check(name, "delta", Set(2L))
    // a drop and rebuild
    stored(name, Seq((1L, "delta spark spark")).toDF("doc_id", "text"))
    check(name, "delta", Set(1L))
    // a generation flip: another physical table of the same logical one
    val flipped = stored(s"${name}__gen7", Seq((3L, "spark"), (2L, "delta")).toDF("doc_id", "text"))
    check(flipped.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.catalogTable.get
    }.get.identifier.table, "delta", Set(2L, 3L))
    // each replaced index freed its blocks
    assert(indexBlocks === blocks)
    Seq(name, s"${name}__gen7").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a duplicated id fails when it matches a query, and only then") {
    import spark.implicits._
    val name = "graft_bm25_index_dups"
    val table = stored(name, Seq((1L, "alpha beta"), (1L, "gamma"), (2L, "alpha"), (3L, "epsilon"))
      .toDF("doc_id", "text"))
    for (q <- Seq(Seq("alpha"), Seq("gamma"))) {
      val e = intercept[Exception](TextSearch.bm25(spark.table(name), q).collect())
      assert(e.getMessage.contains("doc_id 1 names more than one document"), q)
    }
    assert(scoreMap(TextSearch.bm25(table, Seq("epsilon"))).keySet === Set(3L))
    assert(scoreMap(TextSearch.bm25(table, Seq("epsilon"))) ===
      scoreMap(TextSearch.bm25(filesOf(name), Seq("epsilon"))))
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("Caches.release() frees the term index") {
    import spark.implicits._
    val name = "graft_bm25_index_release"
    stored(name, Seq((1L, "spark alpha"), (2L, "beta")).toDF("doc_id", "text"))
    def query() = TextSearch.bm25(spark.table(name), Seq("spark")).collect()
    query()
    assert(indexBlocks >= 1)
    assert(jobs(query()) === 2)
    Caches.release()
    assert(indexBlocks === 0)
    assert(jobs(query()) === 3, "a release rebuilds the index: one build job, then the query")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}
