package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Operator-level behavior specs for VectorSearch / Dedup / TextSearch /
  * Similarity / TextAnalysis over the sf0.001 fixtures. */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)
  private lazy val docs = Tables.documents(spark, dir)

  // ------------------------------------------------------------ VectorSearch

  test("knn returns k results, self at rank 1, scores descending in [0,1]") {
    val qv = emb.filter(col("vec_id") === 3L).select("embedding").head.getSeq[Float](0).toArray
    val hits = VectorSearch.knn(emb, VectorSearch.SearchRequest(qv, limit = 5),
      idCol = "vec_id").collect()
    assert(hits.length === 5)
    assert(hits.head.getAs[Long]("vec_id") === 3L) // self is most similar
    val scores = hits.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sortBy(-_))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(math.abs(scores.head - 1.0) < 1e-9)
  }

  test("knn minScore threshold and limit clamping") {
    val qv = emb.filter(col("vec_id") === 3L).select("embedding").head.getSeq[Float](0).toArray
    val hits = VectorSearch.knn(emb,
      VectorSearch.SearchRequest(qv, limit = 500, minScore = Some(0.9)), idCol = "vec_id")
    assert(hits.count() <= 100) // limit clamps to the reference's 1..100
    assert(hits.filter(col("score") < 0.9).count() === 0)
  }

  test("knnBatch emits per-query ranked blocks") {
    val queries = emb.filter(col("vec_id") < 3L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = VectorSearch.knnBatch(emb, queries, k = 4, idCol = "vec_id")
    val grouped = out.groupBy("qid").count().collect().map(_.getLong(1)).toSeq
    assert(grouped === Seq(4L, 4L, 4L))
    // rank 1 of each block is the query itself
    val self = out.filter(col("rank") === 1)
      .select(col("qid"), col("vec_id")).collect()
    assert(self.forall(r => r.getLong(0) === r.getLong(1)))
  }

  test("knnBatch keeps string ids (md5 chunk ids) instead of nulling them") {
    val queries = emb.filter(col("vec_id") < 3L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val longIds = VectorSearch.knnBatch(emb, queries, k = 4, idCol = "vec_id")
      .select(col("qid"), col("vec_id").cast("string").as("vec_id"),
        col("rank"), col("score"))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    // same corpus with the id column as zero-padded strings (ASCII keeps
    // lexicographic order = numeric order, so ranked output must match)
    val strCorpus = emb.withColumn("vec_id", format_string("%06d", col("vec_id")))
    val strIds = VectorSearch.knnBatch(strCorpus, queries, k = 4, idCol = "vec_id")
      .select(col("qid"), col("vec_id").cast("int").cast("string").as("vec_id"),
        col("rank"), col("score"))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(strIds === longIds)
    assert(strIds.nonEmpty)
    // unsupported id types fail fast at plan time, not as an encoder NPE
    val badCorpus = emb.withColumn("vec_id", col("vec_id").cast("double"))
    val err = intercept[IllegalArgumentException] {
      VectorSearch.knnBatch(badCorpus, queries, k = 4, idCol = "vec_id")
    }
    assert(err.getMessage.contains("must be integral or string"))
  }

  test("similarToId excludes self and same document") {
    val chunks = graft.pipelines.Pipelines.featurePipeline(docs, qualityThreshold = 0.0)
    val target = chunks.select("chunk_id", "document_id").head
    val hits = VectorSearch.similarToId(chunks, target.getString(0), k = 5,
      excludeSameDocument = true, idCol = "chunk_id").collect()
    assert(hits.nonEmpty)
    assert(hits.forall(_.getAs[String]("chunk_id") != target.getString(0)))
    assert(hits.forall(_.getAs[Long]("document_id") != target.getLong(1)))
  }

  test("MLlib LSH join: precision 1 vs exact pairs, recall >= 0.9") {
    val exact = VectorSearch.similarityJoin(emb, minCosine = 0.4, idCol = "vec_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshJoin(emb, minCosine = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "fixture should contain pairs above threshold")
    // exact re-score ⇒ every LSH pair IS an exact pair with the same cosine
    assert(lsh.keySet.subsetOf(exact.keySet),
      s"false positives: ${lsh.keySet.diff(exact.keySet)}")
    lsh.foreach { case (k, c) => assert(c === exact(k), s"cosine mismatch at $k") }
    val recall = exact.keySet.intersect(lsh.keySet).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("LSH prunes and keeps full recall at a real near-dup threshold") {
    import spark.implicits._
    // synthetic corpus whose threshold genuinely separates: 300 random unit
    // vectors plus 40 planted near-copies (small additive noise, cos ~0.99)
    val rng = new scala.util.Random(7)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat; v.map(_ / n)
    }
    val base = (0L until 300L).map(id => (id, unit(Array.fill(64)(rng.nextGaussian().toFloat))))
    val dups = (0 until 40).map { i =>
      val (srcId, v) = base(rng.nextInt(base.length))
      (1000L + i, unit(v.map(x => x + 0.02f * rng.nextGaussian().toFloat)))
    }
    val corpus = (base ++ dups).toDF("vec_id", "embedding")
    val exact = VectorSearch.similarityJoin(corpus, minCosine = 0.9, idCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 40)
    val candidates = Similarity.lshCandidates(corpus, minCosine = 0.9).count()
    val allPairs = 340L * 339 / 2
    assert(candidates < allPairs / 5, s"no pruning: $candidates of $allPairs")
    val lsh = Similarity.lshJoin(corpus, minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact, "compound-hash LSH must recover every >=0.9 pair here")
  }

  test("LSH hot-bucket A/B on the boilerplate analog: an overflowing projection bucket is TRUE-pair mass") {
    import spark.implicits._
    // the r15 verdict's ask: measure whether the embedding-LSH band join
    // needs the MinHash-style default cap. Boilerplate-analog fixture:
    // 300 random unit vectors + a 120-clone cluster (cos ~0.999 ≫ 0.9 bar)
    val rng = new scala.util.Random(11)
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat; v.map(_ / n)
    }
    val base = (0L until 300L).map(id => (id, unit(Array.fill(64)(rng.nextGaussian().toFloat))))
    val seed = unit(Array.fill(64)(rng.nextGaussian().toFloat))
    val clones = (0 until 120).map(i =>
      (5000L + i, unit(seed.map(x => x + 0.005f * rng.nextGaussian().toFloat))))
    val corpus = (base ++ clones).toDF("vec_id", "embedding")
    val exact = VectorSearch.similarityJoin(corpus, minCosine = 0.9, idCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the cluster's pairs are the bulk of the true answer (~120·119/2)
    assert(exact.size >= 120 * 119 / 2)
    // UNCAPPED (the lshJoin default): full recall — the "hot" bucket the
    // clone cluster shares is not a banding artifact, it IS the answer
    val uncapped = Similarity.lshJoin(corpus, minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === exact)
    // CAPPED below the cluster size: still a SUBSET of exact (precision 1)
    // but with true pairs silently dropped — which is exactly why the cap
    // must stay OPT-IN on this exact-candidate API, while the curation
    // surface (Dedup.embeddingPairsDistributed) defaults it on and trades
    // in-cluster recall for boundedness deliberately
    val capped = Similarity.lshJoin(corpus, minCosine = 0.9, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact))
    assert(capped.size < exact.size,
      "fixture lost its point: the cap was supposed to bind on the clone cluster")
    // what the cap costs here: a clone past the per-bucket cutoff shares
    // ALL its buckets with the cluster, so it loses every pair — measured
    // loss is in-cluster recall, never precision (the subset assert above).
    // That loss profile is the measured reason the cap stays opt-in on
    // this API and default-on only on the curation surface.
  }

  test("LSH join on an empty corpus returns an empty pair set, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.lshCandidates(empty, minCosine = 0.8).count() === 0)
    assert(Similarity.lshJoin(empty, minCosine = 0.8).count() === 0)
  }

  test("LSH join excludes zero-norm vectors instead of pairing them at 1.0") {
    import spark.implicits._
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val zeros = Seq((900001L, Array.fill(dim)(0.0f)), (900002L, Array.fill(dim)(0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshJoin(
      emb.select("vec_id", "embedding").unionByName(zeros), minCosine = 0.4).collect()
    assert(pairs.forall(r => r.getLong(0) < 900001L && r.getLong(1) < 900001L))
  }

  test("similarityJoin pairs are ordered, thresholded, symmetric-free") {
    val pairs = VectorSearch.similarityJoin(emb.limit(100), minCosine = -1.0, idCol = "vec_id")
    assert(pairs.count() === 100L * 99 / 2)
    assert(pairs.filter(col("left_id") >= col("right_id")).count() === 0)
  }

  // ------------------------------------------------------------------ Dedup

  test("minHashPairsFast emits the identical verified pair set as the md5 path") {
    val md5Pairs = Dedup.minHashPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val fast = Dedup.minHashPairsFast(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(md5Pairs.nonEmpty, "fixture should contain planted near-dup pairs")
    assert(fast === md5Pairs)
  }

  test("Caches.release unpersists exactly the library's tracked caches") {
    import spark.implicits._
    graft.Caches.release() // clean slate
    val mine = Seq((1L, "caller cache")).toDF("id", "v").persist()
    mine.count()
    val before = graft.Caches.trackedCount
    Dedup.minHashPairs(docs.limit(50)).count() // persists shingles + bands
    assert(graft.Caches.trackedCount > before)
    graft.Caches.release()
    assert(graft.Caches.trackedCount === 0)
    // the caller's own cache is untouched
    assert(mine.storageLevel.useMemory)
    mine.unpersist()
  }

  test("Caches.releaseAfter drops only the caches persisted inside the scope") {
    graft.Caches.release() // clean slate
    // a graft cache the caller created BEFORE the scoped build
    Dedup.minHashPairs(docs.limit(50)).count()
    val outer = graft.Caches.trackedCount
    assert(outer > 0)
    graft.Caches.releaseAfter {
      Dedup.simHashPairs(docs.limit(50)).count() // persists inside the scope
      assert(graft.Caches.trackedCount > outer)
    }
    // the scope's caches are gone; the caller's earlier graft caches remain
    assert(graft.Caches.trackedCount === outer)
    graft.Caches.release()
  }

  test("Caches.releaseAfter scope never captures another thread's persists") {
    graft.Caches.release() // clean slate
    @volatile var err: Throwable = null
    graft.Caches.releaseAfter {
      val t = new Thread(() => {
        try Dedup.minHashPairs(docs.limit(50)).count() // persists on ANOTHER thread
        catch { case e: Throwable => err = e }
      })
      t.start(); t.join()
    }
    assert(err == null, s"concurrent persist failed: $err")
    // the other thread's caches survived this thread's scope exit
    assert(graft.Caches.trackedCount > 0,
      "scope exit unpersisted caches belonging to a different thread")
    graft.Caches.release()
  }

  test("exact dedup finds planted copies and keeps min-id canonicals") {
    import spark.implicits._
    val base = docs.select($"doc_id", $"text")
    val withCopies = base.unionByName(
      base.filter($"doc_id" < 10).select(($"doc_id" + 1000).as("doc_id"), $"text"))
    val groups = Dedup.exactDuplicateGroups(withCopies).collect()
    assert(groups.length === 10)
    assert(groups.forall(_.getAs[Long]("n_copies") === 2L))
    assert(groups.forall(r => r.getAs[Long]("canonical_id") < 1000))
    val survivors = Dedup.dropExactDuplicates(withCopies)
    assert(survivors.count() === base.count())
    assert(survivors.filter($"doc_id" >= 1000).count() === 0)
  }

  test("minhash LSH recall matches exact ngram ground truth on the fixture") {
    val lsh = Dedup.minHashPairs(docs).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(docs).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh) || lsh === exact) // banding may not lose planted dups
    assert(lsh === exact)
  }

  test("simhash near-identical texts give hamming 0, unrelated differ") {
    import spark.implicits._
    val a = Dedup.simHashBitsScala("the quick brown fox jumps over the lazy dog")
    val b = Dedup.simHashBitsScala("the quick brown fox jumps over the lazy dog")
    val c = Dedup.simHashBitsScala("completely unrelated subject matter entirely")
    assert(a.toSeq === b.toSeq)
    assert(a.zip(c).count { case (x, y) => x != y } > 5)
  }

  test("shingles: n-gram construction and short-text fallback") {
    assert(Dedup.shinglesScala("a b c d", 3).toSeq === Seq("a b c", "b c d"))
    assert(Dedup.shinglesScala("a b", 3).toSeq === Seq("a b"))
    assert(Dedup.shinglesScala("", 3).toSeq === Seq(""))
  }

  // -------------------------------------------------------------- TextSearch

  test("bm25 ranks term-dense docs higher; missing terms score nothing") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark spark spark join"),
      (2L, "spark filter table"),
      (3L, "window sort merge")).toDF("doc_id", "text")
    val scores = TextSearch.bm25(corpus, Seq("spark"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.contains(1L) && scores.contains(2L))
    assert(!scores.contains(3L))
    assert(scores(1L) > scores(2L))
  }

  test("search top-k is deterministic under ties") {
    val a = TextSearch.search(docs, "spark join vector", 10).collect().map(_.getLong(0)).toSeq
    val b = TextSearch.search(docs, "spark join vector", 10).collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("bm25 analyzer hook: a custom analyzer swaps in, default path unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    val corpus = Seq(
      (1L, "spark's optimizer"),      // apostrophe inside the token
      (2L, "spark optimizer tuning"),
      (3L, "window sort merge")).toDF("doc_id", "text")
    // an analyzer that keeps apostrophes inside tokens (one step toward
    // Lucene's UAX#29 behavior): "spark's" stays one term
    val apostropheAware: Column => Column = c =>
      filter(split(lower(c), "[^a-z0-9']+"), t => length(t) > 0)
    val defaultHits = TextSearch.bm25(corpus, Seq("spark"))
      .collect().map(_.getLong(0)).toSet
    val customHits = TextSearch.bm25(corpus, Seq("spark"), analyzer = apostropheAware)
      .collect().map(_.getLong(0)).toSet
    // default splits "spark's" into spark + s → doc 1 matches "spark";
    // the custom analyzer keeps "spark's" whole → only doc 2 matches
    assert(defaultHits === Set(1L, 2L))
    assert(customHits === Set(2L))
  }

  // -------------------------------------------------------------- Similarity

  test("IVF assignment is total and probe search ranks within probed cells") {
    val cents = Similarity.seededCentroids(emb, 16, 31L)
    assert(cents.count() === 16)
    val assigned = Similarity.ivfAssign(emb, cents)
    assert(assigned.count() === emb.count()) // every vector lands in one cell
    val qv = emb.filter(col("vec_id") === 2L).select("embedding").head.getSeq[Float](0).toArray
    val hits = Similarity.ivfSearch(emb, cents, qv, k = 10, nprobe = 4).collect()
    assert(hits.length === 10)
    val scores = hits.map(_.getAs[Double]("score")).toSeq
    assert(scores === scores.sortBy(-_))
  }

  test("IVF with nprobe=all equals exact brute force") {
    val cents = Similarity.seededCentroids(emb, 16, 31L)
    val qv = emb.filter(col("vec_id") === 2L).select("embedding").head.getSeq[Float](0).toArray
    val ivf = Similarity.ivfSearch(emb, cents, qv, k = 10, nprobe = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = VectorSearch.knn(emb, VectorSearch.SearchRequest(qv, limit = 10), idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ivf === exact)
  }

  test("celled embedding near-dup: precision 1 vs exact pairs, in-kernel pairing") {
    import spark.implicits._
    def pairMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"left_id", $"right_id", round($"cosine", 6))
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val exact = pairMap(Dedup.embeddingPairs(emb, minCosine = 0.45))
    val celled = pairMap(Dedup.embeddingPairsCelled(emb, minCosine = 0.45,
      nlist = 16, step = 31L, nprobe = 2))
    assert(exact.nonEmpty && celled.nonEmpty)
    // precision 1: every celled pair is an exact pair with the exact cosine
    celled.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos), s"$pair not in exact set or cosine differs") }
    // recall = shared-top-2-cell probability; the oracle row pins the exact
    // pair set per corpus — here just require most of the exact set
    assert(celled.size * 2 >= exact.size,
      s"celled recall ${celled.size}/${exact.size} collapsed")
  }

  test("two-level coarse probe: precision 1, recall holds vs the exact scan") {
    import spark.implicits._
    def pairMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"left_id", $"right_id", round($"cosine", 6))
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val flat = pairMap(Dedup.embeddingPairsCelled(emb, minCosine = 0.45,
      nlist = 16, step = 31L, nprobe = 2))
    val tree = pairMap(Dedup.embeddingPairsCelled(emb, minCosine = 0.45,
      nlist = 16, step = 31L, nprobe = 2, coarseProbes = Some(2)))
    assert(tree.nonEmpty)
    // the kernel is unchanged, so every emitted pair is exact-cosine; the
    // tree only changes WHICH cells a vector probes
    val exact = pairMap(Dedup.embeddingPairs(emb, minCosine = 0.45))
    tree.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos), s"$pair not exact or cosine differs") }
    assert(tree.size * 2 >= flat.size,
      s"tree recall ${tree.size}/${flat.size} collapsed vs the exact scan")
    // opening every coarse group IS the exact scan
    val all = pairMap(Dedup.embeddingPairsCelled(emb, minCosine = 0.45,
      nlist = 16, step = 31L, nprobe = 2, coarseProbes = Some(16)))
    assert(all === flat)
  }

  test("celled incremental tolerates null embeddings in the stored index") {
    import spark.implicits._
    // ivfAssign keeps null-embedding rows (every vec_id gets an rn=1 cell),
    // so a stored index can contain them; 2 cells × nprobe=2 guarantees the
    // null row's cell IS probed — neither route may NPE on it
    val cents = Similarity.seededCentroids(emb, 2, 31L)
    val withNull = emb.select($"vec_id", $"embedding").unionByName(
      Seq(99999L).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<float>")))
    val store = Similarity.ivfAssign(withNull, cents)
    val batch = emb.filter($"vec_id" < 20)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    for (batchRows <- Seq(20L, Dedup.BatchedFlagMaxRows + 1)) {
      val pairs = Dedup.embeddingPairsCelledIncremental(batch, store, cents,
        minCosine = 0.45, batchRows = batchRows, nprobe = 2).collect()
      assert(pairs.nonEmpty)
      assert(!pairs.exists(r => r.getLong(0) == 99999L || r.getLong(1) == 99999L))
    }
  }

  // The celled incremental flag kernel on one id type, over both routes
  // (`batchRows` 20 → the batched micro route, `BatchedFlagMaxRows + 1` →
  // the distributed shuffle kernel), against a stored index with a planted
  // null embedding (a supported shape). Each route's pairs come back as
  // `(route, plain, twin)` with ids mapped onto the long id space, after the
  // per-route checks: canonical left < right in the id type's own order, the
  // null id never paired, the route's plan shape, and the empty batch's
  // schema and zero count.
  private def celledIncrementalRoutes(idType: String)
      : Seq[(String, Set[(Long, Long, Double)], Set[(Long, Long, Double)])] = {
    import spark.implicits._
    type Frame = org.apache.spark.sql.DataFrame
    val cents = Similarity.seededCentroids(emb, 16, 31L)
    val storeL = Similarity.ivfAssign(
      emb.select($"vec_id", $"embedding").unionByName(
        Seq(99999L).toDF("vec_id")
          .withColumn("embedding", lit(null).cast("array<float>"))), cents)
    val batchL = emb.filter($"vec_id" < 20)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    // new×new coverage: two re-tagged copies of the same original vector
    val twinL = batchL.unionByName(
      emb.filter($"vec_id" < 5).select(($"vec_id" + 200000).as("vec_id"), $"embedding"))
    // string ids keep the long id after a one-letter prefix ("s" stored,
    // "b" batch), so their pairs map back onto the long id space
    def asStrings(df: Frame, prefix: String): Frame =
      df.withColumn("chunk_id", concat(lit(prefix), $"vec_id".cast("string")))
        .drop("vec_id")
    val (idCol, store, retype) = idType match {
      case "long" => ("vec_id", storeL, (b: Frame) => b)
      case "string" => ("chunk_id", asStrings(storeL, "s"), (b: Frame) => asStrings(b, "b"))
    }
    def idNum(s: String): Long = if (s.head.isDigit) s.toLong else s.tail.toLong

    for (batchRows <- Seq(20L, Dedup.BatchedFlagMaxRows + 1)) yield {
      def pairs(batch: Frame): Frame = Dedup.embeddingPairsCelledIncremental(
        retype(batch), store, cents, minCosine = 0.45, batchRows = batchRows,
        nprobe = 2, idCol = idCol)
      val cell = s"$idType ids, batchRows = $batchRows"
      def rows(batch: Frame): Set[(Long, Long, Double)] = {
        val got = pairs(batch)
          .select($"left_id".cast("string"), $"right_id".cast("string"), round($"cosine", 9))
          .as[(String, String, Double)].collect()
        // canonical order is the id type's own: numeric or UTF-8 binary
        assert(got.forall { case (l, r, _) =>
          if (idType == "long") l.toLong < r.toLong else l < r }, s"$cell: left < right")
        got.map { case (l, r, c) => (idNum(l), idNum(r), c) }
          .map { case (a, b, c) => (math.min(a, b), math.max(a, b), c) }.toSet
      }
      val (plain, twin) = (rows(batchL), rows(twinL))
      assert(!plain.exists { case (l, r, _) => l == 99999L || r == 99999L }, cell)
      // a bulk batch keeps the distributed kernel (its driver collect and
      // per-cell new×new loop must never see a million-chunk re-crawl); a
      // micro-batch scores store rows in place by a broadcast join, moving
      // none by cell
      val plan = pairs(batchL).queryExecution.executedPlan.toString
      val micro = batchRows <= Dedup.BatchedFlagMaxRows
      assert(plan.contains("REPARTITION_BY_COL") === !micro, s"$cell: route")
      assert(!micro || plan.contains("BroadcastHashJoin"), s"$cell: in-place scoring")
      // empty batch: defined, empty, right schema
      val none = pairs(batchL.filter($"vec_id" < 0))
      assert(none.columns.toSeq === Seq("left_id", "right_id", "cosine"), cell)
      assert(none.count() === 0L, cell)
      (cell, plain, twin)
    }
  }

  private def assertRoutesAgree(
      results: Seq[(String, Set[(Long, Long, Double)], Set[(Long, Long, Double)])],
      plain0: Set[(Long, Long, Double)], twin0: Set[(Long, Long, Double)], base: String): Unit =
    results.foreach { case (cell, plain, twin) =>
      assert(plain === plain0, s"$cell differs from $base")
      assert(twin === twin0, s"$cell differs from $base (new×new batch)")
    }

  test("batched-probe incremental kernel is row-equal to the shuffle kernel (long ids)") {
    val results = celledIncrementalRoutes("long")
    val (base, plain0, twin0) = results.head
    assert(plain0.nonEmpty)
    assert(twin0.exists { case (l, r, _) => l >= 100000L && r >= 200000L },
      "fixture lost its planted new×new pair")
    assertRoutesAgree(results, plain0, twin0, base)
  }

  test("batched-probe incremental kernel parity (string ids) + null-embedding store") {
    // string ids give the same pairs on both routes as long ids do
    val (base, plain0, twin0) = celledIncrementalRoutes("long").head
    assert(plain0.nonEmpty)
    assertRoutesAgree(celledIncrementalRoutes("string"), plain0, twin0, base)
  }

  test("trained k-means centroids/codebook swap in with no plan change; recall >= seeded") {
    import spark.implicits._
    def exactTop10(qv: Array[Float]): Set[Long] = emb
      .withColumn("score",
        (graft.functions.VectorFunctions.cosineSimilarity($"embedding",
          array(qv.map(x => lit(x)).toIndexedSeq: _*)) + 1.0) / 2.0)
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val queryIds = Seq(2L, 7L, 13L)
    val qvs = queryIds.map(id =>
      emb.filter($"vec_id" === id).select("embedding").head.getSeq[Float](0).toArray)
    // IVF: the trained centroids drop into the same search plan...
    val trainedCents = Similarity.kmeansCentroids(emb, 16)
    val hits = Similarity.ivfSearch(emb, trainedCents, qvs.head, k = 10, nprobe = 4)
    assert(hits.count() === 10)
    // ...and beat the seeded sample on what k-means optimizes: assignment
    // distortion (mean squared distance to the nearest centroid). Recall at
    // a FIXED nprobe is data-dependent on a 500-vector random fixture —
    // the scale measurement lives in SCALE.md's recall table.
    val vecs = emb.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def distortion(cents: org.apache.spark.sql.DataFrame): Double = {
      val cs = cents.select("centroid_vec").collect().map(_.getSeq[Float](0).toArray)
      vecs.map { v =>
        cs.map { c =>
          var d = 0.0; var i = 0
          while (i < v.length) { val x = v(i) - c(i); d += x * x; i += 1 }
          d
        }.min
      }.sum / vecs.length
    }
    val seededD = distortion(Similarity.seededCentroids(emb, 16, 31L))
    val trainedD = distortion(trainedCents)
    assert(trainedD < seededD,
      s"k-means distortion $trainedD not below seeded sample $seededD")

    def recallPq(cb: Similarity.PqCodebook): Double = {
      val codes = Similarity.pqEncode(emb, cb)
      qvs.map { qv =>
        val got = Similarity.pqSearch(codes, emb, cb, qv, k = 10)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        got.intersect(exactTop10(qv)).size / 10.0
      }.sum / qvs.size
    }
    val seededPq = recallPq(Similarity.pqTrainSeeded(emb, m = 8, ksub = 16, step = 31L))
    val trainedPq = recallPq(Similarity.pqTrainKmeans(emb, m = 8, ksub = 16))
    assert(trainedPq >= seededPq,
      s"k-means PQ recall@10 $trainedPq fell below seeded $seededPq")
  }

  test("pruned IVF over the materialized index matches per-query assignment") {
    val cents = Similarity.seededCentroids(emb, 16, 31L)
    val qv = emb.filter(col("vec_id") === 2L).select("embedding").head.getSeq[Float](0).toArray
    val store = IvfCatalog.assignedEmbeddings(spark, dir, 16, 31L)
    val pruned = Similarity.ivfSearchPruned(store, cents, qv, k = 10, nprobe = 4)
      .select(col("vec_id"), round(col("score"), 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val live = Similarity.ivfSearch(emb, cents, qv, k = 10, nprobe = 4)
      .select(col("vec_id"), round(col("score"), 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned === live)
  }

  // ------------------------------------------------------------ TextAnalysis

  test("language ID votes for the profile present in the text") {
    import spark.implicits._
    val out = Seq(
      "the cat sat on the mat and it is happy",
      "el gato y la casa de que en un dia",
      "xyzzy qwerty plugh").toDF("text")
      .select(TextAnalysis.detectLanguage($"text").getField("lang")).collect().map(_.getString(0))
    assert(out.toSeq === Seq("en", "es", "und"))
  }

  test("token counts: bpe-ish >= whitespace for punctuated text") {
    import spark.implicits._
    val row = Seq("hello, world! it's 2024.").toDF("text")
      .select(TextAnalysis.whitespaceTokens($"text"), TextAnalysis.bpeIshTokens($"text")).head
    assert(row.getInt(0) === 4)
    assert(row.getInt(1) > row.getInt(0))
  }

  test("fingerprints are stable and text-sensitive") {
    import spark.implicits._
    // bottom-k sampling: a single-char change may be missed by design, so
    // the differing text is fully distinct
    val fp = Seq("abcdefghijklmnop", "abcdefghijklmnop", "zyxwvutsrqponmlk")
      .toDF("text").select(TextAnalysis.fingerprint($"text")).collect().map(_.getString(0))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
  }

  // ------------------------------------------------------------- PQ ANN

  test("PQ ADC search: 8-byte codes, exact-rerank precision, bounded recall loss") {
    import spark.implicits._
    val q7 = emb.filter($"vec_id" === 7L).select("embedding").head.getSeq[Float](0).toArray
    val cb = Similarity.pqTrainSeeded(emb, m = 8, ksub = 16, step = 31L)
    val codes = Similarity.pqEncode(emb, cb)
    // the compression claim: every 64-dim float32 row became an 8-byte code
    assert(codes.select(max(length($"code"))).head.getInt(0) === 8)
    assert(codes.select(min(length($"code"))).head.getInt(0) === 8)
    val got = Similarity.pqSearch(codes, emb, cb, q7, k = 10)
      .select($"vec_id", round($"score", 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // precision 1: every emitted score is the EXACT cosine of that pair —
    // quantization may only move the candidate boundary, never a score
    got.foreach { case (id, s) =>
      val exact = BigDecimal((VectorFunctionsTestKit.cosine(vecs(id), q7) + 1.0) / 2.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(s - exact) < 1e-9, s"vec $id rescored inexactly: $s vs $exact")
    }
    // the query's own vector always survives candidate selection (rank 1)
    assert(got.head._1 === 7L)
    // recall@10 vs exact: a 16-cell/8-dim seeded codebook with 8x rerank
    // keeps >= 8 of the true top-10 on this fixture (measured; the
    // registered ann_pq_top10 oracle replays the full ADC pipeline instead
    // of assuming recall 1)
    val want = emb
      .withColumn("score",
        (graft.functions.VectorFunctions.cosineSimilarity($"embedding",
          array(q7.map(x => lit(x)).toIndexedSeq: _*)) + 1.0) / 2.0)
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).toSet.intersect(want).size >= 8)
  }

  test("IVFADC: probing all cells equals plain PQ; nprobe=4 keeps the query and most of top-10") {
    import spark.implicits._
    val q7 = emb.filter($"vec_id" === 7L).select("embedding").head.getSeq[Float](0).toArray
    val cents = Similarity.seededCentroids(emb, 16, 31L)
    val cb = Similarity.pqTrainSeeded(emb, m = 8, ksub = 16, step = 31L)
    val codesAssigned = Similarity.pqEncode(emb, cb)
      .join(Similarity.ivfAssign(emb, cents).select($"vec_id", $"centroid_id"), "vec_id")
    def run(nprobe: Int) =
      Similarity.ivfPqSearch(codesAssigned, emb, cents, cb, q7, k = 10, nprobe = nprobe)
        .select($"vec_id", round($"score", 6).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // probing every cell makes the prune a no-op: identical to pqSearch
    val all = run(16)
    val pq = Similarity.pqSearch(Similarity.pqEncode(emb, cb), emb, cb, q7, k = 10)
      .select($"vec_id", round($"score", 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all === pq)
    // nprobe=4: the query's own cell is probed (rank 1 = itself) and the
    // cell prune costs bounded recall on this fixture (measured 6/10)
    val pruned = run(4)
    assert(pruned.head._1 === 7L)
    val exact = emb
      .withColumn("score",
        (graft.functions.VectorFunctions.cosineSimilarity($"embedding",
          array(q7.map(x => lit(x)).toIndexedSeq: _*)) + 1.0) / 2.0)
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.map(_._1).toSet.intersect(exact).size >= 6)
  }

  test("batch ADC agrees with single-query pqSearch per query") {
    import spark.implicits._
    val cb = Similarity.pqTrainSeeded(emb, m = 8, ksub = 16, step = 31L)
    val codes = Similarity.pqEncode(emb, cb)
    val qids = Seq(3L, 7L, 11L)
    val queries = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val batch = Similarity.pqSearchBatch(codes, emb, cb, queries, k = 10)
      .select($"qid", $"vec_id", $"rank", round($"score", 6).as("score"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getDouble(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2).toSeq).toMap
    for (qid <- qids) {
      val qv = emb.filter($"vec_id" === qid).select("embedding").head.getSeq[Float](0).toArray
      val single = Similarity.pqSearch(codes, emb, cb, qv, k = 10)
        .select($"vec_id", round($"score", 6).as("score"))
        .collect().zipWithIndex
        .map { case (r, i) => (r.getLong(0), i + 1, r.getDouble(1)) }.toSeq
      assert(batch(qid) === single, s"qid $qid: batch and single ADC disagree")
    }
  }

  // ------------------------------------------------------------- int8 ANN

  test("int8 quantization bounds the cosine error and int8Search matches exact") {
    import spark.implicits._
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // roundtrip error bound: approx cosine within 2% absolute of exact
    // for every non-zero vector against a probe vector
    val q7 = vecs(7L)
    val q = Similarity.quantScala(q7)
    for ((id, v) <- vecs.take(100) if v.exists(_ != 0f)) {
      val c = Similarity.quantScala(v)
      var intDot = 0L
      for (i <- c.code.indices) intDot += c.code(i).toLong * q.code(i)
      val approx = intDot * c.scale * q.scale / (c.norm * q.norm)
      val exact = VectorFunctionsTestKit.cosine(v, q7)
      assert(math.abs(approx - exact) < 0.02, s"vec $id approx=$approx exact=$exact")
    }
    // end to end: quantized candidate scan + exact re-rank == brute force
    val got = Similarity.int8Search(Similarity.quantizeInt8(emb), emb, q7, k = 10)
      .select($"vec_id", round($"score", 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = emb
      .withColumn("score",
        (graft.functions.VectorFunctions.cosineSimilarity($"embedding",
          array(q7.map(x => lit(x)).toIndexedSeq: _*)) + 1.0) / 2.0)
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
      .select($"vec_id", round($"score", 6).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want)
  }

  test("pqTrainKmeans pads a collapsed subspace to the full-ksub codebook contract") {
    import spark.implicits._
    // subspace 0 is CONSTANT across the corpus (one distinct point — MLlib
    // k-means returns a single center there); subspace 1 varies. The
    // codebook must still be full ksub per subspace (codes are fixed-width
    // bytes), with padded duplicates never emitted by encode.
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq(1f, 0f, 0f, 0f, i.toFloat, (i % 7).toFloat, 1f, (i % 3).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainKmeans(df, m = 2, ksub = 8)
    assert(cb.m === 2 && cb.centroids.forall(_.length === 8))
    val codes = Similarity.pqEncode(df, cb)
    // subspace 0's codes all hit the single REAL center (index 0)
    assert(codes.select("code").collect().forall(_.getAs[Array[Byte]](0)(0) === 0.toByte))
    val hits = Similarity.pqSearch(codes, df, cb,
        rows(3)._2.toArray, k = 3)
      .select("vec_id").collect().map(_.getLong(0))
    assert(hits.contains(3L), s"self not retrieved through the padded codebook: ${hits.toSeq}")
  }
  test("attachSources: the big-dimension semi-shrink path is row-identical to the broadcast path, nulls included") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    // hits include one id with NO document (the ingested-chunk case): LEFT
    // semantics must keep it with null attribution in BOTH paths
    val someDoc = docs.orderBy($"doc_id".asc).limit(3)
      .select($"doc_id").as[Long].collect()
    val hits = (someDoc.map(id => (s"c_$id", id, 0.9)) :+ (("c_missing", 999999999L, 0.5)))
      .toSeq.toDF("chunk_id", "document_id", "score")
    def run(maxBytes: Long) = graft.operators.Attribution
      .attachSources(hits, docs, "document_id", "doc_id", Seq("lang", "source"),
        dimsBroadcastMaxBytes = maxBytes)
      .select("chunk_id", "document_id", "score", "lang", "source")
      .collect().map(_.toSeq).toSet
    val small = run(Long.MaxValue) // dimension broadcast (the fixture plan)
    val big = run(0L)              // semi-shrink (the 100 TB plan)
    assert(big === small, "both join strategies must produce identical rows")
    assert(small.exists(r => r(0) == "c_missing" && r(3) == null && r(4) == null),
      "a hit without a document keeps null attribution (LEFT preserved)")
  }
}

/** Tiny exact-cosine helper for spec-side math. */
object VectorFunctionsTestKit {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
