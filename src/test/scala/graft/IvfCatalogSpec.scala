package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** Stored IVF index catalog: build-once reuse, the trained-centroid build
  * mode, and the append half of the incremental celled loop. */
class IvfCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("trained build: stored centroids, same layout, pruned probe matches live search") {
    val store = IvfCatalog.assignedEmbeddings(spark, dir, 16, 31L, trained = true)
    val emb = Tables.embeddings(spark, dir)
    assert(store.count() === emb.count())
    // the stored centroid table is what probes read back — NOT a re-train
    val cents = IvfCatalog.centroidsFor(spark, dir, 16, 31L, trained = true)
    assert(cents.count() === 16)
    val t0 = System.nanoTime()
    IvfCatalog.centroidsFor(spark, dir, 16, 31L, trained = true).count()
    assert((System.nanoTime() - t0) / 1e9 < 10.0,
      "second centroid access must be a table read, not a k-means re-train")
    val qv = emb.filter(col("vec_id") === 2L)
      .select("embedding").head.getSeq[Float](0).toArray
    val pruned = Similarity.ivfSearchPruned(store, cents, qv, k = 10, nprobe = 4)
      .select(col("vec_id"), round(col("score"), 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val live = Similarity.ivfSearch(emb, cents, qv, k = 10, nprobe = 4)
      .select(col("vec_id"), round(col("score"), 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned === live)
  }

  test("seeded centroids freeze at build: probes survive the source table changing") {
    import spark.implicits._
    val tdir = "/tmp/graft_ivf_freeze_fixture"
    Tables.embeddings(spark, dir).filter($"vec_id" < 100)
      .write.mode("overwrite").parquet(tdir + "/embeddings.parquet")
    IvfCatalog.dropVectorStore(spark, tdir, 8, 31L)
    IvfCatalog.assignedEmbeddings(spark, tdir, 8, 31L).count()
    def snap() = IvfCatalog.centroidsFor(spark, tdir, 8, 31L)
      .select($"centroid_id", $"centroid_vec").as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val atBuild = snap()
    assert(atBuild.size === 4) // ids 0,31,62,93 — every 31st of the 100-row fixture

    // the corpus GROWS past the build-time snapshot: overwrite the source
    // fixture with a shifted id-space, so a recompute of the seeded sample
    // would select entirely different vectors
    Tables.embeddings(spark, tdir)
      .select(($"vec_id" + 7L).as("vec_id"), transform($"embedding", x => -x).as("embedding"))
      .write.mode("overwrite").parquet(tdir + "/embeddings2.parquet")
    val moved = spark.read.parquet(tdir + "/embeddings2.parquet")
    moved.write.mode("overwrite").parquet(tdir + "/embeddings.parquet")
    spark.catalog.clearCache()

    // probe/append centroids are the BUILD-TIME ones, not a live recompute
    assert(snap() === atBuild,
      "centroidsFor must read the frozen build-time table after the source changed")
    val recomputed = Similarity.seededCentroids(
        spark.read.parquet(tdir + "/embeddings.parquet"), 8, 31L)
      .select($"centroid_id", $"centroid_vec").as[(Long, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    assert(recomputed !== atBuild,
      "fixture change must actually alter a live recompute, or the test proves nothing")

    // appends keep flowing through the frozen centroids — cells stay
    // consistent with the stored assignment
    IvfCatalog.appendBatch(spark, tdir,
      Seq((5000L, atBuild.head._2)).toDF("vec_id", "embedding"), 8, 31L)
    val cell = IvfCatalog.assignedEmbeddings(spark, tdir, 8, 31L)
      .filter($"vec_id" === 5000L).select("centroid_id").head.getLong(0)
    assert(cell === atBuild.head._1,
      "an appended copy of a build-time centroid must land in that centroid's own cell")
    IvfCatalog.dropVectorStore(spark, tdir, 8, 31L)
  }

  test("appendBatch: a second increment sees the first's vectors, no store rewrite") {
    import spark.implicits._
    // private fixture dir so appends never pollute the shared catalog tables
    val tdir = "/tmp/graft_ivf_append_fixture"
    Tables.embeddings(spark, dir).filter($"vec_id" < 100)
      .write.mode("overwrite").parquet(tdir + "/embeddings.parquet")
    spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName("ivf8_31", tdir)}")
    val n0 = IvfCatalog.assignedEmbeddings(spark, tdir, 8, 31L).count()
    assert(n0 === 100)
    val cents = IvfCatalog.centroidsFor(spark, tdir, 8, 31L)

    // increment 1: near-copies of vectors 0-4, re-tagged — flag, then append
    val batch1 = Tables.embeddings(spark, tdir).filter($"vec_id" < 5)
      .select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    def flag(batch: org.apache.spark.sql.DataFrame) =
      Dedup.embeddingPairsCelledIncremental(batch,
          IvfCatalog.assignedEmbeddings(spark, tdir, 8, 31L), cents,
          minCosine = 0.999, batchRows = batch.count(), nprobe = 2)
        .select($"left_id", $"right_id").as[(Long, Long)].collect().toSet
    assert(flag(batch1) === Set((0L, 1000L), (1L, 1001L), (2L, 1002L),
      (3L, 1003L), (4L, 1004L)))
    IvfCatalog.appendBatch(spark, tdir, batch1, 8, 31L)
    val store = IvfCatalog.assignedEmbeddings(spark, tdir, 8, 31L)
    assert(store.count() === 105)

    // increment 2 duplicates increment 1's vectors: only the stored index
    // can flag them — the fixture parquet was never touched, nothing was
    // re-assigned (the store only grew by the batch's 5 rows)
    val batch2 = Tables.embeddings(spark, tdir).filter($"vec_id" < 5)
      .select(($"vec_id" + 2000).as("vec_id"), $"embedding")
    val flagged = flag(batch2)
    assert(flagged.contains((1000L, 2000L)), s"append invisible to next increment: $flagged")
    assert((0 to 4).forall(i => flagged.contains((i.toLong, 2000L + i))))
    // appended rows landed inside the existing cell partitioning: every
    // stored row still carries a valid cell id from the SAME centroid set
    // (seeded centroid ids are corpus vec_ids, not 0..nlist-1)
    val validCells = cents.select("centroid_id").collect().map(_.getLong(0)).toSet
    val storedCells = store.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(storedCells.subsetOf(validCells),
      s"append created cells outside the index: ${storedCells -- validCells}")
  }

  test("trained chunk index: k-means centroids stored, pruned probe finds a known chunk") {
    val nlist = 12
    Seq(s"ivfchunksk$nlist", s"ivfchunkcentk$nlist").foreach(k =>
      spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(k, dir)}"))
    val store = IvfCatalog.assignedChunks(spark, dir, nlist, trained = true)
    assert(store.count() === ChunkCatalog.flatChunks(spark, dir).count())
    val cents = IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained = true)
    assert(cents.count() === nlist)
    // probe AT a stored chunk's embedding must retrieve that chunk: its cell
    // is by construction the query's nearest centroid
    val probe = store.filter(col("embedding").isNotNull)
      .orderBy(col("chunk_id").asc).limit(1)
      .select("chunk_id", "embedding").head
    val hits = Similarity.ivfSearchPruned(store, cents,
        probe.getSeq[Float](1).toArray, k = 5, nprobe = 1, idCol = "chunk_id")
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    assert(hits.contains(probe.getString(0)), s"trained probe missed its own chunk: $hits")
    // the trained tables are mode-suffixed — the seeded flagship fixtures
    // (no 'k') were never touched by this build
    assert(spark.catalog.tableExists(TableStore.tableName(s"ivfchunksk$nlist", dir)))
    Seq(s"ivfchunksk$nlist", s"ivfchunkcentk$nlist").foreach(k =>
      spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(k, dir)}"))
  }

  test("trained-store ingest: flag + append run against the k-means store end to end") {
    import spark.implicits._
    val tdir = "/tmp/graft_ivf_trained_ingest"
    Tables.embeddings(spark, dir).filter($"vec_id" < 100)
      .write.mode("overwrite").parquet(tdir + "/embeddings.parquet")
    Seq("ivfk8", "ivfcent_k8").foreach(k =>
      spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(k, tdir)}"))
    assert(IvfCatalog.assignedEmbeddings(spark, tdir, 8, 31L, trained = true).count() === 100)

    // batch: one exact dup of a stored vector (drop) + one negated (append)
    val batch = Tables.embeddings(spark, tdir).filter($"vec_id" === 7L)
      .select(lit(1007L).as("vec_id"), $"embedding")
      .union(Tables.embeddings(spark, tdir).filter($"vec_id" === 3L)
        .select(lit(1003L).as("vec_id"), transform($"embedding", x => -x).as("embedding")))
    val (dropped, appended) = streaming.StreamingIngest.ingestBatch(
      batch, tdir, 8, 31L, trained = true)
    assert((dropped, appended) === ((1L, 1L)))
    val store = IvfCatalog.assignedEmbeddings(spark, tdir, 8, 31L, trained = true)
    assert(store.count() === 101)
    assert(store.filter($"vec_id" === 1003L).count() === 1)
    assert(store.filter($"vec_id" === 1007L).count() === 0)
    Seq("ivfk8", "ivfcent_k8").foreach(k =>
      spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(k, tdir)}"))
  }

  test("appendChunks: a chunk increment is visible to the next flagship probe, centroids frozen") {
    import spark.implicits._
    // isolated nlist → isolated store/centroid tables; the shared flagship
    // fixtures (nlist 16) are never touched
    val nlist = 19
    spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(s"ivfchunks$nlist", dir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(s"ivfchunkcent$nlist", dir)}")
    val store0 = IvfCatalog.assignedChunks(spark, dir, nlist)
    val n0 = store0.count()
    assert(n0 > 0)
    val centsBefore = IvfCatalog.chunkCentroidsStored(spark, dir, nlist)
      .select("centroid_id").collect().map(_.getLong(0)).sorted.toSeq

    // the increment copies an existing chunk's embedding → lands in the
    // same cell, and a probe AT that embedding must retrieve it
    val base = store0.orderBy(col("chunk_id").asc).limit(1)
      .select("chunk_id", "document_id", "word_count", "embedding").head
    val baseId = base.getString(0)
    val baseEmb = base.getSeq[Float](3)
    val newId = "zzzz_appended_chunk"
    val increment = Seq((newId, base.getLong(1), 42, baseEmb))
      .toDF("chunk_id", "document_id", "word_count", "embedding")
    IvfCatalog.appendChunks(spark, dir, increment, nlist)

    val store1 = IvfCatalog.assignedChunks(spark, dir, nlist)
    assert(store1.count() === n0 + 1, "append not visible to the next store read")
    // identical embedding → identical cell (same frozen centroids assigned it)
    def cellOf(id: String): Long =
      store1.filter(col("chunk_id") === id).select("centroid_id").head.getLong(0)
    assert(cellOf(newId) === cellOf(baseId))
    // build-time centroids are immutable under append
    val centsAfter = IvfCatalog.chunkCentroidsStored(spark, dir, nlist)
      .select("centroid_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(centsAfter === centsBefore)
    // the flagship probe path (pruned scan over the store) sees the new chunk
    val hits = operators.Similarity.ivfSearchPruned(store1,
        IvfCatalog.chunkCentroidsStored(spark, dir, nlist),
        baseEmb.toArray, k = 5, nprobe = 2, idCol = "chunk_id")
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    assert(hits.contains(newId), s"probe missed the appended chunk: $hits")
    // leave a clean slate for re-runs in the same warehouse
    spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(s"ivfchunks$nlist", dir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(s"ivfchunkcent$nlist", dir)}")
  }

  test("batch probe ≡ a serial loop of single-query probes, integral and string ids") {
    import spark.implicits._
    // integral ids: the embeddings vector store
    val store = IvfCatalog.assignedEmbeddings(spark, dir, 16, 31L)
    val cents = IvfCatalog.centroidsFor(spark, dir, 16, 31L)
    val emb = Tables.embeddings(spark, dir)
    val qids = Seq(3L, 7L, 11L, 19L, 42L)
    val queries = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Similarity
      .ivfSearchPrunedBatch(store, cents, queries, k = 10, nprobe = 4)
      .select($"qid", $"vec_id", $"rank", round($"score", 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val want = qids.flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select("embedding").head.getSeq[Float](0).toArray
      Similarity.ivfSearchPruned(store, cents, qv, k = 10, nprobe = 4)
        .select($"vec_id", round($"score", 9).as("score"))
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1, r.getDouble(1)) }
    }.toSet
    assert(got === want, "batch must be row-for-row the serial probes")

    // FILTERED leg: a queue-wide metadata predicate composes into the one
    // shared scan, per-query rows ≡ serial filtered probes
    val gotF = Similarity
      .ivfSearchPrunedBatch(store, cents, queries, k = 10, nprobe = 4,
        preFilter = Some($"label" === 3))
      .select($"qid", $"vec_id", $"rank", round($"score", 9).as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val wantF = qids.flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select("embedding").head.getSeq[Float](0).toArray
      Similarity.ivfSearchPruned(store, cents, qv, k = 10, nprobe = 4,
          preFilter = Some($"label" === 3))
        .select($"vec_id", round($"score", 9).as("score"))
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1, r.getDouble(1)) }
    }.toSet
    assert(gotF === wantF, "filtered batch must be row-for-row the serial filtered probes")

    // string ids: the chunk store probes the same way
    val cstore = IvfCatalog.assignedChunks(spark, dir, 16)
    val ccents = IvfCatalog.chunkCentroidsStored(spark, dir, 16)
    val cq = cstore.orderBy($"chunk_id".asc).limit(3)
      .select($"chunk_id".as("qid"), $"embedding".as("qvec"))
    val gotS = Similarity.ivfSearchPrunedBatch(cstore, ccents, cq, k = 5,
        nprobe = 4, idCol = "chunk_id")
      .select($"qid", $"chunk_id", $"rank", round($"score", 9).as("score"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val wantS = cq.collect().flatMap { qr =>
      val qv = qr.getSeq[Float](1).toArray
      Similarity.ivfSearchPruned(cstore, ccents, qv, k = 5, nprobe = 4, idCol = "chunk_id")
        .select($"chunk_id", round($"score", 9).as("score"))
        .collect().zipWithIndex
        .map { case (r, i) => (qr.getString(0), r.getString(0), i + 1, r.getDouble(1)) }
    }.toSet
    assert(gotS === wantS)

    // a null query embedding fails loudly, never silently drops the query
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfSearchPrunedBatch(store, cents,
        Seq((99L, null: Seq[Float])).toDF("qid", "qvec"), k = 5, nprobe = 4)
    }
    assert(err.getMessage.contains("null"))
  }

  test("batch IVFADC probe ≡ a serial loop of ivfPqSearchPruned, payload attached") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val store = IvfCatalog.assignedEmbeddings(spark, dir, 16, 31L)
    val cents = IvfCatalog.centroidsFor(spark, dir, 16, 31L)
    val cb = Similarity.pqTrainSeeded(emb, m = 8, ksub = 16, step = 31L)
    val codes = IvfPqCatalog.encodedEmbeddings(spark, dir, cb, 16, 31L)
    val qids = Seq(3L, 7L, 19L)
    val queries = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Similarity.ivfPqSearchPrunedBatch(codes, store, cents, cb, queries,
        k = 10, nprobe = 4, payloadCols = Seq("label"))
      .select($"qid", $"vec_id", $"rank", round($"score", 9).as("score"), $"label")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.get(4)))
      .toSet
    val want = qids.flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid)
        .select("embedding").head.getSeq[Float](0).toArray
      Similarity.ivfPqSearchPruned(codes, store, cents, cb, qv, k = 10, nprobe = 4)
        .select($"vec_id", round($"score", 9).as("score"), $"label")
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1, r.getDouble(1), r.get(2)) }
    }.toSet
    assert(got === want, "batch IVFADC must be row-for-row the serial probes")
  }

  test("filtered-ANN auto-switch: measured crossover routes brute vs probe") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val store = IvfCatalog.assignedEmbeddings(spark, dir, 16, 31L)
    val cents = IvfCatalog.centroidsFor(spark, dir, 16, 31L)
    val qv = emb.filter($"vec_id" === 7L).select("embedding").head.getSeq[Float](0).toArray

    // the estimator at the MEASURED sweep geometry (SCALE.md: n=20k,
    // nlist=141, k=10): the 1% selectivity row (200 filtered rows,
    // nprobe=64 → ~90.8 expected survivors, recall only 0.72) must land
    // under the 10·k bar → brute; the 10% row (2000 rows → ~907.8,
    // "raise nprobe" still works) must stay over it → probe
    assert(Similarity.expectedProbedSurvivors(200L, 64, 141L) < 100.0)
    assert(Similarity.expectedProbedSurvivors(2000L, 64, 141L) >= 100.0)
    // nprobe clamps at nlist: the estimate can never exceed filteredRows
    assert(Similarity.expectedProbedSurvivors(50L, 500, 141L) === 50.0)

    // BRUTE leg: 10 of 500 rows survive the filter → 2.5 expected in the
    // probed cells, far under 10·k=100. The switch must return the EXACT
    // filtered top-k — here all 10 filtered rows — while the plain probe
    // provably misses some (the filter is uncorrelated with geometry)
    val selective = $"vec_id" % 50 === 7
    val auto = Similarity.ivfSearchFilteredAuto(store, cents, qv,
      k = 10, nprobe = 4, preFilter = selective)
    val exact = emb.filter(selective)
      .withColumn("score",
        (graft.functions.VectorFunctions.cosineSimilarity($"embedding",
          array(qv.map(lit(_)).toIndexedSeq: _*)) + 1.0) / 2.0)
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", round($"score", 9).as("s")).as[(Long, Double)].collect().toSet
    assert(rows(auto) === rows(exact), "brute leg must be the exact filtered top-k")
    assert(auto.count() === 10L)
    val probeOnly = Similarity.ivfSearchPruned(store, cents, qv, k = 10, nprobe = 4,
      preFilter = Some(selective))
    assert(probeOnly.count() < 10L,
      "fixture lost its point: the probe was supposed to miss filtered rows")

    // PROBE leg: label < 8 keeps ~78% of rows (expected ~97.75 survivors
    // >= 10·k=20 at k=2) → row-equal to the plain filtered probe
    val broad = $"label" < 8
    val autoP = Similarity.ivfSearchFilteredAuto(store, cents, qv,
      k = 2, nprobe = 4, preFilter = broad)
    val probe = Similarity.ivfSearchPruned(store, cents, qv, k = 2, nprobe = 4,
      preFilter = Some(broad))
    assert(rows(autoP) === rows(probe), "probe leg must be the plain filtered probe")

    // supplied cardinality skips the count and must route identically
    val autoSup = Similarity.ivfSearchFilteredAuto(store, cents, qv,
      k = 10, nprobe = 4, preFilter = selective, filteredRows = 10L)
    assert(rows(autoSup) === rows(exact))
  }

  test("filtered-ANN auto-switch, batch surface: one routing decision per queue, both legs row-equal") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val store = IvfCatalog.assignedEmbeddings(spark, dir, 16, 31L)
    val cents = IvfCatalog.centroidsFor(spark, dir, 16, 31L)
    val qids = Seq(3L, 7L, 11L)
    val queries = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"vec_id", $"rank", round($"score", 9).as("s"))
        .as[(Long, Long, Int, Double)].collect().toSet
    // BRUTE leg: the queue's per-query answers must equal the serial
    // auto-switch's brute results (which IvfCatalogSpec already pins exact)
    val selective = $"vec_id" % 50 === 7
    val autoB = Similarity.ivfSearchFilteredAutoBatch(store, cents, queries,
      k = 5, nprobe = 4, preFilter = selective)
    val wantB = qids.flatMap { qid =>
      val qv = emb.filter($"vec_id" === qid).select("embedding").head.getSeq[Float](0).toArray
      Similarity.ivfSearchFilteredAuto(store, cents, qv, k = 5, nprobe = 4,
          preFilter = selective)
        .select($"vec_id", round($"score", 9)).as[(Long, Double)].collect()
        .zipWithIndex.map { case ((id, sc), i) => (qid, id, i + 1, sc) }
    }.toSet
    assert(rows(autoB) === wantB, "batch brute leg must equal serial brute legs")
    // PROBE leg: broad filter routes the queue to the shared filtered probe
    val broad = $"label" < 8
    val autoP = Similarity.ivfSearchFilteredAutoBatch(store, cents, queries,
      k = 2, nprobe = 4, preFilter = broad)
    val probe = Similarity.ivfSearchPrunedBatch(store, cents, queries,
      k = 2, nprobe = 4, preFilter = Some(broad))
    assert(rows(autoP) === rows(probe), "batch probe leg must be the plain filtered batch probe")
  }

  test("recommendedServeBatch: opened-cell fraction stays under budget at the measured geometries") {
    // the decade geometry (nlist 7063, nprobe 110): batch-8 ≈ 12.5% of
    // cells was the robust measured point, batch-32 ≈ 40% inverted cold —
    // the default budget must land in between
    val qDecade = Similarity.recommendedServeBatch(7063L, 110)
    assert(qDecade >= 4 && qDecade < 32, s"got $qDecade")
    def openedFraction(nlist: Long, nprobe: Int, q: Int): Double =
      1.0 - math.pow(1.0 - nprobe.toDouble / nlist, q.toDouble)
    assert(openedFraction(7063L, 110, qDecade) <= 0.125 + 1e-9)
    assert(openedFraction(7063L, 110, qDecade + 1) > 0.125,
      "must return the LARGEST batch under the budget")
    // the ×1000 geometry (nlist 2233, nprobe 34): batch-32 measured 3-4×
    // cheaper per query — the recommendation must not forbid it
    assert(Similarity.recommendedServeBatch(2233L, 34, maxCellFraction = 0.5) >= 32)
    // degenerate: a probe already past the budget floors at 1
    assert(Similarity.recommendedServeBatch(16L, 4) === 1)
    assert(Similarity.recommendedServeBatch(16L, 64) === 1) // nprobe clamps
  }
}
