package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{Attribution, ChunkOps, Embedder, VectorSearch}

/** The reference's two batch pipelines as lazy DataFrame compositions
  * (SURVEY.md §3.2-3.3). The ZenML step DAG collapses into a single logical
  * plan per pipeline: Catalyst fuses the scalar steps into one codegen stage,
  * and the only materialization points are the final writes/actions.
  */
object Pipelines {

  val QualityThreshold = 0.5 // reference default, rag_pipeline.py:49

  /** ETL pipeline (etl_pipeline.py:185-232): combine → quality-score →
    * status-mark. Collection connectors (Notion/crawl) are out of engine
    * scope; input is an already-collected documents DataFrame. */
  def etlPipeline(docs: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  titleCol: Option[String] = None, urlCol: Option[String] = None): DataFrame = {
    val title = titleCol.map(col).getOrElse(lit(null).cast("string"))
    val url   = urlCol.map(col).getOrElse(lit(null).cast("string"))
    docs
      .withColumn("word_count", wordCount(col(textCol)))
      .withColumn("quality_score", qualityScore(col(textCol), title, url))
      .withColumn("processing_status",
        when(length(col(textCol)) === 0, "failed").otherwise("completed"))
      .withColumn("processed_at", current_timestamp())
  }

  /** Feature pipeline (rag_pipeline.py:190-236): fetch → quality-filter →
    * clean → chunk (C1 flat) → embed. Returns the chunks-with-embeddings
    * DataFrame (the reference's `chunks` collection). The embedding model
    * is the [[graft.operators.TextEmbedder]] seam: the default
    * HashingEmbedder keeps the codegen Column path (plans unchanged); any
    * other implementation (e.g. an ONNX MiniLM, or the shipped
    * RandomProjectionEmbedder) runs in the same pipeline as one narrow
    * batched mapPartitions stage — no operator changes. */
  def featurePipeline(docs: DataFrame, qualityThreshold: Double = QualityThreshold,
                      idCol: String = "doc_id", textCol: String = "text",
                      embedder: graft.operators.TextEmbedder =
                        graft.operators.HashingEmbedder): DataFrame = {
    val filtered = docs
      .withColumn("__q", qualityScore(col(textCol), lit(null).cast("string"), lit(null).cast("string")))
      .filter(col("__q").isNull || col("__q") >= qualityThreshold)
      .withColumn("__clean", cleanContent(col(textCol)))
    val chunks = ChunkOps.chunkFlat(
      filtered.select(col(idCol), col("__clean")), idCol, "__clean")
    Embedder.withEmbeddingsModel(chunks.toDF(), embedder, "content", "embedding")
  }

  /** S6/J2/T3: one document joined to its chunks in index order (the
    * reference's get_chunks_by_document + get_document_with_chunks). */
  def documentWithChunks(docs: DataFrame, chunks: DataFrame, docId: Long,
                         idCol: String = "doc_id"): DataFrame =
    docs.filter(col(idCol) === docId)
      .join(chunks, col(idCol) === col("document_id"))
      .orderBy(col("chunk_index").asc)

  /** J4/S12: remap chunk foreign keys after canonical ids are assigned —
    * the insert-time old→new id remap as a broadcast join (the id map is
    * small by construction). */
  def remapForeignKeys(chunks: DataFrame, idMap: DataFrame,
                       fkCol: String = "document_id",
                       oldCol: String = "old_id", newCol: String = "new_id"): DataFrame =
    chunks.join(broadcast(idMap), chunks(fkCol) === idMap(oldCol), "left")
      .withColumn(fkCol, coalesce(col(newCol), col(fkCol)))
      .drop(oldCol, newCol)

  /** S9: join-based upsert/merge — the reference's `update_one({_id},
    * {$set: updates})` (document_repository.py:176-208) as a derived-table
    * rewrite. Every column present in `updates` (besides the id) is $set on
    * matched rows; unmatched target rows pass through untouched; matched
    * rows get `updated_at` restamped (the reference stamps
    * `updates['updated_at'] = utcnow()` before the $set). With
    * `insertMissing` the unmatched update rows are appended (Mongo
    * upsert=True), carrying nulls for target-only columns.
    *
    * Scale shape: updates are the small side by construction (a batch of
    * edits vs the corpus) — EVERY join here is a broadcast of the small
    * side, on both paths; the corpus is scanned, never shuffled. The
    * `insertMissing` (Mongo upsert=True) path is deliberately NOT a
    * full-outer join: Spark cannot broadcast a full-outer build side (the
    * hint would be ignored with a HintErrorLogger warning and the plan
    * would fall back to a corpus-wide sort-merge shuffle). Instead it is
    * the broadcast-left $set pass, unioned with the unmatched update rows:
    * a broadcast LEFT SEMI over the corpus ids finds which update ids
    * already exist (corpus scan → at most |updates| rows out), and that
    * small result is broadcast into a LEFT ANTI against the updates batch.
    * Two corpus scans, zero corpus shuffles — at 100 TB a second scan is
    * noise next to one corpus shuffle. `stamp` is a parameter so tests and
    * oracles can pin a deterministic timestamp.
    *
    * Precondition: `updates` carries ONE row per id (the reference's
    * update_one applies one $set per _id). Duplicate ids would fan out each
    * matched target row through the join, so they are rejected up front —
    * there is no well-defined "last" update inside an unordered batch.
    * (This precondition is an EXTRA eager Spark job per call — a
    * deliberate cost: it only aggregates the small updates side, and it
    * turns a silent row-fanout corruption into an immediate error.) */
  def upsertDocuments(target: DataFrame, updates: DataFrame,
                      idCol: String = "doc_id",
                      stamp: Column = current_timestamp(),
                      insertMissing: Boolean = false): DataFrame = {
    val dup = updates.groupBy(col(idCol)).count().filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsertDocuments: duplicate $idCol ${dup.headOption.map(_.get(0)).orNull} in updates — " +
        "update_one semantics need one update row per id")
    val setCols = updates.columns.filterNot(_ == idCol).toSet
    val joined = target.alias("t").join(
      broadcast(updates.alias("u")),
      col(s"t.$idCol") === col(s"u.$idCol"), "left")
    val matched = col(s"u.$idCol").isNotNull
    val prevStamp =
      if (target.columns.contains("updated_at")) col("t.updated_at")
      else lit(null).cast("timestamp")
    val outCols = target.columns.filterNot(_ == "updated_at").map {
      case c if c == idCol          => col(s"t.$c").as(c)
      case c if setCols.contains(c) => when(matched, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)
      case c                        => col(s"t.$c").as(c)
    } :+ when(matched, stamp).otherwise(prevStamp).as("updated_at")
    val updatedTarget = joined.select(outCols.toIndexedSeq: _*)
    if (!insertMissing) updatedTarget
    else {
      val existingIds = target.select(col(idCol))
        .join(broadcast(updates.select(col(idCol))), Seq(idCol), "left_semi")
      val newRows = updates.alias("u")
        .join(broadcast(existingIds.alias("m")),
          col(s"u.$idCol") === col(s"m.$idCol"), "left_anti")
      val newCols = target.schema.fields.filterNot(_.name == "updated_at").map { f =>
        if (f.name == idCol) col(s"u.$idCol").cast(f.dataType).as(f.name)
        else if (setCols.contains(f.name)) col(s"u.${f.name}").cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ stamp.as("updated_at")
      updatedTarget.unionByName(newRows.select(newCols.toIndexedSeq: _*))
    }
  }

  /** S8: chunk sink — partitioned by document co-location, sorted by chunk
    * order inside each file (the parquet stand-in for the reference's
    * batched insert + document_id/chunk_index index). */
  def writeChunks(chunks: DataFrame, path: String, numPartitions: Int = 32): Unit =
    chunks.repartition(numPartitions, col("document_id"))
      .sortWithinPartitions(col("document_id"), col("chunk_index"))
      .write.mode("overwrite").parquet(path)

  /** S8 at catalog scale: bucketed chunk table — hash-bucketed by
    * document_id and sorted by chunk order, so chunk⋈chunk / doc⋈chunk
    * equi-joins on document_id read co-located buckets with NO shuffle
    * exchange on the bucketed side (the parquet stand-in for the
    * reference's document_id index; at 100 TB this erases the biggest join
    * shuffle in the retrieval path). */
  def writeBucketedChunks(chunks: DataFrame, tableName: String, buckets: Int = 32): Unit =
    // clusterWrite (IvfCatalog note): repartition on the bucket column with
    // numPartitions == buckets uses the same murmur3-pmod hash the bucketed
    // writer does, so each task holds exactly one bucket's rows and writes
    // ONE file per bucket instead of one per (task × bucket).
    // SCALE NOTE: this is the monolithic form — ONE shuffle of the full
    // text+embedding payload, whose map output ENOSPC'd the ×10000 decade
    // (~70 GB spill, SCALE.md round 15). Past the disk budget, use
    // [[writeBucketedChunksBatched]]: identical final layout, peak shuffle
    // footprint divided by `slices`.
    chunks.repartition(buckets, col("document_id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "document_id")
      .sortBy("document_id", "chunk_index")
      .format("parquet")
      .saveAsTable(tableName)

  /** [[writeBucketedChunks]] with a BOUNDED disk footprint — the scale fix
    * for the decade's ENOSPC. The corpus is bucketized in `slices` passes,
    * each its own Spark job shuffling only corpus/slices of payload.
    *
    * Layout-equivalence argument (BucketizeSpec pins it file-for-file):
    * Spark's bucket id is pmod(murmur3(document_id), buckets) — the same
    * hash `repartition(n, col)` and the `hash()` function use. With
    * `slices` dividing `buckets`, pass `s` filters on
    * pmod(hash(document_id), slices) = s, which selects exactly the rows
    * of buckets ≡ s (mod slices) — COMPLETE buckets, never a bucket split
    * across passes. Each pass repartitions its slice into `buckets` tasks
    * (only its buckets/slices tasks are non-empty) and appends one file
    * per owned bucket with the same sortBy, so the union of all passes is
    * row-for-row and file-layout-identical to the monolithic write, while
    * the per-job shuffle map output — the thing that filled the disk — is
    * corpus/slices. Shuffle files from a finished pass are unreferenced
    * and reclaimed by the ContextCleaner on the next GC; the explicit gc
    * hint between passes keeps the high-water mark at one slice even on
    * drivers that would otherwise not collect for the whole build.
    *
    * INPUT CONTRACT: `chunks` should be a MATERIALIZED table (a parquet
    * scan — the decade usage). Each pass re-evaluates the input plan to
    * filter its slice, so a derived input (e.g. the raw feature pipeline)
    * pays its full compute `slices` times; materialize it first, exactly
    * as the decade builds the flat chunk table before bucketizing. */
  def writeBucketedChunksBatched(chunks: DataFrame, tableName: String,
                                 buckets: Int = 32, slices: Int = 8): Unit = {
    require(slices >= 1 && buckets % slices == 0,
      s"slices ($slices) must divide buckets ($buckets) so each pass owns whole buckets")
    val spark = chunks.sparkSession
    (0 until slices).foreach { s =>
      val slice = chunks.filter(pmod(hash(col("document_id")), lit(slices)) === s)
        .repartition(buckets, col("document_id"))
        .write.mode(if (s == 0) "overwrite" else "append")
      slice.bucketBy(buckets, "document_id")
        .sortBy("document_id", "chunk_index")
        .format("parquet")
        .saveAsTable(tableName)
      if (s < slices - 1) System.gc() // release the finished pass's shuffle files
    }
    spark.catalog.refreshTable(tableName)
  }

  /** S11: timestamped JSON backup dump (etl_pipeline.py:155-182). */
  def writeJsonBackup(docs: DataFrame, path: String): Unit =
    docs.withColumn("backed_up_at", date_format(current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss"))
      .write.mode("overwrite").json(path)

  /** §7.3 flagship slice: feature pipeline + query-side embed + KNN +
    * attribution join. One operator from every major family. */
  def flagship(spark: SparkSession, dir: String, queryText: String = "spark join vector query",
               k: Int = 10): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    // retrieval reads the stored chunk table (built once per session at
    // quality threshold 0 — fixture prose tops out near quality 0.35)
    val chunks = graft.ChunkCatalog.flatChunks(spark, dir)
    val hits = VectorSearch.knn(
      chunks, VectorSearch.SearchRequest(Embedder.embedText(queryText), limit = k),
      embCol = "embedding", idCol = "chunk_id")
    Attribution.attachSources(hits, docs, "document_id", "doc_id", Seq("lang", "source"))
      .select(col("chunk_id"), col("document_id"), round(col("score"), 6).as("score"),
        col("lang"), col("source"), col("word_count"))
      .orderBy(col("score").desc, col("chunk_id").asc)
  }

  /** [[flagship]] with retrieval through the STORED IVF index
    * (graft.IvfCatalog.assignedChunks): the probe resolves nprobe centroid
    * ids driver-side and the chunk scan prunes to those partition
    * directories (PartitionFilters — asserted by PlanSpec), so the per-query
    * cost is nprobe/nlist of the store instead of a full corpus scan. Same
    * output schema and score normalization as the brute-force flagship;
    * recall is probe-bounded (a true neighbor in an unprobed cell is
    * missed), which is the documented IVF trade — the fixture overlap is
    * pinned by PipelineSpec, the digest by GoldenSpec. */
  def flagshipIvf(spark: SparkSession, dir: String,
                  queryText: String = "spark join vector query",
                  k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
                  trained: Boolean = false,
                  preFilter: Option[Column] = None): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    // ONE generation resolution spans the store + centroid reads: a probe
    // can never pair one generation's centroids with another's store, and
    // a lost race against a cutover fails with the retriable stale class
    // (callers under TableStore.retryingStale re-resolve and re-probe)
    val g = graft.TableStore.currentGen(spark, graft.IvfCatalog.chunkGroup(dir, nlist, trained))
    val store = graft.IvfCatalog.assignedChunks(spark, dir, nlist, trained, gen = g)
    val cents = graft.IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g)
    // `preFilter`: curation-aware serving — e.g. near_dup_of IS NULL keeps
    // ingest-flagged near-duplicates out of answers by a pushed predicate
    // on the same pruned scan, no store rewrite (filtered-ANN semantics,
    // Similarity.ivfSearchPruned)
    val hits = graft.operators.Similarity.ivfSearchPruned(store, cents, Embedder.embedText(queryText),
      k = k, nprobe = nprobe, idCol = "chunk_id", preFilter = preFilter)
    Attribution.attachSources(hits, docs, "document_id", "doc_id", Seq("lang", "source"))
      .select(col("chunk_id"), col("document_id"), round(col("score"), 6).as("score"),
        col("lang"), col("source"), col("word_count"))
      .orderBy(col("score").desc, col("chunk_id").asc)
  }

  /** [[flagshipIvf]] for a QUEUE of queries — the serving-throughput form.
    * Probe sets are ranked on the driver and one scan of the
    * union of probed cells answers all of them
    * ([[graft.operators.Similarity.ivfSearchPrunedBatch]] — per-query
    * results are row-for-row what serial [[flagshipIvf]] calls return,
    * pinned by PipelineSpec; what collapses is the Q× per-query
    * job/listing/scan-setup overhead, measured at ×1000 in SCALE.md
    * round-13). Output adds `query_text` in front of the flagship schema;
    * per-query ordering is (score desc, chunk_id asc), the flagship's. */
  def flagshipIvfBatch(spark: SparkSession, dir: String,
                       queryTexts: Seq[String],
                       k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
                       trained: Boolean = false,
                       preFilter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    require(queryTexts.nonEmpty, "flagshipIvfBatch needs at least one query text")
    require(queryTexts.distinct.size == queryTexts.size,
      "query texts are the result key — duplicates would be indistinguishable")
    val docs = graft.Tables.documents(spark, dir)
    val g = graft.TableStore.currentGen(spark, graft.IvfCatalog.chunkGroup(dir, nlist, trained))
    val store = graft.IvfCatalog.assignedChunks(spark, dir, nlist, trained, gen = g)
    val cents = graft.IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g)
    val queries = queryTexts.map(t => (t, Embedder.embedText(t).toSeq))
      .toDF("qid", "qvec")
    val hits = graft.operators.Similarity.ivfSearchPrunedBatch(store, cents,
      queries, k = k, nprobe = nprobe, idCol = "chunk_id",
      payloadCols = Seq("document_id", "word_count"), preFilter = preFilter)
    Attribution.attachSources(hits, docs, "document_id", "doc_id", Seq("lang", "source"))
      .select(col("qid").as("query_text"), col("chunk_id"), col("document_id"),
        round(col("score"), 6).as("score"), col("lang"), col("source"),
        col("word_count"))
      .orderBy(col("query_text").asc, col("score").desc, col("chunk_id").asc)
  }

  /** [[flagshipIvfPq]] for a QUEUE of queries — the measured-cheapest
    * serving configuration at ×1000 (SCALE.md round-13 batch matrix:
    * batched ADC 0.056 s/query vs raw-batch 0.064) made reachable from the
    * deployment shape. Probe sets are ranked on the driver,
    * one partition-pruned scan of the union of probed cells reads m-byte PQ
    * codes (each code row ADC-scored only against the queries that probed
    * its cell), per-query candidate top-k·rerank through the bounded heap,
    * ONE candidate-bounded raw read exact-rescoring the survivors
    * ([[graft.operators.Similarity.ivfPqSearchPrunedBatch]]), and one
    * broadcast attribution join. Per-query rows are row-for-row what serial
    * [[flagshipIvfPq]] calls return (PipelineSpec pins it); output schema
    * and ordering are [[flagshipIvfBatch]]'s. */
  def flagshipIvfPqBatch(spark: SparkSession, dir: String,
                         queryTexts: Seq[String],
                         k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
                         m: Int = 48, ksub: Int = 32, rerankFactor: Int = 16,
                         trained: Boolean = false): DataFrame = {
    import spark.implicits._
    require(queryTexts.nonEmpty, "flagshipIvfPqBatch needs at least one query text")
    require(queryTexts.distinct.size == queryTexts.size,
      "query texts are the result key — duplicates would be indistinguishable")
    val docs = graft.Tables.documents(spark, dir)
    val g = graft.TableStore.currentGen(spark, graft.IvfCatalog.chunkGroup(dir, nlist, trained))
    val store = graft.IvfCatalog.assignedChunks(spark, dir, nlist, trained, gen = g)
    val cents = graft.IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g)
    val cb = graft.IvfPqCatalog.chunkCodebookStored(spark, dir, m, ksub, trained)
    val codes = graft.IvfPqCatalog.encodedChunks(spark, dir, nlist, m, ksub, trained, gen = g)
    val queries = queryTexts.map(t => (t, Embedder.embedText(t).toSeq))
      .toDF("qid", "qvec")
    val hits = graft.operators.Similarity.ivfPqSearchPrunedBatch(codes, store,
      cents, cb, queries, k = k, nprobe = nprobe, rerankFactor = rerankFactor,
      idCol = "chunk_id", payloadCols = Seq("document_id", "word_count"))
    Attribution.attachSources(hits, docs, "document_id", "doc_id", Seq("lang", "source"))
      .select(col("qid").as("query_text"), col("chunk_id"), col("document_id"),
        round(col("score"), 6).as("score"), col("lang"), col("source"),
        col("word_count"))
      .orderBy(col("query_text").asc, col("score").desc, col("chunk_id").asc)
  }

  /** [[flagshipIvf]] with the probe's BYTES compressed too — IVFADC over
    * the stored chunk index (graft.IvfPqCatalog): the same nprobe/nlist
    * partition pruning, but the surviving cells are scanned as m-byte PQ
    * codes (32× fewer bytes than the raw 384-float32 embeddings), and only
    * the top k·rerankFactor ADC candidates touch the raw vectors — a
    * pruned read of the SAME cells, exact-rescored with the codegen
    * cosine, so emitted scores are bit-identical to [[flagshipIvf]]'s for
    * any candidate both would rank. At 100 TB this is the serving-path
    * form: probe cost = (1/nlist of the files) × (1/32 of the ADC scan
    * arithmetic; on-disk bytes measured 4.5× smaller at ×1000 — parquet
    * already compresses the raw floats and the id strings dominate code
    * rows, SCALE.md round-12) + a candidate-bounded raw read. Recall is
    * probe- AND candidate-bounded (the documented IVFADC trade);
    * `rerankFactor = 16` is the measured serving default — it saturates
    * the coverage ceiling at every probed-cell budget for free (the ADC
    * grid row, SCALE.md round-12). Fixture overlap vs the brute flagship
    * is pinned by PipelineSpec, the digest by GoldenSpec. */
  def flagshipIvfPq(spark: SparkSession, dir: String,
                    queryText: String = "spark join vector query",
                    k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
                    m: Int = 48, ksub: Int = 32, rerankFactor: Int = 16,
                    trained: Boolean = false): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val g = graft.TableStore.currentGen(spark, graft.IvfCatalog.chunkGroup(dir, nlist, trained))
    val store = graft.IvfCatalog.assignedChunks(spark, dir, nlist, trained, gen = g)
    val cents = graft.IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g)
    val cb = graft.IvfPqCatalog.chunkCodebookStored(spark, dir, m, ksub, trained)
    val codes = graft.IvfPqCatalog.encodedChunks(spark, dir, nlist, m, ksub, trained, gen = g)
    val hits = graft.operators.Similarity.ivfPqSearchPruned(codes, store, cents, cb,
      Embedder.embedText(queryText), k = k, nprobe = nprobe,
      rerankFactor = rerankFactor, idCol = "chunk_id")
    Attribution.attachSources(hits, docs, "document_id", "doc_id", Seq("lang", "source"))
      .select(col("chunk_id"), col("document_id"), round(col("score"), 6).as("score"),
        col("lang"), col("source"), col("word_count"))
      .orderBy(col("score").desc, col("chunk_id").asc)
  }
}
