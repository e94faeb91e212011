package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Similarity

/** Materialized IVFADC index (SCALE.md): PQ codes + exact norms with the
  * nearest-centroid assignment, WRITTEN `partitionBy(centroid_id)` — the
  * storage form [[graft.operators.Similarity.ivfPqSearch]]'s scaladoc
  * promises. A probe prunes whole partition directories at the scan AND
  * reads m-byte codes instead of float32 vectors inside the surviving
  * cells: nprobe/nlist of the files × 1/32 of the bytes, computed once per
  * corpus at index-build time, not per query.
  */
object IvfPqCatalog {

  /** Catalog table name of the vector code table for (centroids, step,
    * mode) and a given codebook — the codebook fingerprint is part of the
    * identity (not just its shape): a differently-trained codebook must
    * never reuse a stale table. `trained` marks the CELL-assignment mode
    * (IvfCatalog's ivfk naming convention), which must match the raw
    * store's or probes prune different partitions on the two sides. */
  def vecCodesName(dir: String, centroids: Int, step: Long,
                   cb: Similarity.PqCodebook, trained: Boolean = false): String = {
    val mode = if (trained) "k" else ""
    TableStore.tableName(
      s"ivfpq$mode${centroids}_${step}_m${cb.m}k${cb.ksub}_${cb.fingerprint}", dir)
  }

  /** PQ-encoded embeddings with centroid_id, stored partitioned by
    * centroid_id. Built once per (session, dir); later calls are a
    * pruned-scan-able read of the code table. Assignment reads the FROZEN
    * [[IvfCatalog.centroidsFor]] table — never a live re-derive — so the
    * code table's cells are identical to the raw store's by construction,
    * even against a corpus that has grown since the store was built. */
  def encodedEmbeddings(spark: SparkSession, dir: String, cb: Similarity.PqCodebook,
                        centroids: Int, step: Long,
                        trained: Boolean = false): DataFrame = {
    val name = vecCodesName(dir, centroids, step, cb, trained)
    TableStore.getOrBuild(spark, name) {
      val emb = Tables.embeddings(spark, dir)
      val cents = IvfCatalog.centroidsFor(spark, dir, centroids, step, trained)
      Similarity.pqEncode(emb, cb)
        .join(Similarity.ivfAssign(emb, cents).select("vec_id", "centroid_id"), "vec_id")
        .repartition(col("centroid_id")) // one file per cell (IvfCatalog clusterWrite note)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .format("parquet")
        .saveAsTable(name)
    }
  }

  /** Append vector increments into the stored code table — [[appendChunkCodes]]'s
    * vector-store twin, completing the N28 ingest loop for a store that is
    * ALSO served compressed: survivors are encoded with the caller's frozen
    * codebook and assigned with the store's frozen centroids, landing in
    * the matching cells. Idempotent by a pruned identity anti-join, same
    * crash-convergence contract as the chunk side. `newVecs` carries
    * (vec_id, embedding). */
  def appendVecCodes(spark: SparkSession, dir: String, newVecs: DataFrame,
                     cb: Similarity.PqCodebook, centroids: Int, step: Long,
                     trained: Boolean = false): Unit = {
    val name = vecCodesName(dir, centroids, step, cb, trained)
    require(spark.catalog.tableExists(name),
      s"stored IVFADC code table for '$dir' not built — encodedEmbeddings first")
    val assigned = Similarity.ivfAssign(
        newVecs.select(col("vec_id"), col("embedding")),
        IvfCatalog.centroidsFor(spark, dir, centroids, step, trained))
      .cache()
    val cells = assigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    spark.catalog.refreshTable(name)
    val existing = spark.table(name)
      .filter(col("centroid_id").isin(cells: _*))
      .select(col("vec_id"))
    val fresh = assigned.join(existing, Seq("vec_id"), "left_anti")
    val codes = Similarity.pqEncode(fresh, cb)
      .join(fresh.select("vec_id", "centroid_id"), "vec_id")
    val aligned = spark.table(name).schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    codes.select(aligned.toIndexedSeq: _*)
      .repartition(col("centroid_id")) // one file per touched cell per batch
      .write.mode("append").insertInto(name)
    assigned.unpersist()
    spark.catalog.refreshTable(name)
  }

  // ------------------------------------------------ flagship chunk IVFADC

  /** The CHUNK corpus's PQ codebook FROZEN as a table at index build —
    * same contract as [[IvfCatalog.chunkCentroidsStored]]: the code table
    * is only meaningful against the exact codebook that encoded it, so
    * probes read these centroids back, never re-derive them from a corpus
    * that may have grown. Seeded mode is the hash-ordered deterministic
    * sample ([[Similarity.pqTrainHashSeeded]] — chunk ids are md5 strings);
    * `trained = true` swaps in per-subspace k-means
    * ([[Similarity.pqTrainKmeans]]). m × ksub rows — index metadata, tiny
    * by construction, read back driver-side like the centroid tables: once
    * per listed file set of the stored table ([[IndexMeta]]), so repeated
    * calls run no Spark job until the table is rewritten or
    * [[Caches.release]] empties the memo. */
  def chunkCodebookStored(spark: SparkSession, dir: String, m: Int, ksub: Int,
                          trained: Boolean = false): Similarity.PqCodebook = {
    val suffix = if (trained) s"k_m${m}k$ksub" else s"_m${m}k$ksub"
    val name = TableStore.tableName(s"ivfpqcb$suffix", dir)
    val tbl = TableStore.getOrBuild(spark, name) {
      val cb =
        if (trained) Similarity.pqTrainKmeans(ChunkCatalog.flatChunks(spark, dir), m, ksub)
        else Similarity.pqTrainHashSeeded(ChunkCatalog.flatChunks(spark, dir), m, ksub,
          idCol = "chunk_id")
      import spark.implicits._
      (for { j <- 0 until cb.m; c <- 0 until cb.ksub }
        yield (j, c, cb.centroids(j)(c).toSeq))
        .toDF("subspace", "centroid_idx", "centroid_vec")
        .select(col("subspace"), col("centroid_idx"),
          col("centroid_vec").cast("array<float>").as("centroid_vec"))
        // ONE file: m×ksub rows of index metadata — a local DataFrame
        // otherwise writes default-parallelism part files (32 on the bench
        // host), and every codebook read then runs a
        // 32-task job over 32 tiny files (measured: 2 stages × 32 tasks in
        // every flagship IVFADC invocation's profile)
        .coalesce(1)
        .write.mode("overwrite").format("parquet").saveAsTable(name)
    }
    IndexMeta.read(tbl, "pq-codebook") { d =>
      val rows = d.select("subspace", "centroid_idx", "centroid_vec").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray)).toMap
      val mStored = rows.keys.map(_._1).max + 1
      val ksubStored = rows.keys.map(_._2).max + 1
      Similarity.PqCodebook(mStored, rows.head._2.length,
        Array.tabulate(mStored)(j => Array.tabulate(ksubStored)(c => rows((j, c)))))
    }
  }

  /** Catalog table name of the chunk code table for (nlist, m, ksub, mode)
    * and a given codebook — public so maintenance (Compaction, the
    * doc-ingest loop) can address the code store directly. The codebook
    * FINGERPRINT is part of the name: a retrained codebook can never
    * silently reuse stale codes. */
  def chunkCodesName(dir: String, nlist: Int, m: Int, ksub: Int,
                     trained: Boolean, cb: Similarity.PqCodebook): String = {
    val mode = if (trained) "k" else ""
    TableStore.tableName(s"ivfpqchunks$mode${nlist}_m${m}k${ksub}_${cb.fingerprint}", dir)
  }

  /** [[chunkCodesName]] resolved through the STORED codebook — the form
    * callers that don't already hold the codebook use (the ingest loop's
    * compaction cadence). */
  def chunkCodesTableName(spark: SparkSession, dir: String, nlist: Int,
                          m: Int, ksub: Int, trained: Boolean = false): String =
    chunkCodesName(dir, nlist, m, ksub, trained,
      chunkCodebookStored(spark, dir, m, ksub, trained))

  /** The flagship chunk store as a materialized IVFADC index: the SAME
    * cell assignment as [[IvfCatalog.assignedChunks]] (one shared centroid
    * table governs both, so a probe prunes identical partitions on the
    * code side and the raw side), but each surviving cell is scanned as
    * m-byte PQ codes + one norm instead of 384 float32s — at 100 TB the
    * probe's dominant bytes drop 32×, and only the top k·rerank candidates
    * touch the raw vectors (a pruned read of the same cells, joined by
    * chunk_id). Keyed on the codebook fingerprint: a retrained codebook
    * can never silently reuse stale codes. */
  def encodedChunks(spark: SparkSession, dir: String, nlist: Int,
                    m: Int, ksub: Int, trained: Boolean = false,
                    gen: Long = -1L): DataFrame = {
    val cb = chunkCodebookStored(spark, dir, m, ksub, trained)
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, gen)
    TableStore.getOrBuildGen(spark, IvfCatalog.chunkGroup(dir, nlist, trained),
        chunkCodesName(dir, nlist, m, ksub, trained, cb), g,
        derivedFromGen = true,
        inputs = Seq(TableStore.physGen(
          IvfCatalog.chunkStoreName(dir, nlist, trained), g))) { name =>
      val store = IvfCatalog.assignedChunks(spark, dir, nlist, trained, gen = g)
      Similarity.pqEncode(store, cb, idCol = "chunk_id", embCol = "embedding")
        .join(store.select("chunk_id", "centroid_id"), "chunk_id")
        .repartition(col("centroid_id")) // one file per cell (clusterWrite)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .format("parquet")
        .saveAsTable(name)
    }
  }

  /** Append chunk increments into the stored IVFADC code table — the code
    * side of [[IvfCatalog.appendChunks]], so the compressed serving index
    * participates in the same continuous-ingest story as the raw store:
    * without it every appended chunk is visible to the raw-IVF probe but
    * INVISIBLE to the IVFADC probe until a full code rebuild. New chunks
    * are encoded with the FROZEN stored codebook
    * ([[chunkCodebookStored]] — the code table is only meaningful against
    * the exact codebook that encoded it) and assigned with the build-time
    * centroids, landing in the matching `centroid_id` partition
    * directories; cost scales with the batch, never the corpus.
    *
    * IDEMPOTENT by the same pruned identity check the doc-ingest loop runs
    * on the raw store: a chunk id already coded is skipped (the anti-join
    * reads only the batch's own cell partitions), so the ingest loop can
    * append codes BEFORE the raw rows and a replay after a crash between
    * the two appends converges — both tables dedup by id, neither side is
    * ever coded twice or left permanently stale.
    * `newChunks` carries (chunk_id, embedding). */
  def appendChunkCodes(spark: SparkSession, dir: String, newChunks: DataFrame,
                       nlist: Int, m: Int, ksub: Int,
                       trained: Boolean = false, gen: Long = -1L): Unit =
    // same gate as IvfCatalog.appendChunks (reentrant when the docs loop
    // already holds it): codes must land in the generation whose centroids
    // assigned them, and never mid-flip
    CutoverGate.entered(IvfCatalog.chunkGroup(dir, nlist, trained)) {
    val cb = chunkCodebookStored(spark, dir, m, ksub, trained)
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, gen)
    val name = TableStore.physGen(chunkCodesName(dir, nlist, m, ksub, trained, cb), g)
    require(spark.catalog.tableExists(name),
      s"stored IVFADC code table for '$dir' not built — encodedChunks first")
    val assigned = Similarity.ivfAssign(
        newChunks.select(col("chunk_id"), col("embedding")),
        IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g),
        idCol = "chunk_id")
      .cache()
    val cells = assigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq // ≤ nlist by construction
    spark.catalog.refreshTable(name) // see the latest appends (clone session)
    val existing = spark.table(name)
      .filter(col("centroid_id").isin(cells: _*)) // partition-pruned scan
      .select(col("chunk_id"))
    val fresh = assigned.join(existing, Seq("chunk_id"), "left_anti")
    val codes = Similarity.pqEncode(fresh, cb, idCol = "chunk_id", embCol = "embedding")
      .join(fresh.select("chunk_id", "centroid_id"), "chunk_id")
    // insertInto is position-based; align to the table's column order
    // (partition column last), as IvfCatalog.appendChunks does
    val aligned = spark.table(name).schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
    codes.select(aligned.toIndexedSeq: _*)
      .repartition(col("centroid_id")) // one file per touched cell per batch
      .write.mode("append").insertInto(name)
    assigned.unpersist()
    spark.catalog.refreshTable(name)
    }
}
