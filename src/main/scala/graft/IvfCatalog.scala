package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Similarity

/** Materialized IVF index (SCALE.md / Similarity scaladoc): the corpus with
  * its nearest-centroid assignment, WRITTEN `partitionBy(centroid_id)` so a
  * probe prunes whole partition directories at the scan — the assignment is
  * a write-time partition key, computed once per corpus, not a per-query
  * corpus pass. At 100 TB this is the difference between a probe reading
  * nprobe/nlist of the files and a probe re-scoring everything.
  *
  * Two build modes share one layout: `trained = false` uses the seeded
  * deterministic centroid sample (SQL-oracle-replayable — the correctness
  * gate's mode), `trained = true` uses MLlib k-means centroids (the
  * production mode: measurably better recall at fixed nprobe, SCALE.md
  * recall table). Trained centroids are THEMSELVES stored — the index is
  * only meaningful against the exact centroids that assigned it, so probes
  * and appends must read them back, never re-train.
  *
  * Build writes `repartition(centroid_id)` first (the "clusterWrite" shape):
  * without it every one of the assignment job's tasks writes a file into
  * every cell it touches — task × cell files, measured 4,545 files for a
  * 141-cell ×10 store, ~71k for the ×1000 chunk index — and probe cost
  * starts degrading with file count instead of data. Clustering by the
  * partition key first means each cell is written by exactly one task: one
  * right-sized file per cell, and the write itself gets cheaper (file-open
  * overhead dominates small-file writes). A cell too big for one task's
  * file splits via `spark.sql.files.maxRecordsPerFile` on a cluster;
  * streaming appends still fragment over time, which [[Compaction]] owns.
  */
object IvfCatalog {

  /** Catalog table name of the vector store for (centroids, step, mode) —
    * public so maintenance (Compaction) can address the store directly. */
  def vectorStoreName(dir: String, centroids: Int, step: Long,
                      trained: Boolean = false): String =
    TableStore.tableName(if (trained) s"ivfk$centroids" else s"ivf${centroids}_$step", dir)

  /** Catalog table name of the chunk store for (centroids, mode). */
  def chunkStoreName(dir: String, centroids: Int, trained: Boolean = false): String =
    TableStore.tableName(if (trained) s"ivfchunksk$centroids" else s"ivfchunks$centroids", dir)

  /** Generation-pointer group key for the chunk index family of
    * (dir, centroids, mode) — store, centroids, doc→cells and code tables
    * flip TOGETHER under one pointer ([[TableStore.currentGen]]), so a
    * probe that resolves the pointer once can never pair one generation's
    * centroids with another's store. */
  def chunkGroup(dir: String, centroids: Int, trained: Boolean = false): String =
    chunkStoreName(dir, centroids, trained)

  /** Resolve the chunk-index generation: `gen >= 0` is a caller's already-
    * resolved nonce (one resolution spans every accessor the caller
    * bundles); `-1` reads the pointer now. */
  private[graft] def resolveChunkGen(spark: SparkSession, dir: String,
                                     centroids: Int, trained: Boolean,
                                     gen: Long): Long =
    if (gen >= 0L) gen
    else TableStore.currentGen(spark, chunkGroup(dir, centroids, trained))

  private def storeName(centroids: Int, step: Long, trained: Boolean, dir: String) =
    vectorStoreName(dir, centroids, step, trained)

  /** The centroids a store named by (centroids, step, trained) probes
    * against — FROZEN as a table at first use in BOTH modes. The index is
    * only meaningful against the exact centroids that assigned it, so the
    * seeded sample is materialized at build exactly like the trained
    * k-means table: against an immutable fixture the stored values equal a
    * recompute (the sample is deterministic), but against a GROWING corpus
    * a recompute would drift from the stored assignment and silently prune
    * the wrong partitions — freezing makes every probe/append path safe by
    * construction, not by fixture accident. Rebuilding against a CHANGED
    * corpus means dropping the store AND its centroid table (specs that
    * rewrite fixtures do exactly that). */
  def centroidsFor(spark: SparkSession, dir: String,
                   centroids: Int, step: Long, trained: Boolean = false): DataFrame = {
    val name = TableStore.tableName(
      if (trained) s"ivfcent_k$centroids" else s"ivfcent_s${centroids}_$step", dir)
    TableStore.getOrBuild(spark, name) {
      (if (trained) Similarity.kmeansCentroids(Tables.embeddings(spark, dir), centroids)
       else Similarity.seededCentroids(Tables.embeddings(spark, dir), centroids, step))
        .write.mode("overwrite").format("parquet").saveAsTable(name)
    }
  }

  /** Drop the store AND its frozen centroid table for (dir, centroids,
    * step, mode) — the rebuild path when the underlying corpus fixture is
    * REPLACED (not appended to): next access re-derives both from the
    * current corpus. */
  def dropVectorStore(spark: SparkSession, dir: String,
                      centroids: Int, step: Long, trained: Boolean = false): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${vectorStoreName(dir, centroids, step, trained)}")
    val cname = TableStore.tableName(
      if (trained) s"ivfcent_k$centroids" else s"ivfcent_s${centroids}_$step", dir)
    spark.sql(s"DROP TABLE IF EXISTS $cname")
  }

  /** Embeddings fixture with centroid_id, stored partitioned by centroid_id.
    * Built once per (session, dir, mode); later calls are a
    * pruned-scan-able read. */
  def assignedEmbeddings(spark: SparkSession, dir: String,
                         centroids: Int, step: Long,
                         trained: Boolean = false): DataFrame = {
    val name = storeName(centroids, step, trained, dir)
    TableStore.getOrBuild(spark, name) {
      Similarity.ivfAssign(Tables.embeddings(spark, dir),
          centroidsFor(spark, dir, centroids, step, trained))
        .repartition(col("centroid_id")) // see clusterWrite note below
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .format("parquet")
        .saveAsTable(name)
    }
  }

  /** Centroids for the CHUNK-store IVF index ([[assignedChunks]]): chunk ids
    * are md5 strings, not dense longs, so the sample is hash-ordered
    * ([[Similarity.hashSeededCentroids]]) rather than id-modular — computed
    * from the chunk table as it stands at INDEX BUILD time. */
  def chunkCentroids(spark: SparkSession, dir: String, centroids: Int): DataFrame =
    Similarity.hashSeededCentroids(ChunkCatalog.flatChunks(spark, dir),
      centroids, idCol = "chunk_id", embCol = "embedding")

  /** Catalog table name of the frozen chunk-store centroid table — public
    * so the blue/green reindex ([[Reindex]]) can stage/rename it. */
  def chunkCentroidsName(dir: String, centroids: Int, trained: Boolean = false): String = {
    val suffix = if (trained) s"k$centroids" else s"$centroids"
    TableStore.tableName(s"ivfchunkcent$suffix", dir)
  }

  /** The chunk-store centroids FROZEN as a table at index build. The index
    * is only meaningful against the exact centroids that assigned it (same
    * contract as the trained vector store): once [[appendChunks]] can grow
    * the corpus past the build-time snapshot, a probe that re-derived
    * centroids from the LIVE chunk table would drift from the stored
    * assignment and prune the wrong partitions. Probes and appends read
    * these back; they never recompute.
    *
    * `trained = true` runs bounded-sample k-means over the chunk embeddings
    * (the vector store's production mode, same recall argument) instead of
    * the hash-ordered sample; the registered `pipe_flagship_ivf` stays on
    * the seeded mode, whose golden pin is replayable without MLlib.
    *
    * The returned frame is a bare catalog table, so the probes, assignment
    * and celled kernels that take it read its rows into driver arrays once
    * per listed file set ([[IndexMeta]]); a rewrite, rebuild or generation
    * flip is re-read, and [[Caches.release]] empties the memo. */
  def chunkCentroidsStored(spark: SparkSession, dir: String, centroids: Int,
                           trained: Boolean = false, gen: Long = -1L): DataFrame = {
    val g = resolveChunkGen(spark, dir, centroids, trained, gen)
    TableStore.getOrBuildGen(spark, chunkGroup(dir, centroids, trained),
        chunkCentroidsName(dir, centroids, trained), g) { name =>
      (if (trained)
         Similarity.kmeansCentroids(ChunkCatalog.flatChunks(spark, dir), centroids)
       else chunkCentroids(spark, dir, centroids))
        .write.mode("overwrite").format("parquet").saveAsTable(name)
    }
  }

  /** The RETRIEVAL corpus (chunk store) as a materialized IVF index: the
    * flagship's search side laid out `partitionBy(centroid_id)`, so the
    * flagship query probes nprobe/nlist of the files instead of brute-force
    * scanning every stored chunk per query (SCALE.md: 5M chunks at ×1000).
    * Lean payload — exactly the columns the retrieval path carries
    * (chunk_id, document_id, word_count, embedding); everything else joins
    * back from the bucketed chunk table by chunk_id when needed. */
  def assignedChunks(spark: SparkSession, dir: String, centroids: Int,
                     trained: Boolean = false, gen: Long = -1L): DataFrame = {
    val g = resolveChunkGen(spark, dir, centroids, trained, gen)
    TableStore.getOrBuildGen(spark, chunkGroup(dir, centroids, trained),
        chunkStoreName(dir, centroids, trained), g) { name =>
      // near_dup_of: materialized curation signal — null for the base
      // corpus; the doc-ingest loop stamps it on appended chunks that
      // near-dup a stored (or batch-mate) chunk, so admission policy
      // upstream can read the flag without re-running the kernel
      val chunks = ChunkCatalog.flatChunks(spark, dir)
        .select(col("chunk_id"), col("document_id"), col("word_count"), col("embedding"))
        .withColumn("near_dup_of", org.apache.spark.sql.functions.lit(null).cast("string"))
      Similarity.ivfAssign(chunks, chunkCentroidsStored(spark, dir, centroids, trained, gen = g),
          idCol = "chunk_id")
        .repartition(col("centroid_id")) // see clusterWrite note below
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .format("parquet")
        .saveAsTable(name)
    }
  }

  /** Append chunk increments into the flagship's stored IVF index — the
    * chunk-store twin of [[appendBatch]], so the retrieval index
    * participates in the same continuous-ingest story as the vector store:
    * new chunks are assigned with the BUILD-TIME centroids
    * ([[chunkCentroidsStored]]) and land in the matching `centroid_id`
    * partition directories; the next `pipe_flagship_ivf` probe sees them
    * without any store rewrite (visibility via TableStore's reader-side
    * refresh). `newChunks` carries (chunk_id, document_id, word_count,
    * embedding) — the store's lean retrieval payload. */
  def appendChunks(spark: SparkSession, dir: String, newChunks: DataFrame,
                   centroids: Int, trained: Boolean = false): Unit =
    // the gate spans resolution + both appends: a generation cutover can
    // never flip between this append's centroid assignment and its rows
    // landing (a flip mid-append would strand the rows in a generation
    // about to be dropped); parked appends resume post-flip, re-resolve,
    // and land in the new generation
    CutoverGate.entered(chunkGroup(dir, centroids, trained)) {
    val g = resolveChunkGen(spark, dir, centroids, trained, -1L)
    val name = TableStore.physGen(chunkStoreName(dir, centroids, trained), g)
    require(spark.catalog.tableExists(name),
      s"stored chunk IVF index for '$dir' not built — assignedChunks first")
    val assigned = Similarity.ivfAssign(newChunks,
      chunkCentroidsStored(spark, dir, centroids, trained, gen = g), idCol = "chunk_id")
    // materialize the (doc, cell) pairs BEFORE the append: ingest-loop
    // batches derive from an anti-join against THIS store, and the append's
    // refreshTable invalidates that lineage — a post-append re-evaluation
    // would see its own rows in the store and produce ZERO pairs, silently
    // violating the index's never-miss-a-cell contract
    val docPairs =
      if (spark.catalog.tableExists(TableStore.physGen(
            DocLifecycle.docCellsName(dir, centroids, trained), g)))
        Some(assigned.select(col("document_id"), col("centroid_id"))
          .distinct().localCheckpoint(true))
      else None
    // the index's pairs land BEFORE the rows themselves (DocLifecycle's
    // superset contract: over-listing a cell costs one pruned false-positive
    // read, MISSING one serves stale rows forever) — a crash between the two
    // appends leaves only tolerated false positives, and the row append is
    // what a checkpoint replay retries (replayed chunks dedup away upstream,
    // so a pairs-after ordering would never re-offer the lost pairs).
    // MaintenanceLock spans pairs + rows so a concurrent compactDocCells
    // swap can never observe pairs whose rows are still in flight: by the
    // time the swap's late-pair merge runs, this batch is either entirely
    // invisible (merge keeps nothing, rebuild is pre-batch — but the pairs
    // append hasn't happened either) or entirely committed (merge sees live
    // rows for the late pairs and preserves them).
    def doAppend(): Unit = {
      docPairs.foreach(p =>
        DocLifecycle.appendDocCells(spark, dir, centroids, trained, p, gen = g))
      val aligned = spark.table(name).schema.fields.map { f =>
        if (assigned.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      }
      assigned.select(aligned.toIndexedSeq: _*)
        .repartition(col("centroid_id")) // one file per touched cell per batch
        .write.mode("append").insertInto(name)
      spark.catalog.refreshTable(name)
    }
    if (docPairs.isDefined)
      MaintenanceLock(DocLifecycle.docCellsName(dir, centroids, trained))(doAppend())
    else doAppend()
    }

  /** Append one ingest batch to the stored index — the write half of the
    * incremental celled loop, completing the story
    * [[BandCatalog.appendBatch]] tells for text: after
    * [[graft.operators.Dedup.embeddingPairsCelledIncremental]] flags a
    * batch against the store, the batch's rows are assigned to their cells
    * with the SAME centroids that built the index and appended into the
    * matching partition directories, so the NEXT increment sees them — no
    * corpus re-assignment, no store rewrite; cost scales with the batch.
    * The store must already exist: appending presumes an index. */
  def appendBatch(spark: SparkSession, dir: String, newVecs: DataFrame,
                  centroids: Int, step: Long, trained: Boolean = false): Unit = {
    val name = storeName(centroids, step, trained, dir)
    require(spark.catalog.tableExists(name),
      s"stored IVF index for '$dir' not built — assignedEmbeddings first")
    val assigned = Similarity.ivfAssign(newVecs,
      centroidsFor(spark, dir, centroids, step, trained))
    // insertInto is position-based; align to the table's column order
    // (partition column last in a partitioned parquet table), null-filling
    // store columns the batch doesn't carry (pass-through metadata)
    val aligned = spark.table(name).schema.fields.map { f =>
      if (assigned.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }
    assigned.select(aligned.toIndexedSeq: _*)
      .repartition(col("centroid_id")) // one file per touched cell per batch
      .write.mode("append").insertInto(name)
    // make the append visible to THIS session's later reads immediately;
    // other sessions pick it up via TableStore.getOrBuild's reader-side
    // refresh (see TableStore scaladoc — foreachBatch writes from a clone)
    spark.catalog.refreshTable(name)
  }
}
