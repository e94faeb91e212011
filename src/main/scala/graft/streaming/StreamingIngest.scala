package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Compaction, DocLifecycle, IvfCatalog}
import graft.operators.Dedup
import graft.pipelines.Pipelines

/** Streaming ingest against the stored IVF index, end to end (SURVEY §2.13
  * N28 as a RUNNING loop, not separate pieces): each micro-batch of arriving
  * vectors is (1) flagged for near-duplicates against the materialized
  * index via the partition-pruned incremental celled kernel
  * ([[Dedup.embeddingPairsCelledIncrementalBatched]]: store rows scored in
  * place against the broadcast batch), then (2) its SURVIVORS are
  * appended into the index's cell partitioning ([[IvfCatalog.appendBatch]])
  * so the next micro-batch sees them. The store is the stream's state —
  * durable, queryable, shared with every batch consumer — which is why this
  * is `foreachBatch` composition of the batch operators rather than a
  * `flatMapGroupsWithState` twin: the dedup state (the corpus itself) must
  * outlive the query and serve batch probes, exactly the deployment shape
  * of a continuously-ingesting training-data pipeline.
  *
  * Survivor rule (same as the batch curation path): a batch vector is
  * dropped if it near-dups a STORED vector (either pair side), or if it is
  * the larger id of a new×new pair (keep-min-id, matching
  * `dedup_neardup_survivors`). Chains inside one batch drop everything but
  * the minimum — batch-vs-stream parity over planted sequences is pinned by
  * StreamingSpec.
  *
  * Per-batch cost is the incremental contract: batch × its probed cells
  * (the store scan prunes to the batch's cell partitions) + an append
  * proportional to the batch. Nothing in the loop re-reads or re-assigns
  * the corpus.
  *
  * Visibility: `foreachBatch` executes in a CLONE of the launching session,
  * so its appends would be invisible to a batch consumer that cached the
  * store's relation in another session. [[graft.TableStore.getOrBuild]]
  * refreshes an already-existing table on every read, so any consumer going
  * through [[IvfCatalog.assignedEmbeddings]] observes all appends up to its
  * read — stream==batch parity over a planted sequence is pinned by
  * StreamingSpec. */
object StreamingIngest {

  /** One micro-batch's outcome, surfaced through `onBatch` (latency
    * reporting in harnesses; a production loop would emit metrics). */
  case class BatchReport(batchId: Long, arrived: Long, dropped: Long,
                         appended: Long, seconds: Double)

  /** The flag+append step for ONE batch of (idCol, embCol) rows — shared by
    * the streaming sink below and the batch-loop parity path in specs.
    * `pqCb` keeps a stored IVFADC code table ([[graft.IvfPqCatalog.encodedEmbeddings]])
    * in step with the append — codes land BEFORE the raw rows (the raw
    * append invalidates the survivors plan; the code append is idempotent,
    * so a crash between the two converges on replay — the chunk loop's
    * contract, [[graft.IvfPqCatalog.appendChunkCodes]]).
    * Returns (dropped ids count, appended count). */
  def ingestBatch(batch: DataFrame, dir: String, nlist: Int, step: Long = 31L,
                  trained: Boolean = false, minCosine: Double = 0.9,
                  nprobe: Int = 2, idCol: String = "vec_id",
                  embCol: String = "embedding",
                  pqCb: Option[graft.operators.Similarity.PqCodebook] = None): (Long, Long) = {
    val spark = batch.sparkSession
    val store = IvfCatalog.assignedEmbeddings(spark, dir, nlist, step, trained)
    val cents = IvfCatalog.centroidsFor(spark, dir, nlist, step, trained)
    val b = batch.select(col(idCol).cast("long").as(idCol), col(embCol))
    // r16: the batched kernel scores store rows in place (no per-batch
    // store shuffle); the Auto dispatch keeps the distributed kernel for a
    // bulk-sized batch handed to this entry point directly
    val pairs = Dedup.embeddingPairsCelledIncrementalAuto(b, store, cents, minCosine,
      batchRows = b.count(), nprobe = nprobe, idCol = idCol, embCol = embCol)
    // which pair sides are batch ids (vs stored ids): the batch-id set is
    // micro-batch-sized by construction, so these are broadcast joins
    val bids = b.select(col(idCol).as("__bid")).distinct()
    val drops = pairs
      .join(broadcast(bids.select(col("__bid").as("left_id"), lit(true).as("__l_new"))),
        Seq("left_id"), "left")
      .join(broadcast(bids.select(col("__bid").as("right_id"), lit(true).as("__r_new"))),
        Seq("right_id"), "left")
      .select(
        when(col("__l_new").isNotNull && col("__r_new").isNotNull, col("right_id")) // new×new: keep min id
          .when(col("__l_new").isNotNull, col("left_id"))                           // new×store: drop the new side
          .otherwise(col("right_id"))
          .as(idCol))
      .distinct()
    val survivors = b.join(broadcast(drops), Seq(idCol), "left_anti").cache()
    val nDropped = drops.count()
    val nAppended = survivors.count() // counted directly: batch ids need not be distinct
    pqCb.foreach(cb => graft.IvfPqCatalog.appendVecCodes(spark, dir,
      survivors.select(col(idCol).as("vec_id"), col(embCol).as("embedding")),
      cb, nlist, step, trained))
    IvfCatalog.appendBatch(spark, dir, survivors, nlist, step, trained)
    survivors.unpersist()
    (nDropped, nAppended)
  }

  /** Start the ingest loop on a streaming DataFrame of (idCol, embCol)
    * rows. The stored index for `dir` must already exist (appendBatch's
    * contract); `checkpoint` makes the loop restartable — a replayed
    * micro-batch re-flags against the store, so the survivor decision is
    * reproducible.
    *
    * `compactEvery = N` makes the loop self-maintaining: after every N
    * non-empty batches it runs [[graft.Compaction.compactTable]] on the
    * store, so file count stays bounded by the compaction cadence instead
    * of growing one file per (batch × touched cell) forever. The loop's own
    * appends never race the rewrite (foreachBatch runs them serially —
    * Compaction's single-maintenance-writer shape by construction); readers
    * in other sessions get Compaction's contract: re-resolve through
    * [[graft.TableStore.getOrBuild]] before scanning, and a scan that
    * raced a pass anyway fails LOUDLY and succeeds on
    * [[graft.TableStore.retryingStale]]'s refresh-retry — never a silently
    * wrong result (CompactionSpec pins both). */
  def start(vecs: DataFrame, dir: String, checkpoint: String,
            nlist: Int, step: Long = 31L, trained: Boolean = false,
            minCosine: Double = 0.9, nprobe: Int = 2,
            idCol: String = "vec_id", embCol: String = "embedding",
            compactEvery: Int = 0,
            pqCb: Option[graft.operators.Similarity.PqCodebook] = None,
            onBatch: BatchReport => Unit = _ => ()): StreamingQuery = {
    var sinceCompact = 0
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val t0 = System.nanoTime()
        val arrived = batch.count()
        if (arrived > 0) {
          val spark = batch.sparkSession
          val (dropped, appended) =
            ingestBatch(batch.toDF(), dir, nlist, step, trained, minCosine, nprobe,
              idCol, embCol, pqCb)
          sinceCompact += 1
          if (compactEvery > 0 && sinceCompact >= compactEvery) {
            Compaction.compactTable(spark,
              IvfCatalog.vectorStoreName(dir, nlist, step, trained), idCol = idCol)
            pqCb.foreach(cb => Compaction.compactTable(spark, // same cadence
              graft.IvfPqCatalog.vecCodesName(dir, nlist, step, cb, trained),
              idCol = "vec_id", // one lease scope per index table GROUP
              leaseScope = IvfCatalog.vectorStoreName(dir, nlist, step, trained)))
            graft.TableStore.sweepOrphans(spark) // crash leftovers, age-gated
            sinceCompact = 0
          }
          onBatch(BatchReport(batchId, arrived, dropped, appended,
            (System.nanoTime() - t0) / 1e9))
        }
      }
      .start()
  }

  /** The flag+append step for ONE batch of DOCUMENTS — the chunk-store twin
    * of [[ingestBatch]], completing the flagship lifecycle: the batch runs
    * the same feature pipeline the store was built from (quality filter →
    * clean → chunk → embed, [[Pipelines.featurePipeline]]), is exact-deduped
    * against the store, and the surviving chunks land in their cell
    * partitions via [[IvfCatalog.appendChunks]] — the next
    * `pipe_flagship_ivf` probe retrieves them with no store rewrite.
    *
    * The dedup is chunk identity (the reference's md5 id over
    * doc-id + index + content prefix, ChunkOps.md5Hex): a REPLAYED document
    * — re-crawl, source redelivery, checkpoint restart — reproduces its
    * chunk ids exactly, so the loop is idempotent. The identity check is
    * PRUNED: a replayed chunk has identical text, embeds identically, and
    * lands in the same cell, so a colliding id can only live in the very
    * cells this batch's chunks are assigned to — the anti-join reads those
    * `centroid_id` partition directories, never the whole store. An EDITED
    * document (same ids, changed content) is an upsert, not an append —
    * that is the S9 `upsertDocuments` path, deliberately outside this loop,
    * as in the reference. Near-dup ADMISSION policy stays with the curation
    * operators upstream — the loop never drops a near-dup — but the SIGNAL
    * is materialized where curation can read it: each surviving chunk is
    * flagged against the store (and its batch-mates) through the
    * partition-pruned celled kernel
    * ([[Dedup.embeddingPairsCelledIncrementalByIdBatched]]), and near-duplicates
    * land with `near_dup_of` = the lexically-smallest counterpart chunk id
    * (null otherwise). Flag cost follows the incremental contract — batch ×
    * its probed cells — and `flagNearDups = false` skips it entirely.
    *
    * When the store is ALSO served through a materialized IVFADC index
    * (`pipe_flagship_ivfpq`), `pqM > 0` keeps the code table in step: each
    * surviving chunk is encoded with the FROZEN stored codebook and
    * appended into the code table's matching cells
    * ([[graft.IvfPqCatalog.appendChunkCodes]]) — without this every append
    * is visible to the raw-IVF probe but silently invisible to the
    * compressed probe until a full code rebuild. The IVFADC index for
    * (nlist, pqM, pqKsub, trained) must already exist.
    * Returns (duplicate chunks dropped, chunks appended). */
  def ingestDocBatch(docs: DataFrame, dir: String, nlist: Int,
                     qualityThreshold: Double = 0.0,
                     idCol: String = "doc_id", textCol: String = "text",
                     trained: Boolean = false,
                     flagNearDups: Boolean = true,
                     flagMinCosine: Double = 0.9,
                     flagNprobe: Int = 2,
                     pqM: Int = 0, pqKsub: Int = 32): (Long, Long) = {
    val spark = docs.sparkSession
    // the whole batch — dedup anti-join, near-dup flag, codes, rows — runs
    // inside the cutover gate with ONE generation resolution: a reindex
    // flip parks the batch for its seconds-wide critical section instead
    // of stranding this batch's rows in a dropped generation
    graft.CutoverGate.entered(IvfCatalog.chunkGroup(dir, nlist, trained)) {
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, -1L)
    val storeName = graft.TableStore.physGen(
      IvfCatalog.chunkStoreName(dir, nlist, trained), g)
    require(spark.catalog.tableExists(storeName),
      s"stored chunk IVF index for '$dir' not built — assignedChunks first")
    val chunks = Pipelines.featurePipeline(docs, qualityThreshold, idCol, textCol)
      .select(col("chunk_id"), col("document_id"), col("word_count"), col("embedding"))
    val assigned = graft.operators.Similarity.ivfAssign(chunks,
      IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g),
      idCol = "chunk_id").cache()
    val cells = assigned.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq // ≤ nlist by construction
    spark.catalog.refreshTable(storeName) // see the latest appends (clone session)
    val stored = spark.table(storeName)
      .filter(col("centroid_id").isin(cells: _*)) // partition-pruned scan
      .select(col("chunk_id"))
    val survivors = assigned
      .join(stored, Seq("chunk_id"), "left_anti")
      .dropDuplicates("chunk_id") // a doc repeated inside one batch
      .cache()
    val nAppended = survivors.count()
    val nDropped = assigned.select("chunk_id").distinct().count() - nAppended
    if (nAppended > 0) {
      val flagged =
        if (!flagNearDups) survivors.withColumn("near_dup_of", lit(null).cast("string"))
        else {
          // BATCHED-PROBE kernel (r16): store rows scored in place against
          // the broadcast batch — the r15 decade priced the previous
          // repartition(__cell) kernel at 232-266 s per 500-chunk batch
          // (one corpus-scale shuffle of ~13% of the store at law nlist)
          // vs the 41.8 s append floor; this dataflow moves zero store
          // rows. Parity with the shuffle kernel is pinned row-equal by
          // OperatorSpec; the flags derivation evaluates `pairs` ONCE
          // (explode inside nearDupFlags), so nothing needs persisting —
          // which also closes the r15 unbounded persistTracked leak on
          // the long-running ingest stream.
          val pairs = Dedup.embeddingPairsCelledIncrementalByIdAuto(
            survivors.select(col("chunk_id"), col("embedding")),
            spark.table(storeName),
            IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g),
            flagMinCosine, batchRows = nAppended, nprobe = flagNprobe)
          // per surviving chunk: the smallest counterpart as representative
          // (counterparts can be stored chunks or batch-mates)
          val flags = Dedup.nearDupFlags(pairs, survivors.select(col("chunk_id")))
          survivors.join(broadcast(flags), Seq("chunk_id"), "left")
        }
      // codes FIRST: appendChunks refreshes the chunk store, invalidating
      // every cached plan that reads it — including `survivors` (its
      // anti-join side), which would re-evaluate to empty afterwards. The
      // code append is idempotent by id, so a crash between the two appends
      // converges on replay (see appendChunkCodes scaladoc).
      if (pqM > 0)
        graft.IvfPqCatalog.appendChunkCodes(spark, dir,
          survivors.select(col("chunk_id"), col("embedding")), nlist, pqM, pqKsub, trained,
          gen = g)
      IvfCatalog.appendChunks(spark, dir, flagged.drop("centroid_id"), nlist, trained)
    }
    assigned.unpersist(); survivors.unpersist()
    (nDropped, nAppended)
    }
  }

  /** [[ingestDocBatch]] plus SUBSTRING-SPAN maintenance for one batch —
    * the composition [[startDocs]] runs when span dedup is enabled, shared
    * so the batch-parity path in specs exercises the identical dataflow.
    * The arriving documents are materialized ONCE and feed both
    * granularities: chunk-level ingest (exact dedup + near-dup flags into
    * the IVF store) and document-level span flags against the accumulated
    * gram-count log ([[SpanDedupIngest.ingestBatch]] — probe excludes the
    * batch's own partition, so a checkpoint replay reproduces identical
    * flags). Span flags land under `spanFlagsDir/batch=<id>` with the same
    * per-batch-overwrite idempotence as every other sink in the loop.
    * Returns (duplicate chunks dropped, chunks appended, span-flag rows). */
  def ingestDocBatchWithSpans(docs: DataFrame, dir: String, nlist: Int,
                              spanLogDir: String, spanFlagsDir: String,
                              batchId: Long,
                              qualityThreshold: Double = 0.0,
                              idCol: String = "doc_id", textCol: String = "text",
                              trained: Boolean = false,
                              flagNearDups: Boolean = true,
                              flagMinCosine: Double = 0.9,
                              flagNprobe: Int = 2,
                              pqM: Int = 0, pqKsub: Int = 32,
                              spanK: Int = 5,
                              spanMinOcc: Int = 2): (Long, Long, Long) = {
    require(spanLogDir.nonEmpty && spanFlagsDir.nonEmpty,
      "span maintenance needs both a count-log dir and a flags dir")
    require(batchId >= 0,
      s"batch ids are non-negative (got $batchId) — negative ids are " +
        "reserved for the log's folded-history partition")
    val src = docs.localCheckpoint(true)
    val (dropped, appended) = ingestDocBatch(src, dir, nlist, qualityThreshold,
      idCol, textCol, trained, flagNearDups, flagMinCosine, flagNprobe, pqM, pqKsub)
    val flags = SpanDedupIngest.ingestBatch(src, spanLogDir, batchId,
      spanK, spanMinOcc, idCol, textCol)
    flags.write.mode("overwrite")
      .parquet(s"${SpanDedupIngest.partsDir(src.sparkSession, spanFlagsDir)}/batch=$batchId")
    (dropped, appended, flags.count())
  }

  /** One edit micro-batch's outcome, surfaced through `onBatch`. */
  case class EditReport(batchId: Long, edits: Long, upsertedDocs: Long,
                        deletedDocs: Long, removedChunks: Long,
                        addedChunks: Long, seconds: Double)

  /** Apply ONE batch of document edits to the serving index — shared by the
    * streaming channel below and the batch-parity path in specs. `batch`
    * carries (idCol, textCol, opCol[, seqCol]) rows; it is first reduced to
    * the LAST revision per document (max `seqCol`, ties broken
    * deterministically by (op, text) so a replayed batch picks the SAME
    * winner — a source stamping coarse sequence numbers must not make the
    * round-trip guarantee partition-order-dependent; without the column,
    * the batch must already hold one revision per doc or
    * [[graft.DocLifecycle.upsertDocChunks]]'s guard rejects it), then routed:
    * a document whose winning op is `delete` cascades out
    * ([[graft.DocLifecycle.deleteDocChunks]]), anything else replaces its
    * chunks ([[graft.DocLifecycle.upsertDocChunks]]). The winner-per-doc
    * reduce makes the net effect of any in-batch sequence (edit→delete,
    * delete→re-add, edit→edit) exactly its last op, and both routes are
    * idempotent — upserts by content-derived chunk ids, deletes trivially —
    * so a checkpoint-replayed batch round-trips the store unchanged.
    * Returns (upserted docs, deleted docs, chunks removed, chunks added). */
  def applyEditBatch(batch: DataFrame, dir: String, nlist: Int,
                     qualityThreshold: Double = 0.0,
                     idCol: String = "doc_id", textCol: String = "text",
                     opCol: String = "op", seqCol: String = "seq",
                     trained: Boolean = false,
                     flagNearDups: Boolean = true,
                     flagMinCosine: Double = 0.9, flagNprobe: Int = 2,
                     pqM: Int = 0, pqKsub: Int = 32): (Long, Long, Long, Long) = {
    val spark = batch.sparkSession
    val reduced =
      if (!batch.columns.contains(seqCol)) batch
      else batch.withColumn("__rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col(idCol))
            // total order: equal-seq rows would otherwise pick a winner by
            // physical row order, which changes across shuffles/replays
            .orderBy(col(seqCol).desc, col(opCol).asc, col(textCol).asc)))
        .filter(col("__rn") === 1).drop("__rn")
    val routed = reduced
      .withColumn("__del", lower(col(opCol)) === lit("delete"))
      .select(col(idCol).cast("long").as(idCol), col(textCol), col("__del"))
      .localCheckpoint(true) // edits are batch-sized; pin before the index mutates
    // a NULL op matches neither route (NULL is not true and !NULL is NULL):
    // the row would silently vanish — fail loudly like every other
    // invalid-input path instead
    val nullOps = routed.filter(col("__del").isNull).select(col(idCol)).limit(1).collect()
    require(nullOps.isEmpty,
      s"edit batch carries a NULL $opCol for $idCol=${nullOps.headOption.map(_.get(0)).orNull}" +
        " — every edit row must be an upsert or a delete")
    val delIds = routed.filter(col("__del")).select(col(idCol))
      .collect().map(_.getLong(0)).toSeq
    val upserts = routed.filter(!col("__del")).drop("__del")
    val nUpserts = upserts.count()
    var (removed, added) = (0L, 0L)
    if (delIds.nonEmpty)
      removed += DocLifecycle.deleteDocChunks(spark, dir, delIds, nlist, trained,
        pqM, pqKsub)
    if (nUpserts > 0) {
      val (rm, add) = DocLifecycle.upsertDocChunks(spark, dir, upserts, nlist,
        qualityThreshold, idCol, textCol, trained, flagNearDups, flagMinCosine,
        flagNprobe, pqM, pqKsub)
      removed += rm; added += add
    }
    (nUpserts, delIds.size.toLong, removed, added)
  }

  /** Start the EDIT/DELETE channel against the serving index — S9 (update)
    * and S10 (cascading delete) as a RUNNING loop, completing the lifecycle
    * triad: [[startDocs]] owns arrivals (append-only by design; an edited
    * document is deliberately outside it), this owns revisions and
    * removals. Micro-batches route through [[applyEditBatch]]; `compactEvery`
    * folds the same maintenance cadence as [[startDocs]] over the store,
    * the IVFADC code table, and the doc→cells index (edit rewrites leave
    * false-positive index pairs where appends leave small files — the same
    * rebuild reclaims both). Run it serially with the ingest loop's appends
    * (one maintenance writer, Compaction's contract) — the rewrites'
    * fingerprint-retry defense covers a straggler, not a sustained race. */
  def startDocEdits(edits: DataFrame, dir: String, checkpoint: String, nlist: Int,
                    qualityThreshold: Double = 0.0,
                    idCol: String = "doc_id", textCol: String = "text",
                    opCol: String = "op", seqCol: String = "seq",
                    trained: Boolean = false,
                    flagNearDups: Boolean = true,
                    flagMinCosine: Double = 0.9, flagNprobe: Int = 2,
                    pqM: Int = 0, pqKsub: Int = 32,
                    compactEvery: Int = 0,
                    splitCellsOver: Long = 0L,
                    onBatch: EditReport => Unit = _ => (),
                    onAdvice: graft.Reindex.Advice => Unit = _ => ()): StreamingQuery = {
    var sinceCompact = 0
    edits.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val t0 = System.nanoTime()
        val arrived = batch.count()
        if (arrived > 0) {
          val spark = batch.sparkSession
          val (up, del, removed, added) =
            applyEditBatch(batch.toDF(), dir, nlist, qualityThreshold, idCol,
              textCol, opCol, seqCol, trained, flagNearDups, flagMinCosine,
              flagNprobe, pqM, pqKsub)
          sinceCompact += 1
          if (compactEvery > 0 && sinceCompact >= compactEvery) {
            graft.MaintenanceLease.withLease(spark,
                IvfCatalog.chunkStoreName(dir, nlist, trained)) {
            val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, -1L)
            Compaction.compactTable(spark,
              graft.TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained), g),
              idCol = "chunk_id",
              leaseScope = IvfCatalog.chunkStoreName(dir, nlist, trained))
            if (pqM > 0)
              Compaction.compactTable(spark,
                graft.TableStore.physGen(
                  graft.IvfPqCatalog.chunkCodesTableName(spark, dir, nlist,
                    pqM, pqKsub, trained), g), idCol = "chunk_id",
                leaseScope = IvfCatalog.chunkStoreName(dir, nlist, trained))
            graft.DocLifecycle.compactDocCells(spark, dir, nlist, trained)
            if (splitCellsOver > 0) // skew repair: bisect cells past the cap
              graft.Reindex.splitHotCells(spark, dir, nlist, trained,
                pqM, pqKsub, maxCellBytes = splitCellsOver)
            graft.TableStore.sweepOrphans(spark) // crash leftovers, age-gated
            // uniform geometry drift (splitCellsOver covers the skewed
            // tail): surface, never act — the rebuild needs a leased
            // cutover the cadence must not trigger implicitly
            graft.Reindex.reindexAdvice(spark, dir, nlist, trained).foreach(onAdvice)
            }
            sinceCompact = 0
          }
          onBatch(EditReport(batchId, arrived, up, del, removed, added,
            (System.nanoTime() - t0) / 1e9))
        }
      }
      .start()
  }

  /** Start the document-ingest loop on a streaming DataFrame of
    * (idCol, textCol) document rows — [[start]]'s chunk-store twin. The
    * stored chunk index for `dir` must already exist
    * ([[IvfCatalog.assignedChunks]]); replayed micro-batches re-dedup
    * against the store, so a restart from `checkpoint` appends nothing
    * twice (the md5 identity makes the loop idempotent). `pqM > 0` keeps a
    * materialized IVFADC code table in step with every append and folds it
    * into the `compactEvery` cadence (see [[ingestDocBatch]]).
    *
    * `spanLogDir`/`spanFlagsDir` (set together) add the engine's SECOND
    * dedup granularity to the same arrival stream: each batch is flagged
    * for duplicated substring spans against the accumulated gram-count log
    * and contributes its own counts ([[ingestDocBatchWithSpans]]) — one
    * stream maintains both the chunk-level near-dup signal and the
    * document-level span signal. The count log is folded IN PLACE on the
    * `compactEvery` cadence ([[SpanDedupIngest.foldLogInLoop]], run at the
    * START of the next batch — the only point where every foldable part is
    * checkpoint-committed), so its file count stays bounded exactly like
    * the chunk store's.
    *
    * `mixtureWeights` (with `mixtureDomainCol` on the arriving rows) adds
    * the DOMAIN-MIXTURE drift advisory to the same maintenance cadence —
    * the curation twin of the reindex nlist-drift advice: each batch folds
    * one domain-shaped count aggregation into driver-side arrival totals,
    * and on the cadence the cumulative mixture is compared to the target
    * ([[graft.operators.Sampling.mixtureDrift]]); past
    * `mixtureDriftTolerance`, `onMixtureAdvice` fires. Surface, never act
    * — resampling is a curation decision ([[graft.operators.Sampling.mixtureResample]]),
    * not something the cadence triggers implicitly. With `mixtureLogDir`
    * set, the counts are DURABLE ([[MixtureLog]]): each batch lands its
    * domain counts by overwriting its own `batch=<id>` part, so a restart
    * resumes the true cumulative totals and a replayed batch converges
    * instead of double-counting (StreamingSpec pins the restart).
    * Without a log dir the counts fall back to in-memory counters —
    * per-process telemetry, reset by restarts, documented as such. */
  def startDocs(docs: DataFrame, dir: String, checkpoint: String, nlist: Int,
                qualityThreshold: Double = 0.0,
                idCol: String = "doc_id", textCol: String = "text",
                trained: Boolean = false, compactEvery: Int = 0,
                flagNearDups: Boolean = true,
                flagMinCosine: Double = 0.9,
                flagNprobe: Int = 2,
                pqM: Int = 0, pqKsub: Int = 32,
                splitCellsOver: Long = 0L,
                spanLogDir: String = "", spanFlagsDir: String = "",
                spanK: Int = 5, spanMinOcc: Int = 2,
                mixtureWeights: Map[String, Double] = Map.empty,
                mixtureDomainCol: String = "source",
                mixtureDriftTolerance: Double = 0.05,
                mixtureLogDir: String = "",
                onMixtureAdvice: graft.operators.Sampling.MixtureAdvice => Unit = _ => (),
                onBatch: BatchReport => Unit = _ => (),
                onAdvice: graft.Reindex.Advice => Unit = _ => ()): StreamingQuery = {
    val spanEnabled = spanLogDir.nonEmpty || spanFlagsDir.nonEmpty
    if (spanEnabled) require(spanLogDir.nonEmpty && spanFlagsDir.nonEmpty,
      "span maintenance needs both spanLogDir and spanFlagsDir")
    val mixEnabled = mixtureWeights.nonEmpty
    val mixDurable = mixEnabled && mixtureLogDir.nonEmpty
    // surfaced at stream START, not at the first fold cadence (see
    // SpanDedupIngest.requireVisibleCommits): with success markers
    // disabled, every fold would crash the stream mid-run, repeatedly
    if (compactEvery > 0 && (spanEnabled || mixDurable))
      SpanDedupIngest.requireVisibleCommits(docs.sparkSession,
        "startDocs' span/mixture fold cadence")
    var sinceCompact = 0
    var sinceFold = 0
    var sinceMixFold = 0
    // the in-memory fallback (no mixtureLogDir): cumulative arrival counts
    // per weighted domain (+ the unweighted rest) — domain-shaped,
    // driver-resident by the same bounded-collect contract as
    // mixtureReport; process-local, reset by restarts
    val mixCounts = scala.collection.mutable.Map.empty[String, Long]
    var mixOther = 0L
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val t0 = System.nanoTime()
        // with span/mixture maintenance on, the batch feeds extra
        // consumers — materialize once so the source scans once
        val src = if (spanEnabled || mixEnabled) batch.toDF().localCheckpoint(true)
                  else batch.toDF()
        val arrived = src.count()
        if (arrived > 0) {
          if (mixDurable) {
            // the arrival log folds on the cadence BEFORE this batch's
            // part lands (everything below this id is committed; folding
            // after the append would sweep the uncommitted part)
            if (compactEvery > 0 && sinceMixFold >= compactEvery) {
              MixtureLog.foldInLoop(src.sparkSession, mixtureLogDir,
                belowBatch = batchId)
              sinceMixFold = 0
            }
            MixtureLog.append(src, mixtureDomainCol, mixtureLogDir, batchId)
            sinceMixFold += 1
          } else if (mixEnabled) // one domain-shaped count agg per batch
            src.groupBy(col(mixtureDomainCol)).count().collect().foreach { r =>
              Option(r.get(0)).map(_.toString) match {
                case Some(d) if mixtureWeights.contains(d) =>
                  mixCounts(d) = mixCounts.getOrElse(d, 0L) + r.getLong(1)
                case _ => mixOther += r.getLong(1)
              }
            }
          // span-log fold runs BEFORE this batch's own counts land (see
          // foldLogInLoop: everything below the current id is committed)
          if (spanEnabled && compactEvery > 0 && sinceFold >= compactEvery) {
            SpanDedupIngest.foldLogInLoop(src.sparkSession, spanLogDir,
              belowBatch = batchId)
            // the flags store fragments at the same one-dir-per-batch rate
            SpanDedupIngest.foldFlagsInLoop(src.sparkSession, spanFlagsDir,
              belowBatch = batchId)
            sinceFold = 0
          }
          val (dropped, appended) =
            if (spanEnabled) {
              val (d, a, _) = ingestDocBatchWithSpans(src, dir, nlist,
                spanLogDir, spanFlagsDir, batchId, qualityThreshold, idCol,
                textCol, trained, flagNearDups, flagMinCosine, flagNprobe,
                pqM, pqKsub, spanK, spanMinOcc)
              sinceFold += 1
              (d, a)
            } else
              ingestDocBatch(src, dir, nlist, qualityThreshold, idCol, textCol,
                trained, flagNearDups, flagMinCosine, flagNprobe, pqM, pqKsub)
          sinceCompact += 1
          if (compactEvery > 0 && sinceCompact >= compactEvery) {
            // one leased block per cadence: the generation resolved inside
            // the lease cannot flip under the pass (a cutover needs the
            // same lease scope); lease scope stays LOGICAL, table names
            // physical
            graft.MaintenanceLease.withLease(batch.sparkSession,
                IvfCatalog.chunkStoreName(dir, nlist, trained)) {
            val g = IvfCatalog.resolveChunkGen(batch.sparkSession, dir, nlist, trained, -1L)
            Compaction.compactTable(batch.sparkSession,
              graft.TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained), g),
              idCol = "chunk_id",
              leaseScope = IvfCatalog.chunkStoreName(dir, nlist, trained))
            if (pqM > 0) // the code table fragments at the same cadence
              Compaction.compactTable(batch.sparkSession,
                graft.TableStore.physGen(
                  graft.IvfPqCatalog.chunkCodesTableName(batch.sparkSession, dir, nlist,
                    pqM, pqKsub, trained), g), idCol = "chunk_id",
                leaseScope = IvfCatalog.chunkStoreName(dir, nlist, trained))
            // the doc→cells secondary index fragments at the same cadence
            // too (one file per bucket per appended batch) and accumulates
            // superset false positives from upserts — rebuild it to the
            // store's live pairs, one file per bucket (staged swap, so the
            // loop's own next append never sees a missing table)
            graft.DocLifecycle.compactDocCells(batch.sparkSession, dir, nlist, trained)
            if (splitCellsOver > 0) // skew repair: bisect cells past the cap
              graft.Reindex.splitHotCells(batch.sparkSession, dir, nlist, trained,
                pqM, pqKsub, maxCellBytes = splitCellsOver)
            graft.TableStore.sweepOrphans(batch.sparkSession) // crash leftovers
            // uniform geometry drift (splitCellsOver covers the skewed
            // tail): surface, never act — the rebuild needs a leased
            // cutover the cadence must not trigger implicitly
            graft.Reindex.reindexAdvice(batch.sparkSession, dir, nlist, trained)
              .foreach(onAdvice)
            }
            // mixture drift reads the durable log (or, in the fallback,
            // plain driver arithmetic over the counters) — no catalog
            // table access, so it sits outside the lease
            if (mixEnabled) {
              val adv =
                if (mixDurable)
                  MixtureLog.drift(batch.sparkSession, mixtureLogDir, mixtureWeights)
                else graft.operators.Sampling.mixtureDrift(
                  mixCounts.toMap, mixtureWeights, mixOther)
              if (adv.maxDrift > mixtureDriftTolerance) onMixtureAdvice(adv)
            }
            sinceCompact = 0
          }
          onBatch(BatchReport(batchId, arrived, dropped, appended,
            (System.nanoTime() - t0) / 1e9))
        }
      }
      .start()
  }

  /** Start the query-SERVING loop — the read side of the pipeline as a
    * stream, closing the loop the ingest/edit channels opened: queries
    * arrive as a streaming DataFrame of (idCol, textCol) rows and every
    * micro-batch is answered in ONE batched flagship probe
    * ([[Pipelines.flagshipIvfBatch]] — driver-ranked probe sets + one
    * union-of-probed-cells scan + the broadcast attribution join, per-query
    * rows identical to serial `flagshipIvf` calls). Duplicate texts within
    * a batch share one probe and fan back out to their query ids. Answers
    * go to `onAnswers(batchId, df)` with `idCol` prepended to the flagship
    * schema; the callback owns persistence (sink choice is deployment
    * policy — serving results are derived data, not pipeline state, so
    * unlike the ingest loops nothing here writes the store). Reads race
    * maintenance under the documented reader contract: fail-loud on a
    * stale listing, recover via [[graft.TableStore.retryingStaleBy]] —
    * refresh EVERY table the probe scans and re-run, bounded retries
    * (priced in SCALE.md rounds 13–14).
    *
    * `trigger` is the latency/throughput knob the ×1000 serving matrix
    * says matters most: per-query cost falls 3–4× from batch-8 to
    * batch-32 (SCALE.md round-14) because the whole micro-batch shares
    * one scan — a `Trigger.ProcessingTime` interval
    * sized to the arrival rate buys batch depth at bounded added latency.
    * Default: process as available (lowest latency, shallowest batches).
    *
    * `pqM > 0` serves through the COMPRESSED batch probe instead
    * ([[Pipelines.flagshipIvfPqBatch]] — the measured-cheapest ×1000
    * serving configuration, SCALE.md round-13 batch matrix): same answer
    * schema, probe bytes m-byte PQ codes + a candidate-bounded raw rerank;
    * the stored IVFADC index for (nlist, pqM, pqKsub, trained) must exist.
    *
    * Every query id is answered EXACTLY once per batch: a query whose
    * probe returns no hits — or whose text is null and cannot embed —
    * still emits one marker row (answer columns null, its own text
    * preserved) through the LEFT join below, so the sink can distinguish
    * "no results" from "never processed", and one bad row never fails the
    * micro-batch.
    *
    * Driver exposure is bounded by `maxBatchQueries`: a micro-batch deeper
    * than that (a flooded queue source, a replay after downtime) is served
    * in independent slices — `onAnswers` then fires once per slice with
    * each id still answered exactly once across them — instead of
    * collecting the whole batch onto the driver. At ordinary depths
    * (8–32 in the ×1000 serving matrix) exactly one slice fires. */
  def startQueries(queries: DataFrame, dir: String, checkpoint: String,
                   nlist: Int, k: Int = 10, nprobe: Int = 4,
                   trained: Boolean = false,
                   pqM: Int = 0, pqKsub: Int = 32, rerankFactor: Int = 16,
                   idCol: String = "query_id", textCol: String = "query_text",
                   trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
                   maxBatchQueries: Int = 4096,
                   onAnswers: (Long, DataFrame) => Unit): StreamingQuery =
    trigger.foldLeft(queries.writeStream)(_.trigger(_))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        // the serving loop is driver-mediated by design (query texts feed
        // the batched probe as literals), so the driver's exposure must be
        // bounded by THIS loop, not by trusting the source's trigger
        // configuration: a flooded queue source otherwise hands foreachBatch
        // an arbitrarily large micro-batch and a whole-batch collect() is a
        // driver OOM. toLocalIterator streams the batch one partition at a
        // time; each `maxBatchQueries` slice probes and answers
        // independently, so driver residency is one slice of ids + its
        // slice × k answers whatever the batch size. onAnswers fires once
        // per slice (once per batch at ordinary depths — slicing only
        // engages on overflow); every query id is still answered exactly
        // once across the batch's slices.
        val sliceSize = math.max(1, maxBatchQueries)
        val batchIt = batch.select(col(idCol), col(textCol)).toLocalIterator()
        val slice = new scala.collection.mutable.ArrayBuffer[Row](
          math.min(sliceSize, 1024))
        while (batchIt.hasNext) {
          slice.clear()
          while (batchIt.hasNext && slice.size < sliceSize) slice += batchIt.next()
          val rows = slice.toArray
          // null texts cannot embed: they stay out of the probe but their
          // ids remain in `ids`, falling out of the LEFT join as marker rows
          val texts = rows.collect { case r if !r.isNullAt(1) => r.getString(1) }
            .distinct.toSeq
          // the retry wrap must cover the ACTION, not just the lazy plan —
          // a rename pass landing mid-scan surfaces at materialization, so
          // the answers are collected (micro-batch × k rows, bounded)
          // INSIDE the retry and re-probed whole on a stale listing. The
          // refresh list is EVERY physical table the probe scans — for the
          // compressed path the code table too, which the cadence compacts
          // on the same schedule as the store (refreshing only the store
          // left the codes listing stale and the retry re-failed
          // identically — found at ×1000, batch-32) — re-resolved lazily
          // so a retry after a generation flip refreshes the new names;
          // onAnswers then runs once PER SLICE on a local frame (same
          // batchId across a deep batch's slices — a sink must not dedup
          // on batchId alone; each query id still appears exactly once)
          def probeTables: Seq[String] = {
            val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, -1L)
            val store = graft.TableStore.physGen(
              IvfCatalog.chunkStoreName(dir, nlist, trained), g)
            if (pqM > 0) Seq(store, graft.TableStore.physGen(
              graft.IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, pqM, pqKsub, trained), g))
            else Seq(store)
          }
          val (ansRows, ansSchema) = graft.TableStore.retryingStaleBy(spark)(
              probeTables) {
            // a batch whose every text is null still needs the REAL answer
            // schema for its marker rows: probe a placeholder and keep no
            // rows (one wasted bounded probe on a shape that should never
            // occur in practice)
            val probeTexts = if (texts.nonEmpty) texts else Seq("")
            val probed =
              if (pqM > 0) Pipelines.flagshipIvfPqBatch(spark, dir, probeTexts,
                k = k, nlist = nlist, nprobe = nprobe, m = pqM, ksub = pqKsub,
                rerankFactor = rerankFactor, trained = trained)
              else Pipelines.flagshipIvfBatch(spark, dir, probeTexts,
                k = k, nlist = nlist, nprobe = nprobe, trained = trained)
            val answers = if (texts.nonEmpty) probed else probed.filter(lit(false))
            val ids = spark.createDataFrame(
                spark.sparkContext.parallelize(rows.toSeq, 1),
                batch.select(col(idCol), col(textCol)).schema)
              .withColumnRenamed(textCol, "__graft_qtext") // answers carry query_text
            val joined = ids
              .join(answers, col("__graft_qtext") === col("query_text"), "left")
              .withColumn("query_text", col("__graft_qtext")) // marker rows keep their text
              .drop("__graft_qtext")
              .orderBy(col(idCol).asc, col("score").desc_nulls_last,
                col("chunk_id").asc_nulls_last)
            (joined.collect(), joined.schema)
          }
          onAnswers(batchId, spark.createDataFrame(
            spark.sparkContext.parallelize(ansRows.toSeq, 1), ansSchema))
        }
      }
      .start()
}
