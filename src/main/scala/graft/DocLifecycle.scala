package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.pipelines.Pipelines

/** Document UPSERT and DELETE against the stored chunk index — the two
  * lifecycle operations the append-only ingest loop deliberately excludes
  * (reference: an edited page re-runs the S9 update path,
  * mongodb_pipelines.py-style `replace_one`, and a removed page cascades
  * its chunk deletes, S10). On a partitioned 100 TB store "replace this
  * document's chunks" must NOT be a corpus scan: the store is partitioned
  * by `centroid_id`, not by document, and an edited document's OLD chunks
  * sit in cells only their (gone) embeddings knew.
  *
  * The missing piece is a secondary index: [[docCells]] materializes
  * (document_id → centroid_id) pairs, bucketed by document_id, maintained
  * by the store build and every [[IvfCatalog.appendChunks]]. Lookups
  * bucket-prune to one file per bucket; the answer is a SUPERSET contract —
  * the index may list cells a document no longer occupies (upserts append
  * the new pairs and leave the old — false positives cost one extra pruned
  * cell read, never correctness, and [[compactDocCells]] rewrites the index
  * down to the store's live pairs on the same cadence as file compaction),
  * but it can never MISS a cell holding a document's rows: build and every
  * append insert their pairs in the same job as the rows themselves.
  *
  * Both operations then touch only the union of the document's old cells
  * (from the index) and its new chunks' cells (from assignment): a
  * partition-pruned read, minus the document's rows, plus the replacement
  * rows, dynamic-partition-overwritten back — [[Compaction]]'s bounded
  * rewrite shape, batch-sized, never corpus-sized. A cell emptied entirely
  * is dropped via `ALTER TABLE … DROP PARTITION` (dynamic overwrite only
  * replaces partitions present in the OUTPUT, so an emptied cell would
  * otherwise keep its stale files). Readers get Compaction's contract:
  * fail-loud on a raced listing, clean on refresh-retry
  * ([[TableStore.retryingStale]]). Writers get Compaction's DETECTED
  * contract, not a prose one: every cell rewrite snapshots the touched
  * partitions' file fingerprints, reads exactly those files as its input
  * (never the session's possibly-stale cached listing), re-lists
  * immediately before the overwrite, and RETRIES the rewrite from a fresh
  * snapshot if anything changed — an ingest-loop append landing in a
  * touched cell mid-rewrite is re-read into the next attempt instead of
  * silently deleted ([[Compaction.compactTable]]'s fingerprint mechanism;
  * a writer still racing after `maxAttempts` fails loudly). Serial
  * operation with the ingest loop remains the deployment shape — the
  * detection is defense-in-depth, and the instant between the final
  * re-list and the overwrite's commit stays unfenced, same residual as
  * compactTable (whose Report measures it).
  *
  * The IVFADC code table (when the store is also served compressed) is
  * maintained in the same call when `pqM > 0`, ordered for crash
  * convergence like the ingest loop: replacement chunks' codes are
  * appended FIRST (idempotent by id against the frozen codebook), the raw
  * store is rewritten second, and dead codes are purged LAST by keeping
  * only codes whose id is live in the rewritten store. A crash after the
  * code append leaves codes whose raw rows don't exist yet — ADC
  * candidates that drop out at the exact-rerank join, reclaimed by replay
  * or the purge of any later call touching the cell; a crash before the
  * purge leaves dead ids as candidates that likewise rerank away. Neither
  * state serves wrong answers, and replaying the call converges both —
  * unlike purge-by-removed-ids ordering, which a replayed unchanged upsert
  * would turn into deleting LIVE codes. */
object DocLifecycle {

  /** Catalog table name of the doc→cells index for (dir, nlist, mode). */
  def docCellsName(dir: String, nlist: Int, trained: Boolean = false): String =
    TableStore.tableName(
      if (trained) s"ivfdoccellsk$nlist" else s"ivfdoccells$nlist", dir)

  /** The one physical shape of the index — shared by the first derivation
    * and the cadence rebuild, so the compacted form can never silently
    * diverge from the initial build (same bucketing, same sort, same
    * clusterWrite). */
  private[graft] def rebuildDocCells(spark: SparkSession, storeName: String,
                                     target: String): Unit =
    spark.table(storeName)
      .select(col("document_id"), col("centroid_id")).distinct()
      .repartition(32, col("document_id")) // clusterWrite: one file per bucket
      .write.mode("overwrite")
      .bucketBy(32, "document_id").sortBy("document_id")
      .format("parquet").saveAsTable(target)

  /** The (document_id, centroid_id) secondary index for the chunk store,
    * bucketed by document_id. First use derives it from the LIVE store (a
    * one-time scan — complete by construction); from then on
    * [[IvfCatalog.appendChunks]] appends each batch's pairs. Superset
    * semantics: see object scaladoc. */
  def docCells(spark: SparkSession, dir: String, nlist: Int,
               trained: Boolean = false, gen: Long = -1L): DataFrame = {
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, gen)
    val store = TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained), g)
    require(spark.catalog.tableExists(store),
      s"stored chunk IVF index for '$dir' not built — assignedChunks first")
    TableStore.getOrBuildGen(spark, IvfCatalog.chunkGroup(dir, nlist, trained),
        docCellsName(dir, nlist, trained), g, derivedFromGen = true,
        inputs = Seq(store)) { name =>
      rebuildDocCells(spark, store, name)
    }
  }

  /** Append one batch's distinct (document_id, centroid_id) pairs — called
    * by [[IvfCatalog.appendChunks]] when the index exists, in the same
    * micro-batch as the row append (the index must never miss a cell).
    *
    * Layout: ONE task writes the pairs `bucketBy(32).sortBy` — one file
    * per non-empty bucket per append, no 32-reducer shuffle in front of a
    * dozen rows. k appends leave up to k files in a bucket, still read
    * bucket-pruned; [[compactDocCells]] rebuilds through the clusterWrite
    * shape on the stores' cadence, back to one file per bucket.
    * Serialized against [[compactDocCells]]' swap by [[MaintenanceLock]]:
    * within the driver JVM (the deployment shape — all of a pipeline's
    * writer loops run on one driver) the append can never observe the
    * mid-swap absent table, never CREATE a fresh table that collides with
    * the pending RENAME, and any pair appended after the rebuild's
    * snapshot is preserved by the swap's late-pair merge. The existence
    * poll remains as cross-JVM defense-in-depth (a foreign writer's swap,
    * already a contract violation the lease fails loudly on); a table
    * still missing after the tolerance fails loudly. */
  private[graft] def appendDocCells(spark: SparkSession, dir: String, nlist: Int,
                                    trained: Boolean, pairs: Iterable[(Long, Long)],
                                    gen: Long = -1L): Unit = if (pairs.nonEmpty) {
    import spark.implicits._
    val logical = docCellsName(dir, nlist, trained)
    val name = TableStore.physGen(logical,
      IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, gen))
    // the lock key is the LOGICAL name — stable across generation flips,
    // so the swap-vs-append exclusion never depends on which generation
    // either side resolved
    MaintenanceLock(logical) {
      var waited = 0
      while (!spark.catalog.tableExists(name)) {
        if (waited >= 30) throw new IllegalStateException(
          s"doc→cells index $name vanished mid-append and did not reappear — " +
            "a racing compactDocCells swap should resolve in milliseconds; " +
            "rerun the batch once the maintenance writer is done")
        Thread.sleep(100); waited += 1
      }
      pairs.toSeq.toDF("document_id", "centroid_id")
        .coalesce(1) // one writing task: one file per non-empty bucket
        .write.mode("append")
        .bucketBy(32, "document_id").sortBy("document_id")
        .format("parquet").saveAsTable(name)
      spark.catalog.refreshTable(name)
    }
  }

  /** Rewrite the index down to the store's LIVE pairs — reclaims upsert
    * false positives, delete leftovers, AND the one-file-per-bucket-per-batch
    * fragmentation [[appendDocCells]] accrues; [[graft.streaming.StreamingIngest.startDocs]]
    * runs it on the same `compactEvery` cadence as the stores. Staged like
    * [[Compaction.compactBucketed]]: the rebuild lands in a sibling staging
    * table first, then a DROP/RENAME metadata swap.
    *
    * Concurrency is mechanical, not prose. The whole call holds the
    * index's [[MaintenanceLease]] (scope = the store), so it can never run
    * concurrently with an upsert/delete — whose pairs land long before
    * their rewritten rows and would otherwise be erasable by the swap. The
    * swap section holds [[MaintenanceLock]] with [[appendDocCells]] /
    * [[IvfCatalog.appendChunks]], so an ingest append can never observe
    * the mid-swap absent table or collide a CREATE with the pending
    * RENAME. And because the ingest loop keeps appending while the rebuild
    * scans, the locked section runs a LATE-PAIR MERGE before swapping:
    * pairs present in the live index but absent from the staged rebuild
    * are kept iff the (refreshed) store holds live rows for them — an
    * append that landed after the rebuild's snapshot is preserved
    * (appendChunks' lock spans pairs + rows, so its rows are visible by
    * merge time), while a true false positive has no rows and is
    * reclaimed. Crash recovery favors self-healing: a crash before the
    * DROP leaves the original intact (staging dropped here); a crash
    * between DROP and RENAME leaves no table, and the next [[docCells]]
    * use derives a COMPLETE index from the live store — which is why the
    * swap is not an in-place `INSERT OVERWRITE` (whose mid-write crash
    * would leave a PRESENT but incomplete index, silently violating
    * never-miss). `beforeSwap` is the race spec's injection seam, invoked
    * after the staged rebuild and before the locked merge+swap. */
  def compactDocCells(spark: SparkSession, dir: String, nlist: Int,
                      trained: Boolean = false,
                      beforeSwap: () => Unit = () => ()): Unit = {
    val logical = docCellsName(dir, nlist, trained)
    // lease scope and lock key stay LOGICAL (stable across generation
    // flips); table operations use the generation-resolved physical names.
    // Resolution inside the lease is flip-atomic: a cutover needs the same
    // lease scope, so the generation cannot move under this pass.
    MaintenanceLease.withLease(spark, IvfCatalog.chunkStoreName(dir, nlist, trained)) {
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, -1L)
    val name = TableStore.physGen(logical, g)
    if (spark.catalog.tableExists(name)) {
      val store = TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained), g)
      val stage = s"${name}__cstage${System.nanoTime()}"
      try {
        spark.catalog.refreshTable(store)
        rebuildDocCells(spark, store, stage)
        beforeSwap()
        MaintenanceLock(logical) {
          // late-pair merge: anything appended to the index since the
          // rebuild's store snapshot is in the live index but not the
          // staging. Keep exactly those with live store rows (a completed
          // append — the lock ordering guarantees its rows are visible);
          // drop the rest (false positives, the reclaim this rebuild is
          // for). Pinned eagerly: the keep-set reads `name`, which the
          // swap below drops.
          spark.catalog.refreshTable(name)
          spark.catalog.refreshTable(store)
          val cols = Seq(col("document_id"), col("centroid_id"))
          val delta = spark.table(name).select(cols: _*).distinct()
            .join(spark.table(stage).select(cols: _*),
              Seq("document_id", "centroid_id"), "left_anti")
            .localCheckpoint(true)
          val dCells = docCellRows(delta).keys.map(_._2).toSeq.distinct
          if (dCells.nonEmpty) {
            // pruned read of just the delta's cells; isin only while the
            // cell list is plan-size-safe (the compaction plan-depth
            // lesson), broadcast semi-join beyond that
            val storeRows =
              if (dCells.size <= 1000)
                spark.table(store).filter(col("centroid_id").isin(dCells: _*))
              else {
                import spark.implicits._
                spark.table(store).join(
                  broadcast(dCells.toDF("centroid_id")), Seq("centroid_id"), "left_semi")
              }
            val keep = delta.join(
              storeRows.select(cols: _*).distinct(),
              Seq("document_id", "centroid_id"), "left_semi")
            keep.repartition(32, col("document_id"))
              .write.mode("append")
              .bucketBy(32, "document_id").sortBy("document_id")
              .format("parquet").saveAsTable(stage)
          }
          spark.sql(s"DROP TABLE $name")
          spark.sql(s"ALTER TABLE $stage RENAME TO $name")
        }
      } catch {
        case e: Throwable =>
          var healed = false
          if (!spark.catalog.tableExists(name) && spark.catalog.tableExists(stage)) {
            // the DROP landed but the RENAME did not — retry it once; on a
            // second failure drop the staging too (the index is derivable:
            // the next docCells() rebuilds complete from the live store).
            // A successful retry means the swap IS complete and the index
            // healthy — return normally rather than failing a cadence
            // caller over a healed state.
            try { spark.sql(s"ALTER TABLE $stage RENAME TO $name"); healed = true }
            catch { case NonFatal(_) => spark.sql(s"DROP TABLE IF EXISTS $stage") }
          } else
            spark.sql(s"DROP TABLE IF EXISTS $stage")
          if (!healed) throw e
      }
      spark.catalog.refreshTable(name)
      }
    }
  }

  /** Above this many edited documents the lifecycle path switches from
    * literal IN-list pruning to broadcast-join pruning: a 100k-document bulk
    * re-crawl must not inflate every plan with a 100k-term IN list (plan
    * size, analysis time, and codegen all scale with the literal count; a
    * broadcast hash join is constant-size in the plan and the id frame
    * ships once per executor). Touched CELLS stay driver-collected in both
    * forms — ≤ nlist by construction, never edit-batch-sized. */
  val BulkThreshold = 10000

  /** The edit batch's document-id set in a plan-size-safe predicate form —
    * literals below [[BulkThreshold]] (partition/bucket pruning straight off
    * the scan), a broadcast-joined frame above it. */
  private final class EditIds(spark: SparkSession, val ids: Seq[Long], threshold: Int) {
    private val bulk = ids.size > threshold
    private lazy val df = {
      import spark.implicits._
      ids.toDF("document_id").localCheckpoint(true)
    }
    def keep(d: DataFrame): DataFrame =
      if (!bulk) d.filter(col("document_id").isin(ids: _*))
      else d.join(broadcast(df), Seq("document_id"), "left_semi")
    def drop(d: DataFrame): DataFrame =
      if (!bulk) d.filter(!col("document_id").isin(ids: _*))
      else d.join(broadcast(df), Seq("document_id"), "left_anti")
  }

  /** (document_id, centroid_id) → rows of `df`, counted per partition and
    * merged on the driver: ONE job, no shuffle (a `distinct()` or `count()`
    * pays an extra AQE shuffle job). Every batch fact of the edit paths is a
    * projection of this batch-sized map. */
  private[graft] def docCellRows(df: DataFrame): Map[(Long, Long), Long] = {
    import df.sparkSession.implicits._
    df.select(col("document_id").cast("long"), col("centroid_id").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        it.foreach(p => m(p) = m.getOrElse(p, 0L) + 1L)
        m.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The cells the index lists for the edit batch — a bucket-pruned read;
    * ≤ nlist values by construction. */
  private def cellsOf(spark: SparkSession, dir: String, nlist: Int,
                      trained: Boolean, eids: EditIds, gen: Long): Seq[Long] =
    docCellRows(eids.keep(docCells(spark, dir, nlist, trained, gen)))
      .keys.map(_._2).toSeq.distinct.sorted

  /** Store rows of the edit batch in `cells`, counted BEFORE the rewrite
    * removes exactly these rows. */
  private def rowsOf(spark: SparkSession, store: String, eids: EditIds, cells: Seq[Long]): Long = {
    spark.catalog.refreshTable(store)
    docCellRows(eids.keep(spark.table(store).filter(col("centroid_id").isin(cells: _*)))).values.sum
  }

  /** Group `cells` into rewrite batches bounded by `maxBatchBytes` of their
    * CURRENT store bytes — [[Compaction.compactTable]]'s working-set cap, so
    * a bulk edit touching half the corpus' cells becomes a sequence of small
    * bounded rewrites instead of one giant job. Cells with no directory yet
    * (brand-new) count zero. Stats ONLY the touched cells' directories — an
    * edit-stream call touches a handful of cells, and listing every one of
    * the store's nlist partition dirs (10^5 at 100 TB) per call would put a
    * corpus-shaped term back into the batch-shaped path. */
  private[graft] def cellBatches(spark: SparkSession, name: String, cells: Seq[Long],
                                 maxBatchBytes: Long): Seq[Seq[Long]] = {
    if (cells.isEmpty) return Nil
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(name))
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes: Map[Long, Long] = cells.map { c =>
      val dir = new org.apache.hadoop.fs.Path(root, s"centroid_id=$c")
      c -> (if (fs.exists(dir)) Compaction.dataFiles(fs, dir).map(_.getLen).sum
            else 0L)
    }.toMap
    cells.map(c => c -> bytes.getOrElse(c, 0L))
      .foldLeft(List(List.empty[(Long, Long)])) { (acc, p) =>
        if (acc.head.nonEmpty && acc.head.map(_._2).sum + p._2 > maxBatchBytes)
          List(p) :: acc
        else (p :: acc.head) :: acc.tail
      }.map(_.reverse.map(_._1)).reverse.filter(_.nonEmpty)
  }

  /** Dynamic-partition-overwrite `cells` of `name` with
    * `transform(existing rows of those cells)`; cells absent from the output
    * are emptied — dropped as partitions. Compaction's hardened shape end to
    * end: the touched cells' files are FINGERPRINT-snapshotted and the input
    * is read from exactly those files by path (so input == snapshot by
    * construction, immune to a stale cached listing), the transformed
    * content spills to a nonce-suffixed temp dir deleted in the finally (a
    * plan reading the table can't overwrite it), and the fingerprints are
    * re-listed immediately before the overwrite — any change (a concurrent
    * append landing in a touched cell) ABORTS the attempt, returning false,
    * and [[overwriteCellsRetrying]] re-runs the whole rewrite from a fresh
    * snapshot that includes the appended rows. `beforeOverwrite` is the
    * post-spill seam the race spec injects a writer through. */
  private def overwriteCells(spark: SparkSession, name: String,
                             cells: Seq[Long], transform: DataFrame => DataFrame,
                             beforeOverwrite: () => Unit = () => ()): Boolean = {
    if (cells.isEmpty) return true
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(name))
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = spark.table(name).schema
    val specs = cells.map(c => s"centroid_id=$c")
    val snapshot = Compaction.fileFingerprint(fs, root, specs)
    val snapFiles = specs.flatMap { spec =>
      snapshot(spec).map { case (fname, _) =>
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(root, spec), fname).toString }
    }
    val existing =
      if (snapFiles.isEmpty)
        spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        // explicit data schema + basePath partition recovery, cast to the
        // table's declared partition type (Compaction's spill discipline)
        val dataSchema = org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name == "centroid_id"))
        spark.read.schema(dataSchema)
          .option("basePath", meta.location.toString)
          .parquet(snapFiles: _*)
          .withColumn("centroid_id",
            col("centroid_id").cast(schema("centroid_id").dataType))
      }
    val tmp = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"__upsert_tmp_${name}_${System.nanoTime()}")
    var keepTmp = false
    try {
      // spill in the table's own layout (partitionBy, one file per cell) so
      // the commit is [[Compaction.renameCommit]]'s metadata-only swap —
      // the interval after the late-append re-list is file renames, not a
      // second write job
      transform(existing).select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .repartition(col("centroid_id")) // one file per rewritten cell
        .write.mode("overwrite").partitionBy("centroid_id").parquet(tmp.toString)
      beforeOverwrite()
      if (Compaction.fileFingerprint(fs, root, specs) != snapshot)
        return false // late append detected — caller retries from a fresh snapshot
      val preExisting = cells.filter(c =>
        fs.exists(new org.apache.hadoop.fs.Path(root, s"centroid_id=$c"))).toSet
      keepTmp = true // an exception mid-commit must keep the staging copy
      val stagedSpecs = Compaction.renameCommit(spark, name, root, tmp, 1, specs)
      keepTmp = false
      val present = stagedSpecs.map(s => s.split("=", 2)(1).toLong)
      // register brand-new cells (insertInto used to do this implicitly);
      // drop the emptied ones (dirs renameCommit left with no data files)
      present.filterNot(preExisting).foreach { c =>
        spark.sql(s"ALTER TABLE $name ADD IF NOT EXISTS PARTITION (centroid_id=$c)")
      }
      cells.filterNot(present).foreach { c =>
        spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION (centroid_id=$c)")
      }
      spark.catalog.refreshTable(name)
      true
    } finally {
      if (!keepTmp) fs.delete(tmp, true)
    }
  }

  /** [[overwriteCells]] until it commits: each aborted attempt re-snapshots
    * the touched cells, so the retried transform sees every row the racing
    * writer appended. A writer still racing after `maxAttempts` fails loudly
    * — never a silent drop. */
  private[graft] def overwriteCellsRetrying(spark: SparkSession, name: String,
                                     cells: Seq[Long], transform: DataFrame => DataFrame,
                                     beforeOverwrite: () => Unit = () => (),
                                     maxAttempts: Int = 5): Unit = {
    var left = maxAttempts
    while (!overwriteCells(spark, name, cells, transform, beforeOverwrite)) {
      left -= 1
      if (left <= 0) throw new IllegalStateException(
        s"cell rewrite of $name raced concurrent appends $maxAttempts times — " +
          "quiesce the writer (maintenance rewrites are serial with ingest by contract)")
      spark.catalog.refreshTable(name)
    }
  }

  /** The dead-code purge: keep the codes whose id is live in the rewritten store. */
  private def purgeDeadCodes(spark: SparkSession, store: String, codes: String,
                             batches: Seq[Seq[Long]]): Unit =
    batches.filter(_.nonEmpty).foreach { cb =>
      val liveIds = spark.table(store).filter(col("centroid_id").isin(cb: _*)).select("chunk_id")
      overwriteCellsRetrying(spark, codes, cb, _.join(liveIds, Seq("chunk_id"), "left_semi"))
    }

  /** Replace `docs`' chunks in the stored index with their re-run feature
    * pipeline — the edited-document path. Returns (chunks removed, chunks
    * added). A document absent from the store is simply added (upsert), one
    * whose edit produces no chunks (fails the quality gate) is effectively
    * deleted; replayed unchanged documents round-trip to identical rows (the
    * md5 ids are content-derived). `pqM > 0` maintains the IVFADC code
    * table in the same call.
    *
    * Replacement chunks carry the same materialized `near_dup_of` signal
    * the ingest loop stamps ([[graft.streaming.StreamingIngest.ingestDocBatch]])
    * — flagged against the store MINUS the document's own outgoing rows (an
    * edited chunk near-dupping its predecessor must not point at a removed
    * id) plus its batch-mates; `flagNearDups = false` skips the kernel.
    *
    * One revision per document: rows duplicated verbatim inside `docs`
    * (source redelivery) collapse to one, but TWO DISTINCT revisions of the
    * same id in one batch are rejected — `replace_one` semantics need a
    * single winner, and silently picking one would be nondeterministic;
    * reduce upstream (the streaming edits channel keeps the max-sequence
    * revision) before calling. `beforeOverwrite` is the race spec's seam
    * into the store rewrite. */
  def upsertDocChunks(spark: SparkSession, dir: String, docs: DataFrame,
                      nlist: Int, qualityThreshold: Double = 0.0,
                      idCol: String = "doc_id", textCol: String = "text",
                      trained: Boolean = false,
                      flagNearDups: Boolean = true,
                      flagMinCosine: Double = 0.9, flagNprobe: Int = 2,
                      pqM: Int = 0, pqKsub: Int = 32,
                      beforeOverwrite: () => Unit = () => (),
                      bulkThreshold: Int = BulkThreshold,
                      maxBatchBytes: Long = 4L << 30): (Long, Long) = {
    MaintenanceLease.withLease(spark, IvfCatalog.chunkStoreName(dir, nlist, trained)) {
    // generation resolved ONCE inside the lease (which excludes cutover
    // flips): every table this edit touches belongs to one generation
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, -1L)
    val store = TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained), g)
    require(spark.catalog.tableExists(store),
      s"stored chunk IVF index for '$dir' not built — assignedChunks first")
    // ONE collect gives the revision check and the id list: two distinct
    // texts ⟺ min ≠ max, or a text beside a null. `revs` and `assigned` are
    // pinned lazily (localCheckpoint(false): rows land with the first action
    // reading them) — computed once, with no lineage the rewrite invalidates
    val revs = docs.select(col(idCol).cast("long").as(idCol), col(textCol))
      .groupBy(col(idCol))
      .agg(min(col(textCol)).as(textCol), max(col(textCol)).as("__max"),
        count(col(textCol)).as("__texts"), count(lit(1)).as("__rows"))
      .localCheckpoint(false)
    val checked = revs.select(col(idCol),
        coalesce(col("__max") =!= col(textCol) ||
          (col("__texts") > 0 && col("__rows") > col("__texts")), lit(false)))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val multiRev = checked.filter(_._2).map(_._1)
    require(multiRev.isEmpty,
      s"batch carries more than one distinct revision of $idCol=${multiRev.min}" +
        " — reduce to one revision per document (e.g. latest by sequence) before upserting")
    val assigned = Similarity.ivfAssign( // one row per id: md5 chunk ids cannot collide
        Pipelines.featurePipeline(revs.select(col(idCol), col(textCol)),
            qualityThreshold, idCol, textCol)
          .select(col("chunk_id"), col("document_id"), col("word_count"), col("embedding")),
        IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g), idCol = "chunk_id")
      .localCheckpoint(false)
    val eids = new EditIds(spark, checked.map(_._1).toSeq, bulkThreshold)
    val added = docCellRows(assigned) // chunks added, their cells, the index's new pairs
    val nAdded = added.values.sum
    val oldCells = cellsOf(spark, dir, nlist, trained, eids, g)
    val touched = (added.keys.map(_._2).toSeq ++ oldCells).distinct.sorted
    val nRemoved = rowsOf(spark, store, eids, touched)
    // the ingest loop's flag (Dedup.nearDupFlags): the smallest counterpart
    // in UTF-8 binary order among stored chunks and batch-mates — the store
    // side excludes the documents' own OUTGOING rows, so a flag never points
    // at an id this call removes. Read once before the rewrite, one
    // counterpart per id per partition (a bulk batch ships ids, not pairs),
    // then a broadcast map. The kernel routes a micro-batch to its batched
    // form and a bulk batch to the distributed one
    val flags: Map[String, String] = if (!flagNearDups) Map.empty else {
      import spark.implicits._
      val least = graft.functions.Orderings.utf8
      graft.operators.Dedup.embeddingPairsCelledIncremental(
          assigned.select(col("chunk_id"), col("embedding")),
          eids.drop(spark.table(store)),
          IvfCatalog.chunkCentroidsStored(spark, dir, nlist, trained, gen = g),
          flagMinCosine, batchRows = nAdded, nprobe = flagNprobe, idCol = "chunk_id")
        .select("left_id", "right_id").as[(String, String)]
        .flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .mapPartitions(_.foldLeft(Map.empty[String, String]) { case (m, (a, b)) =>
          m.updated(a, m.get(a).fold(b)(least.min(_, b))) }.iterator)
        .collect().groupMapReduce(_._1)(_._2)(least.min)
    }
    val storeSchema = spark.table(store).schema
    val newRows = {
      val bc = spark.sparkContext.broadcast(flags)
      val flagged = assigned.withColumn("near_dup_of",
        udf((id: String) => bc.value.getOrElse(id, null)).apply(col("chunk_id")))
      flagged.select(storeSchema.fieldNames.map { f =>
        if (flagged.columns.contains(f)) col(f).cast(storeSchema(f).dataType).as(f)
        else lit(null).cast(storeSchema(f).dataType).as(f)
      }.toIndexedSeq: _*)
    }
    // mutation order is the crash-convergence contract (object scaladoc):
    // (1) index pairs FIRST — a crash after leaves superset false positives,
    //     pairs-after would leave live rows in unlisted cells forever;
    appendDocCells(spark, dir, nlist, trained, added.keys, gen = g)
    val codesTable =
      if (pqM == 0) None
      else Some(TableStore.physGen(
          IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, pqM, pqKsub, trained), g))
        .filter(spark.catalog.tableExists)
    // (2) replacement codes SECOND (idempotent by id) — visible-raw-but-
    //     uncoded is the one state with no converging replay;
    codesTable.foreach { _ =>
      IvfPqCatalog.appendChunkCodes(spark, dir,
        assigned.select(col("chunk_id"), col("embedding")), nlist, pqM, pqKsub, trained,
        gen = g)
    }
    // (3) the raw-store rewrite — fingerprint-defended, retried on a race,
    //     and byte-batched: each batch rewrites ≤ maxBatchBytes of store
    //     (one batch for an edit-stream call; a bulk re-crawl touching half
    //     the cells becomes a sequence of bounded jobs)
    val batches = cellBatches(spark, store, touched, maxBatchBytes)
    batches.foreach(cb => overwriteCellsRetrying(spark, store, cb,
      eids.drop(_).unionByName(newRows.filter(col("centroid_id").isin(cb: _*))), beforeOverwrite))
    // (4) dead-code purge LAST, keeping codes live in the REWRITTEN store —
    //     a removed-ids purge would delete live codes on a replayed
    //     unchanged upsert (same ids skipped by (2), then purged). Scope:
    //     only the documents' OLD cells — that is where the removed ids'
    //     codes live; rewriting every touched cell would pay a second full
    //     code rewrite per edit for nothing (a brand-new doc has no dead
    //     codes, and a crash orphan in a new cell merely reranks away until
    //     a later edit of that doc lists the cell and purges it)
    val oldCellSet = oldCells.toSet
    codesTable.foreach(purgeDeadCodes(spark, store, _, batches.map(_.filter(oldCellSet))))
    (nRemoved, nAdded)
    }
  }

  /** The N47 → S9 composition — scrub duplicated spans IN THE SERVING
    * STORE (the production remediation loop): `spans` locates duplicated
    * runs across the corpus ([[graft.operators.Dedup.duplicateSpans]], or
    * its sliced/incremental forms at scale), [[graft.operators.Dedup.scrubSpans]]
    * builds the replacement texts for the FLAGGED documents only, and the
    * bulk-capable upsert route pushes them into the stored chunk index —
    * so the store converges to exactly what a rebuild from the scrubbed
    * corpus would produce (DocLifecycleSpec pins the equivalence) at
    * flag-sized edit cost, never a corpus rebuild. A document scrubbed
    * wall-to-wall re-chunks to nothing, i.e. its chunks leave the store —
    * the Lee et al. 2022 treatment applied to a live index. The scrubbed
    * replacement table is materialized ONCE (the upsert takes several
    * actions over it; an unmaterialized plan would re-run the
    * corpus-shaped scrub per action). Near-dup flagging is off by
    * default: remediation rewrites are maintenance, not new content.
    * Returns (documents scrubbed, chunks removed, chunks added). */
  def scrubSpansInStore(spark: SparkSession, dir: String, docs: DataFrame,
                        spans: DataFrame, nlist: Int,
                        qualityThreshold: Double = 0.0,
                        idCol: String = "doc_id", textCol: String = "text",
                        trained: Boolean = false,
                        flagNearDups: Boolean = false,
                        pqM: Int = 0, pqKsub: Int = 32,
                        bulkThreshold: Int = BulkThreshold,
                        maxBatchBytes: Long = 4L << 30): (Long, Long, Long) = {
    val scrubbed = graft.operators.Dedup.scrubSpans(docs, spans, idCol, textCol)
      .withColumnRenamed("scrubbed_text", textCol)
      .localCheckpoint(true)
    val nDocs = scrubbed.count()
    if (nDocs == 0) return (0L, 0L, 0L)
    val (removed, added) = upsertDocChunks(spark, dir, scrubbed, nlist,
      qualityThreshold, idCol, textCol, trained,
      flagNearDups = flagNearDups, pqM = pqM, pqKsub = pqKsub,
      bulkThreshold = bulkThreshold, maxBatchBytes = maxBatchBytes)
    (nDocs, removed, added)
  }

  /** Cascading delete of `ids`' chunks from the stored index — S10 at the
    * serving-index level. Returns the number of chunks removed. Mutation
    * order: raw store first, code purge last (live-id semi-join, same as
    * upsert) — a crash between the two leaves dead codes that rerank away,
    * never live rows invisible to the compressed probe. */
  def deleteDocChunks(spark: SparkSession, dir: String, ids: Seq[Long],
                      nlist: Int, trained: Boolean = false,
                      pqM: Int = 0, pqKsub: Int = 32,
                      beforeOverwrite: () => Unit = () => (),
                      bulkThreshold: Int = BulkThreshold,
                      maxBatchBytes: Long = 4L << 30): Long = {
    MaintenanceLease.withLease(spark, IvfCatalog.chunkStoreName(dir, nlist, trained)) {
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, -1L)
    val store = TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained), g)
    require(spark.catalog.tableExists(store),
      s"stored chunk IVF index for '$dir' not built — assignedChunks first")
    val eids = new EditIds(spark, ids, bulkThreshold)
    val touched = cellsOf(spark, dir, nlist, trained, eids, g)
    if (touched.isEmpty) 0L
    else {
    val nRemoved = rowsOf(spark, store, eids, touched)
    val batches = cellBatches(spark, store, touched, maxBatchBytes)
    batches.foreach(overwriteCellsRetrying(spark, store, _, eids.drop(_), beforeOverwrite))
    if (pqM > 0) {
      val codes = TableStore.physGen(
        IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, pqM, pqKsub, trained), g)
      if (spark.catalog.tableExists(codes)) purgeDeadCodes(spark, store, codes, batches)
    }
    nRemoved
    }
    }
  }
}
