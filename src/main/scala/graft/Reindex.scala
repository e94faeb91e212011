package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Online blue/green rebuild of the chunk serving index — store + IVFADC
  * code table + doc→cells — at a NEW nlist / centroid set, while the
  * ingest and edit loops keep writing the old generation.
  *
  * Why it exists: the stored IVF index freezes its centroids at build time
  * (the assignment is only meaningful against the exact centroids that
  * made it, [[IvfCatalog.chunkCentroidsStored]]), and the nlist law
  * (SCALE.md round-7: nlist ≈ max(√n, n/cell_cap)) scales with corpus
  * size. A corpus that grows a decade under continuous ingest therefore
  * outgrows its frozen centroid set — cells fatten toward corpus-shaped
  * and probe cost degrades with cell size instead of nprobe/nlist. Every
  * other maintenance operation here is batch-shaped; this is the one that
  * ages by corpus decade, and doing it as "drop + rebuild from source"
  * would take the index offline for the full build AND re-run the chunk /
  * embed pipeline the store already paid for.
  *
  * Shape (the staged-sibling / delta-replay / metadata-swap pattern of
  * [[Compaction.compactBucketed]] and [[DocLifecycle.compactDocCells]],
  * scaled up to a four-table generation):
  *
  *  1. '''Stage centroids''': derive the new-generation centroid table
  *     from the CURRENT old store's embeddings (k-means in trained mode,
  *     the hash-seeded sample otherwise) — directly under its final
  *     `__gen<nonce>` physical name, like every staged table here:
  *     invisible until the pointer flip, so there is nothing to rename at
  *     cutover. Sampling drift from writes landing mid-derivation is
  *     harmless — assignment uses the frozen result, same contract as any
  *     build.
  *  2. '''Stage the store''': fingerprint-snapshot the old store's
  *     partition files ([[Compaction.fileFingerprint]] — the append log IS
  *     the store, so the snapshot doubles as the replay cursor), read
  *     exactly those files by path (immune to stale cached listings),
  *     re-assign every row to the new centroids, and clusterWrite the
  *     staged store `partitionBy(centroid_id)`. No re-chunking, no
  *     re-embedding — the rebuild reuses the stored embeddings, which is
  *     why it costs an assignment pass, not a pipeline run.
  *  3. '''Delta rounds''' (unleased — loops keep writing): re-fingerprint,
  *     and for every changed old cell reconcile the staged store: remove
  *     staged rows whose OLD-centroid assignment falls in a changed cell
  *     (recomputed from the embedding — assignment is deterministic, so
  *     this identifies exactly the rows that came from those cells,
  *     catching deletes and edits, not just appends), then add the cells'
  *     CURRENT rows re-assigned to the new centroids. Repeat until a round
  *     sees no change (or `maxRounds`). The staged cells each round
  *     touches are found through a doc-level old↔new cell map (see
  *     "removal soundness" below) — bounded by nlist, never corpus-shaped.
  *  4. '''Stage codes + doc→cells''': the IVFADC code table re-cells by a
  *     plain join of the CURRENT old code table with the staged store's
  *     (chunk_id → new centroid_id) — codes are cell-independent payload,
  *     the codebook ([[IvfPqCatalog.chunkCodebookStored]]) is
  *     nlist-independent and carried over, so no re-encoding either. The
  *     doc→cells index derives from the staged store
  *     ([[DocLifecycle.rebuildDocCells]]'s one shape).
  *  5. '''Cutover''' (holding the OLD store's [[MaintenanceLease]], so
  *     edits and compaction are excluded by mechanism): run leased
  *     reconcile rounds — now also patching the staged code table and
  *     appending doc→cells pairs — then close the [[CutoverGate]] (ingest
  *     appends, which never take the lease, PARK for the seconds this
  *     takes — the mechanized form of the quiesce that used to be
  *     operator-manual), reconcile the final delta until a diff comes
  *     back empty (guaranteed to converge: nothing can write the old
  *     generation inside the gate), and FLIP the group's generation
  *     pointer ([[TableStore.flipGen]] — one atomic rename) to the staged
  *     nonce. There are no table renames at all: the staging was built
  *     under its final `__gen<nonce>` physical names, invisible until the
  *     pointer references them. Parked appends resume, re-resolve the
  *     pointer, and land in the new generation; racing probes that
  *     resolved the old generation either finish against its still-intact
  *     tables or fail with the retriable stale class once the old tables
  *     drop, re-resolve, and serve the new generation — zero wrong
  *     answers, no reader quiesce, for SAME-nlist swaps too.
  *
  * '''Removal soundness.''' Step 3's removal must find which STAGED cells
  * can hold rows that came from a changed old cell, without scanning the
  * staged corpus. The live doc→cells index cannot answer this on its own:
  * its cadence rebuild reclaims pairs of deleted rows, which could drop
  * the very (doc, old cell) edge a later round needs. The rebuild
  * therefore keeps a PRIVATE append-only pair log: a frozen copy of the
  * old index taken at snapshot time (covers every phase-2 row, superset
  * contract) extended each round with the reconciled rows' (doc, old
  * cell) pairs (covers every row a round adds). Staged-side pairs
  * accumulate in the staged doc→cells the same way. Joining the two on
  * document_id maps changed old cells → candidate staged cells; false
  * positives cost a pruned read, a miss is impossible by construction.
  *
  * '''Generations and retargeting.''' Every (dir, nlist, trained) family
  * is one pointer GROUP ([[IvfCatalog.chunkGroup]]): probes resolve the
  * group's current generation nonce ONCE per operation and read the
  * `__gen<nonce>`-suffixed physical tables (nonce 0 = the natural names
  * every first build creates), so a probe can never pair one generation's
  * centroids with another's store — the race the old in-place
  * DROP+RENAME swap left open for same-nlist re-centroids is closed by
  * indirection, not by quiescing readers. With `newNlist != oldNlist`
  * the flip targets the NEW family's pointer and the old family keeps
  * serving untouched — probes/loops retarget by passing `newNlist`, and
  * [[dropChunkGeneration]] reclaims the old family once nothing reads
  * it. With `newNlist == oldNlist` the flip retires the group's own old
  * generation, whose physical tables are dropped after the flip (a
  * mid-scan reader fails loudly and recovers via
  * [[TableStore.retryingStale]]'s re-resolve — the serve-under-
  * maintenance contract, now covering re-centroids too).
  *
  * '''Crash recovery is structural.''' The pointer never references an
  * incomplete generation (the flip is the last mutating step and is one
  * atomic rename), so a JVM kill at ANY instant leaves a fully-serving
  * index: pre-flip, the old generation is still referenced and the
  * `__gen<nonce>` staging is unreferenced debris; post-flip, the new
  * generation serves and the replaced generation's tables are debris.
  * Debris is reclaimed three ways, all safe by construction: the failed
  * run's own catch (pre-flip only — post-flip staging IS the serving
  * index), the next rebuild's entry reclaim ([[reclaimNonCurrent]] — any
  * family table not referenced by its group's pointer), and
  * [[TableStore.sweepOrphans]]' age-gated cadence sweep, which refuses
  * gen-tagged tables whose nonce a live pointer references and — via the
  * per-nonce heartbeat a daemon thread touches for the rebuild's whole
  * life ([[TableStore.touchHeartbeat]]) — the staging of any LIVE
  * rebuild, however long its base pass runs. Concurrent rebuilds of one
  * corpus directory are serialized by a dir-scoped [[MaintenanceLease]]
  * held (and heartbeat-refreshed) for the whole rebuild.
  */
object Reindex {

  /** What the rebuild did: `baseRows` re-assigned at the snapshot,
    * `deltaRows` replayed across all reconcile rounds, and the wall-clock
    * split — `cutoverSeconds` is the part that needs quiesced writers
    * (the lease window: final diffs + reconcile + four renames). */
  case class Report(oldNlist: Int, newNlist: Int,
                    baseRows: Long, deltaRows: Long,
                    rounds: Int, cutoverRounds: Int,
                    centroidSeconds: Double, buildSeconds: Double,
                    roundsSeconds: Double, codesSeconds: Double,
                    cutoverSeconds: Double)

  private type Fp = Map[String, Set[(String, Long)]]

  private def tableRoot(spark: SparkSession, name: String) = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(name))
    new org.apache.hadoop.fs.Path(meta.location)
  }

  /** Current fingerprint of EVERY partition of `name` — the diff unit.
    * Unlike a fixed-spec fingerprint, re-lists the partition dirs first, so
    * cells appended into existence (and dirs dropped by emptied-cell
    * partition drops) show up as changes. */
  private def fingerprintAll(spark: SparkSession, name: String): Fp = {
    val root = tableRoot(spark, name)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val specs = Compaction.partitionStats(spark, name).map(_.spec)
    Compaction.fileFingerprint(fs, root, specs)
  }

  /** Old cells whose files changed between two fingerprints (either
    * direction — appended, rewritten, emptied, or newly created). */
  private def changedCells(prev: Fp, cur: Fp): Seq[Long] =
    (prev.keySet ++ cur.keySet).toSeq
      .filter(s => prev.getOrElse(s, Set.empty) != cur.getOrElse(s, Set.empty))
      .map(_.split("=", 2)(1).toLong).sorted

  /** The CURRENT rows of `cells` in the old store, read from exactly the
    * fingerprint's files by path (the spill discipline of
    * [[Compaction.compactTable]]): the rows this fingerprint state vouches
    * for, immune to the session's cached listing. */
  private def readCells(spark: SparkSession, name: String, fp: Fp,
                        cells: Seq[Long]): DataFrame = {
    val root = tableRoot(spark, name)
    val schema = spark.table(name).schema
    val files = cells.flatMap { c =>
      val spec = s"centroid_id=$c"
      fp.getOrElse(spec, Set.empty).map { case (fname, _) =>
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(root, spec), fname).toString }
    }
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val dataSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == "centroid_id"))
      spark.read.schema(dataSchema)
        .option("basePath", root.toString)
        .parquet(files: _*)
        .withColumn("centroid_id",
          col("centroid_id").cast(schema("centroid_id").dataType))
    }
  }

  /** Append `pairs` (document_id, centroid_id) into a bucketed pair table —
    * [[DocLifecycle.rebuildDocCells]]' clusterWrite shape, on a private staged
    * table (no lock needed: nothing else writes it). */
  private def appendPairs(spark: SparkSession, table: String, pairs: DataFrame): Unit =
    pairs.select(col("document_id"), col("centroid_id")).distinct()
      .repartition(32, col("document_id"))
      .write.mode("append")
      .bucketBy(32, "document_id").sortBy("document_id")
      .format("parquet").saveAsTable(table)

  /** Drop every physical variant of `logicals` that its group's pointer
    * does not currently reference — the entry/exit reclaim of the
    * pointer-flip cutover. Covers: a crashed pre-flip run's `__gen` staging
    * (pointer never moved), a crashed post-flip run's replaced generation
    * (pointer moved, drops didn't finish), a rebuild-private
    * `__gen<nonce>_oldpairs` log, and — after a flip onto a family that
    * had an independent natural-name build — those bare naturals. Caller
    * holds the dir's reindex lease, so no live rebuild's staging can be
    * caught here (and the cadence sweep's heartbeat/pointer refusals guard
    * the cross-JVM case). `group(logical)` maps each logical name to its
    * pointer group. */
  private[graft] def reclaimNonCurrent(spark: SparkSession,
                                       logicals: Seq[String],
                                       group: String => String): Unit = {
    val tables = spark.sessionState.catalog.listTables("default").map(_.table)
    logicals.distinct.foreach { logical =>
      val lc = logical.toLowerCase(java.util.Locale.ROOT)
      val current = TableStore.physGen(lc,
        TableStore.currentGen(spark, group(logical)))
      // marked-staging siblings (a crashed compactDocCells swap's __cstage)
      // of a retired variant retire WITH it — otherwise the sweep's
      // natural-absent refusal would guard that debris forever. The
      // CURRENT table's own staging is kept: an independent leased swap of
      // the live generation may own it right now.
      val variant = (s"^${java.util.regex.Pattern.quote(lc)}(__gen\\d+(_oldpairs)?)?" +
        "(__(cstage|rstage|retired)\\d+)?$").r
      val currentOwn =
        s"^${java.util.regex.Pattern.quote(current)}__(cstage|rstage|retired)\\d+$$".r
      tables.filter(t => variant.findFirstIn(t).isDefined)
        .filterNot(_ == current)
        .filterNot(t => currentOwn.findFirstIn(t).isDefined)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  /** Rebuild the chunk serving index for `dir` from `oldNlist` (and its
    * frozen centroids) to `newNlist` with freshly derived centroids, blue/
    * green. `pqM > 0` carries the IVFADC code table into the new
    * generation (the codebook is nlist-independent and reused). Returns a
    * [[Report]]; the new generation is live — referenced by the
    * (dir, newNlist, trained) group's generation pointer — when this
    * returns.
    *
    * `beforeRounds` / `beforeCutover` / `beforeSwap` / `afterFlip` are the
    * race/crash specs' injection seams: after the staged build (before the
    * first reconcile round), after codes+pairs staging (before the lease),
    * INSIDE the closed cutover gate after the final diff converges (just
    * before the pointer flip — a throw here is the crash that must leave
    * the old generation serving untouched), and directly after the flip
    * (before the replaced generation's tables drop — a throw here is the
    * crash that must leave the NEW generation serving, its debris owned by
    * the next run / the sweep). Note the seams run on the rebuild's own
    * thread, where its leases are reentrant; a concurrent writer belongs
    * on another thread.
    *
    * `gateWaitMs` bounds how long the cutover waits for in-flight appends
    * to drain before the gate closes. Sized for the corpus, not the test:
    * an append micro-batch at the 100 TB target can legitimately run
    * minutes, and failing the cutover at the last step discards nothing
    * but wastes the staged build's lead time — while the fair gate means
    * a longer bound never lengthens the actual park (queued appends wait
    * exactly until in-flight ones drain plus the critical section,
    * whatever the bound). */
  def rebuildChunkIndex(spark: SparkSession, dir: String,
                        oldNlist: Int, newNlist: Int,
                        trained: Boolean = false,
                        pqM: Int = 0, pqKsub: Int = 32,
                        maxRounds: Int = 8,
                        maxBatchBytes: Long = 4L << 30,
                        gateWaitMs: Long = 10 * 60 * 1000L,
                        beforeRounds: () => Unit = () => (),
                        beforeCutover: () => Unit = () => (),
                        beforeSwap: () => Unit = () => (),
                        afterFlip: () => Unit = () => ()): Report = {
    // one rebuild per corpus dir at a time: staging names, the private pair
    // log, and the entry reclaim below all assume no sibling rebuild is
    // mid-flight. Held (and keepalive-touched) for the whole run.
    val reindexScope = TableStore.tableName("reindex", dir)
    MaintenanceLease.withLease(spark, reindexScope) {
    val oldGroup = IvfCatalog.chunkGroup(dir, oldNlist, trained)
    val newGroup = IvfCatalog.chunkGroup(dir, newNlist, trained)
    val cb = if (pqM > 0) Some(IvfPqCatalog.chunkCodebookStored(spark, dir, pqM, pqKsub, trained))
             else None
    // logical family names — lease scopes, pointer groups, reclaim keys
    val oldStoreL = IvfCatalog.chunkStoreName(dir, oldNlist, trained)
    val oldCentsL = IvfCatalog.chunkCentroidsName(dir, oldNlist, trained)
    val oldDcL = DocLifecycle.docCellsName(dir, oldNlist, trained)
    val newStoreL = IvfCatalog.chunkStoreName(dir, newNlist, trained)
    val newCentsL = IvfCatalog.chunkCentroidsName(dir, newNlist, trained)
    val newDcL = DocLifecycle.docCellsName(dir, newNlist, trained)
    val oldCodesL = cb.map(IvfPqCatalog.chunkCodesName(dir, oldNlist, pqM, pqKsub, trained, _))
    val newCodesL = cb.map(IvfPqCatalog.chunkCodesName(dir, newNlist, pqM, pqKsub, trained, _))
    val oldFamily = Seq(oldStoreL, oldCentsL, oldDcL) ++ oldCodesL.toSeq
    def groupOf(logical: String): String =
      if (oldFamily.contains(logical)) oldGroup else newGroup
    // debris of a crashed prior run — unreferenced gen-tagged tables of
    // either family — is reclaimed up front (safe under the reindex lease)
    reclaimNonCurrent(spark,
      oldFamily ++ Seq(newStoreL, newCentsL, newDcL) ++ newCodesL.toSeq, groupOf)
    // the OLD generation, resolved ONCE: nothing can flip it mid-rebuild
    // (only a rebuild flips, and this lease serializes rebuilds)
    val oldG = TableStore.currentGen(spark, oldGroup)
    val oldStore = TableStore.physGen(oldStoreL, oldG)
    val oldCodes = oldCodesL.map(TableStore.physGen(_, oldG))
    require(spark.catalog.tableExists(oldStore),
      s"stored chunk IVF index for '$dir' at nlist=$oldNlist not built — nothing to rebuild")
    oldCodes.foreach(n => require(spark.catalog.tableExists(n),
      s"pqM=$pqM but the old generation has no code table $n — build encodedChunks first"))
    // the NEW generation's physical names, final from the first write:
    // invisible to every reader until the pointer flip references the nonce
    val nonce = System.nanoTime()
    val stStore = TableStore.physGen(newStoreL, nonce)
    val stCents = TableStore.physGen(newCentsL, nonce)
    val stDc = TableStore.physGen(newDcL, nonce)
    val stCodes = newCodesL.map(TableStore.physGen(_, nonce))
    val stOldPairs = s"${oldDcL}__gen${nonce}_oldpairs"

    val schema = spark.table(oldStore).schema
    val storeCols = schema.fieldNames.toIndexedSeq
    var deltaRows = 0L
    var flipped = false

    // liveness keepalive: the staged centroid table is written ONCE in
    // phase 1 and never touched again, so a base pass outliving the sweep
    // horizon would age it past deletion while still referenced — the
    // per-nonce heartbeat stays young for the rebuild's whole life
    // (a daemon toucher, not per-round touches, so a multi-hour assignment
    // pass is covered too). The rebuild's LEASES — the run-long reindex
    // scope and the cutover's store lease — need no thread here: every
    // held lease is refreshed by [[MaintenanceLease]]'s own keepalive
    // daemon, so neither can be TTL-broken while this JVM lives.
    TableStore.touchHeartbeat(spark, nonce)
    val hbThread = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(60 * 1000L)
          TableStore.touchHeartbeat(spark, nonce)
        }
      } catch { case _: InterruptedException => () }
    })
    hbThread.setDaemon(true)
    hbThread.setName(s"graft-reindex-hb-$nonce")
    hbThread.start()

    // reconcile the staged store (and, once staged, the code table) to the
    // current state of `cells` in the old generation: remove staged rows
    // that CAME from those cells (identified by re-deriving their
    // old-centroid assignment — deterministic, so exact), add the cells'
    // current rows under the new assignment, log both pair sides
    def reconcile(fp: Fp, cells: Seq[Long], withCodes: Boolean): Unit = {
      if (cells.isEmpty) return
      val oldCentTbl = IvfCatalog.chunkCentroidsStored(spark, dir, oldNlist, trained, gen = oldG)
      val newCentTbl = spark.table(stCents)
      // current rows of the changed old cells, re-assigned to new centroids
      val incoming = Similarity.ivfAssign(
          readCells(spark, oldStore, fp, cells).withColumnRenamed("centroid_id", "__old_cid"),
          newCentTbl, idCol = "chunk_id")
        .localCheckpoint(true) // pinned: reads old-store files a racing edit may rewrite
      deltaRows += incoming.count()
      // pair logs FIRST (never-miss ordering, same as every append path)
      appendPairs(spark, stOldPairs,
        incoming.select(col("document_id"), col("__old_cid").as("centroid_id")))
      appendPairs(spark, stDc, incoming.select(col("document_id"), col("centroid_id")))
      // candidate staged cells: every new cell any doc that EVER had rows in
      // a changed old cell maps to (private pair log join — superset, see
      // object scaladoc) ∪ the incoming rows' own new cells. isInCollection
      // (InSet past the conversion threshold) keeps the filters codegen'd
      // and pushable — a closure UDF would block both
      val inCells = col("centroid_id").isInCollection(cells)
      val mappedCells = spark.table(stOldPairs)
        .filter(inCells).select("document_id").distinct()
        .join(spark.table(stDc), "document_id")
        .select("centroid_id").distinct()
        .collect().map(_.getLong(0))
      val incomingCells = incoming.select("centroid_id").distinct()
        .collect().map(_.getLong(0))
      val touched = (mappedCells ++ incomingCells).distinct.sorted.toSeq
      val newRows = incoming.select(storeCols.map(col): _*)
      // bounded rewrite of the touched staged cells (byte-batched like the
      // lifecycle rewrites; the staged table is private, so the fingerprint
      // defense inside never fires — it is reused, not needed)
      DocLifecycle.cellBatches(spark, stStore, touched, maxBatchBytes).foreach { cbatch =>
        DocLifecycle.overwriteCellsRetrying(spark, stStore, cbatch, { base =>
          val kept = Similarity.ivfAssign(
              base.withColumnRenamed("centroid_id", "__new_cid"),
              oldCentTbl, idCol = "chunk_id")
            .filter(!col("centroid_id").isInCollection(cells)) // from an unchanged old cell
            .drop("centroid_id").withColumnRenamed("__new_cid", "centroid_id")
          kept.select(storeCols.map(col): _*)
            .unionByName(newRows.filter(col("centroid_id").isInCollection(cbatch)))
        })
        if (withCodes) stCodes.foreach { sc =>
          // same cells on the code side: drop codes of removed/changed
          // chunks, add the incoming chunks' codes (read from the OLD code
          // table's matching cells — the assignment is identical, so the
          // pruned read finds them; a code-less chunk stays code-less, the
          // same crash-orphan state the old generation serves)
          val incomingCodes = spark.table(oldCodes.get)
            .filter(inCells)
            .drop("centroid_id")
            .join(newRows.filter(col("centroid_id").isInCollection(cbatch))
                .select(col("chunk_id"), col("centroid_id")), "chunk_id")
            .localCheckpoint(true)
          val removedIds = spark.table(stStore) // post-rewrite live ids of the batch
            .filter(col("centroid_id").isInCollection(cbatch))
            .select("chunk_id")
          DocLifecycle.overwriteCellsRetrying(spark, sc, cbatch, { base =>
            val codeCols = base.columns.toIndexedSeq
            base.join(incomingCodes.select("chunk_id"), Seq("chunk_id"), "left_anti")
              .join(removedIds, Seq("chunk_id"), "left_semi") // keep only still-live
              .select(codeCols.map(col): _*)
              .unionByName(incomingCodes.select(codeCols.map(col): _*))
          })
        }
      }
    }

    try {
      // ---- 1. stage the new-generation centroids (from the current store)
      val t0 = System.nanoTime()
      val live = spark.table(oldStore).filter(col("embedding").isNotNull)
      (if (trained) Similarity.kmeansCentroids(live, newNlist)
       else Similarity.hashSeededCentroids(live, newNlist,
         idCol = "chunk_id", embCol = "embedding"))
        .write.mode("overwrite").format("parquet").saveAsTable(stCents)
      val tCent = (System.nanoTime() - t0) / 1e9

      // ---- 2. snapshot + stage the store (assignment pass, no re-embed)
      val t1 = System.nanoTime()
      var fp = fingerprintAll(spark, oldStore)
      val allCells = fp.keySet.map(_.split("=", 2)(1).toLong).toSeq.sorted
      val base = Similarity.ivfAssign(
        readCells(spark, oldStore, fp, allCells).drop("centroid_id"),
        spark.table(stCents), idCol = "chunk_id")
      base.select(storeCols.map(col): _*)
        .repartition(col("centroid_id")) // clusterWrite: one file per cell
        .write.mode("overwrite").partitionBy("centroid_id")
        .format("parquet").saveAsTable(stStore)
      val baseRows = spark.table(stStore).count()
      // private pair logs: frozen old-index copy + staged-side index
      DocLifecycle.docCells(spark, dir, oldNlist, trained, gen = oldG)
        .select("document_id", "centroid_id").distinct()
        .repartition(32, col("document_id"))
        .write.mode("overwrite")
        .bucketBy(32, "document_id").sortBy("document_id")
        .format("parquet").saveAsTable(stOldPairs)
      DocLifecycle.rebuildDocCells(spark, stStore, stDc)
      val tBuild = (System.nanoTime() - t1) / 1e9

      // ---- 3. unleased delta rounds until quiet (loops keep writing)
      beforeRounds()
      val t2 = System.nanoTime()
      var rounds = 0
      var quiet = false
      while (!quiet && rounds < maxRounds) {
        val cur = fingerprintAll(spark, oldStore)
        val changed = changedCells(fp, cur)
        if (changed.isEmpty) quiet = true
        else {
          // a racing EDIT can delete the very files this round's diff
          // vouched for mid-read — re-diff and redo rather than dying
          // (reconcile is idempotent: cells stay flagged until fp advances)
          try { reconcile(cur, changed, withCodes = false); fp = cur }
          catch { case e: Throwable if TableStore.isStaleListing(e) => () }
          rounds += 1
        }
      }
      val tRounds = (System.nanoTime() - t2) / 1e9

      // ---- 4. stage the code table: re-cell current codes by the staged
      // assignment (payload join — no re-encoding; the codebook carries over)
      val t3 = System.nanoTime()
      stCodes.foreach { sc =>
        spark.catalog.refreshTable(oldCodes.get)
        val codeCols = spark.table(oldCodes.get).schema.fieldNames.toIndexedSeq
        spark.table(oldCodes.get).drop("centroid_id")
          .join(spark.table(stStore).select("chunk_id", "centroid_id"), "chunk_id")
          .select(codeCols.map(col): _*) // old schema order, centroid_id last
          .repartition(col("centroid_id"))
          .write.mode("overwrite").partitionBy("centroid_id")
          .format("parquet").saveAsTable(sc)
      }
      val tCodes = (System.nanoTime() - t3) / 1e9

      // ---- 5. cutover under the old generation's lease (edits/compaction
      // excluded by mechanism) — leased reconcile rounds with the gate
      // still open, then the gate closes: ingest appends PARK for the
      // seconds the final converge + pointer flip take
      beforeCutover()
      val t4 = System.nanoTime()
      var cutRounds = 0
      MaintenanceLease.withLease(spark, oldStoreL) {
        var cur = fingerprintAll(spark, oldStore)
        var changed = changedCells(fp, cur)
        while (changed.nonEmpty && cutRounds < 3) {
          reconcile(cur, changed, withCodes = pqM > 0)
          fp = cur; cutRounds += 1
          cur = fingerprintAll(spark, oldStore)
          changed = changedCells(fp, cur)
        }
        // same-nlist: one group, one gate. Diff-nlist: BOTH gates close —
        // the flip targets newGroup, and an unparked same-JVM append to a
        // pre-existing natural-name build of the new family could land
        // rows mid-flip that reclaimNonCurrent then drops as stale
        CutoverGate.closedAll(Seq(oldGroup, newGroup), maxWaitMs = gateWaitMs) {
          // nothing same-JVM can write the old generation now: the final
          // delta is one parked-append-free reconcile and MUST converge —
          // a diff still moving means a cross-JVM writer outside the
          // deployment contract, which stays a loud failure
          var gateRounds = 0
          var gCur = fingerprintAll(spark, oldStore)
          var gChanged = changedCells(fp, gCur)
          while (gChanged.nonEmpty && gateRounds < 2) {
            reconcile(gCur, gChanged, withCodes = pqM > 0)
            fp = gCur; cutRounds += 1; gateRounds += 1
            gCur = fingerprintAll(spark, oldStore)
            gChanged = changedCells(fp, gCur)
          }
          if (gChanged.nonEmpty) throw new IllegalStateException(
            s"old store $oldStore still changing inside the CLOSED cutover gate — " +
              "a cross-JVM writer is appending outside the deployment contract; " +
              "quiesce it for the cutover")
          beforeSwap()
          // THE cutover: one atomic pointer rename. No table moves; the
          // staged tables were built under their final physical names.
          TableStore.flipGen(spark, newGroup, nonce)
          flipped = true
        }
        afterFlip()
        // the replaced generation — same-nlist: this group's pre-flip
        // tables; diff-nlist: a stale independent build of the new family,
        // if one existed — is now unreferenced. Reclaim it (the OLD family
        // of a diff-nlist rebuild keeps serving: its pointer is unmoved).
        reclaimNonCurrent(spark,
          Seq(newStoreL, newCentsL, newDcL) ++ newCodesL.toSeq, groupOf)
      }
      val tCut = (System.nanoTime() - t4) / 1e9
      Report(oldNlist, newNlist, baseRows, deltaRows, rounds, cutRounds,
        tCent, tBuild, tRounds, tCodes, tCut)
    } catch {
      case e: Throwable =>
        // pre-flip, the staging is unreferenced and disposable — the old
        // generation never stopped serving. Post-flip the staging IS the
        // serving generation: keep everything (the replaced generation's
        // leftovers are owned by the next run's reclaim / the sweep).
        if (!flipped)
          (Seq(stStore, stCents, stDc, stOldPairs) ++ stCodes.toSeq).foreach { t =>
            spark.sql(s"DROP TABLE IF EXISTS `$t`") }
        throw e
    } finally {
      hbThread.interrupt()
      try {
        val hb = TableStore.heartbeatPath(spark, nonce)
        hb.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hb, false)
      } catch { case NonFatal(_) => () }
      if (flipped) spark.sql(s"DROP TABLE IF EXISTS `$stOldPairs`")
    }
    }
  }

  /** One hot-cell split's outcome: `cell` was over `bytes`, its rows moved
    * to `children` (the two local 2-means replacements) and `migrated`
    * other cells (boundary rows whose globally-nearest centroid was never
    * the parent's children); `parentRetired` is false when a late append
    * raced the rewrite in — the parent stays a live centroid holding
    * exactly those rows, and the next cadence pass re-examines it. */
  case class SplitReport(cell: Long, bytes: Long, children: Seq[Long],
                         migrated: Seq[Long], movedRows: Long,
                         parentRetired: Boolean, seconds: Double)

  /** Split the chunk store's oversized cells — the maintenance pass for
    * SKEWED GEOMETRY under frozen centroids: ingest drift can fatten one
    * cell far past every byte bound sized for the √n law, after which (a)
    * every probe of that cell scans corpus-shaped bytes and (b)
    * [[DocLifecycle.cellBatches]]' byte-batched rewrites degenerate to one
    * oversized job (the cap bounds multi-cell batches; it cannot shrink a
    * single cell). Run on the maintenance cadence off a
    * [[Compaction.partitionStats]] trigger: any cell over `maxCellBytes`
    * is split, largest first, at most `maxSplits` per pass (each split is
    * a bounded job; a pathological store heals over a few cadences).
    *
    * Per cell: derive TWO replacement centroids by seeded 2-means over the
    * cell's own rows, register them in the frozen centroid table FIRST
    * (probe-safe — a child with no rows is an empty pruned scan), then
    * re-assign the cell's rows against the FULL new centroid set (children
    * and existing cells alike — restricting targets to the children would
    * strand boundary rows whose nearest centroid is elsewhere): every
    * MOVED row lands in its globally-nearest cell. Rows of OTHER cells are
    * untouched, and a new child can become globally nearer for a few of
    * their boundary rows — those cost at most one extra probe (the child
    * outranks the row's own cell in the probe list) until the next
    * blue/green rebuild restores the exact invariant corpus-wide; the
    * probe-bounded recall trade every online IVF modification carries,
    * pinned at nprobe=2 by ReindexSpec. Then append the moved
    * (doc → cell) pairs to the
    * doc→cells index (never-miss ordering; the parent's stale pairs are
    * superset false positives the cadence reclaims), and rewrite the
    * touched cells through [[DocLifecycle.overwriteCellsRetrying]]'s
    * fingerprint defense. The move is keyed by a SNAPSHOT id→target map,
    * so a concurrent append racing the rewrite retries in and its rows
    * STAY in the parent — the parent centroid is then kept, not retired
    * (a removed centroid whose cell still holds rows would hide them from
    * every probe forever). When `pqM > 0` the code table's rows relabel
    * through the same map. The parent centroid is removed last, only once
    * its cell verifiably emptied.
    *
    * Deployment contract: the pass holds the store's [[MaintenanceLease]]
    * per split (excludes edits/compaction); run it serial with the ingest
    * loop like every maintenance writer — the fingerprint defense covers a
    * straggler append, and the one unfenced instant is the rename-only
    * commit window. Returns one report per split cell. */
  def splitHotCells(spark: SparkSession, dir: String, nlist: Int,
                    trained: Boolean = false,
                    pqM: Int = 0, pqKsub: Int = 32,
                    maxCellBytes: Long = 4L << 30,
                    maxSplits: Int = 4,
                    beforeRewrite: () => Unit = () => ()): Seq[SplitReport] = {
    val store = TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained),
      TableStore.currentGen(spark, IvfCatalog.chunkGroup(dir, nlist, trained)))
    if (!spark.catalog.tableExists(store)) return Nil
    val hot = Compaction.partitionStats(spark, store)
      .filter(_.bytes > maxCellBytes).sortBy(-_.bytes).take(maxSplits)
    hot.map { p =>
      val cell = p.spec.split("=", 2)(1).toLong
      splitCell(spark, dir, nlist, trained, pqM, pqKsub, cell, p.bytes, beforeRewrite)
    }
  }

  private def splitCell(spark: SparkSession, dir: String, nlist: Int,
                        trained: Boolean, pqM: Int, pqKsub: Int,
                        cell: Long, bytes: Long,
                        beforeRewrite: () => Unit): SplitReport =
    MaintenanceLease.withLease(spark, IvfCatalog.chunkStoreName(dir, nlist, trained)) {
    val t0 = System.nanoTime()
    // generation resolved inside the lease (a cutover needs the same
    // scope, so it cannot flip under this split)
    val g = IvfCatalog.resolveChunkGen(spark, dir, nlist, trained, -1L)
    val store = TableStore.physGen(IvfCatalog.chunkStoreName(dir, nlist, trained), g)
    val centsName = TableStore.physGen(IvfCatalog.chunkCentroidsName(dir, nlist, trained), g)
    spark.catalog.refreshTable(store)
    val rows = spark.table(store)
      .filter(col("centroid_id") === cell && col("embedding").isNotNull)
    if (rows.limit(2).count() < 2) // nothing to bisect (a single giant row)
      return SplitReport(cell, bytes, Nil, Nil, 0L,
        parentRetired = false, (System.nanoTime() - t0) / 1e9)
    // index metadata: tiny by construction (one row per cell)
    val existing = spark.table(centsName)
      .select(col("centroid_id").cast("long"), col("centroid_vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    val nextId = existing.keys.max + 1
    val kids = Similarity.kmeansCentroids(rows, 2)
      .select((col("centroid_id") + lit(nextId)).as("centroid_id"), col("centroid_vec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    // 1. register the children (idempotent: rewrite the tiny table deduped
    //    by id, so a crashed-then-replayed split can't double-register)
    import spark.implicits._
    def writeCents(entries: Seq[(Long, Seq[Float])]): Unit =
      entries.sortBy(_._1).toDF("centroid_id", "centroid_vec")
        .select(col("centroid_id"), col("centroid_vec").cast("array<float>").as("centroid_vec"))
        .write.mode("overwrite").format("parquet").saveAsTable(centsName)
    writeCents(((existing -- kids.map(_._1)) ++ kids).toSeq)
    spark.catalog.refreshTable(centsName)
    // 2. snapshot id→target map: global re-assignment of the cell's rows
    val moved = Similarity.ivfAssign(
        rows.drop("centroid_id"),
        spark.table(centsName).filter(col("centroid_id") =!= cell),
        idCol = "chunk_id")
      .localCheckpoint(true) // pinned before the rewrite invalidates its lineage
    val movedPairs = DocLifecycle.docCellRows(moved)
    val movedRows = movedPairs.values.sum
    val targets = movedPairs.keys.map(_._2).toSeq.distinct.sorted
    // 3. pairs BEFORE rows (the index must never miss a cell)
    if (spark.catalog.tableExists(TableStore.physGen(
          DocLifecycle.docCellsName(dir, nlist, trained), g)))
      DocLifecycle.appendDocCells(spark, dir, nlist, trained, movedPairs.keys, gen = g)
    // 4. the store rewrite: moved ids land at their targets; anything ELSE
    //    in the parent (a raced-in append, retried through the fingerprint
    //    defense) stays put, keeping the parent alive. `beforeRewrite` is
    //    the race spec's injection seam (post-snapshot, pre-rewrite).
    beforeRewrite()
    val storeCols = spark.table(store).schema.fieldNames.toIndexedSeq
    val movedIds = moved.select("chunk_id")
    DocLifecycle.overwriteCellsRetrying(spark, store, (cell +: targets).distinct, { base =>
      base.join(movedIds, Seq("chunk_id"), "left_anti")
        .select(storeCols.map(col): _*)
        .unionByName(moved.select(storeCols.map(col): _*))
    })
    // 5. the code table relabels through the same map
    if (pqM > 0) {
      val codes = TableStore.physGen(
        IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, pqM, pqKsub, trained), g)
      if (spark.catalog.tableExists(codes)) {
        val codeCols = spark.table(codes).schema.fieldNames.toIndexedSeq
        val map = moved.select(col("chunk_id"), col("centroid_id").as("__target"))
        DocLifecycle.overwriteCellsRetrying(spark, codes, (cell +: targets).distinct, { base =>
          base.join(map, Seq("chunk_id"), "left")
            .withColumn("centroid_id", coalesce(col("__target"), col("centroid_id")))
            .select(codeCols.map(col): _*)
        })
      }
    }
    // 6. retire the parent centroid — only if its cell verifiably emptied
    spark.catalog.refreshTable(store)
    val parentLive = spark.table(store).filter(col("centroid_id") === cell)
      .limit(1).count() > 0
    if (!parentLive) {
      writeCents((existing -- Seq(cell) -- kids.map(_._1) ++ kids).toSeq)
      spark.catalog.refreshTable(centsName)
    }
    SplitReport(cell, bytes, kids.map(_._1).toSeq,
      targets.filterNot(kids.map(_._1).contains), movedRows,
      parentRetired = !parentLive, (System.nanoTime() - t0) / 1e9)
    }

  /** Geometry-drift advice: the generation at `nlist` has outgrown the
    * nlist law for its CURRENT corpus size and is due a blue/green
    * rebuild ([[rebuildChunkIndex]]). `recommendedNlist` is the law's
    * answer today; `driftFactor` = recommended / current. */
  case class Advice(store: String, nlist: Int, corpusRows: Long,
                    recommendedNlist: Int, driftFactor: Double)

  /** Detect when the frozen-centroid chunk generation is due a rebuild.
    *
    * The nlist law (SCALE.md round-7, three decades of sweep evidence):
    * `nlist_law(n) = max(√n, n / cellCapRows)` — √n is the compute
    * optimum; the n/cellCapRows lower bound keeps one cell's rows inside
    * a task's memory, the hard constraint at 100 TB. A store built at
    * yesterday's n and grown under the ingest loop drifts off the law:
    * cells fatten linearly with corpus growth and probe cost follows cell
    * size instead of nprobe/nlist. [[splitHotCells]] repairs the skewed
    * TAIL at cell cost; this detects the UNIFORM drift only a new
    * centroid set fixes, firing once `recommendedNlist ≥ triggerFactor ×
    * nlist` (the default 2.0 ≈ 4× corpus growth under the √n regime —
    * early enough that the rebuild runs while probes still serve, late
    * enough that rebuilds stay decade-rare events, and any skew spike in
    * between remains the split pass's job).
    *
    * Cost: one COUNT over the store — with no data columns referenced the
    * scan reads parquet footer row counts, not pages; cheap enough for
    * the maintenance cadence it rides (the loops' `compactEvery` blocks
    * call this and hand any advice to `onAdvice`). Returns None when the
    * generation doesn't exist or the law is still satisfied within
    * `triggerFactor`. Acting on it stays a deployment decision: the
    * rebuild takes a lease-held cutover, so the loops' own cadence never
    * triggers it implicitly. */
  def reindexAdvice(spark: SparkSession, dir: String, nlist: Int,
                    trained: Boolean = false,
                    cellCapRows: Long = 1L << 20,
                    triggerFactor: Double = 2.0): Option[Advice] = {
    require(triggerFactor >= 1.0, s"triggerFactor must be ≥ 1, got $triggerFactor")
    require(cellCapRows > 0, s"cellCapRows must be positive, got $cellCapRows")
    def resolveStore: String = TableStore.physGen(
      IvfCatalog.chunkStoreName(dir, nlist, trained),
      TableStore.currentGen(spark, IvfCatalog.chunkGroup(dir, nlist, trained)))
    val store = resolveStore
    if (!spark.catalog.tableExists(store)) return None
    // re-resolve inside the retried action: the stale state may be a flip,
    // after which the pinned old physical name is gone entirely
    val n = TableStore.retryingStaleBy(spark)(Seq(resolveStore)) {
      spark.table(resolveStore).count()
    }
    val law = math.max(math.sqrt(n.toDouble), n.toDouble / cellCapRows)
    val recommended = math.max(16, math.ceil(law).toInt)
    val drift = recommended.toDouble / nlist
    if (drift >= triggerFactor) Some(Advice(store, nlist, n, recommended, drift))
    else None
  }

  /** Reclaim a retired chunk-index generation — store, centroids,
    * doc→cells, and (when `pqM > 0`) the code table for (dir, nlist,
    * trained). Call once nothing probes or writes the generation; the
    * blue/green flow is rebuild → retarget readers/loops → drop. */
  def dropChunkGeneration(spark: SparkSession, dir: String, nlist: Int,
                          trained: Boolean = false,
                          pqM: Int = 0, pqKsub: Int = 32): Unit = {
    val group = IvfCatalog.chunkGroup(dir, nlist, trained)
    val g = TableStore.currentGen(spark, group)
    val codes =
      if (pqM > 0) Some(IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, pqM, pqKsub, trained))
      else None
    val registered = spark.sessionState.catalog.listTables("default").map(_.table)
    // the family's disk entries too: a crashed swap's staging may exist
    // ONLY on disk (a restarted JVM's in-memory catalog lists nothing) —
    // it retires with its family here, or the sweep's natural-absent
    // refusal would guard the debris forever once the naturals are gone
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val whFs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk =
      if (whFs.exists(wh)) whFs.listStatus(wh).map(_.getPath.getName).toSeq
      else Seq.empty[String]
    (Seq(IvfCatalog.chunkStoreName(dir, nlist, trained),
      IvfCatalog.chunkCentroidsName(dir, nlist, trained),
      DocLifecycle.docCellsName(dir, nlist, trained)) ++ codes.toSeq)
      .foreach { t =>
        val phys = TableStore.physGen(t, g).toLowerCase(java.util.Locale.ROOT)
        spark.sql(s"DROP TABLE IF EXISTS `$phys`")
        // the member's own disk directory too: in a restarted JVM the
        // in-memory catalog lists nothing, the DROP is a no-op, and a
        // gen-0 natural's directory is never orphan-shaped to the sweep —
        // "the family is gone" must mean the bytes, not just the entries
        val physP = new org.apache.hadoop.fs.Path(wh, phys)
        try if (whFs.exists(physP)) whFs.delete(physP, true)
        catch { case NonFatal(_) => () }
        // crashed-swap staging of a dropped member retires with its family
        val marked =
          s"^${java.util.regex.Pattern.quote(phys)}__(cstage|rstage|retired)\\d+$$".r
        (registered ++ onDisk).distinct
          .filter(tb => marked.findFirstIn(tb).isDefined)
          .foreach { tb =>
            spark.sql(s"DROP TABLE IF EXISTS `$tb`")
            val p = new org.apache.hadoop.fs.Path(wh, tb)
            try if (whFs.exists(p)) whFs.delete(p, true)
            catch { case NonFatal(_) => () }
          }
      }
    // the family is gone — retire its pointer so a future first build
    // starts back at the natural names
    val ptr = TableStore.genPointerPath(spark, group)
    try ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ptr, false)
    catch { case NonFatal(_) => () }
  }
}
