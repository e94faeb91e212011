package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once session-catalog tables (shared by ChunkCatalog / IvfCatalog):
  * materialize a derived table on first use, read it from the warehouse on
  * every later use. A fresh JVM rebuilds from source — results always derive
  * from current code, never a stale file.
  *
  * Visibility contract: Spark caches a catalog table's resolved relation
  * (including its file listing) PER SESSION, so rows appended by another
  * session — a streaming `foreachBatch` runs in a CLONE of the session that
  * started the query — are invisible to a reader that cached the relation
  * earlier. [[getOrBuild]] therefore `refreshTable`s an already-existing
  * table before returning it: every read through the store observes all
  * appends, whichever session wrote them. The cost is re-resolving the
  * relation per read — file listing stays lazy and partition-pruned, so a
  * probe still lists only the partitions it scans.
  *
  * Index metadata (centroid tables, PQ codebooks) read through the store is
  * decoded into driver arrays once per listed file set ([[IndexMeta]]), and
  * BM25 over a stored table scores from a term index built the same way
  * ([[graft.operators.TextSearch.bm25]]): the just-refreshed relation's
  * listing is part of the memo key, so a write that changes the files is
  * re-read, and [[Caches.release]] empties the memo. The term index is a
  * persisted RDD, not a cached plan, so the refresh cannot empty it.
  */
object TableStore {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.TableStore")

  def tableName(kind: String, dir: String): String =
    s"graft_${kind}_" + dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase(java.util.Locale.ROOT)

  /** The read-side half of [[Compaction]]'s concurrency contract: a reader
    * whose session resolved a store's file listing BEFORE a compaction pass
    * and scans after it fails loudly (`FileNotFoundException` on a
    * rewritten file) — never silently wrong. This wrapper packages the
    * documented recovery: refresh the named tables' cached relations and
    * run the action once more. Use around long-running reads that may
    * overlap a maintenance pass; reads that resolve through [[getOrBuild]]
    * immediately before scanning only need it if a pass can commit
    * mid-scan.
    *
    * The retried action must RE-RESOLVE what it reads (the probe paths
    * do — generation resolution happens inside every accessor), because
    * the stale state may be a generation flip, after which the old
    * physical tables are gone entirely: the per-name refresh is
    * best-effort (a vanished name is exactly the flip case — the re-run
    * resolves the new generation and never touches the old name).
    *
    * `names` must be the PHYSICAL tables the action actually scans — every
    * one of them: a probe that reads a code table and a raw store must
    * name both, or the one refresh misses the table whose listing went
    * stale and the retry re-fails identically. [[retryingStaleBy]] takes
    * the list lazily, re-evaluated before each retry, for actions whose
    * physical names can themselves change under a concurrent flip. Retries
    * are bounded but > 1: under a full maintenance cadence a long probe's
    * RE-RUN can race the NEXT pass (observed at ×1000 with 7 s batch
    * probes against a ~20 s cadence); each retry refreshes and re-runs, so
    * permanent failure still surfaces after `attempts`. */
  def retryingStale[A](spark: SparkSession, names: String*)(action: => A): A =
    retryingStaleBy(spark)(names.toSeq)(action)

  /** [[retryingStale]] with the refresh list evaluated fresh before each
    * retry — generation flips can change which physical tables the re-run
    * will scan. */
  def retryingStaleBy[A](spark: SparkSession, attempts: Int = 3)(
      names: => Seq[String])(action: => A): A = {
    var tries = 0
    while (true) {
      try return action catch {
        case e: Throwable if isStaleListing(e) && tries < attempts - 1 =>
          tries += 1
          names.foreach { n =>
            try spark.catalog.refreshTable(n) catch { case NonFatal(_) => () }
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Thrown when a read resolved a generation whose tables a concurrent
    * cutover already replaced — the retriable twin of the stale-listing
    * `FileNotFoundException` (the re-run's fresh resolution sees the new
    * generation). */
  final class StaleGenerationException(msg: String) extends RuntimeException(msg)

  private[graft] def isStaleListing(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      if (t.isInstanceOf[StaleGenerationException]) return true
      // a reader that resolved the OLD generation just before a pointer
      // flip can find the table itself dropped (not just its files):
      // same stale-read class, same recovery — re-run with fresh resolution
      t match {
        case a: org.apache.spark.sql.AnalysisException
            if a.getCondition == "TABLE_OR_VIEW_NOT_FOUND" => return true
        case _ => ()
      }
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }

  /** Heartbeat marker for a LIVE rebuild's staging (nonce = the staged
    * generation's `__gen<nonce>` suffix): [[Reindex.rebuildChunkIndex]]'s
    * keepalive thread touches it for the rebuild's whole life, and
    * [[sweepOrphans]] skips staged entries whose nonce heartbeat is
    * younger than the horizon — a base assignment pass outliving the
    * sweep horizon (plausible at the 100 TB corpus scale the rebuild
    * targets) must not lose its write-once staged centroid table to a
    * cadence sweep. The marker itself is orphan-shaped and ages out with
    * its rebuild. */
  private[graft] def heartbeatPath(spark: SparkSession, nonce: Long) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"__graft_hb_$nonce")

  private[graft] def touchHeartbeat(spark: SparkSession, nonce: Long): Unit = {
    val p = heartbeatPath(spark, nonce)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally out.close()
  }

  // ------------------------------------------------------------------
  // Generation pointer — the indirection that makes EVERY chunk-index
  // swap blue/green, including same-shape re-centroids.
  //
  // A `__graft_gen_<group>` file in the warehouse holds the group's
  // current generation nonce; physical table names carry a `__gen<nonce>`
  // suffix (nonce 0 = the unversioned natural names every first build
  // creates, so a group that was never rebuilt has no pointer file and
  // nothing changes). [[Reindex.rebuildChunkIndex]] stages a whole new
  // generation under a fresh nonce — invisible: no pointer references
  // it — then CUTS OVER with one atomic pointer rename. Readers resolve
  // the pointer once per operation (one read covers every member of the
  // group, so a probe can never pair new centroids with an old store),
  // and a reader that loses the race — resolved old, scanned after the
  // old generation dropped — fails with the retriable stale-read class
  // above, re-resolves, and serves the new generation. Crash-safety is
  // structural: the pointer never references an incomplete generation
  // (the flip is the last step and is atomic), so a kill at ANY point
  // leaves a fully-serving index.
  // ------------------------------------------------------------------

  private[graft] def genPointerPath(spark: SparkSession, group: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      "__graft_gen_" + group.replaceAll("[^a-zA-Z0-9_]", "_"))

  /** The group's current generation nonce — 0 (natural names) when no
    * pointer exists. A pointer that exists but cannot be read is an error,
    * never silently treated as generation 0: misrouting to dropped natural
    * names could trigger a from-source rebuild with fresh centroids. */
  def currentGen(spark: SparkSession, group: String): Long = {
    val p = genPointerPath(spark, group)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        val s = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
        return s.toLong
      } catch {
        case _: java.io.FileNotFoundException => return 0L // deleted (dropGeneration)
        case NonFatal(e) =>
          attempt += 1
          if (attempt >= 3) throw new IllegalStateException(
            s"generation pointer $p exists but is unreadable — refusing to " +
              "fall back to natural names (could resurrect a dropped generation)", e)
          Thread.sleep(50)
      }
    }
    0L // unreachable
  }

  /** Physical table name of `logical` at generation `gen`. */
  def physGen(logical: String, gen: Long): String =
    if (gen == 0L) logical else s"${logical}__gen$gen"

  /** Atomically re-point `group` at generation `gen`: write-temp + rename
    * with OVERWRITE (atomic on HDFS and the local FS) — a reader sees the
    * old nonce or the new, never an absent or partial pointer. */
  private[graft] def flipGen(spark: SparkSession, group: String, gen: Long): Unit = {
    val p = genPointerPath(spark, group)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val qp = fs.makeQualified(p)
    val tmp = new org.apache.hadoop.fs.Path(
      qp.getParent, qp.getName + s".tmp$gen")
    val out = fs.create(tmp, true)
    try out.write(gen.toString.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(qp.toUri, conf)
    fc.rename(fs.makeQualified(tmp), qp,
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Every generation nonce referenced by any group's pointer — the
    * liveness set [[sweepOrphans]] must never delete members of. */
  private[graft] def referencedGens(spark: SparkSession): Set[Long] = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) return Set.empty
    fs.listStatus(wh).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith("__graft_gen_") && !n.contains(".tmp"))
      .map(n => currentGen(spark, n.stripPrefix("__graft_gen_")))
      .toSet
  }

  private val StageNonce = "__rstage(\\d+)".r
  private val Marked = "__(rstage|retired|cstage)(\\d+)".r
  // a generation MEMBER: the gen tag is the name's tail (the rebuild's
  // private pair log counts too). A staging derived FROM a gen-suffixed
  // table (e.g. `foo__gen7__cstage9`) does not match — it is judged by
  // its own cstage rules, not protected by the live pointer
  private val GenTail = "__gen(\\d+)(_oldpairs)?$".r

  /** Sweep crash orphans out of the warehouse directory: a hard JVM kill
    * mid-maintenance leaks the nonce-suffixed spill dirs
    * ([[DocLifecycle]]'s `__upsert_tmp_*`, [[Compaction]]'s
    * `__compact_tmp_*`), staged swap tables (`*__cstage*`, `*__rstage*`),
    * retired-generation tables (`*__retired*` — [[Reindex]]'s
    * rename-aside cutover copies), heartbeat markers (`__graft_hb_*`) and
    * the dead writer's lease file (`__graft_lease_*`)
    * — a live process deletes all of these in its own `finally`/catch
    * paths, so anything old enough to be past `olderThanMs` belongs to a
    * writer that is gone. Age is the NEWEST of the entry's own mtime and
    * its direct children's (an in-flight spill keeps writing files, so an
    * active job's dir always reads young); the default horizon is sized
    * above the longest measured maintenance job (the ×1000 trained build,
    * ~15 min) with a wide margin. Everything else in the warehouse — every
    * live table — is untouched by construction (prefix/suffix match, never
    * a catch-all). A `__compact_tmp`/`__upsert_tmp` orphan younger than a
    * crash-then-restart gap can be a mid-commit rewrite's staged content
    * (the rename-commit's recovery copy) — the horizon is what makes the
    * sweep safe to run on a cadence. An aged `__compact_tmp` that carries
    * a commit MANIFEST is not discarded at all: it is an interrupted
    * rename-commit whose staging holds the only copy of the rewritten
    * partitions, and the sweep COMPLETES it ([[Compaction.resumeCommit]]'s
    * idempotent replay, under the table's recorded lease scope) instead.
    *
    * Generation-pointer tables: a `__gen<nonce>` table whose nonce any
    * group's pointer references is a SERVING generation member — never an
    * orphan, refused whatever its age; one no pointer references is an
    * abandoned staging or a replaced generation, swept once aged (and, for
    * a LIVE rebuild's staging, once its heartbeat goes quiet).
    *
    * Two further classes are refused REGARDLESS of age — deleting them
    * could destroy the only surviving copy of an index:
    *  - every marked table (`__cstage` — today's DROP/RENAME swaps in
    *    [[Compaction.compactBucketed]] and [[DocLifecycle.compactDocCells]]
    *    — plus `__rstage`/`__retired`, the rename-based cutover classes of
    *    pre-pointer builds, kept so an upgraded warehouse's old debris
    *    still has an owner) of a nonce GROUP in which ANY member's natural
    *    sibling is absent: the signature of a crash between a swap's DROP
    *    and RENAME, where the marked tables ARE the recovery copies. The
    *    protection is group-wide, not per-entry, so a partially-swapped
    *    group keeps every copy until recovery (an operator rename, or the
    *    doc→cells self-heal from the live store on next use) makes the
    *    naturals reappear, after which the leftovers age out normally.
    *    EXEMPT: a staging whose natural is itself a REPLACED generation —
    *    there the flip, not a crash, explains the absence, and the staging
    *    is plain aged debris (it would otherwise be refused forever).
    *  - an `__rstage` entry whose rebuild nonce has a YOUNG heartbeat
    *    ([[touchHeartbeat]]): the rebuild is alive, however long its base
    *    pass has been running.
    * Returns the removed entry names. Run at startup and/or on the
    * maintenance cadence (the streaming loops fold it into
    * `compactEvery`). */
  def sweepOrphans(spark: SparkSession,
                   olderThanMs: Long = 6 * 3600 * 1000L): Seq[String] = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) return Nil
    val horizon = System.currentTimeMillis() - olderThanMs
    val entries = fs.listStatus(wh).toSeq
    // generation members referenced by a live pointer are SERVING tables,
    // not orphans — protected whatever their age; everything gen-tagged
    // whose nonce no pointer references is an abandoned staging or a
    // replaced generation, reclaimable once aged (and heartbeat-quiet)
    val liveGens = referencedGens(spark)
    // first pass: nonce groups with any member whose natural name is
    // absent are a crashed swap's recovery copies — refuse the WHOLE group
    def naturalAbsent(n: String): Boolean =
      Seq("__rstage", "__retired", "__cstage").find(n.contains).exists { m =>
        val natural = n.substring(0, n.indexOf(m))
        // a staging whose natural is itself a REPLACED generation (a
        // __gen tail no pointer references) lost its reason to exist at
        // the flip: the natural's absence signals reclamation, not a
        // crashed swap, and the staging is aged debris — without this a
        // crashed compactDocCells staging of a later-retired generation
        // would be refused as a "recovery copy" forever
        val replacedGen = GenTail.findFirstMatchIn(natural)
          .exists(mt => !liveGens.contains(mt.group(1).toLong))
        // same for a GEN-0 staging orphaned by a 0→N flip: the family now
        // lives under a versioned sibling of the natural name, so the
        // natural's absence is the flip, not a crash (reclaimNonCurrent
        // drops registered staging at the flip; this covers disk-only
        // debris a fresh JVM's in-memory catalog no longer lists)
        def replacedByFlip: Boolean = liveGens.exists { g =>
          g != 0L && {
            val versioned = physGen(natural, g)
            fs.exists(new org.apache.hadoop.fs.Path(wh, versioned)) ||
              spark.catalog.tableExists(versioned)
          }
        }
        natural.nonEmpty && !replacedGen &&
          !fs.exists(new org.apache.hadoop.fs.Path(wh, natural)) &&
          !spark.catalog.tableExists(natural) && !replacedByFlip
      }
    val brokenNonces = entries.map(_.getPath.getName).flatMap { n =>
      Marked.findFirstMatchIn(n).filter(_ => naturalAbsent(n)).map(_.group(2))
    }.toSet
    val removed = Seq.newBuilder[String]
    entries.foreach { st =>
      val n = st.getPath.getName
      val genNonce = GenTail.findFirstMatchIn(n).map(_.group(1).toLong)
      val orphanShaped =
        n.startsWith("__upsert_tmp_") || n.startsWith("__compact_tmp_") ||
          n.contains("__cstage") || n.contains("__rstage") ||
          n.contains("__retired") ||
          genNonce.exists(g => !liveGens.contains(g)) ||
          n.startsWith("__graft_lease_") || n.startsWith("__graft_hb_") ||
          // a flipGen .tmp pointer file orphaned by a crash between its
          // create and the atomic rename (the live pointer never matches)
          (n.startsWith("__graft_gen_") && n.contains(".tmp"))
      if (orphanShaped) {
        val age =
          if (!st.isDirectory) st.getModificationTime
          else (st.getModificationTime +:
            fs.listStatus(st.getPath).toSeq.map(_.getModificationTime)).max
        val recoveryCopy = Marked.findFirstMatchIn(n)
          .exists(mt => brokenNonces.contains(mt.group(2)))
        val nonce = StageNonce.findFirstMatchIn(n).map(_.group(1).toLong)
          .orElse(genNonce)
        val hbYoung = nonce.exists { nc =>
          val hb = heartbeatPath(spark, nc)
          // racing the rebuild's finally-block heartbeat delete: a vanished
          // heartbeat means the rebuild ended — not young, not an error
          try fs.exists(hb) && fs.getFileStatus(hb).getModificationTime >= horizon
          catch { case _: java.io.FileNotFoundException => false }
        }
        // `<=`: at olderThanMs = 0 an entry written in the sweep's own
        // millisecond is aged too
        if (age <= horizon && !recoveryCopy && !hbYoung) {
          val mf = new org.apache.hadoop.fs.Path(st.getPath, Compaction.ManifestFile)
          // Three manifest states, three fates. UNPARSEABLE (None) means
          // the atomic publish never landed ⇒ no mutation ran ⇒ the staging
          // duplicates live data: plain aged debris for the delete branch.
          // UNREADABLE (IOException — throttle/failover) proves NOTHING:
          // the staging may hold the only copy of rewritten partitions, so
          // the entry is skipped whole this pass — deleting on a transient
          // read error would destroy the recovery copy.
          var skipUnreadable = false
          val commitScope =
            if (n.startsWith("__compact_tmp_") && fs.exists(mf))
              try Compaction.manifestLeaseScope(fs, mf)
              catch { case _: java.io.IOException => skipUnreadable = true; None }
            else None
          if (skipUnreadable) { /* next cadence decides */ }
          else if (commitScope.isDefined) {
            // an interrupted rename-commit's staging holds the ONLY copy of
            // its rewritten partitions' content — COMPLETE the commit
            // (idempotent manifest replay) rather than discard it. The
            // manifest records the table's lease scope; a contended lease
            // means a live writer owns the table — leave it for that
            // writer's own entry resume / the next cadence.
            try {
              MaintenanceLease.withLease(spark, commitScope.get) {
                Compaction.resumeCommit(spark, st.getPath)
              }
              removed += n
            } catch {
              case NonFatal(e) => log.warn(s"sweepOrphans: resuming the commit of $n failed", e)
            }
          } else if (n.startsWith("__graft_lease_")) {
            // an aged lease file is reclaimed through the SAME hardened
            // break the waiter path uses (rename-aside + mtime re-verify),
            // never a delete-in-place: between the age stat above and a raw
            // delete, the lease could be released and re-acquired by a
            // fresh writer, whose LIVE lease the delete would destroy.
            // breakStale's loud failure (live capture whose restore rename
            // failed) is isolated per entry — it must not abort the rest of
            // the sweep; the waiter path still fails loudly for that state.
            try {
              if (MaintenanceLease.breakStale(fs, st.getPath, olderThanMs))
                removed += n
            } catch {
              case NonFatal(e) => log.warn(s"sweepOrphans: breaking the stale lease $n failed", e)
            }
          } else {
            // a staging table may still be registered under a persistent
            // metastore — drop the catalog entry with its files
            if ((n.contains("__cstage") || n.contains("__rstage") ||
                 n.contains("__retired") || genNonce.isDefined) &&
                spark.catalog.tableExists(n))
              spark.sql(s"DROP TABLE IF EXISTS `$n`")
            if (fs.exists(st.getPath)) fs.delete(st.getPath, true)
            removed += n
          }
        }
      }
    }
    removed.result()
  }

  /** [[getOrBuild]] through the generation pointer: read the physical
    * table for `logical` at `gen` (a nonce the caller resolved via
    * [[currentGen]] — once per operation, so every member of a group
    * resolves consistently), building via `write` at the unversioned
    * generation 0, or at ANY generation when `derivedFromGen` — the
    * closure reads only the generation's own stored tables, so the build
    * is the same self-heal everywhere. Without it a versioned generation
    * is written exclusively by [[Reindex.rebuildChunkIndex]]'s staging —
    * regenerating one from source here would derive fresh centroids that
    * no longer match the stored assignments, so a missing versioned table
    * fails loudly (or, when the miss is a lost race against a concurrent
    * flip, with the retriable [[StaleGenerationException]] so the probe
    * re-resolves). */
  def getOrBuildGen(spark: SparkSession, group: String, logical: String,
                    gen: Long, derivedFromGen: Boolean = false,
                    inputs: Seq[String] = Nil)(
                    write: String => Unit): DataFrame = {
    val name = physGen(logical, gen)
    if (gen != 0L) {
      if (!spark.catalog.tableExists(name)) {
        if (currentGen(spark, group) != gen) throw new StaleGenerationException(
          s"$logical resolved generation $gen but the pointer moved before the read")
        // `derivedFromGen`: the caller's build closure reads ONLY the
        // generation's own stored tables (doc→cells from the store, codes
        // from the stored assignment + frozen codebook) — rebuilding it at
        // gen N is the same self-heal the natural-name path has, and
        // refusing would brick the feature on every rebuilt index (e.g.
        // enabling PQ after a pqM=0 rebuild, or a doc→cells swap crash).
        // The from-SOURCE tables (store, centroids) must keep refusing:
        // fresh source-derived centroids would not match the stored
        // assignments.
        if (!derivedFromGen) throw new IllegalStateException(
          s"generation pointer for '$group' names $name but the table is missing — " +
            "restore the generation or drop the pointer; refusing to rebuild from " +
            "source (fresh centroids would not match the stored assignments)")
        // gate on `inputs` BEFORE getOrBuild's stale-location delete: a
        // restarted JVM's in-memory catalog lists nothing, so a "missing"
        // derived table may have fully live files — deleting them and then
        // failing the build (its input store is unregistered too) would
        // turn a loud catalog miss into data loss
        val missing = inputs.filterNot(spark.catalog.tableExists)
        if (missing.nonEmpty) throw new IllegalStateException(
          s"cannot self-heal $name: its inputs ${missing.mkString(", ")} are not " +
            "available in this session — restore the generation (or drop the " +
            "pointer) instead; refusing to touch any surviving files")
        getOrBuild(spark, name) {
          if (currentGen(spark, group) != gen) throw new StaleGenerationException(
            s"$logical resolved generation $gen but the pointer moved before the build")
          write(name)
        }
      } else {
        spark.catalog.refreshTable(name)
        spark.table(name)
      }
    } else getOrBuild(spark, name) {
      // the build path re-checks the pointer: a reader that resolved
      // generation 0 just before a flip must not resurrect the dropped
      // natural tables from source — it re-resolves and reads the new
      // generation instead
      if (currentGen(spark, group) != 0L) throw new StaleGenerationException(
        s"$logical resolved generation 0 but the pointer moved before the build")
      write(name)
    }
  }

  /** Get `name` from the session catalog, running `write` (which must
    * saveAsTable(name)) on first use. Clears a stale warehouse location left
    * behind by a previous JVM (the in-memory catalog forgets tables across
    * JVMs but their files survive). */
  def getOrBuild(spark: SparkSession, name: String)(write: => Unit): DataFrame =
    synchronized {
      if (!spark.catalog.tableExists(name)) {
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase(java.util.Locale.ROOT))
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        write
      } else {
        // drop this session's cached relation/file listing — another session
        // (e.g. a streaming clone's appendBatch) may have appended since
        spark.catalog.refreshTable(name)
      }
      spark.table(name)
    }
}
