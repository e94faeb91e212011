package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Mechanical enforcement of the single-maintenance-writer deployment
  * contract (Compaction scaladoc): every maintenance/edit writer — cell
  * rewrites ([[DocLifecycle.upsertDocChunks]]/[[DocLifecycle.deleteDocChunks]]),
  * compaction passes ([[Compaction.compactTable]]/[[Compaction.compactBucketed]]),
  * and the doc→cells swap ([[DocLifecycle.compactDocCells]]) — acquires a
  * per-scope LEASE before mutating, so a mis-deployed second writer fails
  * immediately and loudly, naming the holder, instead of degrading into
  * fingerprint-retry churn (or, for two racing REWRITERS, a lost update the
  * fingerprint defense cannot see — it detects appends, not a twin
  * overwriter that passed its own re-list).
  *
  * The lease is a create-if-absent marker file in the warehouse directory.
  * Create-if-absent is atomic on HDFS but exists-then-create on the local
  * FS (and an object store without atomic create — S3 — needs a real lock
  * service, same as every file-lease scheme), so the file is never trusted
  * alone: same-JVM writers — the deployment shape puts all of one
  * pipeline's loops on one driver — serialize on a per-scope JVM lock
  * FIRST, and a cross-JVM create is only believed after re-reading the
  * file and finding this writer's own token in it. A stale lease is broken
  * by RENAME to a waiter-private name (atomic — exactly one waiter wins;
  * delete-in-place could destroy a lease another waiter already broke and
  * a new writer re-created), verified STILL PAST THE TTL by the captured
  * file's mtime before being discarded (rename preserves mtime — a young
  * capture is a fresh writer's lease and is renamed back, or failed
  * loudly). Staleness means a dead writer because live holders never age:
  * every acquisition registers with a keepalive daemon that refreshes the
  * lease mtime at a third of its TTL for as long as the job runs.
  * Scope is the index being maintained — callers pass
  * the primary store's table name, so everything that rewrites one index's
  * table group (raw store, code table, doc→cells) excludes everything else
  * that does. A short bounded wait (default 10 s) absorbs a cadence pass
  * running momentarily long next to an edit batch; sustained contention
  * fails loudly. A lease older than `ttlMs` belongs to a dead writer (a
  * crashed JVM cannot release) and is broken. Reentrant per thread: an op
  * that already holds a scope can nest calls that re-acquire it (an edit
  * batch's delete + upsert, a spec's injection seam).
  *
  * INGEST appends ([[IvfCatalog.appendBatch]]/[[IvfCatalog.appendChunks]])
  * deliberately do NOT take the lease — ingest must never block on
  * maintenance; append-vs-rewrite races remain covered by the fingerprint
  * detection, and append-vs-swap on the doc→cells index by
  * [[MaintenanceLock]] (same-JVM, the deployment shape: all of one
  * pipeline's writer loops run on one Spark driver).
  *
  * Implementation lives in [[LeaseArbiter]]; this object is the
  * process-wide instance every production caller uses. The class exists so
  * LeaseContentionSpec can instantiate TWO isolated arbiters — separate
  * JVM locks, separate keepalive daemons, separate reentrancy state — over
  * ONE lease directory: a faithful in-process model of the cross-JVM file
  * protocol (the only thing two real JVMs share is the filesystem). */
object MaintenanceLease extends LeaseArbiter

private[graft] class LeaseArbiter {

  /** Test seam: false forces [[createExclusive]]'s non-atomic
    * exists-then-create fallback even on the local FS — the object-store
    * shape (s3a/gs/abfs PUT) whose double-held-scope interleave the
    * delayed double verify exists to catch. Production arbiters keep the
    * atomic hard-link publish. */
  protected def linkPublishEnabled: Boolean = true

  /** Beat between the two verify reads. The guarantee BOUND on a
    * non-atomic store (the delayed double verify's honest contract,
    * pinned both directions by LeaseContentionSpec's injected-stall
    * interleaves): a competing writer's late truncating write is caught
    * iff it lands within this window of our first verify read. A creator
    * stalled LONGER than the window between its exists-check and its
    * write — a multi-second GC pause, a PUT retried by the store SDK —
    * defeats the verify and double-holds the scope, which is why the
    * non-atomic path is the documented FALLBACK: local FS keeps the
    * atomic link(2) publish, HDFS create is atomic, and object-store
    * deployments that cannot tolerate the residual window should raise
    * this beat toward their worst-case stall or use a store with
    * conditional PUT. */
  protected def verifyBeatMs: Long = 50L

  /** The NON-ATOMIC create — an object store's exists-then-PUT shape —
    * isolated as a seam so contention tests can inject latency between
    * the phases (a stalled PUT is exactly the interleave the delayed
    * double verify guards). Default: Hadoop's create(false), whose
    * local-FS implementation is itself exists-then-create. */
  protected def nonAtomicCreate(fs: org.apache.hadoop.fs.FileSystem,
                                path: org.apache.hadoop.fs.Path,
                                holderBytes: Array[Byte]): Boolean =
    try {
      val out = fs.create(path, false) // create-if-absent (atomic only on HDFS)
      try out.write(holderBytes) finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  private[graft] def leasePath(spark: SparkSession, scope: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      "__graft_lease_" + scope.replaceAll("[^a-zA-Z0-9_]", "_"))

  private def readHolder(fs: org.apache.hadoop.fs.FileSystem,
                         path: org.apache.hadoop.fs.Path): String =
    try {
      val in = fs.open(path)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    } catch { case NonFatal(_) => "<unreadable>" }

  /** [[readHolder]] with brief retries on a transiently unreadable file —
    * every ownership decision (acquire verify, keepalive refresh, release
    * delete) must tolerate an FS blip: treating "<unreadable>" as
    * "not ours" at any of them turns a transient error into a stranded or
    * broken-while-live lease. */
  private def readHolderRetrying(fs: org.apache.hadoop.fs.FileSystem,
                                 path: org.apache.hadoop.fs.Path,
                                 attempts: Int = 4): String = {
    var r = readHolder(fs, path)
    var reads = 1
    while (r == "<unreadable>" && reads < attempts) {
      Thread.sleep(50); r = readHolder(fs, path); reads += 1
    }
    r
  }

  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  // ---- liveness keepalive --------------------------------------------------
  // The TTL break exists to reap DEAD processes; a lease held by a LIVE
  // JVM must therefore never age past its TTL, however long the leased job
  // runs — a corpus-scale cell rewrite or a cutover's reconcile rounds can
  // legitimately outlive any fixed TTL, and without refresh a waiter would
  // TTL-break the LIVE lease and run concurrently (the exact double-writer
  // the lease prevents). Every acquisition registers here; one daemon
  // refreshes the mtime of every currently-held lease at a third of its
  // TTL, verifying the file still carries OUR token first so a lease
  // legitimately broken while this JVM stalled is never resurrected.
  private case class HeldLease(fs: org.apache.hadoop.fs.FileSystem,
                               path: org.apache.hadoop.fs.Path,
                               holder: String, ttlMs: Long,
                               var lastTouch: Long)
  private val keepalive =
    new java.util.concurrent.ConcurrentHashMap[String, HeldLease]()
  private val toucherStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def ensureToucher(): Unit =
    if (toucherStarted.compareAndSet(false, true)) {
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(100) // cheap tick; FS ops only when a touch is due
          val now = System.currentTimeMillis()
          keepalive.forEach { (_, h) =>
            if (now - h.lastTouch >= h.ttlMs / 3) {
              val ok =
                try readHolderRetrying(h.fs, h.path) match {
                  case s if s == h.holder => h.fs.setTimes(h.path, now, -1); true
                  case "<unreadable>" =>
                    // definitive absence is not a blip: a lease broken and
                    // released while we stalled stays gone — fall back to
                    // the slow ttl/3 poll instead of hot-retrying the FS
                    // for the rest of a possibly hours-long job
                    try !h.fs.exists(h.path) catch { case NonFatal(_) => false }
                  case _ => true // a CONCRETE other holder: not ours to refresh
                } catch { case NonFatal(_) => false }
              // a transient FS error must not count as a touch — two in a
              // row at ttl/3 cadence would age a LIVE lease past its TTL;
              // retry soon instead, clamped so the retry always lands well
              // before the next staleness boundary even at test-small TTLs
              h.lastTouch =
                if (ok) now
                else now - h.ttlMs / 3 + math.min(1000L, math.max(50L, h.ttlMs / 6))
            }
          }
        }
      })
      t.setDaemon(true)
      t.setName("graft-lease-keepalive")
      t.start()
    }

  /** Break a dead writer's lease without ever deleting a LIVE one: RENAME
    * the stale file to a waiter-private name — atomic, so exactly one
    * waiter wins the break, where delete-in-place could remove a lease a
    * faster waiter already broke and a new writer re-created — then verify
    * the CAPTURED file's mtime is still past the TTL before discarding it.
    * The verification is by mtime, not holder string: rename preserves
    * mtime and freezes the file at a name nobody else writes, so a stale
    * capture stays provably stale, while a holder-string comparison read
    * at break time would be tautological — a waiter that lost the
    * break race would read the WINNER's fresh lease, "verify" it against
    * itself, and delete a live lease (the double-held scope this
    * mechanism exists to prevent). A capture that turns out young (a
    * fresh writer's lease, re-created between the stat and the rename) is
    * renamed back; if even that fails, fail LOUDLY — never proceed into a
    * possibly double-held scope. Returns true when the stale lease was
    * captured and discarded (false: lost the break race, or the capture
    * was young and restored) — [[TableStore.sweepOrphans]] routes its
    * aged-lease reclamation through here for the same TOCTOU safety. */
  private[graft] def breakStale(fs: org.apache.hadoop.fs.FileSystem,
                                path: org.apache.hadoop.fs.Path,
                                ttlMs: Long): Boolean = {
    val aside = new org.apache.hadoop.fs.Path(
      path.getParent, path.getName + s".break${System.nanoTime()}")
    if (!fs.rename(path, aside)) return false // another waiter won the break — re-examine
    val stillStale =
      try System.currentTimeMillis() -
        fs.getFileStatus(aside).getModificationTime > ttlMs
      catch { case _: java.io.FileNotFoundException => false }
    if (stillStale) { fs.delete(aside, false); return true }
    if (!fs.rename(aside, path)) throw new IllegalStateException(
      s"lease break at $path captured a LIVE lease (${readHolder(fs, aside)}) and " +
        "could not restore it — resolve the contention manually rather than " +
        "risking a double-held scope")
    false // young capture restored — the lease lives on
  }

  /** Run `body` holding the maintenance lease for `scope`. Waits up to
    * `waitMs` for a contended lease, breaks one older than `ttlMs` (dead
    * writer), then fails loudly naming the holder. */
  def withLease[A](spark: SparkSession, scope: String,
                   ttlMs: Long = 30 * 60 * 1000L,
                   waitMs: Long = 10 * 1000L)(body: => A): A = {
    if (held.get.contains(scope)) return body // reentrant within a thread
    val path = leasePath(spark, scope)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same-JVM exclusion must not ride on FS create atomicity (the local
    // FS's create-if-absent is exists-then-create): two loops of one driver
    // — the deployment shape's docs + edits cadences — serialize on a
    // per-scope JVM lock first, same bounded-wait fail-loud contract
    val jl = jvmLocks.computeIfAbsent(scope,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (!jl.tryLock(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new IllegalStateException(
        s"maintenance lease for '$scope' is held by ${readHolder(fs, path)} " +
          "(another thread of this JVM) — one maintenance writer per index is the " +
          s"deployment contract (waited $waitMs ms); quiesce the other writer or raise waitMs")
    try {
      val holder = java.net.InetAddress.getLocalHost.getHostName +
        s":pid${ProcessHandle.current().pid()}:${Thread.currentThread().getName}" +
        s":${System.nanoTime()}"
      val deadline = System.currentTimeMillis() + waitMs
      // believe a win only when the file holds OUR token — TWICE, a beat
      // apart: on an object store (s3a/gs/abfs — exists-then-PUT) or the
      // rare no-hardlink local mount, two same-instant cross-JVM creators
      // can both "succeed", and the later truncating write can land after
      // the earlier writer's first read; the delayed re-verify catches that
      // interleave (the local FS's own create is the atomic link(2) publish
      // in createExclusive below). A transiently unreadable read of a file
      // we just wrote retries briefly, then fails LOUDLY — silently
      // treating our own created lease as lost would strand it, blocking
      // the scope for the full TTL with no holder alive
      // the delayed second verify is skipped ONLY on schemes known to have
      // atomic create-if-absent (an allow-list: HDFS and its viewfs
      // overlay), where one read already proves ownership and maintenance
      // cadences shouldn't pay +50 ms. Everything else — the local FS AND
      // the object stores (s3a/gs/abfs create is exists-then-PUT) — keeps
      // the double verify: the interleave it catches is a double-held scope
      val doubleVerify =
        !Set("hdfs", "viewfs").contains(
          try fs.getScheme catch { case NonFatal(_) => "file" })
      def verifyOurs(created: Boolean): Boolean = {
        var attempt = 0
        val passes = if (doubleVerify) 2 else 1
        while (attempt < passes) {
          val r = readHolderRetrying(fs, path)
          if (r == "<unreadable>" && created) {
            // definitive ABSENCE is not an FS blip: a competing writer
            // broke-or-released our just-created lease (a TTL breaker, or
            // a non-atomic truncator that came and went inside our verify
            // window — the injected-stall interleave surfaced this wedge).
            // Losing the file means losing the lease: retreat and
            // re-contend. Only a file that EXISTS but stays unreadable is
            // the fail-loud case — guessing ownership there could strand
            // or double-hold the scope.
            val absent = try !fs.exists(path) catch { case NonFatal(_) => false }
            if (absent) return false
            throw new IllegalStateException(
              s"lease file $path was created by this writer but stays unreadable — " +
                "refusing to guess ownership; remove the file once the FS recovers")
          }
          if (r != holder) return false
          attempt += 1
          if (attempt < passes) Thread.sleep(verifyBeatMs)
        }
        true
      }
      def hadoopCreate(): Boolean =
        nonAtomicCreate(fs, path, holder.getBytes("UTF-8"))
      // local FS: publish the lease by hard-LINKING a fully-written private
      // temp into place. link(2) fails atomically when the target name
      // exists — a true test-and-set, where Hadoop's local create(false) is
      // exists-then-create — and the holder bytes are complete at the
      // publish instant, so the "later writer's truncating write lands
      // after the earlier writer's verify" interleave cannot occur at all.
      // The double verify below is kept as belt-and-braces (it also covers
      // the rare no-hardlink mount that falls back to hadoopCreate).
      def createExclusive(): Boolean =
        if (!linkPublishEnabled ||
            (try fs.getScheme catch { case NonFatal(_) => "file" }) != "file")
          hadoopCreate()
        else try {
          val nioDir = java.nio.file.Paths.get(path.getParent.toUri)
          java.nio.file.Files.createDirectories(nioDir)
          val nioTmp = nioDir.resolve(path.getName + s".mk${System.nanoTime()}")
          try {
            java.nio.file.Files.write(nioTmp, holder.getBytes("UTF-8"))
            try {
              java.nio.file.Files.createLink(
                java.nio.file.Paths.get(path.toUri), nioTmp)
              true
            } catch { case _: java.nio.file.FileAlreadyExistsException => false }
          } finally java.nio.file.Files.deleteIfExists(nioTmp)
        } catch {
          // ANY non-fatal failure of the link protocol (no hard links on
          // this mount, a schemeless/non-default URI that Paths.get
          // rejects, ...) degrades to the non-atomic create path — still
          // guarded by the delayed double verify — rather than wedging
          // every acquisition for the scope
          case NonFatal(_) => hadoopCreate()
        }
      var acquired = false
      while (!acquired) {
        val created = createExclusive()
        if (created && verifyOurs(created)) acquired = true
        else {
          val st = try Some(fs.getFileStatus(path))
                   catch { case _: java.io.FileNotFoundException => None }
          st match {
            case Some(s)
                if System.currentTimeMillis() - s.getModificationTime > ttlMs =>
              breakStale(fs, path, ttlMs) // dead writer — break and retry
            case Some(_) if System.currentTimeMillis() >= deadline =>
              throw new IllegalStateException(
                s"maintenance lease for '$scope' is held by ${readHolder(fs, path)} — " +
                  "one maintenance writer per index is the deployment contract " +
                  s"(waited $waitMs ms); quiesce the other writer or raise waitMs")
            case Some(_) => Thread.sleep(100)
            case None    => () // released between create and stat — retry create
          }
        }
      }
      held.get += scope
      val kaKey = path.toString + "#" + holder
      keepalive.put(kaKey, HeldLease(fs, path, holder, ttlMs, System.currentTimeMillis()))
      ensureToucher()
      try body
      finally {
        held.get -= scope
        keepalive.remove(kaKey)
        // delete only OUR lease: a broken-then-reacquired lease (we stalled
        // past ttl and another writer took over) must not be stolen back.
        // An unreadable read retries briefly — skipping the delete on a
        // transient blip (or a waiter's momentary rename-aside) would leave
        // an ownerless lease blocking the scope for the full TTL
        try if (readHolderRetrying(fs, path) == holder) fs.delete(path, false)
        catch { case NonFatal(_) => () }
      }
    } finally jl.unlock()
  }
}

/** JVM-local striped lock keyed by table name — serializes the doc→cells
  * index's append path against its metadata swap WITHIN one driver JVM
  * (the deployment shape: a pipeline's ingest loop, edits channel, and
  * maintenance cadence all run on one Spark driver, whichever cloned
  * session each executes in). [[DocLifecycle.appendDocCells]] holds it
  * across the pairs append, [[IvfCatalog.appendChunks]] widens it across
  * pairs + rows (so the swap can never observe pairs whose rows are still
  * in flight), and [[DocLifecycle.compactDocCells]] holds it across the
  * late-pair merge + DROP/RENAME swap. Cross-JVM writers are outside its
  * reach — that is what [[MaintenanceLease]] and the deployment contract
  * cover. Reentrant (object monitor). */
object MaintenanceLock {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def apply[A](key: String)(body: => A): A =
    locks.computeIfAbsent(key, _ => new Object).synchronized(body)
}

/** The append-vs-cutover handshake that mechanizes the reindex cutover's
  * quiesce: ingest APPENDS never take the [[MaintenanceLease]] (ingest
  * must not block on maintenance), but a generation cutover
  * ([[Reindex.rebuildChunkIndex]]) needs a few seconds with no append in
  * flight — its final reconcile diff must converge, and an append landing
  * between the last empty diff and the pointer flip would be stranded in
  * the old generation. Previously that quiesce was operator-manual (the
  * cutover failed loudly and a human paused the loop); this gate closes it
  * by mechanism.
  *
  * A fair per-group read-write lock: appends run under [[entered]] (shared
  * — appends never wait on each other), the cutover's
  * final-converge-and-flip critical section under [[closed]] (exclusive).
  * Fairness makes the close request PARK later appends instead of being
  * starved by a continuous append stream; parked appends resume after the
  * flip, re-resolve the generation pointer, and land in the NEW
  * generation. The park lasts exactly the cutover's critical section —
  * one delta-sized reconcile plus a metadata flip, seconds.
  *
  * Same-JVM, like [[MaintenanceLock]] — the deployment shape runs all of
  * one pipeline's loops on one driver. A cross-JVM appender is outside the
  * gate's reach; the cutover's bounded reconcile rounds still fail loudly
  * on its non-converging diff (the pre-gate contract), so the failure mode
  * is unchanged there: loud, never silent loss. Lock ordering: the gate is
  * acquired BEFORE any [[MaintenanceLock]] and never while holding one;
  * against [[MaintenanceLease]] the order is LEASE FIRST, GATE SECOND for
  * every writer — the cutover's exclusive close runs inside its store
  * lease, and a leased edit can enter the gate's shared side through its
  * code-table append ([[IvfPqCatalog.appendChunkCodes]]). No path may
  * acquire a lease while holding the gate: that inversion against the
  * cutover (lease held, waiting to close) is the one deadlock shape the
  * ordering exists to exclude. */
object CutoverGate {
  private val gates = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantReadWriteLock]()
  private def gate(key: String) =
    gates.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock(true))

  /** Run an append for `group` — shared; parks only while a cutover's
    * critical section is closing/closed on the same group. */
  def entered[A](group: String)(body: => A): A = {
    val l = gate(group).readLock()
    l.lock()
    try body finally l.unlock()
  }

  /** Run a cutover critical section for `group` — exclusive. Bounded
    * wait: an append wedged past `maxWaitMs` fails the cutover loudly
    * (the old generation keeps serving) rather than deadlocking it. */
  def closed[A](group: String, maxWaitMs: Long = 60 * 1000L)(body: => A): A = {
    val l = gate(group).writeLock()
    if (!l.tryLock(maxWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new IllegalStateException(
        s"cutover gate for '$group' could not close within $maxWaitMs ms — " +
          "an append has been in flight that long; investigate the append loop")
    try body finally l.unlock()
  }

  /** Close SEVERAL groups' gates around one critical section — the
    * diff-nlist cutover must park appends to BOTH families (the old group
    * whose pointer keeps serving, and the new group whose pointer the flip
    * targets: an unparked append to a pre-existing natural-name build of
    * the new family could land rows mid-flip that the post-flip reclaim
    * then drops). Gates are acquired in sorted order so two concurrent
    * multi-gate cutovers can never deadlock, and every acquired gate is
    * released on a bounded-wait failure. */
  def closedAll[A](groups: Seq[String], maxWaitMs: Long = 60 * 1000L)(body: => A): A = {
    val order = groups.distinct.sorted
    if (order.sizeIs <= 1) return closed(order.headOption.getOrElse(""), maxWaitMs)(body)
    var heldLocks = List.empty[java.util.concurrent.locks.Lock]
    try {
      order.foreach { g =>
        val l = gate(g).writeLock()
        if (!l.tryLock(maxWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
          throw new IllegalStateException(
            s"cutover gate for '$g' could not close within $maxWaitMs ms — " +
              "an append has been in flight that long; investigate the append loop")
        heldLocks ::= l
      }
      body
    } finally heldLocks.foreach(_.unlock())
  }
}
