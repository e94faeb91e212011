package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Document upsert/delete against the stored chunk index ([[DocLifecycle]]):
  * the doc→cells secondary index's superset contract, cell-pruned rewrites
  * that leave every untouched row byte-identical, emptied-cell partition
  * drops, round-trip stability of an unchanged replay, and the IVFADC code
  * table following the same lifecycle. */
class DocLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** A one-chunk document: a short paragraph well under one chunk. */
  private def oneChunk(id: Long, rev: String): (Long, String) =
    (id, s"Document $id $rev narrates one short paragraph about the serving store and its cells.")

  /** Chunks of `docs` ready for [[IvfCatalog.appendChunks]]. */
  private def chunksOf(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    graft.pipelines.Pipelines.featurePipeline(docs.toDF("doc_id", "text"), 0.0)
      .select("chunk_id", "document_id", "word_count", "embedding").localCheckpoint()
  }

  /** Bucket id → data files of the doc→cells table `name`. */
  private def bucketFiles(name: String): Map[Int, Seq[String]] = {
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name, Some("default"))).location)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(loc)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq
      .groupBy(f => BucketingUtils.getBucketId(f).get)
  }

  /** (chunk_id, centroid_id, document_id) content snapshot — order-free. */
  private def snapshot(store: DataFrame): Set[(String, Long, Long)] =
    store.select("chunk_id", "centroid_id", "document_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("upsert replaces exactly the edited document's chunks; unchanged replay round-trips") {
    import spark.implicits._
    val nlist = 33 // isolated store/cent/index tables
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()

    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    val before = snapshot(store())
    // the corpus document with the MOST stored chunks, edited: every chunk
    // id changes (multi-chunk when the fixture allows it)
    val vid = before.groupBy(_._3).maxBy(_._2.size)._1
    val vtext = Tables.documents(spark, dir)
      .filter($"doc_id" === vid).select("text").head.getString(0)
    val oldRows = before.filter(_._3 == vid)
    assert(oldRows.nonEmpty)

    val (rm, add) = DocLifecycle.upsertDocChunks(spark, dir,
      Seq((vid, s"edited $vtext")).toDF("doc_id", "text"), nlist)
    assert(rm === oldRows.size.toLong)
    assert(add > 0L)
    val after = snapshot(store())
    assert(after.filter(_._3 == vid).size.toLong === add)
    assert((after.map(_._1) intersect oldRows.map(_._1)) === Set.empty,
      "every old chunk id of the edited doc must be gone")
    assert(after.filter(_._3 != vid) === before.filter(_._3 != vid),
      "no other document's rows may move")
    // the index covers every live pair (superset contract)
    val live = after.map(t => (t._3, t._2))
    val indexed = DocLifecycle.docCells(spark, dir, nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live.subsetOf(indexed))

    // replaying the ORIGINAL text is an upsert back to the original rows —
    // chunk ids are content-derived, so the store round-trips exactly
    DocLifecycle.upsertDocChunks(spark, dir,
      Seq((vid, vtext)).toDF("doc_id", "text"), nlist)
    assert(snapshot(store()) === before, "unchanged-content upsert must round-trip")
    // compacting the index reclaims the upsert's false-positive pairs
    DocLifecycle.compactDocCells(spark, dir, nlist)
    val compacted = DocLifecycle.docCells(spark, dir, nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compacted === before.map(t => (t._3, t._2)))
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("delete cascades a document set out of the store and drops emptied cells") {
    val nlist = 37
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()

    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    val before = snapshot(store())
    // delete every document occupying the smallest cell — the cell must
    // empty, and its PARTITION must disappear (dynamic overwrite alone
    // would leave the stale files in place)
    val cell = before.groupBy(_._2).view.mapValues(_.size).minBy(_._2)._1
    val ids = before.filter(_._2 == cell).map(_._3).toSeq.distinct
    val expected = before.filter(t => ids.contains(t._3))

    val rm = DocLifecycle.deleteDocChunks(spark, dir, ids, nlist)
    assert(rm === expected.size.toLong)
    val after = snapshot(store())
    assert(after === before -- expected)
    assert(!after.exists(_._2 == cell), "the emptied cell must hold no rows")
    assert(!Compaction.partitionStats(spark, storeName).exists(_.spec == s"centroid_id=$cell"),
      "the emptied cell's partition directory must be dropped")
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("property: any upsert/delete sequence keeps the store rebuild-equivalent") {
    import spark.implicits._
    import graft.operators.Similarity
    val tdir = "/tmp/graft_doclife_prop_fixture"
    val nlist = 43
    def mkDoc(id: Long, rev: Int): String =
      (1 to 6).map(i => s"Document $id revision $rev sentence $i describes topic " +
        s"${(id * 7 + rev * 31 + i) % 23} of the serving index with a stable shared " +
        "vocabulary and enough running words that the chunker emits real chunks.")
        .mkString(" ")
    var ref: Map[Long, String] = (1L to 12L).map(id => id -> mkDoc(id, 0)).toMap
    ref.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tdir/documents.parquet")
    val toDrop = Seq(TableStore.tableName("chunks", tdir),
      TableStore.tableName(s"ivfchunks$nlist", tdir),
      TableStore.tableName(s"ivfchunkcent$nlist", tdir),
      DocLifecycle.docCellsName(tdir, nlist))
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.clearCache()
    IvfCatalog.assignedChunks(spark, tdir, nlist).count()
    DocLifecycle.docCells(spark, tdir, nlist).count()

    // the oracle: a from-scratch feature-pipeline run over the CURRENT doc
    // set, assigned with the store's frozen centroids
    def expected(): Set[(String, Long, Long)] =
      Similarity.ivfAssign(
          graft.pipelines.Pipelines.featurePipeline(
              ref.toSeq.toDF("doc_id", "text"), 0.0)
            .select(col("chunk_id"), col("document_id"), col("embedding")),
          IvfCatalog.chunkCentroidsStored(spark, tdir, nlist), idCol = "chunk_id")
        .select("chunk_id", "document_id", "centroid_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // deterministic pseudo-random op sequence: edit, re-edit, add, delete,
    // replay-unchanged, delete-then-readd — every lifecycle transition
    val rnd = new scala.util.Random(42)
    (1 to 10).foreach { step =>
      val op = rnd.nextInt(4)
      if (op == 0 || ref.isEmpty) { // add (or re-add after delete)
        val id = if (ref.isEmpty) 100L + step else ref.keys.max + 1
        ref += id -> mkDoc(id, step)
        DocLifecycle.upsertDocChunks(spark, tdir,
          Seq((id, ref(id))).toDF("doc_id", "text"), nlist)
      } else if (op == 1) { // edit an existing doc
        val id = ref.keys.toSeq.sorted.apply(rnd.nextInt(ref.size))
        ref += id -> mkDoc(id, step)
        DocLifecycle.upsertDocChunks(spark, tdir,
          Seq((id, ref(id))).toDF("doc_id", "text"), nlist)
      } else if (op == 2) { // replay unchanged (must be a no-op)
        val id = ref.keys.toSeq.sorted.apply(rnd.nextInt(ref.size))
        DocLifecycle.upsertDocChunks(spark, tdir,
          Seq((id, ref(id))).toDF("doc_id", "text"), nlist)
      } else { // delete
        val id = ref.keys.toSeq.sorted.apply(rnd.nextInt(ref.size))
        ref -= id
        DocLifecycle.deleteDocChunks(spark, tdir, Seq(id), nlist)
      }
      if (step % 5 == 0 || step == 10) {
        val got = IvfCatalog.assignedChunks(spark, tdir, nlist)
          .select("chunk_id", "document_id", "centroid_id")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === expected(), s"store diverged from rebuild at step $step")
        // the index's superset contract holds throughout
        val indexed = DocLifecycle.docCells(spark, tdir, nlist)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got.map(t => (t._2, t._3)).subsetOf(indexed))
      }
    }
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("upsert stamps near_dup_of like the ingest loop — never at an id it removes") {
    import spark.implicits._
    val nlist = 47
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    // single-chunk near-copy pair (one token apart, cosine above the bar)
    def mk(word: String): String =
      (1 to 4).map(i => s"The $word conduit mirrors frame $i through the pruned " +
        "cells and restamps the survivors into the partitioned store.").mkString(" ")

    DocLifecycle.upsertDocChunks(spark, dir,
      Seq((940001L, mk("aurora"))).toDF("doc_id", "text"), nlist)
    val xChunk = store().filter(col("document_id") === 940001L)
      .select("chunk_id", "near_dup_of").head
    assert(xChunk.isNullAt(1), "nothing near-dups docX — flag must be null")

    DocLifecycle.upsertDocChunks(spark, dir,
      Seq((940002L, mk("aurins"))).toDF("doc_id", "text"), nlist)
    val y1 = store().filter(col("document_id") === 940002L)
      .select("chunk_id", "near_dup_of").head
    assert(y1.getString(1) === xChunk.getString(0),
      "an upserted near-copy arrives flagged, exactly like the ingest loop")

    // EDIT docY into another near-copy: the new chunk near-dups both X and
    // docY's own OUTGOING chunk — the flag must point at X, never at the
    // id this very call removes
    DocLifecycle.upsertDocChunks(spark, dir,
      Seq((940002L, mk("aurinz"))).toDF("doc_id", "text"), nlist)
    val y2 = store().filter(col("document_id") === 940002L)
      .select("chunk_id", "near_dup_of").head
    assert(y2.getString(1) === xChunk.getString(0),
      s"edited near-copy must flag the LIVE counterpart, got ${y2.getString(1)}")
    assert(y2.getString(1) !== y1.getString(0), "flag points at a removed id")

    // flagNearDups = false skips the kernel
    DocLifecycle.upsertDocChunks(spark, dir,
      Seq((940003L, mk("quixotic"))).toDF("doc_id", "text"), nlist, flagNearDups = false)
    assert(store().filter(col("document_id") === 940003L)
      .select("near_dup_of").head.isNullAt(0))
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a concurrent append racing an upsert's rewrite is retried in, never silently deleted") {
    import spark.implicits._
    import graft.pipelines.Pipelines
    val nlist = 53
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    val before = snapshot(store())

    def mk(word: String): String =
      (1 to 4).map(i => s"The $word ledger tracks region $i across the pruned cells " +
        "while concurrent appends land in the very partitions being rewritten.").mkString(" ")
    // the racing writer appends a DIFFERENT doc with the SAME text — its
    // chunks embed identically, so they land in exactly the cells the
    // upsert is rewriting (the worst-case race by construction)
    val lateChunks = Pipelines.featurePipeline(
        Seq((911002L, mk("onyx"))).toDF("doc_id", "text"), 0.0)
      .select(col("chunk_id"), col("document_id"), col("word_count"), col("embedding"))
      .localCheckpoint(true)
    var fired = false
    val (rm, add) = DocLifecycle.upsertDocChunks(spark, dir,
      Seq((911001L, mk("onyx"))).toDF("doc_id", "text"), nlist,
      beforeOverwrite = () => if (!fired) { fired = true
        IvfCatalog.appendChunks(spark, dir, lateChunks, nlist) })
    assert(fired, "the race seam must have injected the append")
    assert(rm === 0L && add >= 1L)
    val after = snapshot(store())
    assert(after.filter(_._3 == 911001L).size.toLong === add)
    assert(after.count(_._3 == 911002L) === lateChunks.count(),
      "the late-appended document's rows must survive the raced rewrite")
    assert(after.filter(t => t._3 != 911001L && t._3 != 911002L) === before,
      "no pre-existing row may be touched")
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("verbatim-duplicate doc rows collapse; two distinct revisions in one batch are rejected") {
    import spark.implicits._
    val nlist = 59
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    def mk(rev: Int): String =
      (1 to 4).map(i => s"Revision $rev paragraph $i narrates the replacement " +
        "semantics of a document batch that repeats itself inside one call.").mkString(" ")
    // redelivered verbatim: one set of chunks, not two of everything
    val (rm, add) = DocLifecycle.upsertDocChunks(spark, dir,
      Seq((921001L, mk(1)), (921001L, mk(1))).toDF("doc_id", "text"), nlist)
    assert(rm === 0L)
    val stored = IvfCatalog.assignedChunks(spark, dir, nlist)
      .filter(col("document_id") === 921001L).select("chunk_id").distinct().count()
    assert(add === stored, "verbatim duplicates must collapse to one revision's chunks")
    // two DISTINCT revisions: no silent winner — replace_one needs exactly
    // one. Revisions one character apart are still two, on the literal
    // route and on the bulk route (bulkThreshold = 0), and neither call
    // touches the store
    val stable = snapshot(IvfCatalog.assignedChunks(spark, dir, nlist))
    for ((a, b) <- Seq((mk(1), mk(2)), (mk(1), mk(1) + "."));
         bulk <- Seq(DocLifecycle.BulkThreshold, 0)) {
      val ex = intercept[IllegalArgumentException] {
        DocLifecycle.upsertDocChunks(spark, dir,
          Seq((921001L, a), (921002L, a), (921001L, b)).toDF("doc_id", "text"), nlist,
          bulkThreshold = bulk)
      }
      assert(ex.getMessage.contains("one revision") && ex.getMessage.contains("921001"))
    }
    assert(snapshot(IvfCatalog.assignedChunks(spark, dir, nlist)) === stable)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bulk form (join pruning, byte-batched rewrites) matches the literal path exactly") {
    import spark.implicits._
    val nlist = 61
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    val before = snapshot(store())

    // bulkThreshold = 0 forces the broadcast-join predicates; maxBatchBytes
    // = 1 forces one rewrite batch per touched cell — the 100k-doc shape
    // exercised at fixture size
    val vid = before.groupBy(_._3).maxBy(_._2.size)._1
    val vtext = Tables.documents(spark, dir)
      .filter($"doc_id" === vid).select("text").head.getString(0)
    val oldRows = before.filter(_._3 == vid)
    val (rm, add) = DocLifecycle.upsertDocChunks(spark, dir,
      Seq((vid, s"bulk edited $vtext")).toDF("doc_id", "text"), nlist,
      bulkThreshold = 0, maxBatchBytes = 1L)
    assert(rm === oldRows.size.toLong && add > 0L)
    val mid = snapshot(store())
    assert(mid.filter(_._3 == vid).size.toLong === add)
    assert((mid.map(_._1) intersect oldRows.map(_._1)) === Set.empty)
    assert(mid.filter(_._3 != vid) === before.filter(_._3 != vid),
      "bulk-form upsert may not move any other document's rows")

    // bulk-form delete of every doc in the smallest cell: the cell's
    // partition must still be dropped batch by batch
    val cell = mid.groupBy(_._2).view.mapValues(_.size).minBy(_._2)._1
    val ids = mid.filter(_._2 == cell).map(_._3).toSeq.distinct
    val expected = mid.filter(t => ids.contains(t._3))
    val rmDel = DocLifecycle.deleteDocChunks(spark, dir, ids, nlist,
      bulkThreshold = 0, maxBatchBytes = 1L)
    assert(rmDel === expected.size.toLong)
    val after = snapshot(store())
    assert(after === mid -- expected)
    assert(!Compaction.partitionStats(spark, storeName).exists(_.spec == s"centroid_id=$cell"))
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("lifecycle composes with the ingest loop and the IVFADC code table") {
    import spark.implicits._
    val (nlist, m, ksub) = (41, 24, 16)
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    val cbName = TableStore.tableName(s"ivfpqcb_m${m}k$ksub", dir)
    def codesName = IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, m, ksub)
    def dropAll(): Unit = {
      if (spark.catalog.tableExists(cbName)) spark.sql(s"DROP TABLE IF EXISTS $codesName")
      Seq(storeName, centName, idxName, cbName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    dropAll()
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    IvfPqCatalog.encodedChunks(spark, dir, nlist, m, ksub).count()
    DocLifecycle.docCells(spark, dir, nlist).count() // index exists BEFORE the append

    def mk(word: String): String =
      (1 to 4).map(i => s"The $word relay journals segment $i with checksums and " +
        "appends the surviving chunks into the partitioned serving store.").mkString(" ")
    // arrives via the streaming loop (appendChunks maintains the index)...
    val (_, a1) = graft.streaming.StreamingIngest.ingestDocBatch(
      Seq((930001L, mk("borealis"))).toDF("doc_id", "text"), dir, nlist,
      pqM = m, pqKsub = ksub)
    assert(a1 >= 1L)
    // the index picked up the ingested doc's pairs IN the append batch —
    // appendChunks materializes them BEFORE its refresh invalidates the
    // loop's anti-join lineage (a post-refresh re-evaluation yields zero
    // pairs and the index would silently miss exactly these cells)
    val storePairs = IvfCatalog.assignedChunks(spark, dir, nlist)
      .filter(col("document_id") === 930001L)
      .select("document_id", "centroid_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(storePairs.nonEmpty)
    val idxPairs = DocLifecycle.docCells(spark, dir, nlist)
      .filter(col("document_id") === 930001L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(storePairs.subsetOf(idxPairs),
      s"index missed cells appended by the ingest loop: store=$storePairs idx=$idxPairs")
    // ...then is edited: the upsert must find its cells through the index
    val (rm, add) = DocLifecycle.upsertDocChunks(spark, dir,
      Seq((930001L, mk("cirrus"))).toDF("doc_id", "text"), nlist, pqM = m, pqKsub = ksub)
    assert(rm === a1 && add >= 1L)

    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    val codes = () => IvfPqCatalog.encodedChunks(spark, dir, nlist, m, ksub)
    // code table mirrors the store exactly through append + upsert
    assert(codes().count() === store().count())
    assert(codes().join(store(), Seq("chunk_id"), "left_anti").count() === 0L,
      "no dead ids may linger in the code table")

    // REPLAYING the unchanged edit must keep every live code: the append
    // skips already-coded ids, so a purge keyed on the doc's removed ids
    // would delete the live codes here — the live-store semi-join keeps them
    DocLifecycle.upsertDocChunks(spark, dir,
      Seq((930001L, mk("cirrus"))).toDF("doc_id", "text"), nlist, pqM = m, pqKsub = ksub)
    assert(store().join(codes(), Seq("chunk_id"), "left_anti").count() === 0L,
      "a replayed unchanged upsert purged live codes")
    assert(codes().count() === store().count())

    // ...and is finally deleted: both tables drop its rows
    val rmDel = DocLifecycle.deleteDocChunks(spark, dir, Seq(930001L), nlist,
      pqM = m, pqKsub = ksub)
    assert(rmDel === add)
    assert(store().filter(col("document_id") === 930001L).count() === 0L)
    assert(codes().count() === store().count())
    assert(codes().join(store(), Seq("chunk_id"), "left_anti").count() === 0L)
    dropAll()
  }

  test("scrubSpansInStore: the span scrub composed with the bulk upsert " +
       "leaves the store rebuild-equivalent to the scrubbed corpus") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity}
    val tdir = "/tmp/graft_doclife_scrub_fixture"
    val nlist = 41
    def mkDoc(id: Long): String =
      (1 to 6).map(i => s"Document $id sentence $i describes topic " +
        s"${(id * 7 + i) % 23} of the serving index with a stable shared " +
        "vocabulary and enough running words that the chunker emits real chunks.")
        .mkString(" ")
    // docs 1-6 unique; 7 is a WALL-TO-WALL copy of 1 (both must leave the
    // store); 8 shares doc 2's first half (both partially scrubbed)
    val half2 = mkDoc(2L).split(" ").take(40).mkString(" ")
    val corpus: Map[Long, String] =
      (1L to 6L).map(id => id -> mkDoc(id)).toMap +
        (7L -> mkDoc(1L)) +
        (8L -> (half2 + " " + (1 to 30).map(i => s"unique8tail$i").mkString(" ")))
    corpus.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tdir/documents.parquet")
    val toDrop = Seq(TableStore.tableName("chunks", tdir),
      TableStore.tableName(s"ivfchunks$nlist", tdir),
      TableStore.tableName(s"ivfchunkcent$nlist", tdir),
      DocLifecycle.docCellsName(tdir, nlist))
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.clearCache()
    IvfCatalog.assignedChunks(spark, tdir, nlist).count()
    DocLifecycle.docCells(spark, tdir, nlist).count()

    val docs = corpus.toSeq.toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs)
    val flagged = spans.select($"doc_id").distinct()
      .as[Long].collect().toSet
    assert(flagged.contains(1L) && flagged.contains(7L) &&
      flagged.contains(2L) && flagged.contains(8L))

    val (nScrubbed, removed, added) =
      DocLifecycle.scrubSpansInStore(spark, tdir, docs, spans, nlist)
    assert(nScrubbed === flagged.size.toLong)
    assert(removed > 0L)

    // the pin: store content == a from-scratch feature-pipeline run over
    // the SCRUBBED corpus, assigned with the store's frozen centroids
    val scrubbedCorpus = docs
      .join(Dedup.scrubSpans(docs, spans), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"scrubbed_text", $"text").as("text"))
    val expected = Similarity.ivfAssign(
        graft.pipelines.Pipelines.featurePipeline(scrubbedCorpus, 0.0)
          .select(col("chunk_id"), col("document_id"), col("embedding")),
        IvfCatalog.chunkCentroidsStored(spark, tdir, nlist), idCol = "chunk_id")
      .select("chunk_id", "document_id", "centroid_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = IvfCatalog.assignedChunks(spark, tdir, nlist)
      .select("chunk_id", "document_id", "centroid_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected, "store diverged from rebuild-from-scrubbed-corpus")
    // wall-to-wall duplicates 1 and 7 scrub to empty and LEAVE the store
    assert(!got.exists(t => t._2 == 1L || t._2 == 7L))
    // the partially scrubbed pair keeps its surviving content
    assert(got.exists(_._2 == 8L))
    // counts reconcile with the snapshot delta
    assert(got.size === expected.size)
    assert(added === got.count(t => flagged.contains(t._2)).toLong)

    // a replay of the SAME remediation converges: identical replacement
    // texts re-chunk to identical content-derived ids, so the store's
    // content is unchanged (note the scrub itself is not a fixpoint —
    // rejoining survivors with spaces can assemble NEW duplicated
    // windows; a second remediation ROUND is new maintenance, pinned by
    // the same equivalence above, not a no-op)
    val (n2, _, _) = DocLifecycle.scrubSpansInStore(spark, tdir, docs, spans, nlist)
    assert(n2 === nScrubbed)
    val replayed = IvfCatalog.assignedChunks(spark, tdir, nlist)
      .select("chunk_id", "document_id", "centroid_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(replayed === got, "replaying the same remediation changed the store")
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("warm edit calls run batch-sized Spark job counts") {
    import spark.implicits._
    val nlist = 67
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    DocLifecycle.docCells(spark, dir, nlist).count() // the index exists: appends maintain it
    def jobs(body: => Unit): Int = JobCount.of(spark.sparkContext)(body)
    // one ingest-shaped round: append 3 new documents, upsert 3 documents
    // appended the round before, delete 2 others of them
    def round(r: Int): (Int, Int, Int) = {
      val base = 950000L + 10 * r
      val fresh = chunksOf((0 until 5).map(i => oneChunk(base + 10 + i, "fresh")))
      val app = jobs(IvfCatalog.appendChunks(spark, dir, fresh, nlist))
      val up = jobs(DocLifecycle.upsertDocChunks(spark, dir,
        (0 until 3).map(i => oneChunk(base + i, s"edit$r")).toDF("doc_id", "text"), nlist))
      val del = jobs(assert(DocLifecycle.deleteDocChunks(spark, dir,
        Seq(base + 3, base + 4), nlist) === 2L))
      (up, del, app)
    }
    IvfCatalog.appendChunks(spark, dir,
      chunksOf((0 until 5).map(i => oneChunk(950000L + i, "fresh"))), nlist)
    round(0) // warm: first-use code paths and metadata memos
    // upsert: the revision/id collect (1 shuffle + 1 result), the assigned
    // chunks' facts, old cells, removed rows (1 each), the flag kernel's
    // batch read (1) and pairs (3), the doc→cells append (1) and the store
    // rewrite (2)
    assert(round(1) === ((12, 4, 4)), "(upsert, delete, appendChunks) jobs")
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("doc→cells appends write one file per non-empty bucket and stay bucketed") {
    val nlist = 73
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    DocLifecycle.docCells(spark, dir, nlist).count()
    def livePairs(): Set[(Long, Long)] = IvfCatalog.assignedChunks(spark, dir, nlist)
      .select("document_id", "centroid_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def indexRows(): Seq[(Long, Long)] = DocLifecycle.docCells(spark, dir, nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketFiles(idxName).values.forall(_.size == 1), "the build writes one file per bucket")
    for (k <- 0 until 3) {
      val before = bucketFiles(idxName)
      IvfCatalog.appendChunks(spark, dir,
        chunksOf((0 until 12).map(i => oneChunk(960000L + 100 * k + i, s"append$k"))), nlist)
      val written = bucketFiles(idxName).map { case (b, fs) =>
        b -> fs.filterNot(before.getOrElse(b, Nil).contains) }.filter(_._2.nonEmpty)
      assert(written.nonEmpty && written.values.forall(_.size == 1),
        s"append $k wrote more than one file into a bucket: $written")
      val rows = indexRows()
      assert(rows.size === rows.distinct.size, "a pair listed twice")
      assert(rows.toSet === livePairs(), "the index must list exactly the live pairs")
    }
    assert(bucketFiles(idxName).values.exists(_.size > 1), "appends accrue files per bucket")
    // still a bucketed table: metadata, and a group-by on the bucket key plans no shuffle
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier(idxName, Some("default")))
      .bucketSpec === Some(BucketSpec(32, Seq("document_id"), Seq("document_id"))))
    val grouped = DocLifecycle.docCells(spark, dir, nlist).groupBy("document_id").count()
    assert(!grouped.queryExecution.executedPlan.toString.contains("Exchange"),
      grouped.queryExecution.executedPlan.toString)
    DocLifecycle.compactDocCells(spark, dir, nlist)
    assert(bucketFiles(idxName).values.forall(_.size == 1),
      "compaction folds back to one file per bucket")
    assert(indexRows().toSet === livePairs())
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
