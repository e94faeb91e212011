package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, Sampling}

/** The scale evidence behind SCALE.md's "Current evidence index": one leg
  * per family of current anchors, each re-runnable on a ScaleGen-shaped
  * corpus from ×10 to the ×10000 decade.
  *
  *  - `decade [srcDir [workDir [factor [nlist [batchTag]]]]]` — the stored
  *    IVF/IVFADC serving path at ×factor (default sf0.1 → /tmp/graft_sf1000
  *    ×10000): docs-only upsample, chunk table, store, code table and
  *    doc→cells builds; probe p50/p95 and the top-10 overlap of both pruned
  *    paths vs brute force; one ingest batch through the doc loop;
  *    compaction and `reindexAdvice`; the batch-8/32 serve matrix; the edits
  *    channel (3-doc upsert and delete, then the bulk re-crawl).
  *    `batchTag` re-keys the ingest batch so a resumed run appends fresh
  *    documents.
  *  - `span [corpusDir [batchDocs [factor [srcDir]]]]` — substring-span
  *    dedup and its curation chain: the full pass sliced by
  *    [[Dedup.recommendedSpanSlices]] (checked ≡ the monolithic pass when
  *    one slice fits the disk; only then are the stored gram counts, the
  *    per-batch incremental flag and the in-loop fold run, since the counts
  *    build shuffles the same gram table in one pass), decontamination, the
  *    mixture resample, the curation chain and scrub-in-place. `factor > 0`
  *    first generates the corpus as ScaleGen's survivor-mode ×factor
  *    upsample of srcDir; `factor` 0 prices the corpus as it is (a
  *    ScaleGen corpus is the all-near-copy fixture).
  *  - `ingest [corpusDir [nlist [batchDocs [nBatches]]]]` — the integrated
  *    document loop: chunk store, near-dup flags, span log and flags store
  *    and the durable mixture log, all folded in-loop on a 2-batch cadence.
  *
  * Usage: `SPARK_DRIVER_MEM=64g tools/run_main.sh graft.ScaleBench <leg>
  * [args…]`; `SPARK_GRAFT_CPUS` sizes the local master (default 32). Each
  * leg prints `[leg]` lines and returns them; every timed phase reports the disk low-water
  * mark of the volume the corpus lives on. The decade leg adopts builds an
  * earlier JVM completed from the warehouse, so a re-run pays only what is
  * new; span and ingest edit the stores they build, so they start from an
  * empty warehouse (`/tmp/graft_warehouse`).
  */
object ScaleBench {
  private val Usage = "usage: ScaleBench decade|span|ingest [args…]"

  def main(args: Array[String]): Unit = {
    val a = args.drop(1).lift
    def session(dir: String, confs: (String, String)*): SparkSession = {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
      val s = confs.foldLeft(GraftSession.localBuilder(cpus, dir)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    args.headOption match {
      case Some("decade") =>
        val dir = a(1).getOrElse("/tmp/graft_sf1000")
        // zstd shuffle blocks (stored bytes stay snappy): the IVF cell
        // repartition is the one corpus-sized shuffle left and must fit
        // the disk next to the store; 32 MB splits read the corpus as
        // ~170 splits, so the shuffle-free feature pipeline uses the cores
        val spark = session(dir, "spark.io.compression.codec" -> "zstd",
          "spark.sql.files.maxPartitionBytes" -> "33554432")
        try decade(spark, a(0).getOrElse("/root/testdata/sf0.1"), dir,
          a(2).fold(10000)(_.toInt), a(3).fold(0)(_.toInt), a(4).fold(0L)(_.toLong))
        finally spark.stop()
      case Some("span") =>
        val dir = a(0).getOrElse("/tmp/graft_sf1")
        val spark = session(dir)
        try span(spark, dir, a(1).fold(500)(_.toInt), a(2).fold(0)(_.toInt),
          a(3).getOrElse("/root/testdata/sf0.1"))
        finally spark.stop()
      case Some("ingest") =>
        val dir = a(0).getOrElse("/tmp/graft_sf1")
        val spark = session(dir)
        try ingest(spark, dir, a(1).fold(0)(_.toInt), a(2).fold(200)(_.toInt),
          a(3).fold(4)(_.toInt))
        finally spark.stop()
      case _ => sys.error(Usage)
    }
  }

  /** A leg's output: `[leg] …` lines, kept for the leg to return, and
    * phases timed together with the low-water mark of free disk on the
    * volume `dir` lives on. */
  final class Out(leg: String, dir: String) {
    new java.io.File(dir).mkdirs()
    private val kept = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def lines: Seq[String] = kept.toArray(Array.empty[String]).toSeq
    def apply(line: String): Unit = { kept.add(line); println(s"[$leg] $line") }
    /** A fresh directory under `dir` (stream checkpoints, logs). */
    def fresh(what: String): String =
      java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(dir), s"${leg}_$what").toString
    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val (r, low) = GraftSession.withDiskLowWater(dir)(body)
      apply(f"$what: ${(System.nanoTime() - t0) / 1e9}%.1f s (disk low-water $low%.1f GB free)")
      r
    }
  }

  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  private def hpath(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }
  private def exists(spark: SparkSession, p: String): Boolean = {
    val (fs, path) = hpath(spark, p); fs.exists(path)
  }
  private def delete(spark: SparkSession, p: String): Unit = {
    val (fs, path) = hpath(spark, p); fs.delete(path, true)
  }

  /** Docs-only ×factor upsample of `src` written to `docsPath`, with
    * [[ScaleGen]]'s mutation kernels and planted-dup rates (the events and
    * embeddings a full ScaleGen triple writes are read by no leg).
    * `survivor` switches the unplanted replicas to ScaleGen's survivor mode:
    * half of them carry one scrubbable run of 70 % of the base, the rest
    * are clean. The replica axis streams and the documents broadcast, so
    * the mutations run factor/parallelism replicas per task with no
    * corpus-sized shuffle. */
  def upsampleDocs(spark: SparkSession, src: String, docsPath: String,
                   factor: Int, survivor: Boolean): Unit = {
    val docs = Tables.documents(spark, src)
    val docStride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val vocab = docs
      .select(explode(operators.TextSearch.tokens(col("text"))).as("w"))
      .groupBy(col("w")).count()
      .orderBy(col("count").desc, col("w").asc).limit(20000)
      .collect().map(_.getString(0))
    val vocabB = spark.sparkContext.broadcast(vocab)
    val mutateUdf = udf { (text: String, docId: Long, rep: Int) =>
      if (rep == 0) text
      else if (ScaleGen.plantedDoc(docId, rep))
        ScaleGen.mutateText(text, docId, rep, 0.02, vocabB.value)
      else if (survivor)
        ScaleGen.mutateTextSurvivor(text, docId, rep, SurvivorDupFrac, SurvivorKeepFrac)
      else ScaleGen.mutateText(text, docId, rep, 0.35, vocabB.value)
    }
    spark.range(factor).repartition(spark.sparkContext.defaultParallelism * 8)
      .select(col("id").cast("int").as("rep"))
      .crossJoin(broadcast(docs))
      .withColumn("text", mutateUdf(col("text"), col("doc_id"), col("rep")))
      .select((col("doc_id") + col("rep").cast("long") * docStride).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(docsPath)
  }
  /** The survivor fixture's shape (SCALE.md round 19). */
  val SurvivorDupFrac = 0.5
  val SurvivorKeepFrac = 0.7

  /** Drives the document loop `start` builds over a (doc_id, text)
    * stream, one micro-batch per `(tag, slice)`: the slice replayed as it
    * is (the identity-dedup drop path) plus the same documents re-keyed by
    * `stride * (tag + 1)` with `fresh<tag> ` prepended (the append path). */
  private def feedDocLoop(spark: SparkSession, slices: Seq[(Long, Seq[(Long, String)])],
                          stride: Long)(start: DataFrame => StreamingQuery): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = start(source.toDF().toDF("doc_id", "text"))
    try slices.foreach { case (tag, slice) =>
      source.addData(slice ++ slice.map { case (id, text) =>
        (id + stride * (tag + 1), s"fresh$tag $text") }: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** √chunks cells, the law every stored index here is built on. */
  private def lawNlist(nChunks: Long): Int = math.max(16, math.sqrt(nChunks.toDouble).toInt)

  // ------------------------------------------------------------------ decade

  /** Documents re-crawled by the bulk leg: the ≡ 11 (mod 499) ids, ~100k
    * of the decade's 50M. */
  val BulkRecrawlDocs = 100000

  /** The stored serving path at ×factor. The build crosses
    * `graft.ivf.coarseAssign.threshold` at the decade (nlist ≈ √50M ≈ 7071),
    * so assignment runs the two-level coarse quantizer. `nlist` 0 = the
    * law. */
  def decade(spark: SparkSession, src: String, dir: String, factor: Int,
             nlist0: Int, batchTag: Long): Seq[String] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = new Out("decade", dir)

    // Resume support: every build here is 10-30 min at the decade, and the
    // in-memory catalog forgets tables across JVMs even when the warehouse
    // files survive. A completed (_SUCCESS) build on disk is adopted as an
    // external table with its EXPLICIT schema (partition-column inference
    // would narrow the store's LONG centroid_id to INT).
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    def adoptFromDisk(name: String, partitionCol: Option[String]): Unit = {
      val lc = name.toLowerCase(java.util.Locale.ROOT)
      val (whFs, loc) = hpath(spark, s"$warehouse/$lc")
      if (spark.catalog.tableExists(lc) ||
          !whFs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))) return
      partitionCol match {
        case Some(pc) =>
          val sub = whFs.listStatus(loc).map(_.getPath)
            .find(_.getName.startsWith(pc + "=")).getOrElse(return)
          val dataDdl = spark.read.parquet(sub.toString).schema.toDDL
          spark.sql(s"CREATE TABLE `$lc` ($dataDdl, `$pc` BIGINT) USING parquet " +
            s"PARTITIONED BY (`$pc`) LOCATION '$loc'")
          spark.sql(s"MSCK REPAIR TABLE `$lc`")
        case None =>
          val ddl = spark.read.parquet(loc.toString).schema.toDDL
          spark.sql(s"CREATE TABLE `$lc` ($ddl) USING parquet LOCATION '$loc'")
      }
      out(s"adopted completed build from disk: $lc" +
        partitionCol.fold("")(pc => s" (partitioned by $pc)"))
    }

    val docsPath = s"$dir/documents.parquet"
    if (!exists(spark, docsPath))
      out.timed(s"docs-only upsample ×$factor ($src → $docsPath)") {
        upsampleDocs(spark, src, docsPath, factor, survivor = false)
      }
    else out(s"reusing existing corpus at $docsPath")

    // Everything that reads source text is collected up front — the probe
    // query texts and the ingest batch's slice — and persisted to a side
    // file: the text column is dropped once the chunk table derives from
    // it, and a resumed run must not re-collect from the lean corpus.
    val inputsPath = s"$dir/bench_inputs.parquet"
    val (queryTexts, ingestSlice): (IndexedSeq[String], Seq[(Long, String)]) =
      if (exists(spark, inputsPath)) {
        val rows = spark.read.parquet(inputsPath).select($"kind", $"id", $"text").collect()
        (rows.filter(_.getString(0) == "q").sortBy(_.getLong(1)).map(_.getString(2)).toIndexedSeq,
         rows.filter(_.getString(0) == "i").sortBy(_.getLong(1))
           .map(r => (r.getLong(1), r.getString(2))).toSeq)
      } else {
        val srcDocs = Tables.documents(spark, dir)
        val qs = srcDocs
          .filter($"doc_id" % 997 === 3).orderBy($"doc_id".asc).limit(20)
          .select($"doc_id", $"text").as[(Long, String)].collect()
          .map { case (id, t) => (id, t.substring(0, math.min(t.length, 240))) }
        val slice = srcDocs.filter(pmod($"doc_id", lit(99991L)) === 7L)
          .orderBy($"doc_id".asc).limit(500)
          .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
        require(qs.nonEmpty && qs.forall(_._2.nonEmpty),
          "query texts collected from a lean corpus — delete the corpus dir and rerun")
        (qs.map { case (id, t) => ("q", id, t) } ++ slice.map { case (id, t) => ("i", id, t) })
          .toSeq.toDF("kind", "id", "text")
          .coalesce(1).write.mode("overwrite").parquet(inputsPath)
        (qs.map(_._2).toIndexedSeq, slice)
      }

    // --------------------------------------------------------------- build
    // The chunk table is built UNBUCKETED under ChunkCatalog's own name
    // (flatChunks then reads it): the bucketed write's repartition+sortBy
    // shuffles the full text+embedding payload (~70 GB of spill at the
    // decade, ENOSPC twice), and this serving path never uses the bucket
    // co-location. The narrow write is one map stage, zero shuffle bytes.
    val chunksName = TableStore.tableName("chunks", dir)
    adoptFromDisk(chunksName, None)
    val nChunks = out.timed("chunk table (feature pipeline, narrow unbucketed write, once)") {
      TableStore.getOrBuild(spark, chunksName) {
        pipelines.Pipelines.featurePipeline(Tables.documents(spark, dir), qualityThreshold = 0.0)
          .write.mode("overwrite").format("parquet").saveAsTable(chunksName)
      }.count()
    }
    // Lean-rewrite the documents (text → empty, schema intact): the probes'
    // attribution reads only (doc_id, lang, source), and the text is disk
    // the IVF build's shuffle needs. Gated on the aggregate, so one empty
    // document cannot mark the whole corpus lean.
    val alreadyLean = Tables.documents(spark, dir)
      .agg(coalesce(max(length($"text")), lit(0))).head.getInt(0) == 0
    if (!alreadyLean) out.timed("documents lean rewrite (text dropped for disk)") {
      val leanPath = s"$dir/documents_lean.parquet"
      Tables.documents(spark, dir)
        .select($"doc_id", lit("").as("text"), $"lang", $"source", $"n_chars")
        .write.mode("overwrite").parquet(leanPath)
      val (fs, docs) = hpath(spark, docsPath)
      fs.delete(docs, true)
      fs.rename(new org.apache.hadoop.fs.Path(leanPath), docs)
    }
    val nlist = if (nlist0 > 0) nlist0 else lawNlist(nChunks)
    val nprobe = math.max(4, nlist / 64)
    val coarseOn = nlist >= spark.conf.get("graft.ivf.coarseAssign.threshold", "4096").toInt
    out(s"corpus $dir: $nChunks chunks, nlist=$nlist, nprobe=$nprobe, coarseAssign=$coarseOn")
    adoptFromDisk(IvfCatalog.chunkCentroidsName(dir, nlist), None)
    adoptFromDisk(IvfCatalog.chunkStoreName(dir, nlist), Some("centroid_id"))
    out.timed("chunk store build (seeded centroids + assign + partitioned write, once)") {
      IvfCatalog.assignedChunks(spark, dir, nlist).count()
    }
    val (pqM, pqKsub) = (48, 256)
    adoptFromDisk(TableStore.tableName(s"ivfpqcb_m${pqM}k$pqKsub", dir), None)
    adoptFromDisk(IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, pqM, pqKsub),
      Some("centroid_id"))
    out.timed(s"IVFADC code table build (m=$pqM ksub=$pqKsub, once)") {
      IvfPqCatalog.encodedChunks(spark, dir, nlist, pqM, pqKsub).count()
    }
    out.timed("doc→cells secondary index derivation (once)") {
      DocLifecycle.docCells(spark, dir, nlist).count()
    }
    val store = IvfCatalog.chunkStoreName(dir, nlist)
    val stats = Compaction.partitionStats(spark, store)
    val storeBytes = stats.map(_.bytes).sum
    val codeBytes = Compaction.partitionStats(spark,
      IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, pqM, pqKsub)).map(_.bytes).sum
    out(f"store cells=${stats.size} bytes=${storeBytes / 1e9}%.1f GB " +
      f"max-cell=${stats.map(_.bytes).max / 1e6}%.1f MB " +
      f"mean-cell=${storeBytes / math.max(stats.size, 1) / 1e6}%.1f MB; " +
      f"code table bytes=${codeBytes / 1e9}%.1f GB " +
      f"(raw/codes ${storeBytes.toDouble / math.max(codeBytes, 1)}%.1f×)")

    // ------------------------------------------------------ probe p50 / p95
    def ivf(qt: String) = pipelines.Pipelines.flagshipIvf(spark, dir, queryText = qt,
      nlist = nlist, nprobe = nprobe)
    def adc(qt: String) = pipelines.Pipelines.flagshipIvfPq(spark, dir, queryText = qt,
      nlist = nlist, nprobe = nprobe, m = pqM, ksub = pqKsub)
    def secs(body: => Long): Double = {
      val t0 = System.nanoTime()
      require(body > 0, "a probe returned no rows")
      (System.nanoTime() - t0) / 1e9
    }
    for ((what, probe) <- Seq(s"IVF probe ($nprobe/$nlist cells)" -> ivf _,
        s"IVFADC probe (m=$pqM ksub=$pqKsub, $nprobe/$nlist cells)" -> adc _)) {
      val times = queryTexts.map(qt => secs(probe(qt).count()))
      out(f"$what over ${times.size} queries: p50=${pct(times, 0.50)}%.2f s " +
        f"p95=${pct(times, 0.95)}%.2f s min=${times.min}%.2f s max=${times.max}%.2f s")
    }
    // brute-force anchor and recall at the decade: 3 queries, a full-store
    // scan each, top-10 overlap of both pruned paths
    def ids(df: DataFrame): Set[String] = df.select("chunk_id").collect().map(_.getString(0)).toSet
    val brute = queryTexts.take(3).map { qt =>
      val t0 = System.nanoTime()
      val truth = ids(pipelines.Pipelines.flagship(spark, dir, queryText = qt))
      (qt, truth, (System.nanoTime() - t0) / 1e9)
    }
    out(f"brute-force flagship (full chunk scan, ${brute.size} queries): " +
      f"min=${brute.map(_._3).min}%.2f s max=${brute.map(_._3).max}%.2f s")
    brute.zipWithIndex.foreach { case ((qt, truth, _), i) =>
      out(s"q$i top-10 overlap vs brute: ivf=${ids(ivf(qt)).intersect(truth).size}/10 " +
        s"ivfadc=${ids(adc(qt)).intersect(truth).size}/10")
    }

    // ------------------------------------------------- ingest batch (loop)
    // re-keyed by `batchTag`, so a resumed run appends fresh documents
    feedDocLoop(spark, Seq(batchTag -> ingestSlice), 900000000000L)(stream =>
      streaming.StreamingIngest.startDocs(stream, dir, out.fresh("ckpt"), nlist,
        pqM = pqM, pqKsub = pqKsub,
        onBatch = r => out(f"ingest batch ${r.batchId}: docs=${r.arrived} " +
          f"chunksDropped=${r.dropped} chunksAppended=${r.appended} latency=${r.seconds}%.2f s")))

    // --------------------------------------------------- compaction + law
    val rep = out.timed("compaction pass (dirtied cells only)") {
      Compaction.compactTable(spark, store, idCol = "chunk_id")
    }
    out(s"compaction: ${rep.compacted.size} cells rewritten, " +
      s"files ${rep.filesBefore} -> ${rep.filesAfter}")
    out(Reindex.reindexAdvice(spark, dir, nlist).fold(
      s"reindexAdvice: nlist=$nlist satisfies the law (no rebuild due)")(a =>
      f"reindexAdvice: corpus=${a.corpusRows} recommended nlist=${a.recommendedNlist} " +
        f"drift=${a.driftFactor}%.2f (rebuild due)"))

    // ------------------------------------------------------ serve matrix
    // batch-8 / batch-32, raw vs ADC, each beside the same queries run
    // serially twice, so serial-vs-batch and rep1-vs-rep2 share cache and
    // JIT state. Texts beyond the persisted queries are suffix variants;
    // distinct because a batch keys its results on the text.
    val matrixTexts = (queryTexts ++ queryTexts.map(_ + " alt")).distinct
    for (bs <- Seq(8, 32)) {
      val qs = matrixTexts.take(bs)
      def line(what: String, times: Seq[Double]): Unit =
        out(f"serve batch-${qs.size} $what: ${times.sum}%.2f s wall, " +
          f"${times.sum / qs.size}%.3f s/query" +
          (if (times.size > 1) f", p50=${pct(times, 0.50)}%.2f s" else ""))
      line("raw IVF", Seq(secs(pipelines.Pipelines.flagshipIvfBatch(spark, dir, qs,
        nlist = nlist, nprobe = nprobe).count())))
      line(s"IVFADC m=$pqM", Seq(secs(pipelines.Pipelines.flagshipIvfPqBatch(spark, dir, qs,
        nlist = nlist, nprobe = nprobe, m = pqM, ksub = pqKsub).count())))
      for (r <- 1 to 2) line(s"serial IVF rep$r", qs.map(qt => secs(ivf(qt).count())))
    }

    // ------------------------------------------------------ edits channel
    // A 3-doc upsert batch and a 3-doc delete batch through the production
    // edit loop (latency must be cell-shaped, not corpus-shaped), then the
    // bulk re-crawl: existing documents re-texted through the join-pruned,
    // byte-batched route with the near-dup flag off. At the decade ~100k
    // documents touch essentially every cell, so it prices a bounded
    // full-store rewrite.
    val victims = ingestSlice.take(3)
    val editSrc = MemoryStream[(Long, String, String, Int)]
    val eq = streaming.StreamingIngest.startDocEdits(
      editSrc.toDF().toDF("doc_id", "text", "op", "seq"), dir,
      out.fresh("edit_ckpt"), nlist,
      pqM = pqM, pqKsub = pqKsub,
      onBatch = r => out(f"edit-stream batch ${r.batchId}: edits=${r.edits} " +
        f"upserted=${r.upsertedDocs} deleted=${r.deletedDocs} " +
        f"removed=${r.removedChunks} added=${r.addedChunks} ${r.seconds}%.2f s"))
    editSrc.addData(victims.map { case (id, t) => (id, s"decade edited $t", "upsert", 1) }: _*)
    eq.processAllAvailable()
    editSrc.addData(victims.map { case (id, _) => (id, "", "delete", 1) }: _*)
    eq.processAllAvailable()
    eq.stop()
    // re-crawl texts: the persisted ingest slice cycled over existing ids
    // and made unique per document (the lean corpus has no text to re-read,
    // and equal texts would dedup on the md5 identity)
    val textsDf = ingestSlice.map(_._2).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("ti", "t")
    val bulkDf = Tables.documents(spark, dir)
      .filter(pmod($"doc_id", lit(499L)) === 11L)
      .orderBy($"doc_id".asc).limit(BulkRecrawlDocs)
      .withColumn("ti", pmod($"doc_id", lit(ingestSlice.size.toLong)))
      .join(broadcast(textsDf), "ti")
      .select($"doc_id", concat(lit("recrawl "), $"doc_id", lit(" "), $"t").as("text"))
    val (brm, badd) = out.timed("bulk re-crawl upsert (join-pruned, byte-batched, flag off)") {
      DocLifecycle.upsertDocChunks(spark, dir, bulkDf, nlist, flagNearDups = false,
        bulkThreshold = 1000, pqM = pqM, pqKsub = pqKsub)
    }
    out(s"bulk re-crawl of ${bulkDf.count()} docs: removed=$brm added=$badd")
    out.lines
  }

  // -------------------------------------------------------------------- span

  /** Substring-span dedup (N47), decontamination and the mixture resample
    * (N48) composed into the curation chain. The batch documents (ids
    * below `batchN`) and the store/train corpus are disjoint: a store
    * holding the batch's own windows would flag every batch window. */
  def span(spark: SparkSession, dir: String, batchN: Int, factor: Int,
           src: String): Seq[String] = {
    val out = new Out("span", dir)
    val docsPath = s"$dir/documents.parquet"
    // the clean-survivor tie below holds only on the survivor fixture this
    // leg writes; a corpus made elsewhere is priced without it
    val marker = new java.io.File(s"$dir/survivor_fixture")
    if (factor > 0 && !exists(spark, docsPath)) {
      out.timed(s"docs-only survivor upsample ×$factor ($src → $docsPath)") {
        upsampleDocs(spark, src, docsPath, factor, survivor = true)
      }
      marker.createNewFile()
    }
    val survivor = marker.exists()
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    out(s"corpus $dir: $nDocs docs, batch=$batchN, survivor fixture=$survivor")

    val scratch = s"$dir/span_b$batchN"
    val corpus = docs.filter(col("doc_id") >= batchN)
    // the batch is materialized, as a real ingest micro-batch arrives as
    // its own frame; filtering it from the corpus would bill a corpus scan
    docs.filter(col("doc_id") < batchN).write.mode("overwrite").parquet(s"$scratch/batch")
    val batch = spark.read.parquet(s"$scratch/batch")

    // the full pass's disk budget, measured first: it also decides whether
    // the stored counts are built, since their one-pass groupBy shuffles
    // the same gram table the monolithic pass does
    val nWin = out.timed("spanWindowCount (sizing scan)")(Dedup.spanWindowCount(docs))
    val gramBytes = Dedup.estimatedSpanGramBytes(nWin)
    val usable = new java.io.File(dir).getUsableSpace
    val slices = Dedup.recommendedSpanSlices(gramBytes, usable)
    out(f"auto slices: $nWin windows ~ ${gramBytes / 1e9}%.1f GB gram shuffle, " +
      f"${usable / 1e9}%.1f GB usable -> S=$slices")

    if (slices == 1) {
      // stored counts (the ingest path's one-time corpus-shaped cost),
      // written so the incremental flag scans real files
      out.timed("spanGramCounts build+write")(
        Dedup.spanGramCounts(corpus).write.mode("overwrite").parquet(s"$scratch/counts"))
      val counts = spark.read.parquet(s"$scratch/counts")
      out(s"store rows=${counts.count()}")
      // the recurring ingest cost: one batch flagged against the stored
      // counts (broadcast batch digests, narrow store scan, no shuffle)
      val nInc = out.timed(s"incremental flag ($batchN docs)")(
        Dedup.duplicateSpansIncremental(batch, counts).count())
      out(s"incremental spans=$nInc")
      // the ingest log's lifecycle: the same counts as a fragmented 24-part
      // log (a running loop between folds), the flag against it, the
      // in-place generational fold, and the flag again — identical flags in
      // all three shapes (summed-threshold contract)
      import graft.streaming.SpanDedupIngest
      val logDir = s"$scratch/log"
      out.timed("fragmented log write (24 parts)")(
        counts.withColumn("batch", pmod(xxhash64(col("h")), lit(24L)))
          .write.mode("overwrite").partitionBy("batch").parquet(logDir))
      def flagVsLog() = Dedup.duplicateSpansIncremental(batch, SpanDedupIngest.readLog(spark, logDir)).count()
      val nFrag = out.timed("incremental flag vs 24-part log")(flagVsLog())
      out.timed("foldLogInLoop (in-place generational fold)")(SpanDedupIngest.foldLogInLoop(spark, logDir))
      val nFold = out.timed("incremental flag vs folded log")(flagVsLog())
      require(nFrag == nInc && nFold == nInc, s"flag parity across log shapes broke: $nInc/$nFrag/$nFold")
      delete(spark, logDir)
    } else out(s"stored counts skipped: their one-pass build shuffles the gram table, " +
      s"which needs S=$slices passes on this disk")

    // decontamination: the batch as an eval set against the disjoint corpus
    // (eval digests broadcast, no corpus-wide aggregation)
    val nCon = out.timed("contaminatedSpans (batch as eval set)")(
      Dedup.contaminatedSpans(corpus, batch, k = 8).count())
    out(s"contaminated spans=$nCon")
    val mix = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val kept = out.timed("mixtureResample")(
      Sampling.mixtureResample(docs, "doc_id", "source", mix).count())
    out(s"mixture kept=$kept")

    // the full pass, sliced to the disk budget; when one slice fits, the
    // monolithic pass fits too and the two must flag the same spans
    val nMono =
      if (slices == 1) out.timed("monolithic duplicateSpans")(Dedup.duplicateSpans(docs).count())
      else -1L
    val (spans, nSliced) = out.timed(s"sliced duplicateSpans (S=$slices)") {
      val s = Dedup.duplicateSpansSliced(docs, s"$scratch/slices", slices)
      (s, s.count())
    }
    out(s"spans: sliced=$nSliced" + (if (nMono >= 0) s" monolithic=$nMono" else ""))
    require(nMono < 0 || nSliced == nMono,
      s"sliced pass diverged from monolithic: $nSliced vs $nMono")
    val flagged = spans.localCheckpoint(true) // flag-sized

    // the curation chain on the sliced spans: scrub → exact survivors on
    // the scrubbed text → quality gate → decon vs the batch (k=8) →
    // mixture → 80/10/10 split → 2048-token packing on frozen-BPE counts.
    // Exact dedup stands in for the stored cluster catalog (no embedding
    // index exists for this corpus).
    import graft.functions.TextFunctions.qualityScore
    def gate(df: DataFrame) = df.filter(qualityScore(col("text"),
      lit(null).cast("string"), lit(null).cast("string")) >= 0.25)
    val survivors = out.timed("curation: scrub + exact survivors + quality gate") {
      val scrubbed = Dedup.scrubSpans(docs, flagged)
      val g = gate(Dedup.dropExactDuplicates(docs.join(scrubbed, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("lang"),
            coalesce(col("scrubbed_text"), col("text")).as("text"))))
        .localCheckpoint(true) // scanned by decon, the mixture count and its filter
      out(s"curation survivors=${g.count()}")
      g
    }
    if (survivor) {
      // on the survivor fixture the CLEAN survivors are exactly
      // predictable: a clean replica scores like its base under the gate,
      // is never span-flagged (unchanged runs ≤ 3 < k) and never an exact
      // duplicate (replica-unique filler)
      val nSurv = survivors.count()
      require(nSurv > 0, "survivor fixture annihilated under the scrub")
      val stride = Tables.documents(spark, src).agg(max(col("doc_id"))).head.getLong(0) + 1
      val reps = (nDocs / stride).toInt
      val passBases = gate(Tables.documents(spark, src))
        .select(col("doc_id")).collect().map(_.getLong(0))
      val expectedClean = passBases.iterator.map { base =>
        (1 until reps).count(r => !ScaleGen.plantedDoc(base, r) &&
          !ScaleGen.dupReplica(base, r, SurvivorDupFrac)).toLong
      }.sum
      val isClean = udf((id: Long) => {
        val rep = (id / stride).toInt; val base = id % stride
        rep > 0 && !ScaleGen.plantedDoc(base, rep) &&
          !ScaleGen.dupReplica(base, rep, SurvivorDupFrac)
      })
      val nClean = survivors.filter(isClean(col("doc_id"))).count()
      out(s"curation survivor split: clean=$nClean (expected $expectedClean from " +
        s"${passBases.length} passing bases), partial-scrub=${nSurv - nClean}")
      require(nClean == expectedClean, s"clean survivors $nClean != expected $expectedClean")
    }
    // an all-near-copy corpus is annihilated by the scrub (the right
    // answer); the later stages are then priced on the unscrubbed corpus
    val gated =
      if (!survivors.isEmpty) survivors
      else {
        out("curation: the scrub annihilated the corpus — pricing the " +
          "remaining stages on the unscrubbed corpus")
        docs.select(col("doc_id"), col("source"), col("lang"), col("text"))
      }
    val packed = out.timed("curation: decon + mixture + split + BPE pack") {
      val dirty = Dedup.contaminatedSpans(gated.select(col("doc_id"), col("text")), batch, k = 8)
        .select(col("doc_id")).distinct().localCheckpoint(true)
      val mixed = Sampling.mixtureResample(gated.join(dirty, Seq("doc_id"), "left_anti"),
          "doc_id", "source", mix)
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)))
        .select(col("doc_id"), col("source"), col("lang"), col("split"),
          operators.Bpe.tokenCount(col("text"), operators.Bpe.frozen).as("n_tokens"))
        .withColumn("shard", concat_ws("#", col("split"), col("source"),
          pmod(Sampling.hashBucket(col("doc_id"), "pack"), lit(32L)).cast("string")))
      Sampling.packSequences(mixed, col("n_tokens"), budget = 2048,
        shardCol = "shard", idCol = "doc_id").count()
    }
    out(s"curation manifest rows=$packed")

    // scrub-in-place: every flagged document remediated through the
    // bulk-capable upsert route against a chunk index built for this
    // corpus (the one-time builds are timed apart from the edit)
    val nChunks = out.timed("scrub-store: chunk table (one-time)")(
      ChunkCatalog.flatChunks(spark, dir).count())
    val nlist = lawNlist(nChunks)
    out.timed(s"scrub-store: chunk index build (one-time, nlist=$nlist)")(
      IvfCatalog.assignedChunks(spark, dir, nlist).count())
    out.timed("scrub-store: docCells index (one-time)")(
      DocLifecycle.docCells(spark, dir, nlist).count())
    val (nScrubbed, removed, added) = out.timed("scrub-store: scrubSpansInStore (flag-sized bulk edit)")(
      DocLifecycle.scrubSpansInStore(spark, dir, docs, flagged, nlist))
    out(s"scrub-store: docs=$nScrubbed removed=$removed added=$added chunks")
    delete(spark, scratch)
    out.lines
  }

  // ------------------------------------------------------------------ ingest

  /** Per-batch latency of the integrated document loop
    * ([[streaming.StreamingIngest.startDocs]]) over the stored chunk index:
    * feature pipeline → identity dedup → near-dup flag → cell append, plus
    * the span gram-count log and flags store and the durable mixture log,
    * all folded by the `compactEvery = 2` cadence. Each batch is
    * `batchDocs` replayed corpus documents (the identity-dedup drop path)
    * and the same documents re-keyed with prefixed text (the append path).
    * The batch documents carry no `source`, so the mixture domain derives
    * from the id; the drift advisory against 0.4/0.3/0.3 is what is
    * checked. `nlist` 0 = the law. */
  def ingest(spark: SparkSession, dir: String, nlist0: Int, batchDocs: Int,
             nBatches: Int): Seq[String] = {
    import spark.implicits._
    val out = new Out("ingest", dir)
    val nChunks = out.timed("chunk table (bucketed feature-pipeline output, once)")(
      ChunkCatalog.flatChunks(spark, dir).count())
    val nlist = if (nlist0 > 0) nlist0 else lawNlist(nChunks)
    out(s"corpus $dir: $nChunks chunks, nlist=$nlist, " +
      s"batch=$batchDocs+$batchDocs docs × $nBatches")
    out.timed("chunk store build (seeded centroids + assign + partitioned write, once)")(
      IvfCatalog.assignedChunks(spark, dir, nlist).count())

    val docs = Tables.documents(spark, dir)
    val mod = math.max(nBatches.toLong, docs.count() / math.max(batchDocs, 1))
    val slices = (0 until nBatches).map { b =>
      b.toLong -> docs.filter(pmod($"doc_id", lit(mod)) === b)
        .orderBy($"doc_id".asc).limit(batchDocs)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    }
    val (spanLog, spanFlags, mixLog) = (out.fresh("spanlog"), out.fresh("spanflags"), out.fresh("mixlog"))
    val weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.3)
    feedDocLoop(spark, slices, 900000000L)(stream =>
      streaming.StreamingIngest.startDocs(
        stream.withColumn("source", concat(lit("src"), pmod($"doc_id", lit(3L)).cast("string"))),
        dir, out.fresh("ckpt"), nlist, compactEvery = 2,
        spanLogDir = spanLog, spanFlagsDir = spanFlags,
        mixtureWeights = weights, mixtureLogDir = mixLog,
        onMixtureAdvice = a => out(s"mixture advice: $a"),
        onBatch = r => out(f"batch ${r.batchId}: docs=${r.arrived} chunksDropped=${r.dropped} " +
          f"chunksAppended=${r.appended} latency=${r.seconds}%.2f s")))

    val flags = streaming.SpanDedupIngest.readFlags(spark, spanFlags)
    out(s"span flags emitted: rows=${flags.count()} docs=${flags.select("doc_id").distinct().count()}")
    def parts(logDir: String) = streaming.SpanDedupIngest.partsDir(spark, logDir)
      .stripPrefix(logDir).stripPrefix("/") match {
      case "" => "legacy (no fold ran)"
      case p => s"$p (folded in place)"
    }
    out(s"parts dirs after cadence folds: span log ${parts(spanLog)}, " +
      s"span flags ${parts(spanFlags)}, mixture log ${parts(mixLog)}")
    val (w, other) = streaming.MixtureLog.counts(spark, mixLog, weights)
    out(s"durable mixture log totals: $w other=$other")

    out(s"store rows after $nBatches batches: ${IvfCatalog.assignedChunks(spark, dir, nlist).count()}")
    val store = IvfCatalog.chunkStoreName(dir, nlist)
    val frag = Compaction.partitionStats(spark, store)
    out(s"store files (compactEvery=2 steady state): total=${frag.map(_.files).sum} " +
      s"max/cell=${frag.map(_.files).max} cells=${frag.size}")
    val rep = out.timed("final compaction pass")(Compaction.compactTable(spark, store, idCol = "chunk_id"))
    out(s"final compaction: ${rep.compacted.size} cells rewritten, " +
      s"files ${rep.filesBefore} -> ${rep.filesAfter}")
    out.lines
  }
}
