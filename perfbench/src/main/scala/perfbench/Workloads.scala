package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{ChunkCatalog, Compaction, DocLifecycle, IvfCatalog,
  IvfPqCatalog, SparkEntry, Tables}
import graft.operators.{Attribution, Clusters, Decontamination, Dedup, Embedder,
  Fusion, Sampling, Similarity, TextSearch, VectorSearch, ChunkOps}
import graft.pipelines.Pipelines

object Ann {
  val Nlist = 16
  val Nprobe = 4
  val PqM = 48
  val PqKsub = 32
  val K = 10
}

/** Probe-cell sizes, so a traced run can count the rows an IVF probe scores
  * without reaching into the engine: the nprobe centroids nearest the
  * query (by the engine's own cosine) and the stored rows in them. */
final class CellSizes(run: Run, dir: String) {
  import run.spark.implicits._
  private val cents: Seq[(Long, Array[Float])] =
    IvfCatalog.chunkCentroidsStored(run.spark, dir, Ann.Nlist).collect().toSeq.map { r =>
      (r.getAs[Number]("centroid_id").longValue(),
        r.getAs[scala.collection.Seq[Float]]("centroid_vec").toArray)
    }
  private val sizes: Map[Long, Long] =
    IvfCatalog.assignedChunks(run.spark, dir, Ann.Nlist).groupBy("centroid_id").count()
      .as[(Long, Long)].collect().toMap
  def probedRows(q: Array[Float]): Long = {
    def cos(c: Array[Float]) = {
      var d, n = 0.0
      var i = 0
      while (i < c.length) { d += c(i) * q(i); n += c(i).toDouble * c(i); i += 1 }
      if (n == 0) 0.0 else d / math.sqrt(n)
    }
    cents.sortBy { case (id, c) => (-cos(c), id) }.take(Ann.Nprobe)
      .map { case (id, _) => sizes.getOrElse(id, 0L) }.sum
  }
}

/** `serve`: tables loaded and stores built in set-up, then one closed-loop
  * client sends rounds of a seeded mix: exact, IVF, IVF-PQ, BM25 and hybrid
  * top-10 retrieval queries (two of each) and one registered analytics query
  * per family. */
final class Serve(ctx: Run) {
  import ctx._
  private val spark = ctx.spark

  private def build(dir: String): Unit = {
    span("tables.load") { Tables.documents(spark, dir).count() }
    val before = dirBytes(s"$work/warehouse")
    span("store.build") {
      span("store.build.chunks") { ChunkCatalog.flatChunks(spark, dir).count() }
      span("store.build.ivf") { IvfCatalog.assignedChunks(spark, dir, Ann.Nlist).count() }
      span("store.build.ivfpq") {
        IvfPqCatalog.encodedChunks(spark, dir, Ann.Nlist, Ann.PqM, Ann.PqKsub).count()
      }
    }
    val after = dirBytes(s"$work/warehouse")
    storeBytes += (after._1 - before._1).toDouble
    storeFiles += (after._2 - before._2).toDouble
  }
  private val storeBytes, storeFiles = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val analytics = new AnalyticsQueries(ctx)

  def run(): Unit = {
    setups { i =>
      build(if (i == Main.SetupRepeats - 1) data
            else copyData(s"$work/setup$i", Seq("documents.parquet")))
    }
    val dir = data
    ChunkCatalog.flatChunks(spark, dir)
      .select("chunk_id", "document_id", "content", "embedding")
      .coalesce(1).write.parquet(s"$out/chunks.parquet")
    IvfCatalog.assignedChunks(spark, dir, Ann.Nlist).select("chunk_id", "centroid_id")
      .coalesce(1).write.parquet(s"$out/cells.parquet")
    IvfCatalog.chunkCentroidsStored(spark, dir, Ann.Nlist).select("centroid_id", "centroid_vec")
      .coalesce(1).write.parquet(s"$out/centroids.parquet")
    val content: Map[String, String] = ChunkCatalog.flatChunks(spark, dir)
      .select("chunk_id", "content").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val cells = if (traced) Some(new CellSizes(ctx, dir)) else None
    var probed = 0L
    var probes = 0L
    val plan = list("queries").map(_.asInstanceOf[java.util.Map[String, String]].asScala)
    val perRound = 10
    val rounds = plan.size / perRound

    def query(kind: String, text: String): Map[String, Any] = {
      val qv = span("embedder") { Embedder.embedText(text) }
      def hits(df: DataFrame) = Json.rows(df.select("chunk_id", "score").collect())
      kind match {
        case "knn" =>
          val chunks = span("store.read") { ChunkCatalog.flatChunks(spark, dir) }
          val h = span("vectorsearch.knn") {
            hits(VectorSearch.knn(chunks, VectorSearch.SearchRequest(qv, Ann.K),
              embCol = "embedding", idCol = "chunk_id"))
          }
          Map("qvec" -> qv, "hits" -> h)
        case "ivf" =>
          val (store, cents) = span("store.read") {
            (IvfCatalog.assignedChunks(spark, dir, Ann.Nlist),
              IvfCatalog.chunkCentroidsStored(spark, dir, Ann.Nlist))
          }
          val h = span("ann.ivf") {
            hits(Similarity.ivfSearchPruned(store, cents, qv, Ann.K, Ann.Nprobe,
              idCol = "chunk_id"))
          }
          cells.foreach { c => probed += c.probedRows(qv); probes += 1 }
          Map("qvec" -> qv, "hits" -> h)
        case "ivfpq" =>
          val (store, cents, cb, codes) = span("store.read") {
            (IvfCatalog.assignedChunks(spark, dir, Ann.Nlist),
              IvfCatalog.chunkCentroidsStored(spark, dir, Ann.Nlist),
              IvfPqCatalog.chunkCodebookStored(spark, dir, Ann.PqM, Ann.PqKsub),
              IvfPqCatalog.encodedChunks(spark, dir, Ann.Nlist, Ann.PqM, Ann.PqKsub))
          }
          val h = span("ann.ivfpq") {
            hits(Similarity.ivfPqSearchPruned(codes, store, cents, cb, qv, Ann.K,
              Ann.Nprobe, idCol = "chunk_id"))
          }
          cells.foreach { c => probed += c.probedRows(qv); probes += 1 }
          Map("qvec" -> qv, "hits" -> h)
        case "bm25" =>
          val chunks = span("store.read") { ChunkCatalog.flatChunks(spark, dir) }
          val h = span("textsearch.bm25") {
            Json.rows(TextSearch.search(chunks, text, Ann.K, "chunk_id", "content")
              .select("chunk_id", "text_score").collect())
          }
          Map("hits" -> h)
        case "hybrid" =>
          val chunks = span("store.read") { ChunkCatalog.flatChunks(spark, dir) }
          val fused = span("fusion.hybrid") {
            Fusion.hybridSearch(chunks, qv, text, Ann.K, "chunk_id", "content", "embedding")
              .select("chunk_id", "vector_score", "text_score", "score").collect()
          }
          val attached = span("attribution.attach") {
            val hitsDf = chunks.select("chunk_id", "document_id")
              .join(broadcast(spark.createDataFrame(
                spark.sparkContext.parallelize(fused.toSeq.map(r =>
                  Row(r.getString(0), r.getDouble(3))), 1),
                org.apache.spark.sql.types.StructType.fromDDL("chunk_id string, score double"))),
                "chunk_id")
            Attribution.attachSources(hitsDf, Tables.documents(spark, dir),
              "document_id", "doc_id", Seq("lang", "source"))
              .select("chunk_id", "document_id", "lang", "source", "score")
              .orderBy(col("score").desc, col("chunk_id").asc).collect()
          }
          val packed = span("attribution.pack") {
            Attribution.packContextExact(attached.toSeq.map(r =>
              (r.getString(0), content(r.getString(0)), r.getDouble(4))),
              maxTotalTokens = 400, maxTokensPerDoc = 120)
          }
          Map("qvec" -> qv, "hits" -> Json.rows(fused), "attached" -> Json.rows(attached),
            "packed" -> packed.map { case (id, c, s) => Seq(id, c, s) })
      }
    }

    window { r =>
      plan.slice((r % rounds) * perRound, (r % rounds + 1) * perRound).foreach { q =>
        op(s"query.${q("kind")}") {
          val res = query(q("kind"), q("text"))
          if (r < rounds && !replaying)
            records += (Map("kind" -> q("kind"), "text" -> q("text")) ++ res)
        }
      }
      analytics.round(r, dir)
    }
    analytics.finish()
    if (traced) {
      layers("embedder.s") = layerMedian("embedder", 1)
      layers("embedder.vectors") = tracer.spans.count(_.name == "embedder").toDouble
      layers("store.build_s") = layerMedian("store.build", 1)
      layers("store.read_s") = layerMedian("store.read", 1)
      layers("store.bytes_written") = Stats.median(storeBytes.toSeq)
      layers("store.files_written") = Stats.median(storeFiles.toSeq)
      layers("vectorsearch.knn_ms") = layerMedian("vectorsearch.knn", 1e3)
      layers("ann.ivf_ms") = layerMedian("ann.ivf", 1e3)
      layers("ann.ivfpq_ms") = layerMedian("ann.ivfpq", 1e3)
      layers("ann.rows_scored_per_result") =
        if (probes == 0) 0.0 else probed.toDouble / probes / Ann.K
      layers("textsearch.bm25_ms") = layerMedian("textsearch.bm25", 1e3)
      layers("fusion.hybrid_ms") = layerMedian("fusion.hybrid", 1e3)
      layers("attribution.attach_ms") = layerMedian("attribution.attach", 1e3)
      layers("attribution.pack_ms") = layerMedian("attribution.pack", 1e3)
    }
    result("store_bytes") = storeBytesOf(dir)
    result("live_docs") = Tables.documents(spark, dir).count()
  }
}

/** The oracle-checked relational, event, document and analysis families of
  * the registered queries. A round runs one query of each family, walking
  * each family's list in a seeded order; a query's first result is written
  * out (after the window) for the oracle compare and every later run of it
  * must return the same rows. */
final class AnalyticsQueries(ctx: Run) {
  import ctx._
  private val spark = ctx.spark
  val Families = Seq("rel", "evt", "doc", "ana")
  // the first queries of each family by name: a round must fit in one run
  // next to the retrieval queries (README.md, "Sizes")
  val PerFamily = 6
  private val oracle = SparkEntry.oracleSql
  private val rng = new scala.util.Random(seed)
  val names: Map[String, Seq[String]] = Families.map(f => f -> rng.shuffle(
    SparkEntry.queries.keys.toSeq.filter(n => n.startsWith(f + "_") && oracle.contains(n))
      .sorted.take(PerFamily))).toMap
  private val first = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame)]

  private def digest(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def round(r: Int, dir: String): Unit = Families.foreach { f =>
    val n = names(f)(r % names(f).size)
    op(s"queries.$f") {
      val df = SparkEntry.queries(n)(spark, dir)
      val rows = df.collect()
      first.get(n) match {
        case None => first(n) = (rows, df)
        case Some((want, _)) =>
          require(digest(rows) == digest(want), s"$n returned other rows than its first run")
      }
    }
    graft.Caches.release(); spark.sqlContext.clearCache()
  }

  def finish(): Unit = {
    first.foreach { case (n, (rows, df)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
        .write.parquet(s"$out/results/$n")
    }
    Json.write(s"$out/oracle.json", first.keys.map(n => n -> oracle(n)).toMap)
    if (traced) Families.foreach { f =>
      layers(s"queries.${f}_s") = layerMedian(s"queries.$f", 1)
    }
  }
}
/** One whole curation pass over the base corpus, with its planted
  * near-duplicates, duplicated spans and leaked eval documents: exact
  * dedup, MinHash near-dup pairs and clusters, span dedup and scrub,
  * decontamination, the quality filter and the mixture split. */
final class Curation(ctx: Run, dir: String) {
  import ctx._
  private val spark = ctx.spark
  import spark.implicits._
  val Weights = Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2)
  val Quality = 0.2

  private val docs = Tables.documents(spark, dir).select("doc_id", "text", "lang")
  private val evalSet = spark.read.parquet(s"$dir/eval.parquet").select("doc_id", "text")
  private val nDocs = docs.count()
  private var result: Map[String, Seq[Seq[Any]]] = null

  def pass(): Unit = {
      op("curate.pass") {
        val exact = span("dedup.exact") { Dedup.exactDuplicateGroups(docs).collect() }
        val pairs = span("dedup.minhash") {
          Dedup.minHashPairsFast(docs.select("doc_id", "text")).localCheckpoint()
        }
        val clusters = span("clusters") {
          Clusters.connectedComponents(pairs).localCheckpoint()
        }
        val (spans, scrubbed) = span("dedup.span") {
          val s = Dedup.duplicateSpans(docs, 5, 2).localCheckpoint()
          (s, Dedup.scrubSpans(docs, s).localCheckpoint())
        }
        val dirty = span("decon") {
          Decontamination.overlapCounts(docs, evalSet, 8).localCheckpoint()
        }
        val mix = span("sampling") {
          val dropped = clusters.filter($"id" =!= $"cluster_id").select($"id".as("doc_id"))
            .union(dirty.select("doc_id"))
          val kept = docs.join(dropped, Seq("doc_id"), "left_anti")
            .join(scrubbed, Seq("doc_id"), "left")
            .select($"doc_id", $"lang", coalesce($"scrubbed_text", $"text").as("text"))
            .filter(graft.functions.TextFunctions.qualityScore($"text",
              lit(null).cast("string"), lit(null).cast("string")) >= Quality)
          Sampling.mixtureResample(kept, "doc_id", "lang", Weights)
            .withColumn("split", Sampling.splitColumn($"doc_id",
              Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)))
            .groupBy("lang", "split").count().collect()
        }
        if (result == null) result = Map(
          "exact" -> Json.rows(exact),
          "pairs" -> Json.rows(pairs.collect()),
          "clusters" -> Json.rows(clusters.collect()),
          "spans" -> Json.rows(spans.collect()),
          "decon" -> Json.rows(dirty.collect()),
          "mixture" -> Json.rows(mix))
      }
      graft.Caches.release()
  }

  def finish(): Unit = {
    ctx.result("curation") = result
    if (traced && result != null) {
      layers("dedup.exact_s") = layerMedian("dedup.exact", 1)
      layers("dedup.minhash_s") = layerMedian("dedup.minhash", 1)
      layers("dedup.verified_pairs") = result("pairs").size.toDouble
      // candidate pairs: every pair sharing a band bucket, counted per band
      layers("dedup.candidate_pairs") =
        Dedup.minHashBandTable(Dedup.minHashShingleTable(docs))
          .groupBy("band_idx", "band_key").count()
          .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
      layers("dedup.span_s") = layerMedian("dedup.span", 1)
      layers("dedup.flagged_spans") = result("spans").size.toDouble
      layers("clusters.s") = layerMedian("clusters", 1)
      layers("decon.s") = layerMedian("decon", 1)
      layers("decon.flagged_docs") = result("decon").size.toDouble
      layers("sampling.s") = layerMedian("sampling", 1)
    }
  }
}

/** `ingest`: the workload in which the stores write. Each round ingests one
  * batch: it parses Notion-export pages, runs the feature pipeline, flags
  * near-duplicates against the base corpus, appends to the chunk store and
  * the IVF cells, upserts and deletes existing documents, compacts when a
  * cell holds more than one file, and sends queries that must see the
  * batch. The round ends with one curation pass over the base corpus. */
final class Ingest(ctx: Run) {
  import ctx._
  private val spark = ctx.spark
  import spark.implicits._
  val FreshNprobe = 2
  val CompactFiles = 1

  private def build(dir: String): Unit = {
    span("tables.load") { Tables.documents(spark, dir).count() }
    span("store.build") {
      span("store.build.chunks") { ChunkCatalog.flatChunks(spark, dir).count() }
      span("store.build.ivf") { IvfCatalog.assignedChunks(spark, dir, Ann.Nlist).count() }
      span("store.build.doccells") { DocLifecycle.docCells(spark, dir, Ann.Nlist).count() }
    }
  }

  def run(): Unit = {
    setups { i =>
      build(if (i == Main.SetupRepeats - 1) data
            else copyData(s"$work/setup$i", Seq("documents.parquet")))
    }
    val dir = data
    val curation = new Curation(ctx, dir)
    val storeName = IvfCatalog.chunkStoreName(dir, Ann.Nlist)
    val batches = list("batches").map(_.asInstanceOf[java.util.Map[String, Object]].asScala)
    val before = dirBytes(s"$work/warehouse")
    var parsed, fed, kept, chunksOut, compactBytes = 0L
    def docsOf(x: Object): Seq[(Long, String)] =
      x.asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala.toSeq
        .map(m => (m.get("doc_id").asInstanceOf[Number].longValue(), m.get("text").toString))

    window { r =>
      require(r < batches.size, "ingest plan exhausted before the window ended")
      val b = batches(r)
      val fresh = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      op("ingest.batch") {
        val pages = span("sources.parse") {
          graft.sources.NotionJson.readPages(spark, b("notion_path").toString)
            .select($"page_id".cast("long"), $"markdown").as[(Long, String)].collect().toSeq
        }
        parsed += pages.size
        val plain = docsOf(b("plain"))
        val newDocs = (pages ++ plain).toDF("doc_id", "text")
        val chunks = span("pipelines.feature") {
          Pipelines.featurePipeline(newDocs, qualityThreshold = 0.0)
            .select("chunk_id", "document_id", "word_count", "embedding").localCheckpoint()
        }
        fed += pages.size + plain.size
        val stats = chunks.agg(count(lit(1)), countDistinct("document_id")).head()
        chunksOut += stats.getLong(0)
        kept += stats.getLong(1)
        span("dedup.flag") {
          Dedup.minHashPairsIncremental(newDocs,
            Tables.documents(spark, dir).select("doc_id", "text")).collect()
        }
        span("store.append") {
          IvfCatalog.appendChunks(spark, dir, chunks, Ann.Nlist)
        }
        val ups = docsOf(b("upserts"))
        span("lifecycle.upsert") {
          DocLifecycle.upsertDocChunks(spark, dir, ups.toDF("doc_id", "text"), Ann.Nlist)
        }
        val dels = b("deletes").asInstanceOf[java.util.List[Number]].asScala.map(_.longValue()).toSeq
        span("lifecycle.delete") { DocLifecycle.deleteDocChunks(spark, dir, dels, Ann.Nlist) }
        val files = Compaction.partitionStats(spark, storeName).map(_.files)
        if (files.nonEmpty && files.max > CompactFiles) span("compaction") {
          val rep = Compaction.compactTable(spark, storeName, idCol = "chunk_id")
          compactBytes += rep.compacted.map(_.bytes).sum
        }
      }
      // queries that must see the batch: its new and upserted documents
      // are found by their own text, its deleted ones never come back
      val probes = b("probes").asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala
      probes.foreach { p =>
        op("query.fresh") {
          val (store, cents) = span("store.read") {
            (IvfCatalog.assignedChunks(spark, dir, Ann.Nlist),
              IvfCatalog.chunkCentroidsStored(spark, dir, Ann.Nlist))
          }
          val h = span("ann.ivf") {
            Similarity.ivfSearchPruned(store, cents, Embedder.embedText(p.get("text").toString),
              Ann.K, FreshNprobe, idCol = "chunk_id").select("document_id", "score").collect()
          }
          if (!replaying) fresh += Map("doc_id" -> p.get("doc_id"), "expect" -> p.get("expect"),
            "hits" -> Json.rows(h))
        }
      }
      records += Map("batch" -> r, "queries" -> fresh.toSeq)
      curation.pass()
    }
    curation.finish()
    val after = dirBytes(s"$work/warehouse")
    val live = IvfCatalog.assignedChunks(spark, dir, Ann.Nlist)
      .select("document_id").distinct().count()
    result("live_docs") = live
    result("store_bytes") = storeBytesOf(dir)
    if (traced) {
      val nb = math.max(1, tracer.spans.count(_.name == "sources.parse"))
      layers("tables.load_s") = layerMedian("tables.load", 1)
      layers("sources.parse_s") = layerMedian("sources.parse", 1)
      layers("sources.pages") = parsed.toDouble / records.size
      layers("pipelines.feature_s") = layerMedian("pipelines.feature", 1)
      layers("pipelines.kept_per_input") = kept.toDouble / math.max(1, fed)
      layers("chunker.chunks_per_doc") = chunksOut.toDouble / math.max(1, kept)
      layers("store.append_s") = layerMedian("store.append", 1)
      layers("store.read_s") = layerMedian("store.read", 1)
      layers("store.build_s") = layerMedian("store.build", 1)
      layers("store.bytes_written") = (after._1 - before._1).toDouble / records.size
      layers("store.files_written") = (after._2 - before._2).toDouble / records.size
      layers("store.bytes_per_doc") = storeBytesOf(dir).toDouble / math.max(1, live)
      layers("lifecycle.upsert_s") = layerMedian("lifecycle.upsert", 1)
      layers("lifecycle.delete_s") = layerMedian("lifecycle.delete", 1)
      layers("compaction.s") = layerMedian("compaction", 1)
      layers("compaction.bytes_rewritten") = compactBytes.toDouble / records.size
      layers("dedup.flag_s") = layerMedian("dedup.flag", 1)
      layers("ann.ivf_ms") = layerMedian("ann.ivf", 1e3)
      // the pipeline's chunk and embed kernels run fused in one Spark stage;
      // time them alone, on the client thread, over the batches' own texts
      val texts = batches.take(records.size).flatMap(b => docsOf(b("plain")))
      val t0 = System.nanoTime()
      val chunked = texts.flatMap { case (id, t) => ChunkOps.chunkDocument(id, t) }
      val t1 = System.nanoTime()
      chunked.foreach(c => Embedder.embedText(c.content))
      val t2 = System.nanoTime()
      layers("chunker.s") = (t1 - t0) / 1e9 / nb
      layers("embedder.s") = (t2 - t1) / 1e9 / nb
      layers("embedder.vectors") = chunksOut.toDouble / nb
    }
  }
}

