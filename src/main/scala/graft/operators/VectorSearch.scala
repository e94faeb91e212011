package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Vector KNN search (SURVEY.md §2.6 V2-V4, §2.3 J5/J6).
  *
  * Mirrors the reference's `$vectorSearch` surface
  * (/root/reference/src/feature_pipeline/vector_storage/vector_search.py:61-95,
  * base.py:16-23): cosine metric, top-k limit 1-100, optional score threshold
  * (score scale (1+cos)/2 like Atlas), optional post-KNN filters, self/same-
  * document exclusion.
  *
  * Physical shape at scale: the query side is broadcast (one vector or a
  * small query table), the corpus side is scanned once — a narrow map stage
  * plus `TakeOrderedAndProject` for single-query top-k, or one shuffle by
  * query id for batch top-k. No corpus self-shuffle anywhere; this is the
  * plan that survives 100 TB. The exact brute-force path needs no
  * numCandidates over-fetch (that knob belongs to the ANN/LSH variant in
  * graft.operators.Similarity).
  */
object VectorSearch {

  /** Search request mirroring the reference's VectorSearchQuery (base.py:16-23). */
  case class SearchRequest(
      queryVector: Array[Float],
      limit: Int = 10,
      minScore: Option[Double] = None,
      excludeId: Option[String] = None,
      excludeDocumentId: Option[String] = None)

  /** Atlas-style score in [0,1] from cosine similarity. */
  def score(embCol: Column, queryVec: Column): Column =
    (cosineSimilarity(embCol, queryVec) + 1.0) / 2.0

  /** V2: exact cosine KNN of one query vector against a corpus DataFrame.
    * Keeps all corpus columns, adds `score`; deterministic tie-break on
    * `idCol`. */
  def knn(corpus: DataFrame, request: SearchRequest,
          embCol: String = "embedding", idCol: String = "id"): DataFrame = {
    val scored = corpus
      .withColumn("score", score(col(embCol), typedLit(request.queryVector)))
    val excluded = Seq(
      request.excludeId.map(x => col(idCol) =!= lit(x)),
      request.excludeDocumentId.map(x => col("document_id") =!= lit(x)))
      .flatten.foldLeft(scored) { (df, cond) => df.filter(cond) }
    val thresholded = request.minScore match {
      case Some(t) => excluded.filter(col("score") >= lit(t)) // V4 threshold path
      case None    => excluded
    }
    thresholded
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(math.min(math.max(request.limit, 1), 100))
  }

  /** Batch KNN: every row of `queries` (qidCol, qvecCol) against the corpus.
    * The query table is broadcast and the corpus scanned once; per-query
    * top-k runs through the bounded-heap [[graft.functions.TopKAggregator]]
    * under `groupBy(qid)`, so each partition reduces its scored rows to at
    * most k per query BEFORE the exchange — the shuffle carries
    * O(k × |queries| × partitions) rows, never the corpus × queries cross
    * product (the reference's `$vectorSearch` likewise never materializes
    * more than k candidates per query, vector_search.py:61-95). Output:
    * (qidCol, idCol, rank, score) — re-join on idCol for payload columns.
    *
    * Id-generic: integral ids aggregate as Long and are cast back to the
    * column's own type; string ids (the engine's md5 chunk_id, the
    * reference's `_id`) aggregate as String with UTF-8 binary tiebreak (the
    * ordering Spark and DuckDB apply to strings). Any other id type fails
    * fast at plan time rather than as an encoder NPE mid-job.
    */
  def knnBatch(corpus: DataFrame, queries: DataFrame, k: Int,
               embCol: String = "embedding", idCol: String = "id",
               qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = corpus.sparkSession
    import spark.implicits._
    val idType = corpus.schema(idCol).dataType
    val scored = corpus.crossJoin(broadcast(queries))
      .select(col(qidCol), col(idCol).as("__id"),
        score(col(embCol), col(qvecCol)).as("__score"))
    val aggregated = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val topk = udaf(new graft.functions.TopKAggregator[Long](
          k, implicitly[org.apache.spark.sql.Encoder[Seq[(Long, Double)]]]))
        scored.groupBy(col(qidCol))
          .agg(topk(col("__id").cast("long"), col("__score")).as("__topk"))
      case StringType =>
        val topk = udaf(new graft.functions.TopKAggregator[String](
          k, implicitly[org.apache.spark.sql.Encoder[Seq[(String, Double)]]])(
          graft.functions.TopKAggregator.utf8Ordering, implicitly))
        scored.groupBy(col(qidCol))
          .agg(topk(col("__id"), col("__score")).as("__topk"))
      case other => throw new IllegalArgumentException(
        s"knnBatch id column '$idCol' must be integral or string, got " +
          s"${other.catalogString}")
    }
    aggregated
      .select(col(qidCol), posexplode(col("__topk")).as(Seq("__pos", "__hit")))
      .select(col(qidCol), col("__hit._1").cast(idType).as(idCol),
        (col("__pos") + 1).cast("int").as("rank"), col("__hit._2").as("score"))
  }

  /** V3/J5: chunks most similar to a given chunk, excluding itself and
    * (optionally) its own document (vector_search.py:488-533 + P6). */
  def similarToId(corpus: DataFrame, targetId: String, k: Int,
                  excludeSameDocument: Boolean = false,
                  embCol: String = "embedding", idCol: String = "id"): DataFrame = {
    val target = corpus.filter(col(idCol) === lit(targetId))
      .select(col(embCol).as("__qvec"),
        (if (excludeSameDocument) col("document_id") else lit(null)).as("__qdoc"))
    val scored = corpus.crossJoin(broadcast(target))
      .filter(col(idCol) =!= lit(targetId))
    val filtered =
      if (excludeSameDocument) scored.filter(col("document_id") =!= col("__qdoc"))
      else scored
    filtered
      .withColumn("score", score(col(embCol), col("__qvec")))
      .drop("__qvec", "__qdoc")
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** J6 doc-level variant: documents most similar to the document owning
    * `targetId`, ranked by their best chunk score (search_similar_chunks
    * semantics — vector_search.py:488-533 — rolled up per document: one row
    * per document, best-scoring chunk wins, self-document excluded).
    * Output: (docCol, best_score unrounded, n_chunks). Same scale shape as
    * knn (broadcast one-row query side, single corpus scan) plus one
    * aggregation shuffle on docCol. */
  def similarDocuments(corpus: DataFrame, targetId: Any, k: Int,
                       docCol: String = "document_id",
                       embCol: String = "embedding", idCol: String = "id"): DataFrame = {
    val target = corpus.filter(col(idCol) === lit(targetId))
      .select(col(embCol).as("__qvec"), col(docCol).as("__qdoc"))
    corpus.crossJoin(broadcast(target))
      .filter(col(idCol) =!= lit(targetId) && col(docCol) =!= col("__qdoc"))
      .withColumn("score", score(col(embCol), col("__qvec")))
      .groupBy(col(docCol))
      .agg(max(col("score")).as("best_score"), count(lit(1)).as("n_chunks"))
      .orderBy(col("best_score").desc, col(docCol).asc)
      .limit(k)
  }

  /** All-pairs similarity join above a cosine threshold — the exact form.
    * One side is collected and broadcast (an n×dim float matrix: 2k vectors
    * × 64 dims = 512 KB; even 1M × 384 = 1.5 GB is broadcast-feasible), the
    * other side streams through a tight primitive loop per partition — the
    * O(n²) kernel runs at memory bandwidth instead of per-row join overhead.
    * Above broadcast capacity this exact operator is the wrong tool by
    * definition: use Dedup.minHashPairs / Similarity IVF cells to bucket
    * first. Output (left_id, right_id, cosine), left_id < right_id. */
  def similarityJoin(corpus: DataFrame, minCosine: Double,
                     embCol: String = "embedding", idCol: String = "id"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus.select(col(idCol).cast("long"), col(embCol)).as[(Long, Array[Float])]
    val bc = spark.sparkContext.broadcast(rows.collect().sortBy(_._1))
    // parallelism floor for the O(n²/2) scoring loop below: a small
    // single-file corpus otherwise pins it to one task (measured 0.67 s
    // serial vs 0.42 s spread at sf0.1); no-op when the input already has
    // enough partitions. The broadcast side above collects the UNSPREAD
    // plan — only the streaming side moves, and it is (id, vector) narrow.
    val dp = spark.sparkContext.defaultParallelism
    val spreadRows =
      if (rows.rdd.getNumPartitions >= dp) rows else rows.repartition(dp)
    spreadRows.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (id, vec) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < all.length) {
          val (otherId, otherVec) = all(i)
          if (otherId > id) {
            val c = graft.functions.VectorFunctions.cosineArrays(vec, otherVec)
            if (c >= minCosine) out += ((id, otherId, c))
          }
          i += 1
        }
        out
      }
    }.toDF("left_id", "right_id", "cosine")
  }
}
