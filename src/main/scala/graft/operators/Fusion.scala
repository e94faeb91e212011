package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.functions.VectorFunctions._

/** Result fusion (SURVEY.md §2.3 J3, §2.4 A1-A4, §2.6 V5-V6).
  *
  * - Hybrid vector+text merge: the reference's `$unionWith` + `$group` +
  *   weighted blend (vector_search.py:161-192) — union two scored branches,
  *   dedup by id with max-per-branch scores, 0.7/0.3 linear combination.
  * - Multi-strategy weighted fusion: running weighted mean over strategies
  *   (advanced_search.py:228-265; ≡ weighted average, computed exactly).
  * - Diversity filter (MMR-lite): greedy Jaccard de-dup, inherently
  *   sequential — runs driver-side over the already-limited top-N exactly as
  *   the reference does; never pretend it parallelizes.
  * - Confidence aggregation (source_attribution.py:175-205).
  *
  * Scale notes: branch top-ks are TakeOrderedAndProject (no global sort)
  * and are collected; their ≤ 4·limit rows are merged, ordered and cut on
  * the driver, so the hybrid merge has no exchange and no job. Measured on
  * the `serve` benchmark corpus (≈2.2k chunks, 4 cores), a warm
  * `hybridSearch` ran 11 Spark jobs when it shuffled to merge ≤ 40 rows on
  * top of a BM25 branch that analyzed the corpus twice, and 5 with a
  * one-pass BM25 and a Spark-ordered local merge. Over a stored table it
  * runs 3 now: the vector top-k and the two jobs of a term-index BM25
  * query; over any other frame, 4. With the attribution join that follows
  * it on the serve path, 18 → 12 → 9.
  * Weighted fusion shuffles ≤ Σ strategy-limits rows. Everything
  * downstream of the corpus scan is small-data.
  */
object Fusion {

  val VectorWeight = 0.7
  val TextWeight   = 0.3

  /** J3/A1/A2: hybrid search — vector KNN branch ∪ BM25 text branch, grouped
    * by id (max score per branch), blended 0.7/0.3. Returns (idCol,
    * vector_score, text_score, score) top-`limit`.
    *
    * Both branches run when this is called and their lists are merged,
    * ordered and cut on the driver, so the result is a local relation of at
    * most `limit` rows and collecting it runs no job. The text branch is
    * [[TextSearch.search]] itself: a BM25 query and a hybrid query share one
    * compiled plan. */
  def hybridSearch(corpus: DataFrame, queryVector: Array[Float], queryText: String,
                   limit: Int, idCol: String = "doc_id", textCol: String = "text",
                   embCol: String = "embedding",
                   vectorWeight: Double = VectorWeight,
                   textWeight: Double = TextWeight): DataFrame = {
    val qv = typedLit(queryVector)
    // vector branch: over-fetch ×2 like the reference's rerank headroom
    val vec = corpus
      .select(col(idCol), ((cosineSimilarity(col(embCol), qv) + 1.0) / 2.0).as("vector_score"))
      .orderBy(col("vector_score").desc, col(idCol).asc)
      .limit(limit * 2).collect()
    // text branch: BM25 top limit*2
    val txt = TextSearch.search(corpus, queryText, limit * 2, idCol, textCol).collect()

    // one entry per id with its best score from each branch, as the
    // reference's $group does
    def score(r: Row): Option[Double] = if (r.isNullAt(1)) None else Some(r.getDouble(1))
    def best(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => Some(math.max(x, y))
      case _ => a.orElse(b)
    }
    val merged = (vec.map(r => r.get(0) -> (score(r), Option.empty[Double])) ++
        txt.map(r => r.get(0) -> (Option.empty[Double], score(r))))
      .groupMapReduce(_._1)(_._2) { case ((v1, t1), (v2, t2)) => (best(v1, v2), best(t1, t2)) }
    val rows = merged.toSeq.map { case (id, (v, t)) =>
      Row(id, v.map(Double.box).orNull, t.map(Double.box).orNull,
        v.getOrElse(0.0) * vectorWeight + t.getOrElse(0.0) * textWeight)
    }
    val schema = StructType(Seq(corpus.select(col(idCol)).schema.head,
      StructField("vector_score", DoubleType), StructField("text_score", DoubleType),
      StructField("score", DoubleType, nullable = false)))
    // the ≤ 4·limit merged rows are ordered on the driver by Catalyst's own
    // ordering, so NaN, ±0.0, null ids and every id type order exactly as a
    // Spark sort on (score DESC, id ASC) would
    val order = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(3, DoubleType, nullable = false), Descending),
      SortOrder(BoundReference(0, schema.head.dataType, nullable = true), Ascending)))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val top = rows.map(r => (toCatalyst(r).asInstanceOf[InternalRow], r))
      .sortBy(_._1)(order).take(limit).map(_._2)
    corpus.sparkSession.createDataFrame(top.asJava, schema)
  }

  /** One strategy's contribution to fusion: name, weight, and its scored
    * results (idCol + scoreCol). */
  case class Strategy(name: String, weight: Double, results: DataFrame)

  /** A3: fuse strategy results by exact weighted average of scores; emits
    * (idCol, score, strategies) where `strategies` is the sorted
    * comma-joined list of contributing strategy names. */
  def fuseStrategies(strategies: Seq[Strategy], maxResults: Int,
                     idCol: String = "id", scoreCol: String = "score"): DataFrame = {
    require(strategies.nonEmpty, "fuseStrategies needs at least one strategy")
    val tagged = strategies.map { s =>
      s.results.select(col(idCol), col(scoreCol).as("__score"))
        .withColumn("__strategy", lit(s.name))
        .withColumn("__weight", lit(s.weight))
    }.reduce(_ unionByName _)
    tagged.groupBy(col(idCol))
      .agg(
        (sum((col("__score") * col("__weight")).cast("decimal(38,12)")).cast("double") /
         sum(col("__weight").cast("decimal(38,12)")).cast("double")).as(scoreCol),
        array_join(sort_array(collect_set(col("__strategy"))), ",").as("strategies"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .limit(maxResults)
  }

  /** V6: Jaccard word-set similarity of two strings (driver-side twin of
    * VectorFunctions.jaccardWords; advanced_search.py:297-311). */
  def jaccardSimilarity(a: String, b: String): Double = {
    val wa = a.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSet
    val wb = b.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSet
    if (wa.isEmpty && wb.isEmpty) 1.0
    else if (wa.isEmpty || wb.isEmpty) 0.0
    else wa.intersect(wb).size.toDouble / wa.union(wb).size.toDouble
  }

  /** V5: greedy diversity filter over an already-collected top-N
    * (advanced_search.py:275-295): keep top-1 always; drop any result whose
    * Jaccard similarity vs an already-kept result exceeds `cutoff`; only
    * applied when more than 3 results. Sequential by construction — operate
    * on the collected rows of a `limit(N)` output. */
  def diversityFilter[T](results: Seq[T], content: T => String,
                         cutoff: Double = 0.85): Seq[T] = {
    if (results.length <= 3) return results
    val kept = scala.collection.mutable.ArrayBuffer(results.head)
    for (r <- results.tail) {
      if (kept.forall(kpt => jaccardSimilarity(content(r), content(kpt)) <= cutoff))
        kept += r
    }
    kept.toSeq
  }

  /** A4: confidence aggregation — min(1, 0.6·top score + 0.2·min(n/3,1) +
    * 0.2·min(distinct source types/2,1)), one row (the final 1.0 clamp is
    * the reference's, source_attribution.py:205 — scores above 1, e.g. raw
    * BM25, would otherwise overflow the [0,1] confidence range). */
  def confidence(results: DataFrame, scoreCol: String = "score",
                 sourceTypeCol: String = "source"): DataFrame =
    results.agg(
      max(col(scoreCol)).as("top_score"),
      count(lit(1)).as("n_results"),
      countDistinct(col(sourceTypeCol)).as("n_source_types"))
      .select(round(least(lit(1.0),
        coalesce(col("top_score"), lit(0.0)) * 0.6 +
        least(col("n_results") / 3.0, lit(1.0)) * 0.2 +
        least(col("n_source_types") / 2.0, lit(1.0)) * 0.2), 6).as("confidence"),
        col("top_score"), col("n_results"), col("n_source_types"))
}
