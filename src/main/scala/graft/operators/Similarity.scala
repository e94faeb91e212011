package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbour search (builder north star: similarity
  * search over an embedding column with a scale path).
  *
  * Baseline: exact brute force (VectorSearch.knn / knnBatch) — one corpus
  * scan per query batch.
  *
  * Scale path: IVF (inverted-file) partitioning, FAISS-style. A small
  * deterministic centroid set partitions the corpus by nearest centroid
  * (narrow pass against broadcast centroids); a query probes only the
  * `nprobe` nearest centroid cells. At 100 TB the corpus would additionally
  * be WRITTEN partitioned by `centroid_id` so a probe prunes whole files —
  * the assignment column is exactly that partition key. Recall is tunable
  * via nprobe; candidates are exact-scored so precision is 1.
  *
  * Centroids here are seeded deterministically (every `step`-th vector by
  * id) so results are reproducible and SQL-oracle-checkable; swap in k-means
  * (MLlib) centroids for production quality without changing the plan shape.
  */
object Similarity {

  /** ANN pair join: bucketed-random-projection LSH over L2-normalized
    * vectors (euclidean distance on the unit sphere is monotone in cosine:
    * d² = 2 − 2·cos). The fully-distributed alternative to the broadcast
    * exact join (VectorSearch.similarityJoin): both sides stay DataFrames,
    * candidates come from shared LSH buckets (shuffle on bucket keys only —
    * never all-pairs), deterministic via fixed seed.
    *
    * Two-phase for exactness where it matters:
    *  1. candidate generation from compound bucket keys — recall is OR-
    *     amplified across numHashTables, selectivity AND-amplified across
    *     hashesPerTable projections per key (auto-chosen from the
    *     threshold);
    *  2. exact re-score of every candidate against the RAW embedding arrays
    *     via the codegen cosine expression — bit-identical values to the
    *     exact path, so precision is 1 and only recall is approximate.
    *
    * Pruning honesty: LSH prunes only when the threshold separates near
    * pairs from the bulk of the random-pair cosine distribution. At real
    * near-dup bars (≥ 0.8) candidates collapse to a sliver of all-pairs
    * (asserted in OperatorSpec on a planted-near-dup corpus). The fixture's
    * `ann_lsh_pairs` threshold (0.45, because the fixture's planted
    * embedding pairs top out near cosine 0.5) sits inside the bulk, where
    * every pair is a legitimate candidate — recall 1.0, no pruning possible
    * for ANY method that must not miss pairs.
    *
    * Zero-norm vectors are excluded up front: engine-wide (cosineScala /
    * CosineSimilarityExpr) cosine is defined as 0.0 when either norm is 0,
    * so such rows can never reach a positive minCosine — normalizing them to
    * the zero vector would instead pair them at dist 0 / cosine "1". */
  /** AND-composition width per table, by threshold: discriminating a high
    * cosine bar needs compound bucket keys (each extra projection multiplies
    * a random pair's per-table collision odds by ~p < 1), while a low bar —
    * one sitting inside the bulk of the random-pair cosine distribution —
    * gains nothing from compounding and would only lose recall. */
  def defaultHashesPerTable(minCosine: Double): Int =
    if (minCosine >= 0.8) 3 else if (minCosine >= 0.6) 2 else 1

  /** Candidate pair generation for [[lshJoin]] — exposed as its own seam so
    * pruning behaviour is testable (candidates ≪ all-pairs on corpora whose
    * threshold actually separates near from random; see SimilaritySpec in
    * OperatorSpec). Returns (left_id, right_id), left < right, distinct. */
  def lshCandidates(corpus: DataFrame, minCosine: Double,
                    bucketLength: Double = 0.0, numHashTables: Int = 8,
                    hashesPerTable: Int = 0,
                    idCol: String = "vec_id", embCol: String = "embedding",
                    maxBucket: Int = 0): DataFrame = {
    require(minCosine > 0.0, "zero-norm exclusion assumes a positive cosine threshold")
    val g = if (hashesPerTable > 0) hashesPerTable else defaultHashesPerTable(minCosine)
    val dimOpt = corpus.select(size(col(embCol)).as("d")).limit(1).collect().headOption
    if (dimOpt.isEmpty) { // empty corpus → no pairs (not a NoSuchElementException)
      val idField = corpus.schema(idCol).dataType
      val spark = corpus.sparkSession
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("left_id", idField),
          org.apache.spark.sql.types.StructField("right_id", idField))))
    }
    val dim = dimOpt.get.getInt(0)
    // auto bucket width: a pair at the threshold projects onto a random
    // unit direction with std ~ d(minCosine)/sqrt(dim), so the width must
    // scale with both — twice that spread keeps threshold-pairs colliding
    // per projection while random pairs (d ~ sqrt(2)) mostly split
    val w0 = 2.0 * math.sqrt(math.max(1e-12, 2.0 - 2.0 * minCosine)) / math.sqrt(dim.toDouble)
    // deterministic seeded unit projections (the same floor(x̂·r / w) bucket
    // family BucketedRandomProjectionLSH uses, without the fit/transform
    // passes or ml.Vector conversions); g projections per table, mixed into
    // one compound key — equal compounds always produce equal keys, so key
    // mixing can only merge buckets (extra candidates), never cost recall
    val rng = new scala.util.Random(42L)
    val projections = Array.fill(numHashTables * g) {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val bl = if (bucketLength > 0) bucketLength else w0
    val nt = numHashTables
    val bucketsUdf = udf((a: Seq[Float]) => {
      var norm = 0.0
      a.foreach(x => norm += x.toDouble * x)
      val inv = 1.0 / math.sqrt(norm)
      val len = math.min(a.length, dim)
      Array.tabulate(nt) { t =>
        var key = 0L
        var j = 0
        while (j < g) {
          val p = projections(t * g + j)
          var dot = 0.0
          var i = 0
          while (i < len) { dot += a(i) * inv * p(i); i += 1 }
          key = key * 0x9E3779B97F4A7C15L + math.floor(dot / bl).toLong
          j += 1
        }
        key
      }
    })
    // band on (table, bucket) carrying IDS + the row's own bucket-key array
    // (nt longs) — never the vectors: dragging vectors through the
    // candidate join (as MLlib's approxSimilarityJoin does) is the dominant
    // shuffle cost; vectors are only needed afterwards, once per surviving
    // pair. Persisted: the hot-bucket probe and the self-join's two sides
    // would otherwise each re-run the projection UDF.
    //
    // Parallelism floor: the candidate self-join's fan-out (up to nt×
    // bucket² rows before the first-collision filter) executes with the
    // STREAM side's partitioning — a small single-file corpus pins that to
    // ONE task regardless of core count (measured: ann_lsh_pairs' 16M-row
    // join-filter stage ran serially, 2.55 s vs 1.34 s once spread). The
    // repartition moves only (id, nt longs) rows and is a no-op whenever
    // the input already has enough partitions (any at-scale corpus).
    val projected = corpus
      .filter(normSq(col(embCol)) > 0.0)
      .select(col(idCol), bucketsUdf(col(embCol)).as("bk"))
    val dp = corpus.sparkSession.sparkContext.defaultParallelism
    val hashedBk = graft.Caches.persistTracked(
      if (projected.rdd.getNumPartitions >= dp) projected
      else projected.repartition(dp))
    val exploded = hashedBk
      .select(col(idCol), col("bk"), posexplode(col("bk")).as(Seq("tbl", "bucket")))
    // hot-bucket guard (Dedup.capBuckets), OPT-IN here (maxBucket = 0
    // default): unlike a MinHash band key — where an equal key means equal
    // signature slots, i.e. near-identical documents — an equal projection
    // bucket routinely holds genuinely distinct vectors, so a silent
    // default cap would silently drop true candidate pairs from an
    // exact-verification API. Deployments with boilerplate-shaped
    // embedding mass (the near-dup use, see Dedup.embeddingPairsDistributed)
    // enable it deliberately.
    // ONE hot-bucket probe (ADVICE r19: the probe's verdict picks the dedup
    // strategy AND feeds the cap's anti/semi joins — computing it here and
    // handing it to applyBucketCap runs the bucket-size aggregation once,
    // not twice). Persisted so the two broadcast joins on the capped path
    // read the probe's result instead of re-aggregating.
    val hotKeys = if (maxBucket <= 0) None else Some(graft.Caches.persistTracked(
      exploded.groupBy(col("tbl"), col("bucket")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBucket).select(col("tbl"), col("bucket"))))
    val hasHot = hotKeys.exists(h => !h.isEmpty)
    if (hasHot) {
      // capped path: the guard truncates bucket membership, so "first
      // shared table" is no longer derivable from the raw key arrays (a
      // pair's earliest shared bucket may have been capped away while a
      // later one survived) — candidates dedup through a distinct instead.
      val hashed = Dedup.applyBucketCap(
        exploded.select(col(idCol), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"), idCol, maxBucket, hotKeys.get)
      hashed.select(col("tbl"), col("bucket"), col(idCol).as("left_id"))
        .join(hashed.select(col("tbl"), col("bucket"), col(idCol).as("right_id")),
          Seq("tbl", "bucket"))
        .filter(col("left_id") < col("right_id"))
        .select("left_id", "right_id").distinct()
    } else {
      // emit-at-first-collision: a pair sharing t of nt buckets must reach
      // the output ONCE — deduping via distinct() shuffles every duplicate
      // copy (t× the unique pairs; the copies live in different (tbl,
      // bucket) partitions, so map-side partial aggregation removes
      // nothing). Instead each side carries its bucket keys through the
      // join and a codegen predicate keeps a pair only in the FIRST table
      // where the keys agree — exactly-once by construction, no
      // candidate-scale exchange at all (measured at sf0.1 on the recall-1
      // fixture: 2.9 s → 1.7 s for ann_lsh_pairs in r19).
      //
      // Payload halved vs r19 (the r19 verdict's scale watch-item): the
      // row exploded for table t carries only bk[0..t-1] — the join key
      // already proves equality AT t, so "t is the first collision" is
      // exactly "no equality among the first t slots". Each side ships an
      // avg (nt-1)/2-long prefix instead of the full nt-long array — at
      // broadcast scale a smaller build, at SMJ scale half the extra
      // bytes per exploded row on BOTH sides. zip_with+exists are codegen
      // array expressions over ≤nt elements.
      val pre = slice(col("bk"), lit(1), col("tbl")) // first `tbl` keys (0-based idx)
      val noEarlier = !exists(
        zip_with(col("__pre_a"), col("__pre_b"), (a, b) => a === b),
        x => x)
      exploded.select(col("tbl"), col("bucket"), col(idCol).as("left_id"),
          pre.as("__pre_a"))
        .join(exploded.select(col("tbl"), col("bucket"), col(idCol).as("right_id"),
          pre.as("__pre_b")), Seq("tbl", "bucket"))
        .filter(col("left_id") < col("right_id") && noEarlier)
        .select("left_id", "right_id")
    }
  }

  def lshJoin(corpus: DataFrame, minCosine: Double, bucketLength: Double = 0.0,
              numHashTables: Int = 8, hashesPerTable: Int = 0,
              idCol: String = "vec_id", embCol: String = "embedding",
              maxBucket: Int = 0): DataFrame = {
    val candidates = lshCandidates(corpus, minCosine, bucketLength, numHashTables,
      hashesPerTable, idCol, embCol, maxBucket)
    val a = corpus.select(col(idCol).as("left_id"), col(embCol).as("__emb_a"))
    val b = corpus.select(col(idCol).as("right_id"), col(embCol).as("__emb_b"))
    candidates.join(a, "left_id").join(b, "right_id")
      .withColumn("cosine", cosineSimilarity(col("__emb_a"), col("__emb_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("left_id"), col("right_id"), col("cosine"))
  }

  /** Deterministic centroid sample: vectors whose id ≡ 0 (mod step), first
    * `c` of them by id. */
  def seededCentroids(corpus: DataFrame, c: Int, step: Long,
                      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    corpus.filter(col(idCol) % step === 0)
      .orderBy(col(idCol).asc).limit(c)
      .select(col(idCol).as("centroid_id"), col(embCol).as("centroid_vec"))

  /** Deterministic centroid sample for corpora whose ids are NOT dense longs
    * (e.g. md5 chunk ids): order by a seeded hash of the id and take the
    * first `c`. Same reproducibility contract as [[seededCentroids]] — the
    * pick is a pure function of the ids, independent of partitioning — but
    * keyed by hash order, so it works for any id type and samples uniformly
    * even when ids cluster. Plan shape: filter + TakeOrdered (no full sort
    * shuffle; each partition keeps its c smallest hashes before the merge),
    * then a single-partition window over the c-row result to assign DENSE
    * centroid ids 1..c (a raw hash as the id could collide and silently
    * merge two cells in ivfAssign's partitionBy; dense ids can't). */
  def hashSeededCentroids(corpus: DataFrame, c: Int,
                          idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    corpus.filter(col(embCol).isNotNull)
      .withColumn("__h", xxhash64(col(idCol).cast("string")))
      .orderBy(col("__h").asc)
      .limit(c)
      .select(
        row_number().over(Window.orderBy(col("__h").asc, col(idCol).asc))
          .cast("long").as("centroid_id"),
        col(embCol).as("centroid_vec"))
  }

  /** TRAINED centroid option (the production-quality swap the seeded form
    * documents): MLlib k-means over the embedding column, emitted in the
    * exact `(centroid_id, centroid_vec)` schema [[seededCentroids]] uses —
    * every downstream consumer (ivfAssign / ivfSearch / ivfSearchPruned /
    * IvfCatalog) takes either interchangeably with zero plan-shape change.
    * Training is one MLlib job at index-build time (seeded, so the trained
    * index is reproducible); ids are 0..c-1, still LONG as the probe/prune
    * paths expect. Not SQL-oracle-checkable (k-means isn't expressible in
    * the DuckDB oracle) — quality is pinned by OperatorSpec's recall
    * comparison instead. */
  def kmeansCentroids(corpus: DataFrame, c: Int, seed: Long = 42L, maxIter: Int = 20,
                      embCol: String = "embedding", maxTrainRows: Long = 0L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    val base = corpus.filter(col(embCol).isNotNull)
    // bounded training sample (faiss practice: IVF centroids train on
    // ~tens× nlist points, never the corpus): each k-means iteration costs
    // n_train × k × dim flops, so full-corpus training at √n-scaled nlist
    // grows O(n^1.5) per iteration — a ~1 Tflop/iter wall at 2M vectors ×
    // 1414 cells. Deterministic hash-membership sample (same reproducibility
    // contract as Sampling.hashBucket: a pure function of the vector, stable
    // across partitioning); maxTrainRows = 0 → auto: max(100k, 50×c), which
    // leaves fixture-scale corpora unsampled so spec digests don't move.
    val cap = if (maxTrainRows > 0) maxTrainRows else math.max(100000L, 50L * c)
    val n = base.count()
    val train = if (n <= cap) base else {
      val mod = math.max(2L, math.round(n.toDouble / cap))
      base.filter(pmod(xxhash64(col(embCol)), lit(mod)) === 0)
    }
    val feats = train
      .select(array_to_vector(col(embCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(c).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").fit(feats)
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toArray.map(_.toFloat).toSeq) }
      .toDF("centroid_id", "centroid_vec")
      .select(col("centroid_id"), col("centroid_vec").cast("array<float>").as("centroid_vec"))
  }

  /** IVF assignment: nearest centroid per corpus vector (broadcast
    * centroids, window argmax with deterministic tie-break).
    *
    * Null embeddings are KEPT (every input vec_id gets exactly one
    * assignment row, so a stored index is a complete corpus manifest) —
    * consumers that score raw vectors (the celled kernels, pruned search)
    * must filter `embedding IS NOT NULL` on the store side, as the
    * incremental celled path does. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.cosineArrays
    val spark = corpus.sparkSession
    // index metadata: tiny by construction (nlist rows)
    val cents = graft.IndexMeta.centroids(centroids)
    require(cents.nonEmpty, "ivfAssign needs at least one centroid")
    val minCid = cents.map(_._1).min
    // Two-level coarse assignment past the conf threshold: brute-force
    // assignment is O(n × nlist × dim), and with nlist on the √n law the
    // BUILD cost grows O(n^1.5 · d) — at ×10000 (50M rows, nlist 7071)
    // that is ~31× the ×1000 build's assign wall, the build bottleneck at
    // 100 TB. The standard fix (FAISS IMI / two-level IVF coarse
    // quantizer): group the centroids under √nlist coarse reps, per row
    // scan the reps then only the members of the top `refine` groups —
    // (√nlist + refine·√nlist) dots instead of nlist, ~17× fewer at 7071.
    // Approximate by design: a row can land in a near-nearest cell (the
    // probe compensates exactly as it does for any frozen-centroid drift —
    // nprobe cells are scanned, not 1); CoarseAssignSpec measures the
    // agreement and the bound on the cosine it gives up. Exact below the
    // threshold — every fixture-scale build, spec digest, and oracle row
    // keeps the exact argmax.
    val coarseThreshold = spark.conf.get("graft.ivf.coarseAssign.threshold", "4096").toInt
    if (cents.length >= coarseThreshold)
      return ivfAssignCoarse(corpus, cents, minCid,
        spark.conf.get("graft.ivf.coarseAssign.refine", "4").toInt,
        spark.conf.get("graft.ivf.coarseAssign.dup", "2").toInt, embCol)
    val bc = spark.sparkContext.broadcast(cents)
    // per-row argmax over the broadcast centroid array — O(n) rows end to
    // end. The previous form (crossJoin × window row_number) materialized
    // n × nlist rows through a shuffle+sort: at 2M vectors × 1414 cells
    // that is a 2.8B-row exchange, measured at ~13 min of the ×1000
    // catalog build. Ordering semantics are the window's exactly:
    // cos DESC (java.lang.Double.compare — NaN above all, matching
    // Spark's sort order), centroid_id ASC tie-break, and a null
    // embedding (all cos NULL → NULLS LAST → id order) gets the smallest
    // centroid id, keeping the store a complete corpus manifest.
    val nearestUdf = udf { (v: Seq[Float]) =>
      if (v == null) minCid
      else {
        val a = v.toArray
        var bestCid = 0L
        var bestCos = 0.0
        var first = true
        bc.value.foreach { case (cid, cv) =>
          val c = cosineArrays(a, cv)
          val cmp = java.lang.Double.compare(c, bestCos)
          if (first || cmp > 0 || (cmp == 0 && cid < bestCid)) {
            bestCos = c; bestCid = cid; first = false
          }
        }
        bestCid
      }
    }
    corpus.withColumn("centroid_id", nearestUdf(col(embCol)))
  }

  /** splitmix64 — deterministic rep sampling for the coarse quantizer. */
  @inline private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** The two-level branch of [[ivfAssign]]. Driver-side prep (all over the
    * tiny centroid table): √nlist REPS are a deterministic hash-ordered
    * sample of the centroids themselves (same seeding philosophy as
    * [[hashSeededCentroids]] — reps sit where centroids are dense), and
    * every centroid is exact-assigned to its `dup` nearest reps —
    * multi-assignment (the IMI trick): in high dimension a row's nearest
    * centroid often neighbors a DIFFERENT rep than the row itself, and
    * duplicating each centroid into its top-`dup` groups recovers most of
    * that boundary loss for a `dup`× member-scan cost. Per corpus row:
    * exact argmax over the reps, then exact argmax (same cos-DESC /
    * cid-ASC tie-break as the flat path) over the MEMBERS of the top
    * `refine` rep groups. Null embeddings keep the flat path's contract
    * (smallest centroid id — the store stays a complete corpus manifest). */
  private def ivfAssignCoarse(corpus: DataFrame,
                              cents: Array[(Long, Array[Float])],
                              minCid: Long, refine: Int, dup: Int,
                              embCol: String): DataFrame = {
    import graft.functions.VectorFunctions.cosineArrays
    val spark = corpus.sparkSession
    val g = math.max(2, math.ceil(math.sqrt(cents.length.toDouble)).toInt)
    val reps: Array[Array[Float]] = cents
      .sortBy { case (cid, _) => (mix64(cid), cid) }
      .take(g).map(_._2)
    // top-`dup` rep membership for every centroid (nlist × √nlist dots,
    // driver-side, microseconds at any real nlist)
    val d = math.max(1, math.min(dup, g))
    val members: Array[Array[(Long, Array[Float])]] = {
      val buf = Array.fill(g)(scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])])
      cents.foreach { case (cid, cv) =>
        val scored = Array.tabulate(g)(r => (r, cosineArrays(cv, reps(r))))
        scored.sortBy { case (r, c) => (-c, r) }.take(d)
          .foreach { case (r, _) => buf(r) += ((cid, cv)) }
      }
      buf.map(_.sortBy(_._1).toArray)
    }
    val k = math.max(1, math.min(refine, g))
    val bcReps = spark.sparkContext.broadcast(reps)
    val bcMembers = spark.sparkContext.broadcast(members)
    val nearestUdf = udf { (v: Seq[Float]) =>
      if (v == null) minCid
      else {
        val a = v.toArray
        val rs = bcReps.value
        // top-k reps by cos DESC, rep index ASC (bounded insertion — k ≤ 8ish)
        val topIdx = new Array[Int](k)
        val topCos = new Array[Double](k)
        var filled = 0
        var r = 0
        while (r < rs.length) {
          val c = cosineArrays(a, rs(r))
          var pos = filled
          while (pos > 0 && java.lang.Double.compare(c, topCos(pos - 1)) > 0) pos -= 1
          if (pos < k) {
            val last = math.min(filled, k - 1)
            var j = last
            while (j > pos) { topIdx(j) = topIdx(j - 1); topCos(j) = topCos(j - 1); j -= 1 }
            topIdx(pos) = r; topCos(pos) = c
            if (filled < k) filled += 1
          }
          r += 1
        }
        var bestCid = 0L
        var bestCos = 0.0
        var first = true
        var t = 0
        while (t < filled) {
          val mem = bcMembers.value(topIdx(t))
          var i = 0
          while (i < mem.length) {
            val (cid, cv) = mem(i)
            val c = cosineArrays(a, cv)
            val cmp = java.lang.Double.compare(c, bestCos)
            if (first || cmp > 0 || (cmp == 0 && cid < bestCid)) {
              bestCos = c; bestCid = cid; first = false
            }
            i += 1
          }
          t += 1
        }
        if (first) minCid else bestCid // all scanned groups empty (can't happen: reps are centroids)
      }
    }
    corpus.withColumn("centroid_id", nearestUdf(col(embCol)))
  }

  /** Driver-side probe: the nprobe centroid ids nearest to the query. The
    * centroid table is index metadata — tiny by construction — read once
    * per stored file set ([[graft.IndexMeta]]) and ranked here, so a probe
    * runs no Spark job of its own; the ids become a static IN over the
    * centroid_id partition key. */
  private[graft] def probedCentroidIds(centroids: DataFrame, queryVec: Array[Float],
                                       nprobe: Int): Array[Long] =
    nearestCells(graft.IndexMeta.centroids(centroids), queryVec, nprobe)

  /** The `n` cells nearest to `q`: `cosineArrays(centroid, q)` is
    * bit-identical to `cosineSimilarity(centroid_vec, q)`, ordered as
    * Spark sorts `qcos DESC` (NaN first, -0.0 equal to 0.0), ties by
    * centroid id ascending. */
  private def nearestCells(cents: Array[(Long, Array[Float])], q: Array[Float],
                           n: Int): Array[Long] =
    cents.map { case (id, v) => (cosineArrays(v, q), id) }
      .sortWith { case ((ca, ia), (cb, ib)) =>
        val c = if (ca == cb) 0 else java.lang.Double.compare(ca, cb)
        if (c != 0) c > 0 else ia < ib
      }
      .take(n).map(_._2)

  /** Cell ids as values of the store's `centroid_id` type, for literal
    * partition filters. */
  private def cellValues(cells: Seq[Long], cellType: org.apache.spark.sql.types.DataType): Array[Any] = {
    import org.apache.spark.sql.types._
    (cellType match {
      case ByteType => cells.map(_.toByte)
      case ShortType => cells.map(_.toShort)
      case IntegerType => cells.map(_.toInt)
      case _ => cells
    }).toArray
  }

  /** Cell-union filter for the BATCH probes, plan-size-safe at any batch
    * width: a literal `IN` over the partition key (static partition
    * pruning) while the probed-cell union is small, a broadcast semi-join
    * on `centroid_id` beyond 1000 cells — the same gate
    * [[graft.DocLifecycle.compactDocCells]] applies to its delta reads. A
    * large micro-batch at a large nlist can probe thousands of distinct
    * cells (up to nlist — 2233 at the benched ×1000 geometry), and an
    * unbounded literal list is the plan-size hazard class the compaction
    * when-chain overflow taught; the semi-join trades static for dynamic
    * pruning only in the regime where the batch already probes a large
    * slice of the index, where pruning buys the least. `cellsDf` must be
    * deterministic — the semi-join path may re-evaluate it. */
  private def filterToCells(df: DataFrame, cells: Array[Any],
                            cellsDf: => DataFrame): DataFrame =
    if (cells.length <= 1000) df.filter(col("centroid_id").isin(cells.toIndexedSeq: _*))
    else df.join(broadcast(cellsDf), Seq("centroid_id"), "left_semi")

  /** IVF search over a MATERIALIZED assignment (graft.IvfCatalog): the
    * corpus was written `partitionBy(centroid_id)` at index-build time, so
    * probing resolves the nprobe nearest centroid ids driver-side (the
    * centroid table is the index metadata — tiny by construction) and the
    * cell filter becomes a static `IN` over the partition key: the scan
    * prunes whole partition directories (`PartitionFilters` in the plan,
    * asserted by PlanSpec) instead of re-assigning the corpus per query as
    * [[ivfSearch]] does. */
  def ivfSearchPruned(assigned: DataFrame, centroids: DataFrame, queryVec: Array[Float],
                      k: Int, nprobe: Int,
                      idCol: String = "vec_id", embCol: String = "embedding",
                      preFilter: Option[Column] = None): DataFrame = {
    val qv = typedLit(queryVec)
    val probedIds = probedCentroidIds(centroids, queryVec, nprobe)
    // FILTERED ANN: the metadata predicate composes with the partition
    // prune — Catalyst pushes it into the same scan (PushedFilters next to
    // PartitionFilters, PlanSpec asserts it), so a selective filter reads
    // fewer bytes, never more. Semantics are filter-WITHIN-probed-cells:
    // the recall bound is the probe's, unchanged — a true filtered top-k
    // living in an unprobed cell is missed exactly as in the unfiltered
    // probe, and a highly selective filter should raise nprobe (the
    // standard filtered-IVF trade; post-filtering a top-k instead would
    // under-deliver k whenever the filter removes ranked hits).
    preFilter.foldLeft(assigned.filter(col("centroid_id").isin(probedIds: _*)))(_.filter(_))
      .withColumn("score", (cosineSimilarity(col(embCol), qv) + 1.0) / 2.0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** The filtered-probe viability estimator behind the MEASURED crossover
    * (SCALE.md round-15 "Filtered-ANN recall curve"): the expected number
    * of filter survivors inside the probed cells, under the neutral
    * assumption that the filter is uncorrelated with index geometry (the
    * worst case the sweep measured). When this falls toward k, the probe
    * cannot deliver a recall worth its scan — the filtered top-k
    * increasingly lives in cells the probe never opens (measured: 0.525
    * recall@10 at nprobe=64 = 45% of cells, 0.1% selectivity). */
  def expectedProbedSurvivors(filteredRows: Long, nprobe: Int, nlist: Long): Double = {
    require(nlist > 0, "expectedProbedSurvivors needs a non-empty centroid table")
    filteredRows.toDouble * math.min(nprobe.toLong, nlist).toDouble / nlist.toDouble
  }

  /** N43: filtered ANN with the measured probe/brute AUTO-SWITCH — the
    * serving rule the round-15 recall sweep priced out, as an operator
    * instead of prose. Estimates the filter's survivors inside the probed
    * cells ([[expectedProbedSurvivors]]); past the viability bar
    * (`minSurvivorsPerK`·k, default 10·k — set so the measured 1%
    * selectivity row, where nprobe=64 recovered only 0.72 recall while an
    * exact filtered scan was strictly cheaper, lands on the brute side,
    * and the 10% row, where raising nprobe still works, stays on the
    * probe) the query runs the normal filter-within-probed-cells probe
    * ([[ivfSearchPruned]], partition-pruned scan, probe-bounded recall);
    * under it the query switches to an EXACT brute-force scan of the
    * filtered subset — same scoring expression and tie-break, schema
    * identical, recall 1.0 by construction, and cheaper than the
    * wide-nprobe probe it replaces whenever the filter is this selective.
    *
    * `filteredRows` is the filter's cardinality; pass it when the serving
    * tier already knows it (a per-filter-template cached count — the
    * production shape). When negative it is counted here with a
    * column-pruned scan (the filter columns only, no embedding bytes) —
    * acceptable per-query on a bench, cache it in a loop. */
  def ivfSearchFilteredAuto(assigned: DataFrame, centroids: DataFrame,
                            queryVec: Array[Float], k: Int, nprobe: Int,
                            preFilter: Column,
                            idCol: String = "vec_id", embCol: String = "embedding",
                            filteredRows: Long = -1L,
                            minSurvivorsPerK: Double = 10.0): DataFrame =
    if (probeViable(assigned, centroids, k, nprobe, preFilter, filteredRows, minSurvivorsPerK))
      ivfSearchPruned(assigned, centroids, queryVec, k, nprobe, idCol, embCol,
        preFilter = Some(preFilter))
    else {
      val qv = typedLit(queryVec)
      assigned.filter(preFilter)
        .withColumn("score", (cosineSimilarity(col(embCol), qv) + 1.0) / 2.0)
        .orderBy(col("score").desc, col(idCol).asc)
        .limit(k)
    }

  /** The probe/brute decision of [[ivfSearchFilteredAuto]] and its batch
    * form: is the filter's expected survivor count inside the probed cells
    * at least `minSurvivorsPerK`·k? `filteredRows` < 0 counts the filter
    * here with a column-pruned scan. */
  private def probeViable(assigned: DataFrame, centroids: DataFrame, k: Int, nprobe: Int,
                          preFilter: Column, filteredRows: Long,
                          minSurvivorsPerK: Double): Boolean = {
    val nlist = graft.IndexMeta.centroids(centroids).length
    val fRows =
      if (filteredRows >= 0L) filteredRows
      else assigned.filter(preFilter).count()
    expectedProbedSurvivors(fRows, nprobe, nlist) >= minSurvivorsPerK * k
  }

  /** N43 on the BATCH surface: the filtered probe/brute auto-switch for a
    * QUEUE sharing one metadata filter (the queue-wide `preFilter` the
    * batched probe already takes). One routing decision for the whole
    * queue — the estimator is per-query ([[expectedProbedSurvivors]] does
    * not depend on Q), so the crossover is identical for every query in
    * it: past the viability bar the queue runs the shared
    * filter-within-probed-cells probe ([[ivfSearchPrunedBatch]]); under it
    * the queue switches to ONE exact brute scan of the filtered subset
    * with per-query bounded-heap top-k
    * ([[VectorSearch.knnBatch]] — same scoring expression, same
    * score-desc/id-asc tie-break, same (qid, id, rank, score) schema,
    * recall 1.0 by construction). Queues mixing filters of different
    * selectivity should route per filter template upstream — that is the
    * serving tier's batching key anyway. */
  def ivfSearchFilteredAutoBatch(assigned: DataFrame, centroids: DataFrame,
                                 queries: DataFrame, k: Int, nprobe: Int,
                                 preFilter: Column,
                                 idCol: String = "vec_id", embCol: String = "embedding",
                                 qidCol: String = "qid", qvecCol: String = "qvec",
                                 filteredRows: Long = -1L,
                                 minSurvivorsPerK: Double = 10.0): DataFrame =
    if (probeViable(assigned, centroids, k, nprobe, preFilter, filteredRows, minSurvivorsPerK))
      ivfSearchPrunedBatch(assigned, centroids, queries, k, nprobe, idCol, embCol,
        qidCol, qvecCol, preFilter = Some(preFilter))
    else
      VectorSearch.knnBatch(assigned.filter(preFilter), queries, k, embCol, idCol,
        qidCol, qvecCol)

  /** Micro-batch sizing for the batched probes — the ×10000 serving
    * matrix made into a number (SCALE.md round-16). Batch amortization
    * rests on the union of probed cells staying a small fraction of the
    * index: a batch of Q queries at nprobe of nlist opens an expected
    * 1 − (1 − nprobe/nlist)^Q of all cells, and once that approaches 1
    * the "shared" scan is a full-corpus scan (measured at the 50M-chunk
    * decade: batch-8 = 12.5% of cells was the robust point; batch-32 =
    * ~40% inverted per-query cost on a cold store). This returns the
    * largest Q whose expected opened fraction stays ≤ `maxCellFraction`
    * (default 1/8), floored at 1 — feed it to the queue source's trigger
    * sizing and to [[graft.streaming.StreamingIngest.startQueries]]'s
    * `maxBatchQueries` (which remains the separate driver-exposure cap). */
  def recommendedServeBatch(nlist: Long, nprobe: Int,
                            maxCellFraction: Double = 0.125): Int = {
    require(nlist > 0 && nprobe > 0, "recommendedServeBatch needs a built index")
    require(maxCellFraction > 0.0 && maxCellFraction < 1.0,
      s"maxCellFraction must be in (0,1), got $maxCellFraction")
    val p = math.min(1.0, nprobe.toDouble / nlist.toDouble)
    if (p >= maxCellFraction) 1 // one query already opens more than the budget
    else math.max(1, (math.log1p(-maxCellFraction) / math.log1p(-p)).toInt)
  }

  /** Batch IVF probe over a MATERIALIZED partitioned index
    * ([[graft.IvfCatalog]]) — Q queries amortize ONE pruned scan, the
    * serving-THROUGHPUT form of [[ivfSearchPruned]]. A serving tier
    * answering queries one at a time pays per query: a partition listing,
    * a pruned scan, a top-k. This form ranks every query's probe set on
    * the driver with the single-query path's own ranking (cosine desc,
    * centroid_id asc — so the probed cells are exactly what Q serial
    * probes would pick),
    * scans the UNION of all probed cells once (a static `IN` over the
    * partition key, so `PartitionFilters` prunes whole directories exactly
    * like the single-query probe), and scores each scanned row only
    * against the queries that probed its cell via a broadcast
    * (cell → query) join of ≤ Q·nprobe rows. Total cosine arithmetic is
    * identical to Q serial probes; what collapses is the per-query job,
    * listing, and scan-setup overhead. Per-query top-k runs through the
    * bounded-heap TopKAggregator under `groupBy`, so the one shuffle
    * carries O(k × Q × partitions) candidate rows — never the
    * scan × queries product. Output: (qidCol, idCol, rank, score) with
    * score = (cos+1)/2 — row-for-row equal to a serial loop of
    * [[ivfSearchPruned]] over the same queries (IvfCatalogSpec pins it).
    * The query table is broadcast-scale by contract (collected once, like
    * [[pqSearchBatch]] / [[graft.operators.VectorSearch.knnBatch]]). */
  def ivfSearchPrunedBatch(assigned: DataFrame, centroids: DataFrame,
                           queries: DataFrame, k: Int, nprobe: Int,
                           idCol: String = "vec_id", embCol: String = "embedding",
                           qidCol: String = "qid", qvecCol: String = "qvec",
                           payloadCols: Seq[String] = Nil,
                           preFilter: Option[Column] = None): DataFrame = {
    val qt = VectorSearch.queryTable(queries, qidCol, qvecCol, "ivfSearchPrunedBatch")
    val (pairs, pruned) = probeCells(assigned, centroids, qt, nprobe)
    // a QUEUE-wide metadata predicate (tenant, language, label — the same
    // for every query in the batch) composes into the one shared scan,
    // PushedFilters next to PartitionFilters; per-query filters belong on
    // the serial probe (ivfSearchPruned.preFilter), whose filtered-within-
    // probed-cells semantics this shares
    // ONE definition of the pruned+filtered base scan — the scored pass and
    // the payload re-read must stay the same shape or the payload join's
    // "every winner already satisfies the filter" identity silently breaks
    val prunedBase = preFilter.foldLeft(pruned)(_.filter(_))
    val scored = prunedBase
      .join(broadcast(pairs), "centroid_id")
      .select(col("__qi"), col(idCol).as("__id"),
        ((cosineSimilarity(col(embCol), col(qvecCol)) + 1.0) / 2.0).as("__score"))
    withPayload(qt.ranked(VectorSearch.topKPerQuery(scored, k, idCol,
      assigned.schema(idCol).dataType, "ivfSearchPrunedBatch"), idCol),
      prunedBase, idCol, qidCol, payloadCols)
  }

  /** The probe skeleton of the batch IVF forms: every query's probe set
    * ranked on the driver by the serial path's own ranking
    * ([[nearestCells]]), so probe sets match it; the (centroid_id, __qi,
    * qvec) pairs as a local relation; and `store` pruned to the union of
    * probed cells — LITERALS while plan-size-safe (static partition
    * pruning, not a join the planner may or may not turn into dynamic
    * pruning), a broadcast semi-join past the literal gate. */
  private def probeCells(store: DataFrame, centroids: DataFrame, qt: VectorSearch.QueryTable,
                         nprobe: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val cellType = store.schema("centroid_id").dataType
    val cents = graft.IndexMeta.centroids(centroids)
    val probes = qt.vecs.map(nearestCells(cents, _, nprobe))
    val qvec = qt.indexed.schema.fields(2)
    val pairs = store.sparkSession.createDataFrame(
        probes.zipWithIndex.flatMap { case (cs, i) =>
          cs.map(c => org.apache.spark.sql.Row(c, i, qt.rows(i).get(1)))
        }.toSeq.asJava,
        StructType(Seq(StructField("centroid_id", LongType, nullable = false),
          StructField("__qi", IntegerType, nullable = false), qvec)))
      .select(col("centroid_id").cast(cellType).as("centroid_id"), col("__qi"), col(qvec.name))
    val cells = cellValues(probes.flatten.distinct.sorted.toSeq, cellType)
    (pairs, filterToCells(store, cells, pairs.select(col("centroid_id")).distinct()))
  }

  /** Attach store payload (e.g. document_id) to the batch probes' (qid,
    * id, rank, score) rows by re-reading the SAME pruned+filtered `base`
    * scan with the Q·k winners broadcast — candidate-bounded, never a
    * full-store lookup join; a selective preFilter makes BOTH scans
    * cheaper, not just the first. */
  private def withPayload(out: DataFrame, base: DataFrame, idCol: String, qidCol: String,
                          payloadCols: Seq[String]): DataFrame =
    if (payloadCols.isEmpty) out
    else base.select((idCol +: payloadCols).map(col): _*)
      .join(broadcast(out), idCol)
      .select((Seq(qidCol, idCol, "rank", "score") ++ payloadCols).map(col): _*)

  /** IVF search: probe the `nprobe` centroids nearest to the query, then
    * exact top-k over the vectors assigned to those cells. */
  def ivfSearch(corpus: DataFrame, centroids: DataFrame, queryVec: Array[Float],
                k: Int, nprobe: Int,
                idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val probedIds = probedCentroidIds(centroids, queryVec, nprobe)
    ivfAssign(corpus, centroids, idCol, embCol)
      .filter(col("centroid_id").isin(probedIds: _*))
      .withColumn("score", (cosineSimilarity(col(embCol), typedLit(queryVec)) + 1.0) / 2.0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch ADC: every row of `queries` (qidCol, qvecCol) against the code
    * table — the many-queries × huge-corpus shape. Per-query LUTs are built
    * once driver-side (the query table is broadcast-scale by contract, like
    * [[graft.operators.VectorSearch.knnBatch]]'s) and shipped in the scoring
    * kernel's closure; each code row then costs m lookups per query instead
    * of a full-dimension dot, over a scan 32× smaller than the floats.
    * Per-query candidate top-k runs through the bounded-heap TopKAggregator
    * under `groupBy`, so the shuffle carries O(k·rerank × |queries| ×
    * partitions) rows — never the codes × queries product — and only the
    * candidate set touches the raw embeddings for exact re-ranking.
    * Output: (qidCol, idCol, rank, score); qid stays whatever type it was,
    * ids follow knnBatch's integral-or-string contract (fail-fast otherwise).
    */
  def pqSearchBatch(codes: DataFrame, corpus: DataFrame, cb: PqCodebook,
                    queries: DataFrame, k: Int, rerankFactor: Int = 8,
                    idCol: String = "vec_id", embCol: String = "embedding",
                    qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    // the query table is the single source of truth: closure LUTs index
    // it, and the (__qi, qid, qvec) mapping joined back after aggregation
    // is the same collected rows
    val qt = VectorSearch.queryTable(queries, qidCol, qvecCol, "pqSearchBatch")
    val scored = codes
      .filter(col("code").isNotNull && col("norm").isNotNull) // null embeddings never rank
      .withColumn("__qi", explode(lit(qt.rows.indices.toArray)))
      .select(col("__qi"), col(idCol).as("__id"), adcCosine(cb, qt.vecs).as("__score"))
    val candidates = VectorSearch.topKPerQuery(scored, k * rerankFactor, idCol,
        codes.schema(idCol).dataType, "pqSearchBatch")
      .select(col("__qi"), col(idCol))
    rerankBatch(corpus, candidates, qt, k, idCol, embCol, qvecCol)
  }

  /** Approximate cosine of each (code, norm) row against query `__qi` for
    * the batch ADC forms. Per-query LUTs AND norms ride in the kernel's
    * closure, indexed by `__qi` — building a Catalyst n-element array
    * literal per code row would cost O(n²) work across an n-way explode as
    * the query batch grows. Zero norms score -2, below any true cosine. */
  private def adcCosine(cb: PqCodebook, vecs: Array[Array[Float]]): Column = {
    val luts = vecs.map(buildAdcLut(cb, _))
    val qnorms = vecs.map(vecNorm)
    udf { (code: Array[Byte], norm: Double, qi: Int) =>
      val qn = qnorms(qi)
      if (norm == 0.0 || qn == 0.0) -2.0
      else adcDot(luts(qi), code) / (norm * qn)
    }.apply(col("code"), col("norm"), col("__qi"))
  }

  /** Exact re-rank of the batch ADC forms: each query's (`__qi`, idCol)
    * candidates joined to the raw `corpus` rows, scored by exact cosine,
    * top-`k` per query (score desc, id asc). Output (qid, idCol, rank,
    * score). */
  private def rerankBatch(corpus: DataFrame, candidates: DataFrame, qt: VectorSearch.QueryTable,
                          k: Int, idCol: String, embCol: String, qvecCol: String): DataFrame = {
    val rerankW = Window.partitionBy(col("__qi"))
      .orderBy(col("score").desc, col(idCol).asc)
    corpus.join(broadcast(candidates), idCol)
      .join(broadcast(qt.indexed), "__qi")
      .withColumn("score", (cosineSimilarity(col(embCol), col(qvecCol)) + 1.0) / 2.0)
      .withColumn("rank", row_number().over(rerankW))
      .filter(col("rank") <= k)
      .select(col(qt.qidCol), col(idCol), col("rank"), col("score"))
  }

  // -------------------------------------------------------- int8 quantization

  /** Quantized row: per-vector symmetric int8 codes + exact float norm.
    * cos(a,b) ≈ (scaleA·scaleB·intDot(codeA,codeB)) / (normA·normB). */
  case class QuantVec(code: Array[Byte], scale: Float, norm: Float)

  /** Kernel shared by the distributed UDF and the driver-side query path. */
  def quantScala(v: Array[Float]): QuantVec = {
    val n = v.length
    var maxAbs = 0f
    var norm2 = 0.0
    var i = 0
    while (i < n) {
      val x = v(i)
      if (math.abs(x) > maxAbs) maxAbs = math.abs(x)
      norm2 += x.toDouble * x
      i += 1
    }
    val scale = if (maxAbs == 0f) 1f else maxAbs / 127f
    val code = new Array[Byte](n)
    i = 0
    while (i < n) { code(i) = math.round(v(i) / scale).toByte; i += 1 }
    QuantVec(code, scale, math.sqrt(norm2).toFloat)
  }

  private val quantUdf = udf { (v: Seq[Float]) =>
    if (v == null) null else quantScala(v.toArray)
  }

  /** Symmetric per-vector int8 quantization of an embedding column — the
    * scan-side scale lever: codes are 4× smaller than float32 (a 100 TB
    * embedding store reads 25 TB), integer dot products score candidates,
    * and only the re-rank set touches the raw floats. At scale the
    * quantized table is written once (ChunkCatalog-style), not derived per
    * query. Output: (idCol, code binary, scale float, norm float). */
  def quantizeInt8(corpus: DataFrame, idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), quantUdf(col(embCol)).as("q"))
      .select(col(idCol), col("q.code").as("code"),
        col("q.scale").as("scale"), col("q.norm").as("norm"))

  private val intDotUdf = udf { (a: Array[Byte], b: Array[Byte]) =>
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) { acc += a(i).toLong * b(i); i += 1 }
    acc
  }

  // ------------------------------------------------- product quantization (PQ)

  /** PQ codebook: `m` subspaces of `dsub` dims, `centroids(j)(c)` the c-th
    * centroid of subspace j. FAISS-style IVFADC's compression half. */
  case class PqCodebook(m: Int, dsub: Int, centroids: Array[Array[Array[Float]]]) {
    def ksub: Int = centroids(0).length

    /** Content fingerprint (md5 over the centroid float bits, first 8 hex
      * chars) — identifies the TRAINED codebook, not just its shape, so a
      * build-once code table (graft.IvfPqCatalog) keyed on it can never be
      * reused with differently-trained centroids. */
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val buf = java.nio.ByteBuffer.allocate(4)
      for (sub <- centroids; cent <- sub; x <- cent) {
        buf.clear(); buf.putFloat(x)
        md.update(buf.array())
      }
      md.digest().take(4).map(b => f"${b & 0xFF}%02x").mkString
    }
  }

  /** Deterministic seeded codebook — the PQ analog of [[seededCentroids]]:
    * every `step`-th vector by id supplies one centroid per subspace (its
    * j-th slice), so training is reproducible and SQL-oracle-checkable.
    * Swap in per-subspace k-means for production quality without changing
    * the encode/search plan shape. */
  def pqTrainSeeded(corpus: DataFrame, m: Int, ksub: Int, step: Long,
                    idCol: String = "vec_id", embCol: String = "embedding"): PqCodebook = {
    // codes are stored one byte per subspace (read back unsigned via & 0xFF),
    // so 256 centroids per subspace — FAISS's standard setting — is the cap
    require(ksub >= 2 && ksub <= 256, s"ksub must be in [2, 256], got $ksub")
    val rows = corpus.filter(col(idCol) % step === 0)
      .orderBy(col(idCol).asc).limit(ksub)
      .select(embCol).collect().map(_.getSeq[Float](0).toArray)
    require(rows.length == ksub,
      s"corpus has only ${rows.length} seed vectors for ksub=$ksub (step=$step)")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    PqCodebook(m, dsub, Array.tabulate(m)(j => rows.map(_.slice(j * dsub, (j + 1) * dsub))))
  }

  /** TRAINED codebook option — per-subspace MLlib k-means (textbook PQ
    * training, Jégou et al. 2011), behind the same [[PqCodebook]] the
    * seeded form returns: pqEncode / pqSearch / pqSearchBatch / ivfPqSearch
    * and the stored IvfPqCatalog consume either codebook unchanged (the
    * catalog's content fingerprint keys on the trained centroids, so a
    * retrained codebook can never silently reuse stale codes). `m` seeded
    * k-means fits over the subspace slices at index-build time; lower
    * quantization error than the seeded sample, measured (not assumed) by
    * OperatorSpec's recall@10 comparison. Non-oracle path: k-means isn't
    * SQL-replayable, so registered oracle queries stay on the seeded form. */
  def pqTrainKmeans(corpus: DataFrame, m: Int, ksub: Int, seed: Long = 42L,
                    maxIter: Int = 20, embCol: String = "embedding"): PqCodebook = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(ksub >= 2 && ksub <= 256, s"ksub must be in [2, 256], got $ksub")
    val emb = corpus.filter(col(embCol).isNotNull)
    val dim = emb.select(size(col(embCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val centroids = graft.Caches.releaseAfter {
      // slice once, reuse across the m fits
      val sliced = graft.Caches.persistTracked(emb.select(
        (0 until m).map(j => slice(col(embCol), j * dsub + 1, dsub).as(s"__s$j")): _*))
      Array.tabulate(m) { j =>
        val feats = sliced.select(
          array_to_vector(col(s"__s$j").cast("array<double>")).as("features"))
        val fit = new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(maxIter)
          .setFeaturesCol("features").fit(feats)
          .clusterCenters.map(_.toArray.map(_.toFloat))
        // MLlib returns FEWER than k centers when a subspace has fewer
        // distinct points (a near-constant slice — sparse featurizer dims
        // at corpus scale). The codebook contract is a full ksub per
        // subspace (codes are fixed-width bytes); pad by repeating the
        // first center — encode ties to the LOWER index, so padded
        // duplicates are never emitted in codes and never rank in ADC.
        if (fit.length < ksub) fit ++ Array.fill(ksub - fit.length)(fit.head) else fit
      }
    }
    PqCodebook(m, dsub, centroids)
  }

  /** Encode kernel: per subspace, the index of the L2-nearest centroid
    * (squared distance accumulated in double element-order — the exact
    * arithmetic the SQL oracle replays — ties to the lower index), plus the
    * exact double norm for ADC's cosine denominator. */
  def pqEncodeScala(v: Array[Float], cb: PqCodebook): (Array[Byte], Double) = {
    val codes = new Array[Byte](cb.m)
    var norm2 = 0.0
    var i = 0
    while (i < v.length) { norm2 += v(i).toDouble * v(i); i += 1 }
    var j = 0
    while (j < cb.m) {
      val cents = cb.centroids(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d2 = 0.0
        var t = 0
        while (t < cb.dsub) {
          val d = v(j * cb.dsub + t).toDouble - cent(t)
          d2 += d * d
          t += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      codes(j) = best.toByte
      j += 1
    }
    (codes, math.sqrt(norm2))
  }

  /** Codes as a readable "3,14,0,..." string (oracle/debug surface). */
  val pqCodeString: Column => Column = {
    val u = udf { (code: Array[Byte]) =>
      if (code == null) null else code.map(_.toInt & 0xFF).mkString(",")
    }
    u(_)
  }

  /** PQ encode: the corpus compressed to `m` bytes + one norm per row —
    * 64-dim float32 rows become 8-byte BINARY codes (32× smaller; a 100 TB
    * embedding store scans ~3 TB of codes). At scale the code table is
    * written once at index-build time (ChunkCatalog-style), not derived per
    * query. Output: (idCol, code binary, norm double). */
  def pqEncode(corpus: DataFrame, cb: PqCodebook,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val encodeUdf = udf { (v: Seq[Float]) =>
      if (v == null) null else {
        val (codes, norm) = pqEncodeScala(v.toArray, cb)
        (codes, norm)
      }
    }
    corpus.select(col(idCol), encodeUdf(col(embCol)).as("q"))
      .select(col(idCol), col("q._1").as("code"), col("q._2").as("norm"))
  }

  /** LUT(j)(c) = <q_j, centroid(j)(c)>, element-order double arithmetic —
    * the exact arithmetic the SQL oracles replay bit-for-bit. One kernel
    * for the single-query and batch paths so a fix can't silently diverge. */
  private def buildAdcLut(cb: PqCodebook, qv: Array[Float]): Array[Array[Double]] =
    Array.tabulate(cb.m) { j =>
      cb.centroids(j).map { cent =>
        var dot = 0.0
        var t = 0
        while (t < cb.dsub) { dot += qv(j * cb.dsub + t).toDouble * cent(t); t += 1 }
        dot
      }
    }

  /** Σ_j LUT(j)(code_j), code bytes read unsigned. */
  private def adcDot(lut: Array[Array[Double]], code: Array[Byte]): Double = {
    var s = 0.0
    var j = 0
    while (j < code.length) { s += lut(j)(code(j) & 0xFF); j += 1 }
    s
  }

  private def vecNorm(v: Array[Float]): Double = {
    var s = 0.0
    v.foreach(x => s += x.toDouble * x)
    math.sqrt(s)
  }

  /** ADC candidate stage shared by [[pqSearch]] and [[ivfPqSearch]]: score
    * every code row via the driver LUT, keep the top `n` ids by approximate
    * cosine (bounded heap — TakeOrderedAndProject, never a global sort).
    * Rows with a null code/norm (null source embeddings) never rank. */
  private def adcCandidates(codes: DataFrame, cb: PqCodebook,
                            queryVec: Array[Float], n: Int, idCol: String,
                            keepCols: Seq[String] = Nil): DataFrame = {
    val qnorm = vecNorm(queryVec)
    val lut = buildAdcLut(cb, queryVec)
    val adcUdf = udf { (code: Array[Byte]) => adcDot(lut, code) }
    val approx =
      if (qnorm == 0.0) lit(-2.0)
      else when(col("norm") === 0.0, lit(-2.0))
        .otherwise(adcUdf(col("code")) / (col("norm") * lit(qnorm)))
    codes
      .filter(col("code").isNotNull && col("norm").isNotNull)
      .withColumn("__acos", approx)
      .orderBy(col("__acos").desc, col(idCol).asc)
      .limit(n)
      .select((idCol +: keepCols).map(col): _*)
  }

  /** Exact re-rank of a (small, broadcast) candidate id set. */
  private def rerankExact(corpus: DataFrame, candidates: DataFrame,
                          queryVec: Array[Float], k: Int,
                          idCol: String, embCol: String): DataFrame = {
    val qv = typedLit(queryVec)
    corpus.join(broadcast(candidates), idCol)
      .withColumn("score", (cosineSimilarity(col(embCol), qv) + 1.0) / 2.0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** ADC (asymmetric distance computation) search: the query stays raw; a
    * driver-built lookup table LUT(j)(c) = <q_j, centroid(j)(c)> turns each
    * code row's approximate dot product into `m` table lookups — a narrow
    * scan over the m-byte codes, never the floats. Approximate cosine =
    * Σ_j LUT(j)(code_j) / (‖x‖·‖q‖) with exact stored norms; the top
    * k·rerankFactor candidates (TakeOrderedAndProject) are then re-scored
    * against the raw embeddings with the exact codegen cosine, so emitted
    * scores are bit-identical to the exact path — quantization can only
    * cost recall at the candidate boundary (measured and pinned by
    * OperatorSpec; the registered `ann_pq_top10` oracle replays the full
    * ADC pipeline in SQL).
    *
    * `codes` = output of [[pqEncode]] (at scale: the stored table);
    * `corpus` supplies raw vectors for the rerank join only. */
  def pqSearch(codes: DataFrame, corpus: DataFrame, cb: PqCodebook,
               queryVec: Array[Float], k: Int, rerankFactor: Int = 8,
               idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    rerankExact(corpus, adcCandidates(codes, cb, queryVec, k * rerankFactor, idCol),
      queryVec, k, idCol, embCol)

  /** IVFADC — the composition that carries a 100 TB corpus: IVF cells prune
    * which files are scanned (`codesAssigned` carries the `centroid_id`
    * partition key; at scale it is the stored index table written
    * `partitionBy(centroid_id)`, IvfCatalog-style), PQ codes shrink what's
    * left 32×, and the survivors re-rank exactly. nprobe centroid ids
    * resolve driver-side from the tiny centroid table, so the cell filter
    * is a static IN over the partition key — file-level pruning, then an
    * m-bytes-per-row ADC scan, then a broadcast re-rank join. */
  def ivfPqSearch(codesAssigned: DataFrame, corpus: DataFrame, centroids: DataFrame,
                  cb: PqCodebook, queryVec: Array[Float], k: Int, nprobe: Int,
                  rerankFactor: Int = 8,
                  idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val probedIds = probedCentroidIds(centroids, queryVec, nprobe)
    val pruned = codesAssigned.filter(col("centroid_id").isin(probedIds: _*))
    rerankExact(corpus, adcCandidates(pruned, cb, queryVec, k * rerankFactor, idCol),
      queryVec, k, idCol, embCol)
  }

  /** [[ivfPqSearch]] with the RERANK side pruned too — the form the
    * flagship's stored IVFADC index probes with. When the raw corpus is
    * itself laid out `partitionBy(centroid_id)` (graft.IvfCatalog), every
    * ADC candidate by construction lives in a probed cell, so the exact
    * re-rank can read the same nprobe/nlist partition directories instead
    * of broadcast-joining candidates against a FULL raw scan: probe bytes
    * are (codes of probed cells) + (raw vectors of probed cells), never the
    * whole float store — at 100 TB the difference between an
    * m-bytes-per-row pass over 1/nlist of the corpus and a full-table
    * read.
    *
    * `rerankFactor = 16` is the measured serving default (SCALE.md
    * round-12 ADC grid, ×1000 corpus): at 16 the ADC recall saturates the
    * raw-IVF coverage ceiling of every probed-cell budget — the residual
    * loss is cell MISS (an nprobe/centroid-quality knob), not quantization
    * — while the deeper rerank costs nothing measurable (k·16 candidates
    * semi-joined against already-probed partitions).
    *
    * EAGER at call time (r16): the ADC candidate cut runs as its own
    * collect job inside this call — the candidate ids AND their cells are
    * driver-bound by construction, and knowing the cells lets the
    * returned plan's re-rank scan prune to the candidates' cells instead
    * of every probed cell (the decade-measured warm-ADC cost). Callers
    * composing lazy plans for inspection should expect one probe-scan job
    * per construction; the RETURNED frame (the re-rank) stays lazy. Same
    * contract for [[ivfPqSearchPrunedBatch]]. */
  def ivfPqSearchPruned(codesAssigned: DataFrame, corpusAssigned: DataFrame,
                        centroids: DataFrame, cb: PqCodebook,
                        queryVec: Array[Float], k: Int, nprobe: Int,
                        rerankFactor: Int = 16,
                        idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val spark = codesAssigned.sparkSession
    val probedIds = probedCentroidIds(centroids, queryVec, nprobe)
    val prunedCodes = codesAssigned.filter(col("centroid_id").isin(probedIds: _*))
    // candidates collected ONCE, WITH their cells (≤ k·rerankFactor rows —
    // driver-bound by construction, the same rows rerankExact broadcasts):
    // the exact re-rank then reads only the CANDIDATES' cells, not every
    // probed cell. An id lives in exactly one cell, so restricting the raw
    // scan to cells holding ≥1 candidate loses nothing — and the decade
    // measured the difference: the probed-cell raw read was the reason the
    // warm ADC probe (1.95 s p50) trailed the raw probe (1.35 s) while
    // candidates concentrate in a handful of top cells.
    val candRows = adcCandidates(prunedCodes, cb, queryVec, k * rerankFactor, idCol,
      keepCols = Seq("centroid_id")).collect()
    val candCells = candRows.map(_.get(1)).distinct.toIndexedSeq
    val idField = codesAssigned.schema(idCol)
    val candDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        candRows.toIndexedSeq.map(r => org.apache.spark.sql.Row(r.get(0))), 1),
      org.apache.spark.sql.types.StructType(Seq(idField.copy(name = idCol))))
    val prunedRaw = corpusAssigned.filter(col("centroid_id").isin(candCells: _*))
    rerankExact(prunedRaw, candDf, queryVec, k, idCol, embCol)
  }

  /** [[ivfPqSearchPruned]] for a QUEUE of queries — the full compressed
    * serving stack batched: Q queries share driver-ranked probe sets, ONE
    * partition-pruned scan of the union of their probed cells read as
    * m-byte PQ codes (each code row ADC-scored only against the queries
    * that probed its cell, per-query LUTs riding in the kernel's closure
    * exactly as [[pqSearchBatch]]'s do), per-query candidate top-k·rerank
    * through the bounded heap, and ONE candidate-bounded raw read for the
    * exact re-rank. Per-query output is row-for-row what serial
    * [[ivfPqSearchPruned]] calls return (same probe tie-break, same ADC
    * arithmetic, same rerank ordering — IvfCatalogSpec pins it); emitted
    * scores are exact-cosine, bit-identical to the uncompressed paths for
    * any id they share. Output: (qidCol, idCol, rank, score)
    * [+ payloadCols re-joined from the same pruned raw cells]. The query
    * table is broadcast-scale by contract. */
  def ivfPqSearchPrunedBatch(codesAssigned: DataFrame, corpusAssigned: DataFrame,
                             centroids: DataFrame, cb: PqCodebook,
                             queries: DataFrame, k: Int, nprobe: Int,
                             rerankFactor: Int = 16,
                             idCol: String = "vec_id", embCol: String = "embedding",
                             qidCol: String = "qid", qvecCol: String = "qvec",
                             payloadCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = codesAssigned.sparkSession
    import spark.implicits._
    val qt = VectorSearch.queryTable(queries, qidCol, qvecCol, "ivfPqSearchPrunedBatch")
    val cellType = codesAssigned.schema("centroid_id").dataType
    // the candidate-cell ride-along (below) carries cells as LONG inside
    // the top-k pair — a non-integral centroid id would cast to null and
    // crash the candidate collect; reject it loudly up front (ids get the
    // same treatment via the idType match)
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(cellType),
      s"ivfPqSearchPrunedBatch centroid_id must be integral, got " +
        s"${cellType.catalogString} — the engine's catalogs assign long cells")
    val (pairs, prunedCodes) = probeCells(codesAssigned, centroids, qt, nprobe)
    val scored = prunedCodes
      .filter(col("code").isNotNull && col("norm").isNotNull)
      .join(broadcast(pairs.select(col("centroid_id"), col("__qi"))), "centroid_id")
      .select(col("__qi"), col(idCol).as("__id"),
        col("centroid_id").cast("long").as("__cell"), adcCosine(cb, qt.vecs).as("__acos"))
    val limit = k * rerankFactor
    val idType = codesAssigned.schema(idCol).dataType
    // the aggregated value is the (id, cell) PAIR — the cell rides the
    // probe job itself (the serial path's keepCols trick, folded into the
    // top-k aggregation), so the candidates' cells come back in the SAME
    // collect and the old candidate-cell recovery pass — a second scan of
    // the probed codes plus its own collect, whose two driver jobs were
    // the r16 decade's batch-8 regression — is gone. Ordering by id alone
    // stays a total order over the data (an id lives in exactly one cell),
    // so candidate selection is bit-identical to the id-only aggregation.
    val aggregated = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val topk = udaf(new graft.functions.TopKAggregator[(Long, Long)](
          limit, implicitly[org.apache.spark.sql.Encoder[Seq[((Long, Long), Double)]]])(
          Ordering.by[(Long, Long), Long](_._1), implicitly))
        scored.groupBy(col("__qi"))
          .agg(topk(struct(col("__id").cast("long").as("_1"), col("__cell").as("_2")),
            col("__acos")).as("__topk"))
      case StringType =>
        val topk = udaf(new graft.functions.TopKAggregator[(String, Long)](
          limit, implicitly[org.apache.spark.sql.Encoder[Seq[((String, Long), Double)]]])(
          Ordering.by[(String, Long), String](_._1)(
            graft.functions.TopKAggregator.utf8Ordering), implicitly))
        scored.groupBy(col("__qi"))
          .agg(topk(struct(col("__id").as("_1"), col("__cell").as("_2")),
            col("__acos")).as("__topk"))
      case other => throw new IllegalArgumentException(
        s"ivfPqSearchPrunedBatch id column '$idCol' must be integral or string, got " +
          s"${other.catalogString}")
    }
    // candidates collected ONCE, WITH their cells (≤ Q·k·rerankFactor rows
    // — broadcast-scale by contract; the rerank join was going to broadcast
    // them anyway, and a lazy plan would re-run the whole ADC scan once per
    // consumer below)
    val candRows = aggregated
      .select(col("__qi"), explode(col("__topk")).as("__hit"))
      .select(col("__qi"), col("__hit._1._1").cast(idType).as(idCol),
        col("__hit._1._2").as("__cell"))
      .collect()
    val candidates = spark.createDataFrame(
      candRows.toSeq.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1))).asJava,
      StructType(Seq(StructField("__qi", IntegerType, nullable = false),
        StructField(idCol, idType))))
    // the exact re-rank reads only the CANDIDATES' cells (an id lives in
    // exactly one cell, so this loses nothing — the decade-measured fix
    // for the probed-cell raw read that made warm batch ADC trail raw)
    val candCellLongs = candRows.map(_.getLong(2)).distinct.toIndexedSeq
    val candCells = cellValues(candCellLongs, cellType)
    val prunedRaw = filterToCells(corpusAssigned, candCells,
      spark.createDataFrame(candCellLongs.map(l => org.apache.spark.sql.Row(l)).asJava,
          StructType(Seq(StructField("centroid_id", LongType))))
        .select(col("centroid_id").cast(cellType)))
    withPayload(rerankBatch(prunedRaw, candidates, qt, k, idCol, embCol, qvecCol),
      prunedRaw, idCol, qidCol, payloadCols)
  }

  /** Deterministic seeded codebook for corpora whose ids are NOT dense
    * longs (md5 chunk ids) — [[pqTrainSeeded]]'s hash-ordered twin, same
    * sampling contract as [[hashSeededCentroids]]: order by a seeded hash
    * of the id (pure function of the ids, independent of partitioning) and
    * the first `ksub` rows supply one centroid per subspace each. */
  def pqTrainHashSeeded(corpus: DataFrame, m: Int, ksub: Int,
                        idCol: String = "vec_id",
                        embCol: String = "embedding"): PqCodebook = {
    require(ksub >= 2 && ksub <= 256, s"ksub must be in [2, 256], got $ksub")
    val rows = corpus.filter(col(embCol).isNotNull)
      .withColumn("__h", xxhash64(col(idCol).cast("string")))
      .orderBy(col("__h").asc, col(idCol).cast("string").asc)
      .limit(ksub)
      .select(embCol).collect().map(_.getSeq[Float](0).toArray)
    require(rows.length == ksub,
      s"corpus has only ${rows.length} non-null vectors for ksub=$ksub")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    PqCodebook(m, dsub, Array.tabulate(m)(j => rows.map(_.slice(j * dsub, (j + 1) * dsub))))
  }

  /** Approximate-then-exact KNN over int8 codes: score every code with the
    * integer dot approximation (narrow scan over 1/4 the bytes), keep the
    * top `k·rerankFactor` by approximate cosine (TakeOrderedAndProject),
    * then re-score ONLY those against the raw embeddings with the exact
    * codegen cosine — the emitted scores are bit-identical to the exact
    * path, so quantization error can only cost recall at the candidate
    * boundary, never precision. With 64-dim fixtures the relative dot error
    * is ~0.5%; rerankFactor 4 absorbs it (equality with exact top-k pinned
    * by OperatorSpec on the fixture).
    *
    * `quantized` = output of [[quantizeInt8]] (at scale: the stored table);
    * `corpus` supplies the raw vectors for the re-rank join only. */
  def int8Search(quantized: DataFrame, corpus: DataFrame, queryVec: Array[Float],
                 k: Int, rerankFactor: Int = 4,
                 idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = quantScala(queryVec) // query quantized once, driver-side
    // zero-norm rows (and a zero-norm query) score -2, below any true
    // cosine — 0/0 would be NaN, which sorts ABOVE every number descending
    val approx =
      if (q.norm == 0f) lit(-2.0)
      else when(col("norm") === 0f, lit(-2.0)).otherwise(
        (intDotUdf(col("code"), lit(q.code)) * col("scale") * lit(q.scale)) /
          (col("norm") * lit(q.norm)))
    val candidates = quantized
      .withColumn("__acos", approx)
      .orderBy(col("__acos").desc, col(idCol).asc)
      .limit(k * rerankFactor)
      .select(col(idCol))
    val qv = typedLit(queryVec)
    corpus.join(broadcast(candidates), idCol)
      .withColumn("score", (cosineSimilarity(col(embCol), qv) + 1.0) / 2.0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
