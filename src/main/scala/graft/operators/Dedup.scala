package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data deduplication suite (builder north star: dedup operators a
  * large-scale LLM data pipeline needs, beyond the reference's own surface).
  *
  * Five families, all shuffle-shaped for 100 TB:
  *  - exact: one hash-groupBy on a content digest — a single shuffle keyed
  *    by digest, no pairwise work.
  *  - MinHash+LSH: shingle → k-min-hash signature (narrow) → band keys →
  *    groupBy band key (shuffle on band buckets only) → verify candidate
  *    pairs. Pairwise work is confined to hash buckets; never all-pairs.
  *  - SimHash: 64(here 60)-bit signed-projection signature (narrow) →
  *    block-key banding (pigeonhole: hamming ≤ 3 over 4 blocks ⇒ ≥1 block
  *    equal) → verify hamming on candidates.
  *  - n-gram Jaccard: exact pair verification via shingle-explode equi-join —
  *    the ground-truth (quadratic-in-bucket) path used to validate LSH.
  *  - embedding cosine: VectorSearch.similarityJoin exact form; the ANN
  *    variant lives in graft.operators.Similarity.
  *
  * Hash family: every hash is derived from md5 (first 15 hex chars → 60-bit
  * non-negative long), seeded by prefixing the seed — deliberately chosen
  * because DuckDB computes the identical value
  * (CAST('0x'||substr(md5(...),1,15) AS BIGINT)), making every signature and
  * every pair list oracle-checkable bit-for-bit. At production scale the
  * same operators accept `fastHash` (xxhash64) for ~10× cheaper signatures.
  *
  * Cache contract: the pair generators persist shingle/signature
  * intermediates (each feeds the candidate self-join AND verification),
  * tracked in [[graft.Caches]]. Long-lived callers should call
  * `graft.Caches.release()` once the returned plan is materialized — it
  * unpersists exactly the library's caches, never the caller's.
  * Bench/Verify use the blunter `clearCache()` between queries.
  */
object Dedup {

  /** Seeded 60-bit hash from md5 — cross-engine reproducible. */
  def md5Hash60(c: Column, seed: Column): Column =
    conv(substring(md5(concat_ws("_", seed, c)), 1, 15), 16, 10).cast("long")

  /** Scala twin of md5Hash60 — identical values, compiled speed: the first
    * 15 hex chars of the md5 are exactly the top 60 bits of the big-endian
    * first 8 digest bytes, so no hex string is ever built. */
  def md5Hash60Scala(s: String, seed: Int): Long = {
    val b = ChunkOps.md5Bytes(seed + "_" + s)
    val top64 =
      ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) | ((b(2) & 0xffL) << 40) |
      ((b(3) & 0xffL) << 32) | ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
    top64 >>> 4
  }

  /** Scala twin of the tokenizer (same semantics as TextSearch.tokens;
    * Locale.ROOT so 'I'→'i' regardless of JVM default locale — tr/az locales
    * would otherwise break bit-parity with the Column/oracle forms). */
  def wordsScala(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Scala twin of `shingles`. */
  def shinglesScala(text: String, n: Int): Array[String] = {
    val w = wordsScala(text)
    if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toArray.distinct
    else Array(w.mkString(" "))
  }

  /** Per-thread memo of a shingle's full k-seed hash row. Shingles repeat
    * heavily across documents (shared vocabulary n-grams), so hashing each
    * DISTINCT shingle once per executor thread cuts the hash kernel cost by
    * the corpus' repetition factor — with bit-identical results. Capped to
    * bound executor memory; cleared wholesale when full. */
  private final class HashMemo(compute: (String, Int) => Array[Long]) {
    // JVM-SHARED map (was ThreadLocal until r20): a thread-local memo's hit
    // rate depends on task-to-thread placement — with parallel scans (the
    // r20 spread) a stage's tasks land on arbitrary pool threads, each
    // holding a random memo subset, and re-evaluating consumers paid the
    // full hash kernel where the single-task plan had paid a map lookup
    // (measured: dedup_minhash_capped's guard stages at ~7× kernel cost).
    // ConcurrentHashMap gets are lock-free, puts contend only per-bin, and
    // the values are pure functions of the key, so sharing is bit-safe at
    // any parallelism. Capped to bound executor memory; cleared wholesale
    // when full (same policy as before).
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    private val Max = 1 << 20

    def row(s: String, k: Int): Array[Long] = {
      val cached = cache.get(s)
      if (cached != null && cached.length >= k) cached
      else {
        val fresh = compute(s, math.max(k, MinHashK))
        if (cache.size >= Max) cache.clear()
        cache.put(s, fresh)
        fresh
      }
    }
  }

  private val md5Memo = new HashMemo((s, k) => Array.tabulate(k)(i => md5Hash60Scala(s, i)))

  // xxhash64 memo: encode the shingle to UTF8String ONCE, then hash all k
  // seeds — without this the fast path re-encoded and re-hashed every
  // repeated shingle k times per occurrence, which on vocabulary-heavy
  // corpora made "fast" slower than the memoized md5 path
  private val fastMemo = new HashMemo((s, k) => {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    Array.tabulate(k)(i => XxHash64Function.hash(u, StringType, i.toLong))
  })

  private def hashRow(s: String, k: Int): Array[Long] = md5Memo.row(s, k)

  val MinHashK = 16

  /** Scala twin of `minHashSignature`. */
  def minHashSignatureScala(shingles: Seq[String], k: Int): Array[Long] = {
    val out = Array.fill(k)(Long.MaxValue)
    for (s <- shingles) {
      val row = hashRow(s, k)
      var i = 0
      while (i < k) { if (row(i) < out(i)) out(i) = row(i); i += 1 }
    }
    out
  }

  /** Scala twin of the xxhash64 fast path (same kernel Spark's `xxhash64`
    * Column function uses) — ~10× cheaper per hash than MD5; NOT DuckDB-
    * reproducible, intended for scale runs where the oracle isn't in play. */
  def fastHash64Scala(s: String, seed: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    XxHash64Function.hash(UTF8String.fromString(s), StringType, seed.toLong)
  }

  /** minHashSignatureScala on the xxhash64 kernel (memoized per distinct
    * shingle like the md5 path). */
  def minHashSignatureFastScala(shingles: Seq[String], k: Int): Array[Long] = {
    val out = Array.fill(k)(Long.MaxValue)
    for (s <- shingles) {
      val row = fastMemo.row(s, k)
      var i = 0
      while (i < k) { if (row(i) < out(i)) out(i) = row(i); i += 1 }
    }
    out
  }

  /** Scala twin of `simHashBits` (word hashes served from the memo — words
    * repeat across the corpus far more than shingles do). */
  def simHashBitsScala(text: String): Array[Long] = {
    val hashes = wordsScala(text).map(w => hashRow(w, 1)(0))
    Array.tabulate(SimHashBits) { j =>
      var votes = 0L
      var i = 0
      while (i < hashes.length) { votes += ((hashes(i) >> j) & 1L) * 2 - 1; i += 1 }
      if (votes > 0) 1L else 0L
    }
  }

  private val shinglesUdf = udf((text: String, n: Int) => shinglesScala(text, n))
  private val minHashSigUdf = udf((sh: Seq[String], k: Int) => minHashSignatureScala(sh, k))
  private val minHashSigFastUdf = udf((sh: Seq[String], k: Int) => minHashSignatureFastScala(sh, k))
  private val simHashBitsUdf = udf((text: String) => simHashBitsScala(text))

  /** Fast path: xxhash64 (not DuckDB-reproducible; for scale runs). */
  def fastHash(c: Column, seed: Column): Column = xxhash64(seed, c)

  /** lucene-ish word tokens (shared with TextSearch). */
  def words(c: Column): Column = TextSearch.tokens(c)

  /** Distinct word n-gram shingles; a document shorter than n words
    * contributes its whole token string as one shingle. */
  def shingles(c: Column, n: Int): Column = {
    val w = words(c)
    array_distinct(
      when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          off => concat_ws(" ", slice(w, off + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", w))))
  }

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups by content digest: (content_hash, n_copies,
    * canonical_id, dup_ids) for groups with >1 member. One shuffle. */
  def exactDuplicateGroups(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
           min(col(idCol)).as("canonical_id"),
           // numeric sort BEFORE stringify (lexicographic would misorder ids)
           array_join(transform(sort_array(collect_list(col(idCol))),
             x => x.cast("string")), ",").as("dup_ids"))
      .filter(col("n_copies") > 1)

  /** Exact dedup survivors: keep the min-id row per content digest. */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val canonical = docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .drop("content_hash")
    docs.join(canonical, idCol) // inner join on id keeps only canonicals
  }

  // -------------------------------------------------------------- minhash

  /** k-permutation MinHash signature column over shingles. */
  def minHashSignature(shingleCol: Column, k: Int,
                       hash: (Column, Column) => Column = md5Hash60): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleCol, s => hash(s, i))))

  /** LSH band keys: `bands` keys, each hashing `rows` consecutive signature
    * slots. Two docs share a band key iff that slice matches exactly. */
  def bandKeys(sigCol: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(sigCol, b * rows + 1, lit(rows))))

  /** Default per-bucket cap for the banded self-joins ([[capBuckets]]). */
  val HotBucketCap = 4096

  /** Largest batch the BATCHED incremental flag kernels accept before the
    * dispatchers below route back to the distributed shuffle kernels. The
    * batched form collects the batch's embeddings driver-side and resolves
    * new×new pairs in a driver loop — per-cell O(B²) worst case — so it is
    * sized for MICRO-batches (the ingest loop's contract; the ×10000
    * decade batches 500–1000 chunks). 20k × 64-dim floats is ~5 MB of
    * driver heap and ≤ 2×10⁸ worst-case same-cell cosines (~20 s, never
    * seen in practice); a BULK re-crawl above the bound — a path
    * upsertDocChunks explicitly supports — keeps the fully distributed
    * kernel instead of OOMing the driver. */
  val BatchedFlagMaxRows = 20000L

  /** Route an incremental flag batch to the batched-probe kernel (zero
    * store-side shuffle — the decade-measured hot path) when the batch is
    * micro-batch-sized, and to the distributed shuffle kernel when it is
    * bulk. `batchRows` is the batch's row count, which every caller
    * already has from its own dedup/count step. */
  def embeddingPairsCelledIncrementalByIdAuto(newVecs: DataFrame, assignedStore: DataFrame,
                                              centroids: DataFrame, minCosine: Double,
                                              batchRows: Long,
                                              nprobe: Int = 2,
                                              idCol: String = "chunk_id",
                                              embCol: String = "embedding"): DataFrame =
    if (batchRows <= BatchedFlagMaxRows)
      embeddingPairsCelledIncrementalByIdBatched(newVecs, assignedStore, centroids,
        minCosine, nprobe, idCol, embCol)
    else
      embeddingPairsCelledIncrementalById(newVecs, assignedStore, centroids,
        minCosine, nprobe, idCol, embCol)

  /** Long-id twin of [[embeddingPairsCelledIncrementalByIdAuto]]. */
  def embeddingPairsCelledIncrementalAuto(newVecs: DataFrame, assignedStore: DataFrame,
                                          centroids: DataFrame, minCosine: Double,
                                          batchRows: Long,
                                          nprobe: Int = 2,
                                          idCol: String = "vec_id",
                                          embCol: String = "embedding"): DataFrame =
    if (batchRows <= BatchedFlagMaxRows)
      embeddingPairsCelledIncrementalBatched(newVecs, assignedStore, centroids,
        minCosine, nprobe, idCol, embCol)
    else
      embeddingPairsCelledIncremental(newVecs, assignedStore, centroids,
        minCosine, nprobe, idCol, embCol)

  /** The production guard for LSH banding's known pathology: D documents
    * sharing one bucket (near-identical boilerplate — cookie banners,
    * templated pages — exactly the web-scale near-dup workload) yield
    * D²/2 candidates inside that bucket BEFORE verification; one 10M-doc
    * bucket is 5·10¹³ pairs and the job never finishes. Within a bucket
    * larger than `maxBucket`, keep only the `maxBucket` smallest ids:
    * deterministic (low ids stay the bucket's representatives across runs
    * and re-ingests) and exactly reproducible in a SQL oracle
    * (ROW_NUMBER ... ORDER BY id — see `dedup_minhash_capped`). Pairs
    * among the kept representatives are still emitted, so the boilerplate
    * cluster is still detected and collapsible by connected components;
    * pairs involving the overflow are consciously sacrificed — upstream
    * exact dedup removes byte-identical copies first (the `pipe_curation`
    * composition), so buckets past a production-sized cap are
    * near-identical templates whose representatives carry the signal.
    * `maxBucket <= 0` disables the guard.
    *
    * TWO-PHASE with an EAGER idle probe, so the guard leaves zero trace on
    * a healthy corpus: hot KEYS are found by a count aggregation
    * (map-side combined — the hot pathology collapses to one row per
    * partition per key; no doc ids travel, and nothing is sorted). The
    * probe runs AT BUILD TIME (one bounded job over `banded`, which every
    * caller persists — the probe doubles as the cache materializer): if no
    * bucket exceeds the cap — the overwhelmingly common case — the input
    * is returned UNCHANGED and the candidate join keeps its original plan
    * shape. Only when hot buckets exist does the plan grow the guard:
    * cold rows pass a broadcast ANTI join untouched, and only rows of
    * provably-hot buckets pay the row_number window, whose exchange
    * carries just those rows. (First cut was a global row_number —
    * exchange + SORT of the whole band table on every run, +36–58% on the
    * sf0.1 dedup family with zero hot buckets; the lazy two-phase form
    * still paid several idle stages, +10% paired. The eager probe is one
    * aggregation job.) */
  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String],
                                idCol: String, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) banded
    else {
      val kc = keys.map(col)
      val hot = banded.groupBy(kc: _*).agg(count(lit(1)).as("__bucket_n"))
        .filter(col("__bucket_n") > maxBucket).select(kc: _*)
      if (hot.isEmpty) banded
      else applyBucketCap(banded, keys, idCol, maxBucket, hot)
    }

  /** The cap's APPLY half, for callers that already ran the hot-key probe
    * (Similarity.lshCandidates needs the probe's verdict itself to choose
    * its dedup strategy — re-running the aggregation inside [[capBuckets]]
    * would double a full pass over the band table, ADVICE r19). `hot` must
    * be exactly the over-cap key set of `banded`. */
  private[graft] def applyBucketCap(banded: DataFrame, keys: Seq[String],
                                    idCol: String, maxBucket: Int,
                                    hot: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    val cold = banded.join(broadcast(hot), keys, "left_anti")
    val w = Window.partitionBy(kc: _*).orderBy(col(idCol).asc)
    val kept = banded.join(broadcast(hot), keys, "left_semi")
      .withColumn("__bucket_rn", row_number().over(w))
      .filter(col("__bucket_rn") <= maxBucket).drop("__bucket_rn")
    cold.unionByName(kept)
  }

  /** Per-bucket population of a band table with the cap verdict — the
    * observability half of [[capBuckets]]: a curation cadence runs this
    * over the same banding to see WHICH buckets are pathological and how
    * much the cap sacrificed, instead of the guard acting silently.
    * Output: (band_idx, band_key, bucket_n, truncated), hot buckets first. */
  def hotBucketStats(banded: DataFrame, keys: Seq[String],
                     maxBucket: Int = HotBucketCap): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .withColumn("truncated", col("bucket_n") > maxBucket)
      .orderBy(col("bucket_n").desc +: keys.map(col(_).asc): _*)

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    * Candidates come only from shared LSH buckets; each candidate pair is
    * verified on its true shingle sets. Output: (id_a, id_b, jaccard).
    * Oracle-reproducible md5 hash family; see [[minHashPairsFast]] for the
    * xxhash64 production variant (same pair set, ~10× cheaper signatures). */
  def minHashPairs(docs: DataFrame, n: Int = 3, k: Int = 16,
                   bands: Int = 4, rows: Int = 4, threshold: Double = 0.8,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucket: Int = HotBucketCap): DataFrame =
    minHashPairsImpl(docs, n, k, bands, rows, threshold, idCol, textCol,
      minHashSigUdf, maxBucket)

  /** minHashPairs on the xxhash64 signature kernel — the scale default. The
    * verified output is hash-family-independent (true-Jaccard filtered), so
    * for any corpus where banding recall holds it emits the identical pair
    * set, at a fraction of the signature cost. (One caveat: bucket
    * membership IS hash-family-dependent, so on a corpus with buckets past
    * `maxBucket` the two kernels may truncate different overflow docs —
    * parity holds wherever the hot-bucket guard does not engage.) */
  def minHashPairsFast(docs: DataFrame, n: Int = 3, k: Int = 16,
                       bands: Int = 4, rows: Int = 4, threshold: Double = 0.8,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxBucket: Int = HotBucketCap): DataFrame =
    minHashPairsImpl(docs, n, k, bands, rows, threshold, idCol, textCol,
      minHashSigFastUdf, maxBucket)

  private def minHashPairsImpl(docs: DataFrame, n: Int, k: Int,
                               bands: Int, rows: Int, threshold: Double,
                               idCol: String, textCol: String,
                               sigUdf: org.apache.spark.sql.expressions.UserDefinedFunction,
                               maxBucket: Int = HotBucketCap): DataFrame = {
    require(bands * rows == k, "bands*rows must equal signature length")
    // persist: the shingle/signature subtrees feed BOTH sides of the
    // candidate self-join plus verification — without it they recompute
    // (hash-per-shingle-per-seed) once per downstream stage
    val sh = graft.Caches.persistTracked(docs.select(col(idCol), shinglesUdf(col(textCol), lit(n)).as("sh")))
    // persist BEFORE the cap: the guard's phases rescan their input, and
    // the signature kernel must run once, not once per phase
    val banded0 = graft.Caches.persistTracked(
      bandTable(sh, idCol, k, bands, rows, sigUdf))
    val capped = capBuckets(banded0, Seq("band_idx", "band_key"), idCol, maxBucket)
    // persist AFTER the cap too, but only when the guard actually engaged
    // (capBuckets returns its input object unchanged on a healthy corpus):
    // the capped union (anti ∪ window-over-semi) otherwise re-evaluates
    // once per candidate-join side (guide §2.4 — measured +0.6 s on the
    // engaged dedup_minhash_capped fixture in the r20 interleave)
    val banded =
      if (capped eq banded0) banded0 else graft.Caches.persistTracked(capped)
    val left  = banded.select(col("band_idx"), col("band_key"), col(idCol).as("id_a"))
    val right = banded.select(col("band_idx"), col("band_key"), col(idCol).as("id_b"))
    val candidates = left.join(right, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyJaccard(candidates, sh, idCol, threshold)
  }

  /** (id, band_idx, band_key) rows for LSH bucketing. */
  private def bandTable(sh: DataFrame, idCol: String, k: Int, bands: Int, rows: Int,
                        sigUdf: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    sh.select(col(idCol),
      posexplode(bandKeys(sigUdf(col("sh"), lit(k)), bands, rows))
        .as(Seq("band_idx", "band_key")))

  /** The hot-bucket guard's observability report over the SAME one-pass
    * md5 signature kernel the pairs path runs ([[minHashPairs]] —
    * oracle-replayable band keys): per-bucket sizes plus would-truncate
    * flags at `maxBucket`. The inline Column signature
    * ([[minHashSignature]]) exists for SQL expressibility, but as a
    * report input it re-evaluates k per-shingle hash trees under the
    * generator — measured 19 s vs ~1 s for the same rows at sf0.1. */
  def hotBucketReport(docs: DataFrame, n: Int = 3, k: Int = 16,
                      bands: Int = 4, rows: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxBucket: Int = HotBucketCap): DataFrame = {
    require(bands * rows == k, "bands*rows must equal signature length")
    hotBucketStats(
      bandTable(minHashShingleTable(docs, n, idCol, textCol),
        idCol, k, bands, rows, minHashSigUdf),
      Seq("band_idx", "band_key"), maxBucket)
  }

  /** (id, sh) shingle table — the storable corpus input to incremental
    * dedup (see BandCatalog). */
  def minHashShingleTable(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    docs.select(col(idCol), shinglesUdf(col(textCol), lit(n)).as("sh"))

  /** (id, band_idx, band_key) band table on the xxhash64 production
    * kernel — the storable corpus index for incremental dedup. */
  def minHashBandTable(sh: DataFrame, k: Int = 16, bands: Int = 4, rows: Int = 4,
                       idCol: String = "doc_id"): DataFrame = {
    // same invariant as every other banding entry point: inconsistent
    // shapes would slice past the signature into empty band keys shared by
    // EVERY document — an all-pairs candidate explosion, not an error
    require(bands * rows == k, "bands*rows must equal signature length")
    bandTable(sh, idCol, k, bands, rows, minHashSigFastUdf)
  }

  /** Incremental near-dup: verified pairs that INVOLVE the new batch —
    * new×corpus and new×new, never corpus×corpus. This is the shape a
    * production ingest actually runs: a daily increment lands against a
    * 100 TB corpus, and re-banding the corpus against itself (what calling
    * [[minHashPairs]] on the union would do) re-verifies every historical
    * pair on every ingest. Here the band join is new-side × all-side, so
    * candidate volume scales with |new| × bucket-mates; with corpus band
    * tables persisted storage-side (ChunkCatalog-style, the documented
    * deployment), the corpus cost per ingest is a bucket-key join against
    * a bucketed table — no corpus re-hash at all.
    *
    * Recall is identical to running [[minHashPairs]] over corpus ∪ new and
    * keeping the new-involving pairs: both sides band with the same
    * signature scheme, so a pair shares a bucket in one formulation iff it
    * does in the other. (Qualified since the hot-bucket guard: the
    * identity holds wherever no bucket exceeds `maxBucket` — on an
    * over-cap bucket the two formulations may keep different
    * representatives, because this form caps only the batch side while
    * the combined form caps the union.) Output is canonical
    * (id_a < id_b, true-Jaccard verified ≥ threshold). Ids must be unique
    * across both inputs. */
  def minHashPairsIncremental(newDocs: DataFrame, corpus: DataFrame,
                              n: Int = 3, k: Int = 16, bands: Int = 4, rows: Int = 4,
                              threshold: Double = 0.8, idCol: String = "doc_id",
                              textCol: String = "text",
                              maxBucket: Int = HotBucketCap): DataFrame = {
    require(bands * rows == k, "bands*rows must equal signature length")
    val shNew = graft.Caches.persistTracked(
      newDocs.select(col(idCol), shinglesUdf(col(textCol), lit(n)).as("sh")))
    val shOld = graft.Caches.persistTracked(
      corpus.select(col(idCol), shinglesUdf(col(textCol), lit(n)).as("sh")))
    // cap the BATCH side only: new×corpus candidate volume is then at most
    // maxBucket × |corpus bucket| — linear in the corpus bucket (an
    // ordinary skewed join AQE handles), never quadratic; a corpus-side
    // window here would shuffle the whole corpus band table, the exact
    // cost this incremental form exists to avoid
    val bandedNew = capBuckets(
      graft.Caches.persistTracked(bandTable(shNew, idCol, k, bands, rows, minHashSigFastUdf)),
      Seq("band_idx", "band_key"), idCol, maxBucket)
    val bandedAll = bandTable(shOld, idCol, k, bands, rows, minHashSigFastUdf)
      .unionByName(bandedNew)
    val candidates = bandedNew.select(col("band_idx"), col("band_key"), col(idCol).as("__new"))
      .join(bandedAll.select(col("band_idx"), col("band_key"), col(idCol).as("__other")),
        Seq("band_idx", "band_key"))
      .filter(col("__new") =!= col("__other"))
      .select(least(col("__new"), col("__other")).as("id_a"),
              greatest(col("__new"), col("__other")).as("id_b"))
      .distinct()
    verifyJaccard(candidates, shNew.unionByName(shOld), idCol, threshold)
  }

  /** [[minHashPairsIncremental]] against a STORED corpus index: the corpus
    * shingle and band tables come from storage (BandCatalog — bucketed on
    * their join keys) instead of being re-derived per ingest. The
    * new×corpus candidate join reads the bucketed band table with no
    * corpus-side exchange and no corpus re-hash; only the (small) new
    * batch is hashed and shuffled to the corpus bucketing. The new×new
    * candidates come from a separate self-join of the batch (unioning
    * band tables first would discard the stored side's bucketing), and
    * verification reads the stored shingles. Output is identical to the
    * derive-everything form wherever no bucket exceeds the hot-bucket cap;
    * on an over-cap corpus bucket the stored side was additionally capped
    * at BUILD time (BandCatalog.corpusBands), so pairs against that
    * bucket's overflow docs are sacrificed here but not in the
    * derive-everything form (whose corpus side is uncapped).
    *
    * The MinHash shape (n, k, bands, rows) is deliberately NOT a
    * parameter: it is baked into the stored tables at index-build time,
    * and banding the new batch with a different shape would silently
    * collapse recall (band keys from different gram/signature spaces
    * almost never collide) rather than fail. The new side always uses the
    * same defaults BandCatalog builds with; custom shapes belong on the
    * derive-everything [[minHashPairsIncremental]]. */
  def minHashPairsIncrementalStored(newDocs: DataFrame, corpusShingles: DataFrame,
                                    corpusBands: DataFrame,
                                    threshold: Double = 0.8, idCol: String = "doc_id",
                                    textCol: String = "text",
                                    maxBucket: Int = HotBucketCap): DataFrame = {
    val shNew = graft.Caches.persistTracked(minHashShingleTable(newDocs, 3, idCol, textCol))
    // batch-side cap only (window over the batch is cheap); the stored
    // corpus side stays bucketed and exchange-free — see
    // minHashPairsIncremental for why that bounds candidates at
    // maxBucket × |corpus bucket|, linear not quadratic
    val bandedNew = capBuckets(
      graft.Caches.persistTracked(minHashBandTable(shNew, 16, 4, 4, idCol)),
      Seq("band_idx", "band_key"), idCol, maxBucket)
    val newSide = bandedNew.select(col("band_idx"), col("band_key"), col(idCol).as("__new"))
    def otherSide(b: DataFrame) =
      b.select(col("band_idx"), col("band_key"), col(idCol).as("__other"))
    val candidates = newSide.join(otherSide(corpusBands), Seq("band_idx", "band_key"))
      .unionByName(newSide.join(otherSide(bandedNew), Seq("band_idx", "band_key")))
      .filter(col("__new") =!= col("__other"))
      .select(least(col("__new"), col("__other")).as("id_a"),
              greatest(col("__new"), col("__other")).as("id_b"))
      .distinct()
    verifyJaccard(candidates, shNew.unionByName(corpusShingles), idCol, threshold)
  }

  /** Exact n-gram Jaccard pairs (ground truth for the LSH path) with
    * EXACT prefix filtering (Bayardo et al., WWW'07 / SSJoin): under a
    * global canonical shingle ordering, any pair with J ≥ t must share an
    * element inside both docs' (|x| − ⌈t·|x|⌉ + 1)-prefixes — so only
    * prefixes are exploded and joined, with zero recall loss; survivors are
    * verified on their full shingle sets.
    *
    * The canonical order is ASCENDING DOCUMENT FREQUENCY (the SSJoin
    * heuristic), not hash order: prefixes then hold each document's rarest
    * shingles, so candidate volume scales with rare-shingle collisions
    * instead of corpus-common ones (on the sf0.1 fixture: ~2k candidates vs
    * ~225k under hash order, for the same exact output). The df table is one
    * extra aggregation — scale-safe at 100 TB. */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = graft.Caches.persistTracked(docs.select(col(idCol), shinglesUdf(col(textCol), lit(n)).as("sh")))
    val tok = sh.select(col(idCol), size(col("sh")).as("len"), explode(col("sh")).as("s"))
    val dfreq = tok.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("df").asc, md5Hash60(col("s"), lit(0)).asc, col("s").asc)
    // persist: the prefix table feeds BOTH sides of the candidate self-join —
    // without it the whole explode → doc-frequency → per-doc window pipeline
    // (the expensive 2/3 of this operator) evaluates once per join side
    // (measured 3.37 s → 2.30 s at sf0.1 from this persist alone).
    //
    // The persisted/joined payload is (id, xxhash64(shingle)) — 16 bytes a
    // row — NOT the shingle string (guide §2.3 narrower types: the string
    // is ~2-3× the bytes in cache and in both candidate-join exchanges). A
    // 64-bit collision can only ADD a candidate pair, and every candidate
    // is verified on its true shingle sets below, so the output is provably
    // unchanged: any pair at jaccard ≥ threshold already shares a REAL
    // prefix shingle (the SSJoin prefix theorem — the window above still
    // orders true strings), and any collision-born pair below threshold is
    // dropped by the verify.
    val prefix = graft.Caches.persistTracked(tok.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("len") - ceil(lit(threshold) * col("len")) + 1)
      .select(col(idCol), xxhash64(col("s")).as("hs")))
    val candidates = prefix.select(col("hs"), col(idCol).as("id_a"))
      .join(prefix.select(col("hs"), col(idCol).as("id_b")), "hs")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyJaccard(candidates, sh, idCol, threshold)
  }

  private def verifyJaccard(candidates: DataFrame, sh: DataFrame,
                            idCol: String, threshold: Double): DataFrame = {
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // -------------------------------------------------------------- simhash

  val SimHashBits = 60

  /** SimHash bit signature (array of 60 0/1 longs): per bit, sign of the
    * vote sum over token hashes. Kept as a bit array (not packed) so the
    * same expression is directly reproducible in SQL oracles. */
  def simHashBits(textCol: Column,
                  hash: (Column, Column) => Column = md5Hash60): Column = {
    val hashes = transform(words(textCol), t => hash(t, lit(0)))
    array((0 until SimHashBits).map { j =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1) * 2 - 1)) > 0, lit(1L))
        .otherwise(lit(0L))
    }: _*)
  }

  /** Packed bit-string form, e.g. "0110…" (msb-first by bit index order). */
  def simHashString(textCol: Column): Column =
    array_join(simHashBitsUdf(textCol), "")

  /** Packed 60-bit SimHash signature (bit j of the long = bit j of
    * simHashBitsScala) — one long per document instead of a 60-element
    * array, so banding and hamming run as codegen'd integer ops. */
  private val simHashPackedUdf = udf((text: String) => {
    val bits = simHashBitsScala(text)
    var p = 0L
    var j = 0
    while (j < bits.length) { p |= bits(j) << j; j += 1 }
    p
  })

  /** SimHash near-duplicate pairs: banding on `blocks` equal bit-blocks
    * (pigeonhole guarantees recall for hamming < blocks), hamming-verified.
    * Output: (id_a, id_b, hamming). Block keys are shift/mask slices of the
    * packed signature and the verify is `bit_count(a XOR b)` — fully inside
    * whole-stage codegen; on vocabulary-skewed corpora block collisions are
    * common (~800k candidates on the sf0.1 fixture), so the per-candidate
    * cost is what dominates. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3, blocks: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucket: Int = HotBucketCap): DataFrame = {
    require(maxHamming < blocks, "pigeonhole recall needs maxHamming < blocks")
    require(SimHashBits % blocks == 0)
    val blockLen = SimHashBits / blocks
    // persist: the signature kernel feeds banding + both verify join sides
    val sigs = graft.Caches.persistTracked(docs.select(col(idCol), simHashPackedUdf(col(textCol)).as("sig")))
    val blockKeys = array((0 until blocks).map { b =>
      shiftright(col("sig"), b * blockLen).bitwiseAND(lit((1L << blockLen) - 1))
    }: _*)
    val banded = capBuckets(sigs
      .select(col(idCol), col("sig"),
        posexplode(blockKeys).as(Seq("block_idx", "block_key"))),
      Seq("block_idx", "block_key"), idCol, maxBucket)
    val candidates = banded
      .select(col("block_idx"), col("block_key"), col(idCol).as("id_a"), col("sig").as("sig_a"))
      .join(banded.select(col("block_idx"), col("block_key"),
          col(idCol).as("id_b"), col("sig").as("sig_b")),
        Seq("block_idx", "block_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
    candidates
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs — exact all-pairs form. Collects
    * and broadcasts the corpus matrix, so it is the right tool ONLY up to
    * broadcast capacity (fixture scale / ≲1M small vectors); at 100 TB use
    * [[embeddingPairsDistributed]], which keeps both sides distributed. */
  def embeddingPairs(docs: DataFrame, minCosine: Double,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    VectorSearch.similarityJoin(docs, minCosine, embCol, idCol)

  /** Embedding-cosine near-duplicate pairs — the scale path: LSH-bucketed
    * candidates (shuffle on bucket keys only, never all-pairs, no driver
    * collect) exact-re-scored against the raw embeddings, so every emitted
    * pair carries the same cosine the exact path would compute; only recall
    * is approximate (OR-amplified across hash tables). As the NEAR-DUP
    * surface this form opts into the hot-bucket guard ([[capBuckets]],
    * `maxBucket` smallest ids kept per projection bucket): a bucket
    * overflowing a production-sized cap under a near-dup threshold is
    * boilerplate-shaped embedding mass, the exact pathology the guard
    * bounds — recall inside such a bucket degrades to its representatives
    * rather than the job degrading to D²/2. Pass `maxBucket = 0` (or use
    * `Similarity.lshJoin` directly, whose default is off) for the
    * uncapped exact-candidate contract. */
  def embeddingPairsDistributed(docs: DataFrame, minCosine: Double,
                                idCol: String = "vec_id",
                                embCol: String = "embedding",
                                maxBucket: Int = HotBucketCap): DataFrame =
    Similarity.lshJoin(docs, minCosine, idCol = idCol, embCol = embCol,
      maxBucket = maxBucket)

  /** Incremental celled near-dup against a STORED IVF index — the ingest
    * form of [[embeddingPairsCelled]], completing the same deployment story
    * [[minHashPairsIncrementalStored]] tells for text: the corpus was
    * assigned and written `partitionBy(centroid_id)` ONCE (graft.IvfCatalog);
    * a new batch probes its own top-`nprobe` cells, and the corpus scan
    * prunes to exactly those partition directories (a static IN over the
    * partition key — file-level pruning, asserted by PlanSpec). Ingest cost
    * is batch × its cells: the corpus is never re-assigned, re-read in
    * full, or joined through a materialized candidate set. Emits only
    * new-involving pairs (new×corpus and new×new, never corpus×corpus),
    * exact cosine, canonical (left < right). Recall: a new×corpus pair is
    * found iff the corpus vector's stored top-1 cell is among the new
    * vector's top-`nprobe` cells — the multi-probe overlap, 1.0 for
    * near-identical vectors. Ids must be unique across both inputs. */
  def embeddingPairsCelledIncremental(newVecs: DataFrame, assignedStore: DataFrame,
                                      centroids: DataFrame, minCosine: Double,
                                      nprobe: Int = 2,
                                      idCol: String = "vec_id",
                                      embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.cosineArrays
    val spark = newVecs.sparkSession
    import spark.implicits._
    val cents = graft.IndexMeta.centroids(centroids)
    require(cents.nonEmpty, "embeddingPairsCelledIncremental needs centroids")
    val bc = spark.sparkContext.broadcast(cents)
    val probes = math.min(nprobe, cents.length)
    val topCellsUdf = udf { (v: Seq[Float]) =>
      val a = v.toArray
      bc.value.map { case (cid, cv) => (cid, cosineArrays(a, cv)) }
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(probes).map(_._1)
    }
    val batchCelled = newVecs.filter(col(embCol).isNotNull)
      .select(explode(topCellsUdf(col(embCol))).as("__cell"),
        col(idCol).cast("long").as("__id"), col(embCol).as("__emb"),
        lit(true).as("__new"))
    // the batch's probed cells — bounded by nlist, resolved driver-side so
    // the store filter is a STATIC IN over the partition key
    val probed = batchCelled.select("__cell").distinct().collect().map(_.getLong(0))
    // null embeddings are a supported input shape (ivfAssign keeps them, so
    // a stored index may contain them) — drop them here like the batch side,
    // or the kernel would NPE on r._3.toArray
    val storeCelled = assignedStore
      .filter(col("centroid_id").isin(probed.toIndexedSeq: _*))
      .filter(col(embCol).isNotNull)
      .select(col("centroid_id").cast("long").as("__cell"),
        col(idCol).cast("long").as("__id"), col(embCol).as("__emb"),
        lit(false).as("__new"))
    val bar = minCosine
    batchCelled.unionByName(storeCelled)
      .repartition(col("__cell"))
      .sortWithinPartitions(col("__cell"), col("__id"))
      .as[(Long, Long, Seq[Float], Boolean)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[Iterator[(Long, Long, Double)]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Iterator[(Long, Long, Double)] = {
            val cell = rows.head._1
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Boolean)]
            while (rows.hasNext && rows.head._1 == cell)
              { val r = rows.next(); buf += ((r._2, r._3.toArray, r._4)) }
            for {
              i <- buf.indices.iterator
              j <- (i + 1 until buf.length).iterator
              if buf(i)._3 || buf(j)._3 // at least one side is new
              cos = cosineArrays(buf(i)._2, buf(j)._2)
              if cos >= bar
            } yield (buf(i)._1, buf(j)._1, cos)
          }
        }.flatten
      }
      .toDF("left_id", "right_id", "cosine")
      .distinct()
  }

  /** [[embeddingPairsCelledIncremental]] for corpora whose ids are STRINGS
    * (the flagship chunk store's md5 chunk ids) — same celled incremental
    * dataflow: batch probes its top-`nprobe` cells, the store scan prunes
    * to those partition directories, pairs are exact cosine with at least
    * one new side. Canonical order is lexicographic (left < right as
    * strings) — the string-keyed twin of the long kernel's numeric
    * canonicalization, kept separate because the long kernel's pair
    * orientation is oracle-pinned. */
  def embeddingPairsCelledIncrementalById(newVecs: DataFrame, assignedStore: DataFrame,
                                          centroids: DataFrame, minCosine: Double,
                                          nprobe: Int = 2,
                                          idCol: String = "chunk_id",
                                          embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.cosineArrays
    val spark = newVecs.sparkSession
    import spark.implicits._
    val cents = graft.IndexMeta.centroids(centroids)
    require(cents.nonEmpty, "embeddingPairsCelledIncrementalById needs centroids")
    val bc = spark.sparkContext.broadcast(cents)
    val probes = math.min(nprobe, cents.length)
    val topCellsUdf = udf { (v: Seq[Float]) =>
      val a = v.toArray
      bc.value.map { case (cid, cv) => (cid, cosineArrays(a, cv)) }
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(probes).map(_._1)
    }
    val batchCelled = newVecs.filter(col(embCol).isNotNull)
      .select(explode(topCellsUdf(col(embCol))).as("__cell"),
        col(idCol).cast("string").as("__id"), col(embCol).as("__emb"),
        lit(true).as("__new"))
    val probed = batchCelled.select("__cell").distinct().collect().map(_.getLong(0))
    val storeCelled = assignedStore
      .filter(col("centroid_id").isin(probed.toIndexedSeq: _*))
      .filter(col(embCol).isNotNull)
      .select(col("centroid_id").cast("long").as("__cell"),
        col(idCol).cast("string").as("__id"), col(embCol).as("__emb"),
        lit(false).as("__new"))
    val bar = minCosine
    batchCelled.unionByName(storeCelled)
      .repartition(col("__cell"))
      .sortWithinPartitions(col("__cell"), col("__id"))
      .as[(Long, String, Seq[Float], Boolean)]
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[Iterator[(String, String, Double)]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Iterator[(String, String, Double)] = {
            val cell = rows.head._1
            val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Float], Boolean)]
            while (rows.hasNext && rows.head._1 == cell)
              { val r = rows.next(); buf += ((r._2, r._3.toArray, r._4)) }
            for {
              i <- buf.indices.iterator
              j <- (i + 1 until buf.length).iterator
              if buf(i)._3 || buf(j)._3 // at least one side is new
              cos = cosineArrays(buf(i)._2, buf(j)._2)
              if cos >= bar
            } yield (buf(i)._1, buf(j)._1, cos)
          }
        }.flatten
      }
      .toDF("left_id", "right_id", "cosine")
      .distinct()
  }

  /** BATCHED-PROBE form of [[embeddingPairsCelledIncremental]] — identical
    * output (same pairs, same canonical order, same recall contract), a
    * fundamentally different dataflow sized for the ingest hot path at
    * decade scale. The original kernel `repartition(__cell)`s the union of
    * batch and every probed cell's STORE rows; at law nlist a 500-chunk
    * batch probes ~2·nprobe·batch distinct cells ≈ 13% of a 50M-chunk
    * store, so each micro-batch pays a corpus-scale shuffle that grows
    * with the STORE, not the batch (measured ×10000: 232–266 s flag vs
    * 41.8 s append floor — SCALE.md round 15).
    *
    * This form is the [[graft.operators.Similarity.pqSearchBatch]]
    * dataflow: the batch (broadcast-scale BY CONTRACT, like every
    * micro-batch and every batch-query table in this library) is collected
    * once, its top-`nprobe` cells computed driver-side, and the per-cell
    * query lists broadcast; the store scan then prunes to the probed
    * partition directories (static IN over the partition key, same as the
    * original) and each store row is scored IN PLACE against the ≤
    * batch-sized query list of its own cell — zero store-side shuffle,
    * zero store rows moved. new×new pairs are resolved driver-side over
    * the collected batch (the per-cell double loop the executor kernel ran,
    * restricted to new rows), deduped across shared cells exactly as the
    * original's trailing `.distinct()` did.
    *
    * Parity argument, pinned row-equal by OperatorSpec on the planted
    * fixture and oracle-checked end-to-end by `dedup_celled_incremental`:
    * a (new, stored) pair survives iff the stored row's top-1 cell is
    * among the new row's top-`nprobe` cells — here that is literally "the
    * store row's own partition key appears in the broadcast probe map";
    * a (new, new) pair survives iff the two share ≥1 probed cell — the
    * driver loop iterates the same per-cell buffers. Cosines come from the
    * same [[graft.functions.VectorFunctions.cosineArrays]] kernel on both
    * sides, so values are bit-identical. */
  def embeddingPairsCelledIncrementalBatched(newVecs: DataFrame, assignedStore: DataFrame,
                                             centroids: DataFrame, minCosine: Double,
                                             nprobe: Int = 2,
                                             idCol: String = "vec_id",
                                             embCol: String = "embedding"): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    celledIncrementalBatchedCore[Long](newVecs, assignedStore, centroids,
      minCosine, nprobe, idCol, embCol, "long")(
      Ordering.Long, implicitly, implicitly, implicitly)
  }

  /** String-id twin of [[embeddingPairsCelledIncrementalBatched]] (the
    * flagship chunk store's md5 chunk ids) — the batched replacement for
    * [[embeddingPairsCelledIncrementalById]], same output. Canonical pair
    * order uses UTF-8 binary comparison ([[graft.functions.Orderings.utf8]])
    * so left < right agrees byte-for-byte with the original kernel's
    * Spark-side string sort. */
  def embeddingPairsCelledIncrementalByIdBatched(newVecs: DataFrame, assignedStore: DataFrame,
                                                 centroids: DataFrame, minCosine: Double,
                                                 nprobe: Int = 2,
                                                 idCol: String = "chunk_id",
                                                 embCol: String = "embedding"): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    celledIncrementalBatchedCore[String](newVecs, assignedStore, centroids,
      minCosine, nprobe, idCol, embCol, "string")(
      graft.functions.Orderings.utf8, implicitly, implicitly, implicitly)
  }

  /** Shared core of the two batched incremental kernels. `idCast` is the
    * Spark cast target for the id column ("long" | "string"); `ord` gives
    * the canonicalization (numeric vs UTF-8 binary). The store-side pass
    * emits each (new, stored) pair at most once (a store row lives in
    * exactly ONE cell), so only the driver-resolved new×new set needs
    * cross-cell dedup; the trailing distinct is kept anyway for exact
    * behavioral parity with the original kernels on degenerate stores
    * (duplicate ids). */
  private def celledIncrementalBatchedCore[K](
      newVecs: DataFrame, assignedStore: DataFrame, centroids: DataFrame,
      minCosine: Double, nprobe: Int, idCol: String, embCol: String,
      idCast: String)(
      implicit ord: Ordering[K],
      kct: scala.reflect.ClassTag[K],
      storeEnc: org.apache.spark.sql.Encoder[(Long, K, Seq[Float])],
      pairEnc: org.apache.spark.sql.Encoder[(K, K, Double)]): DataFrame = {
    import graft.functions.VectorFunctions.cosineArrays
    val spark = newVecs.sparkSession
    val cents = graft.IndexMeta.centroids(centroids)
    require(cents.nonEmpty, "celledIncrementalBatched needs centroids")
    val probes = math.min(nprobe, cents.length)
    // batch collected ONCE — broadcast-scale by contract (micro-batches);
    // probing runs driver-side over the same collected array, so the
    // executors never see a batch row except through the broadcast
    val batchRows: Array[(K, Array[Float])] = newVecs
      .filter(col(embCol).isNotNull)
      .select(col(idCol).cast(idCast), col(embCol))
      .collect()
      .map(r => (r.get(0).asInstanceOf[K], r.getSeq[Float](1).toArray))
    if (batchRows.isEmpty)
      return spark.emptyDataset(pairEnc)
        .toDF("left_id", "right_id", "cosine")
    val topCells: Array[Array[Long]] = batchRows.map { case (_, v) =>
      cents.map { case (cid, cv) => (cid, cosineArrays(v, cv)) }
        .sortBy { case (cid, cos) => (-cos, cid) }
        .take(probes).map(_._1)
    }
    // cell → indices of the batch vectors probing it
    val byCell: Map[Long, Array[Int]] = topCells.zipWithIndex
      .flatMap { case (cells, i) => cells.map(c => (c, i)) }
      .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).sorted) }
    val bar = minCosine
    // driver-resolved new×new pairs: the per-cell double loop of the
    // original kernel restricted to new rows, deduped across shared cells
    val newNew = scala.collection.mutable.LinkedHashSet.empty[(K, K, Double)]
    byCell.toSeq.sortBy(_._1).foreach { case (_, idxs) =>
      var i = 0
      while (i < idxs.length) {
        var j = i + 1
        while (j < idxs.length) {
          val (ia, ib) = (idxs(i), idxs(j))
          val cos = cosineArrays(batchRows(ia)._2, batchRows(ib)._2)
          if (cos >= bar) {
            val (a, b) = (batchRows(ia)._1, batchRows(ib)._1)
            newNew += (if (ord.lt(a, b)) (a, b, cos) else (b, a, cos))
          }
          j += 1
        }
        i += 1
      }
    }
    val probed = byCell.keys.toArray.sorted
    // store scan pruned to the probed partition directories (static IN,
    // same pruning PlanSpec pins on the original kernel) and scored IN
    // PLACE by a BROADCAST join against the tiny (cell, query) table —
    // store rows stream through whole-stage codegen (the codegen cosine
    // expression, bit-identical fold to cosineArrays) instead of being
    // deserialized into Scala objects per row — the decade priced the
    // mapPartitions form's ~7M-row Seq[Float] decode at ~100 s of the
    // 140 s flagged batch. No repartition; no store row leaves its split.
    val probeRows: Seq[(Long, K, Seq[Float])] = byCell.toSeq.sortBy(_._1).flatMap {
      case (cell, idxs) => idxs.map(i => (cell, batchRows(i)._1, batchRows(i)._2.toSeq))
    }
    val probesDf = spark.createDataset(probeRows)(storeEnc)
      .toDF("centroid_id", "__qid", "__qvec")
    val sid = col(idCol).cast(idCast)
    val qid = col("__qid")
    val storePairs = assignedStore
      .filter(col("centroid_id").isin(probed.toIndexedSeq: _*))
      .filter(col(embCol).isNotNull)
      .select(col("centroid_id").cast("long").as("centroid_id"),
        col(idCol).cast(idCast).as(idCol), col(embCol))
      .join(broadcast(probesDf), Seq("centroid_id"))
      .withColumn("__cos",
        graft.functions.VectorFunctions.cosineSimilarity(col(embCol), col("__qvec")))
      .filter(col("__cos") >= bar)
      .select(
        when(qid < sid, qid).otherwise(sid).as("left_id"),
        when(qid < sid, sid).otherwise(qid).as("right_id"),
        col("__cos").as("cosine"))
      .as[(K, K, Double)](pairEnc)
    val newNewDs = spark.createDataset(newNew.toSeq)(pairEnc)
    storePairs.union(newNewDs)
      .toDF("left_id", "right_id", "cosine")
      .distinct()
  }

  /** Per BATCH chunk id, the lexically-smallest near-dup counterpart out of
    * an incremental `pairs` table — the flag-derivation shared by the
    * ingest loop and the upsert path. One evaluation of `pairs`: both
    * directions come out of a single explode over the pair row (the
    * previous two-projection union evaluated the kernel twice, which is
    * why those call sites had to persist), then batch rows are selected by
    * a broadcast semi-join on the batch's own ids and the smallest
    * counterpart wins (min over Spark's UTF-8 binary string order —
    * identical representative to the original selection). */
  private[graft] def nearDupFlags(pairs: DataFrame, batchIds: DataFrame): DataFrame = {
    pairs
      .select(explode(array(
        struct(col("left_id").as("chunk_id"), col("right_id").as("__other")),
        struct(col("right_id").as("chunk_id"), col("left_id").as("__other")))).as("e"))
      .select(col("e.chunk_id").as("chunk_id"), col("e.__other").as("__other"))
      .join(broadcast(batchIds), Seq("chunk_id"), "left_semi")
      .groupBy("chunk_id").agg(min(col("__other")).as("near_dup_of"))
  }

  /** Embedding near-dup for the DENSE regime — the celled path for corpora
    * whose bulk sits just under the cosine bar, where banded LSH stops
    * pruning and its re-score join explodes (the measured SCALE.md round-6
    * limit). IVF-style: every vector joins its `nprobe` nearest of `nlist`
    * centroid cells; pairs are scored INSIDE a per-cell kernel over an
    * in-memory cell buffer and only survivors are emitted. The shuffle is
    * therefore ONE corpus pass keyed by cell (× nprobe rows) — a candidate
    * join is never materialized, which is exactly what filled the disk in
    * the banded form. Memory bound = one cell's vectors: pick `nlist` ≈
    * corpus / desired cell size (the cells are IvfCatalog's stored
    * partitioning at scale, so the pass can also prune to changed cells).
    *
    * Precision 1 by construction (exact cosine, canonical id_a < id_b).
    * Recall = P(a near pair shares one of each side's top-`nprobe` cells) —
    * 1.0 for near-identical vectors whose top cell coincides; measured on
    * the planted fixtures by OperatorSpec and on the ×10/×100 corpora in
    * SCALE.md. Centroids default to the seeded deterministic sample
    * (SQL-oracle-replayable); pass [[Similarity.kmeansCentroids]] output
    * via `centroids` for production quality — same kernel, same plan. */
  def embeddingPairsCelled(emb: DataFrame, minCosine: Double, nlist: Int = 64,
                           step: Long = 31L, nprobe: Int = 2,
                           idCol: String = "vec_id", embCol: String = "embedding",
                           centroids: Option[DataFrame] = None,
                           coarseProbes: Option[Int] = None): DataFrame = {
    import graft.functions.VectorFunctions.cosineArrays
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = centroids.getOrElse(
      Similarity.seededCentroids(emb, nlist, step, idCol, embCol))
    // index metadata: tiny by construction (nlist rows)
    val cents = graft.IndexMeta.centroids(centDf)
    require(cents.nonEmpty, "embeddingPairsCelled needs at least one centroid")
    val bc = spark.sparkContext.broadcast(cents)
    val probes = math.min(nprobe, cents.length)
    // cell assignment per vector. Exact form (coarseProbes = None) scores
    // every centroid — O(nlist · d) per vector, SQL-oracle-replayable; the
    // registered queries stay on it. With coarseProbes = Some(w) the scan
    // goes two-level: a √nlist stride-sample of the centroids is scored
    // first, the top-w coarse groups are opened, and only their member
    // centroids are scored — O((√nlist + w·√nlist) · d) per vector. That
    // removes the O(n · nlist) assignment wall the ×100 sweep measured at
    // nlist ≥ 2048 (the term that forces the one-shot job to O(n^1.5));
    // recall loss is the probability a true top cell hides in an unopened
    // coarse group, driven down by w — measured in SCALE.md, not assumed.
    val topCellsUdf = coarseProbes match {
      case None => udf { (v: Seq[Float]) =>
        val a = v.toArray
        bc.value.map { case (cid, cv) => (cid, cosineArrays(a, cv)) }
          .sortBy { case (cid, cos) => (-cos, cid) } // deterministic tie-break
          .take(probes).map(_._1)
      }
      case Some(w) =>
        val nCoarse = math.max(1, math.sqrt(cents.length.toDouble).round.toInt)
        val stride = math.max(1, cents.length / nCoarse)
        // coarse representatives: deterministic stride sample of the
        // centroid table; position p represents cents(repIdx(p))
        val repIdx = cents.indices.by(stride).take(nCoarse).toArray
        val repVecs = repIdx.map(cents(_)._2)
        // every centroid joins its best coarse position (driver loop over
        // nlist × √nlist — index metadata, trivial)
        val memberOf = cents.indices.map { i =>
          var best = 0; var bestCos = Double.NegativeInfinity; var p = 0
          while (p < repVecs.length) {
            val c = cosineArrays(cents(i)._2, repVecs(p))
            if (java.lang.Double.compare(c, bestCos) > 0) { bestCos = c; best = p }
            p += 1
          }
          best
        }.toArray
        val groups = Array.tabulate(repVecs.length)(p =>
          cents.indices.filter(memberOf(_) == p).map(cents(_)).toArray)
        val wOpen = math.min(w, repVecs.length)
        val bcTree = spark.sparkContext.broadcast((repVecs, groups))
        udf { (v: Seq[Float]) =>
          val a = v.toArray
          val (reps, grps) = bcTree.value
          val opened = reps.indices
            .map(p => (p, cosineArrays(a, reps(p))))
            .sortBy { case (p, cos) => (-cos, p) }.take(wOpen).map(_._1)
          opened.iterator.flatMap(p => grps(p).iterator)
            .map { case (cid, cv) => (cid, cosineArrays(a, cv)) }
            .toArray
            .sortBy { case (cid, cos) => (-cos, cid) }
            .take(probes).map(_._1)
        }
    }
    val bar = minCosine
    emb.filter(col(embCol).isNotNull)
      .select(explode(topCellsUdf(col(embCol))).as("__cell"),
        col(idCol).cast("long").as("__id"), col(embCol).as("__emb"))
      .repartition(col("__cell"))
      .sortWithinPartitions(col("__cell"), col("__id"))
      .as[(Long, Long, Array[Float])]
      .mapPartitions { it =>
        // rows arrive cell-contiguous and id-ascending: buffer one cell,
        // pairwise-score it in memory, emit survivors, move on
        val rows = it.buffered
        new Iterator[Iterator[(Long, Long, Double)]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Iterator[(Long, Long, Double)] = {
            val cell = rows.head._1
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
            while (rows.hasNext && rows.head._1 == cell)
              { val r = rows.next(); buf += ((r._2, r._3)) }
            for {
              i <- buf.indices.iterator
              j <- (i + 1 until buf.length).iterator
              cos = cosineArrays(buf(i)._2, buf(j)._2)
              if cos >= bar
            } yield (buf(i)._1, buf(j)._1, cos)
          }
        }.flatten
      }
      .toDF("left_id", "right_id", "cosine")
      // a pair sharing BOTH probe cells is emitted twice with identical
      // values (same kernel, same inputs) — one distinct removes the copy
      .distinct()
  }

  // ------------------------------------------------- duplicated substrings

  /** Positional k-gram windows hashed for the exact-substring dedup family:
    * (id, pos, h) with pos 1-based and h the md5 of the k-token window as
    * 16 RAW BYTES. The gram STRING never leaves its scan task, and the
    * digest shuffles/stores in binary — half the bytes of the hex form on
    * the one table every span operator aggregates, joins and logs
    * (collision odds at 10^13 corpus windows ≈ negligible at 128 bits;
    * the 60-bit family that the MinHash oracle parity uses would collide
    * at billions of windows, so spans keep the full digest). The DuckDB
    * oracles hash the same windows with hex md5 — equal digests ⇔ equal
    * hex, and only merged SPANS ever leave the operators, so parity is
    * untouched by the encoding. */
  /** Compiled kernel for [[spanGrams]]: per document, the 16-byte md5 of
    * every k-token window, array index i ↔ token position i+1. Plain
    * compiled Scala with the thread-local digest — the Column-tree
    * alternative (transform + slice + md5 over a bound array) evaluates
    * its lambda INTERPRETED per window, the same overhead
    * [[Decontamination.overlapCounts]]'s kernel swap documented at ~30×
    * the scan cost (and the naive un-bound-array form re-tokenizes per
    * window on top, O(len²) per doc — both shapes measured and rejected
    * here: 13 s naive, ~3 s bound-array, see SCALE.md round-16 for the
    * kernel's numbers; round 17 dropped the hex encode from the kernel
    * along with the bytes). */
  private[graft] def spanDigestsScala(text: String, k: Int): Array[Array[Byte]] = {
    val w = wordsScala(text)
    if (w.length < k) Array.empty[Array[Byte]]
    else Array.tabulate(w.length - k + 1) { i =>
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < i + k) { if (j > i) sb.append(' '); sb.append(w(j)); j += 1 }
      ChunkOps.md5Bytes(sb.toString)
    }
  }

  private def spanGrams(docs: DataFrame, k: Int, idCol: String,
                        textCol: String): DataFrame = {
    val digests = udf((text: String) => spanDigestsScala(text, k))
    docs
      .select(col(idCol), posexplode(digests(col(textCol))).as(Seq("pos0", "h")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("h"))
  }

  /** Exact duplicated-substring spans — the suffix-array substring dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"; reference north star: corpus curation over `documents`)
    * re-expressed distributed. A suffix array is a single-machine
    * structure, but "every maximal run of ≥ k tokens occurring ≥ minOcc
    * times in the corpus" is exactly the union of its duplicated k-gram
    * windows, and those are a lean (id, pos, digest) table at any scale.
    *
    * Dataflow: tokenize → one digest per k-token window (narrow, inside
    * the scan stage) → digest-count aggregation → left-semi join flags the
    * duplicated windows (two shuffles of the lean table; the aggregation
    * is map-side-combined, and a boilerplate digest repeated millions of
    * times stays ONE group row — no hot-key buildup, unlike a count
    * window) → per-document interval merge (running-max gaps-and-islands;
    * the window partitions by document, so per-task state is one
    * document's flagged positions, never corpus-shaped).
    *
    * Within-document repeats count toward minOcc — suffix-array semantics:
    * a page template pasted twice in one crawl is as duplicated as one
    * shared across two. Output: one row per maximal duplicated span,
    * token positions 1-based inclusive, (idCol, span_start, span_end). */
  def duplicateSpans(docs: DataFrame, k: Int = 5, minOcc: Int = 2,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(k >= 2, s"window must be at least 2 tokens, got $k")
    require(minOcc >= 2, s"minOcc must be at least 2, got $minOcc")
    // persist: the gram table feeds the count aggregation AND the semi-join
    // probe side — without it the tokenize+md5-per-window kernel (the
    // dominant cost of the pass) runs twice over the corpus. The sliced
    // scale form below makes the same move per slice (DISK_ONLY); this is
    // the twin for the monolithic form (persist() = MEMORY_AND_DISK, so
    // over-memory grams spill rather than evict-and-recompute).
    //
    // INPUT BOUND (the 100 TB contract, r19 verdict watch-item 4): this
    // monolithic form materializes and twice-shuffles a corpus-shaped gram
    // table — measured safe through the ×1000 decade (~6.5 GB footprint,
    // SCALE.md) and out-of-disk at ×10000. Size the pass FIRST via
    // [[spanWindowCount]] → [[estimatedSpanGramBytes]] →
    // [[recommendedSpanSlices]]; when the recommendation exceeds 1 slice,
    // call [[duplicateSpansSliced]] — the gate is the caller's because only
    // the caller knows its disk budget, and an implicit in-operator count
    // pass would charge every small-corpus call a full corpus scan.
    val grams = graft.Caches.persistTracked(spanGrams(docs, k, idCol, textCol))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc).select(col("h"))
    mergeFlaggedWindows(grams.join(dup, Seq("h"), "left_semi"), k, idCol)
  }

  /** [[duplicateSpans]] with a BOUNDED shuffle/disk footprint — the scale
    * form of the one-time full corpus pass (the N45 whole-bucket-slicing
    * move, applied to the gram table). The monolithic pass shuffles the
    * corpus-shaped (id, pos, digest) table twice at once (count agg +
    * semi join), which exceeded this sandbox's disk at the ×10000 decade
    * (SCALE.md round-17); here the gram space is sliced by DIGEST RANGE
    * into `slices` sequential passes, each shuffling only 1/slices of the
    * windows.
    *
    * Equivalence argument (SpanDedupSpec pins sliced ≡ monolithic
    * hash-equal): every occurrence of a digest lands in the same slice
    * (the slice key is a pure function of the digest), so each slice's
    * count aggregation sees ALL occurrences of its digests — per-slice
    * flags are complete and the union over slices is exactly the
    * monolithic flag set. The per-doc gaps-and-islands merge then runs
    * ONCE over the union, which is flag-sized, not gram-sized.
    *
    * Cost shape: the tokenize+digest kernel re-runs once per pass (CPU
    * ∝ slices, embarrassingly parallel and scan-local), in exchange for
    * the per-pass shuffle and scratch footprint dropping to 1/slices —
    * the same trade [[graft.pipelines.Pipelines.writeBucketedChunksBatched]]
    * makes for the bucketized build. Each pass materializes its slice's
    * grams to DISK_ONLY storage before the two consumers (count agg +
    * semi join) so the kernel runs once per pass, not twice; the slice
    * is unpersisted and the pass's shuffle files are GC-reclaimed before
    * the next pass starts, keeping the disk high-water mark at one
    * slice. Flagged windows land under `scratchDir` (flag-shaped, one
    * append per pass) and the returned frame reads them back merged.
    *
    * CAVEAT: the between-pass reclaim rides on `System.gc()` driving
    * Spark's ContextCleaner (the standard JVM-Spark shuffle-cleanup
    * idiom, and it measurably held the ×10000 low-water at 27.9 GB) —
    * under `-XX:+DisableExplicitGC` the call is a no-op and the disk
    * high-water mark can drift back toward the monolithic footprint.
    * Correctness is unaffected either way; deployments that pin the
    * footprint claim must not disable explicit GC for this job (or must
    * size `slices` with that drift in mind).
    *
    * EAGER — the passes run inside this call (it is a write-shaped
    * operator like the bucketized build, not a lazy plan). */
  def duplicateSpansSliced(docs: DataFrame, scratchDir: String,
                           slices: Int = 8, k: Int = 5, minOcc: Int = 2,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(k >= 2, s"window must be at least 2 tokens, got $k")
    require(minOcc >= 2, s"minOcc must be at least 2, got $minOcc")
    require(slices >= 1, s"slices must be at least 1, got $slices")
    val spark = docs.sparkSession
    (0 until slices).foreach { s =>
      val slice = spanGrams(docs, k, idCol, textCol)
        .filter(pmod(xxhash64(col("h")), lit(slices.toLong)) === s.toLong)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val dup = slice.groupBy(col("h")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= minOcc).select(col("h"))
      slice.join(dup, Seq("h"), "left_semi")
        .select(col(idCol), col("pos"))
        .write.mode(if (s == 0) "overwrite" else "append").parquet(scratchDir)
      slice.unpersist(blocking = true)
      if (s < slices - 1) System.gc() // release the pass's shuffle files
    }
    mergeFlaggedWindows(spark.read.parquet(scratchDir), k, idCol)
  }

  /** Total k-gram window count of the corpus — one narrow scan-local
    * aggregation (tokenize + arithmetic, no shuffle of anything
    * row-shaped), the sizing input [[recommendedSpanSlices]] wants. */
  def spanWindowCount(docs: DataFrame, k: Int = 5,
                      textCol: String = "text"): Long =
    docs.select(coalesce(sum(greatest(
        size(words(col(textCol))) - lit(k - 1), lit(0)).cast("long")), lit(0L)))
      .head.getLong(0)

  /** Window count → estimated monolithic shuffle-visible bytes of the
    * (id, pos, digest) gram table. Calibrated on the measured decade
    * curve (SCALE.md round-18): the ×1000 monolithic pass (260M windows)
    * held a ~6.5 GB footprint, and the ×10000 one (2.6B) ENOSPC'd a ~65 GB
    * headroom at 97–98% — both consistent with ~26 bytes per window
    * across the two concurrent shuffle legs. */
  def estimatedSpanGramBytes(nWindows: Long): Long = nWindows * 26L

  /** Auto-size [[duplicateSpansSliced]]'s slice count from the disk
    * budget — the measured-rule-as-operator move
    * ([[Similarity.recommendedServeBatch]], [[graft.Reindex.reindexAdvice]])
    * applied to the span pass. Each pass's disk share (DISK_ONLY slice
    * persist + its two shuffle legs + the scratch flags accumulating
    * beside it) is bounded to `maxPassFraction` of `usableDiskBytes`;
    * S is the smallest slice count that fits. The 0.15 default reproduces
    * the measured curve's two anchors: 260M windows → S=1 (the ×1000
    * monolithic pass fit with ~58 GB to spare) and 2.6B windows → S=8
    * (the configuration that COMPLETED the ×10000 pass at a 27.9 GB
    * low-water where the monolithic form died twice) at this sandbox's
    * ~60 GB usable. Rejects LOUDLY when even `maxSlices` passes cannot
    * fit — an estimator that silently returned its cap would reintroduce
    * the exact out-of-disk failure the sliced form exists to avoid. */
  def recommendedSpanSlices(estimatedGramBytes: Long, usableDiskBytes: Long,
                            maxPassFraction: Double = 0.15,
                            maxSlices: Int = 64): Int = {
    require(estimatedGramBytes >= 0, s"negative gram bytes: $estimatedGramBytes")
    require(usableDiskBytes > 0, s"no usable disk: $usableDiskBytes")
    require(maxPassFraction > 0.0 && maxPassFraction <= 1.0,
      s"maxPassFraction must be in (0,1], got $maxPassFraction")
    val perPassBudget = (usableDiskBytes * maxPassFraction).toLong
    val s = math.max(1L,
      (estimatedGramBytes + perPassBudget - 1) / math.max(1L, perPassBudget))
    require(s <= maxSlices,
      f"even $maxSlices slices cannot bound the span pass to " +
        f"$maxPassFraction%.2f of ${usableDiskBytes / 1e9}%.1f GB usable " +
        f"(${estimatedGramBytes / 1e9}%.1f GB of gram shuffle needs " +
        f"S=$s) — free disk, raise the budget, or shard the corpus " +
        "upstream")
    s.toInt
  }

  /** Gaps-and-islands merge of flagged (idCol, pos) windows into maximal
    * spans [pos, pos+k-1]; abutting coverage merges (union-of-covered-token
    * semantics). One window partitioned by document — per-task state is one
    * document's flagged positions. */
  private def mergeFlaggedWindows(flagged0: DataFrame, k: Int,
                                  idCol: String): DataFrame = {
    val flagged = flagged0.select(col(idCol), col("pos").cast("long").as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    import org.apache.spark.sql.expressions.Window.unboundedPreceding
    val prevMax = max(col("e")).over(w.rowsBetween(unboundedPreceding, -1))
    flagged
      .withColumn("e", col("pos") + lit((k - 1).toLong))
      .withColumn("is_new",
        when(prevMax.isNull || col("pos") > prevMax + lit(1L), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("grp", sum(col("is_new")).over(w.rowsBetween(unboundedPreceding, 0)))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("span_start"), max(col("e")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Window-digest count table — the STORED half of the incremental
    * substring-dedup path: (h, occ) per distinct k-gram digest. Corpus-
    * shaped but lean (two int-ish columns), maintained by merge-on-digest
    * appends of each ingested batch's own counts. */
  def spanGramCounts(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    spanGrams(docs, k, idCol, textCol)
      .groupBy(col("h")).agg(count(lit(1)).as("occ"))

  /** Ingest-path duplicated spans: flag a micro-batch's windows against a
    * stored [[spanGramCounts]] table plus the batch's own counts — a window
    * is duplicated when stored + batch occurrences reach minOcc, so the
    * result equals [[duplicateSpans]] over store ∪ batch RESTRICTED to the
    * batch's documents, at batch cost (the equality the oracle and spec
    * pin). The batch is micro-batch-scale by contract (the nearDupFlags
    * contract): its digest set broadcasts, the stored table is probed by a
    * broadcast left-semi — the store scans once in place and only
    * batch-matched digests come back, so nothing corpus-shaped ever
    * shuffles and no per-batch cost grows with the corpus (the N44 lesson,
    * applied to substrings). `storedCounts` must have been built with the
    * same k and tokenization, and may be an APPEND-ONLY LOG — each ingested
    * batch just appends its own [[spanGramCounts]] part, no store rewrite
    * ever — because matched store rows are summed per digest (a batch-sized
    * aggregation) before the threshold test; compaction folds the log's
    * parts on the maintenance cadence exactly like the chunk stores. */
  def duplicateSpansIncremental(newDocs: DataFrame, storedCounts: DataFrame,
                                k: Int = 5, minOcc: Int = 2,
                                idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    require(k >= 2, s"window must be at least 2 tokens, got $k")
    require(minOcc >= 2, s"minOcc must be at least 2, got $minOcc")
    // a store from before the binary-digest change (hex strings) must be
    // rebuilt, not silently joined: Spark would CAST string→binary on the
    // join key (hex chars, not raw bytes), match nothing, and flag nothing
    require(storedCounts.schema("h").dataType ==
        org.apache.spark.sql.types.BinaryType,
      s"stored span counts carry ${storedCounts.schema("h").dataType.catalogString} " +
        "digests — this engine stores 16-byte binary md5; rebuild the " +
        "count table with spanGramCounts")
    // the plan references the batch grams three times (broadcast digest
    // set, batch-count join, final semi join) — materialize them ONCE so
    // the tokenize+md5 kernel runs once per batch, not three times, even
    // for callers that hand in a non-materialized batch (the registered
    // query does). Batch-scale by the micro-batch contract, so the eager
    // checkpoint is cheap.
    val grams = spanGrams(newDocs, k, idCol, textCol).localCheckpoint(true)
    val batchCounts = grams.groupBy(col("h")).agg(count(lit(1)).as("occ_b"))
    val stored = storedCounts
      .join(broadcast(batchCounts.select(col("h"))), Seq("h"), "left_semi")
      // sum AFTER the semi-shrink: batch-sized, and an append-only store
      // with several parts per digest still thresholds on the true total
      .groupBy(col("h")).agg(sum(col("occ").cast("long")).as("occ_s"))
    val dup = batchCounts.join(stored, Seq("h"), "left")
      .filter(col("occ_b") + coalesce(col("occ_s"), lit(0L)) >= minOcc)
      .select(col("h"))
    mergeFlaggedWindows(grams.join(dup, Seq("h"), "left_semi"), k, idCol)
  }

  /** Per-document duplicated-token accounting over [[duplicateSpans]]:
    * (idCol, n_tokens, dup_tokens, dup_fraction) for documents with at
    * least one duplicated span — the "how contaminated is this shard"
    * report that decides between scrubbing spans and dropping documents
    * (Lee et al. scrub; RefinedWeb drops past a fraction). Spans are
    * disjoint by construction, so dup_tokens is a plain sum. */
  def duplicateSpanStats(docs: DataFrame, k: Int = 5, minOcc: Int = 2,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val nTokens = docs.select(col(idCol),
      size(words(col(textCol))).cast("long").as("n_tokens"))
    duplicateSpans(docs, k, minOcc, idCol, textCol)
      .groupBy(col(idCol))
      .agg(sum(col("span_end") - col("span_start") + lit(1L)).as("dup_tokens"))
      .join(nTokens, Seq(idCol))
      .select(col(idCol), col("n_tokens"), col("dup_tokens"),
        round(col("dup_tokens") / col("n_tokens"), 6).as("dup_fraction"))
  }

  /** Contaminated spans: maximal runs of ≥ k tokens a training document
    * shares VERBATIM with the evaluation set — the span-level form of
    * benchmark decontamination (the GPT-3/PaLM 13-gram rule located to
    * positions, so the remediation can be [[scrubSpans]] instead of
    * dropping the whole document — the "dirty span" treatment). Unlike
    * [[duplicateSpans]], occurrence counts are irrelevant: ONE appearance
    * in the eval set flags the window. The eval side is benchmark-sized by
    * nature, so its distinct digests broadcast and the train side streams
    * scan → gram → broadcast semi-join → per-doc merge, nothing
    * corpus-shaped shuffled (the [[Decontamination.overlapCounts]] shape,
    * output in positions instead of counts). Eval documents shorter than
    * k tokens contribute no windows — span semantics need a full window
    * (use overlapCounts' whole-string fallback to catch short exact
    * copies). */
  def contaminatedSpans(train: DataFrame, evalSet: DataFrame, k: Int = 13,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(k >= 2, s"window must be at least 2 tokens, got $k")
    val evalDigests = broadcast(
      spanGrams(evalSet, k, idCol, textCol).select(col("h")).distinct())
    mergeFlaggedWindows(
      spanGrams(train, k, idCol, textCol).join(evalDigests, Seq("h"), "left_semi"),
      k, idCol)
  }

  /** Scrub SPANS out of documents: drop every token inside a merged span,
    * rejoin the survivors with single spaces. Operates in TOKEN space (the
    * dedup tokenization — lowercased, punctuation-split), which is the
    * space substring dedup is defined over; returns (idCol, scrubbed_text)
    * for documents present in `spans` only — a replacement-text table that
    * composes with the upsert surface. A document covered wall-to-wall
    * scrubs to the empty string (an explicit row, not a vanished one — the
    * caller decides whether an emptied doc survives). The span table is
    * per-doc bounded, so the token filter — array higher-order functions,
    * which Spark evaluates INTERPRETED per element — runs over two
    * per-doc-bounded arrays, where that overhead is acceptable (unlike
    * the per-window gram kernel above, which is compiled for exactly that
    * reason). `spans` must carry (idCol, span_start, span_end) —
    * [[duplicateSpans]] or [[contaminatedSpans]] output. */
  def scrubSpans(docs: DataFrame, spans: DataFrame,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val perDoc = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.join(perDoc, Seq(idCol))
      .select(col(idCol),
        array_join(
          filter(words(col(textCol)), (t, i) =>
            !exists(col("spans"), sp =>
              (i + lit(1)).cast("long").between(sp("span_start"), sp("span_end")))),
          " ").as("scrubbed_text"))
  }

  /** [[scrubSpans]] over [[duplicateSpans]] — the Lee-et-al remediation. */
  def scrubDuplicateSpans(docs: DataFrame, k: Int = 5, minOcc: Int = 2,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    scrubSpans(docs, duplicateSpans(docs, k, minOcc, idCol, textCol),
      idCol, textCol)
}
