package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup

/** Deduplication operator queries (north-star LLM-pipeline surface). All
  * oracle-checked: the md5-derived 60-bit hash family makes MinHash/SimHash
  * signatures bit-identical between Spark and DuckDB.
  *
  * The fixture has no byte-identical duplicate texts, so the exact-dedup
  * queries run over documents ∪ documents(doc_id<50 re-tagged) — the
  * re-crawl scenario; the near-dup generators DID plant ~0.99-Jaccard pairs,
  * which MinHash/SimHash/n-gram must all surface. */
object DedupQueries {

  /** documents plus a re-crawled copy of the first 50 docs under shifted ids. */
  private def withRecrawl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    docs.unionByName(
      docs.filter($"doc_id" < 50).select(($"doc_id" + 100000).as("doc_id"), $"text"))
  }

  /** documents plus doc 0's text replicated under 12 fresh ids — one
    * boilerplate cluster big enough to overflow a small bucket cap, the
    * web-scale pathology the hot-bucket guard exists for. */
  private def withBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    docs.unionByName(
      docs.filter($"doc_id" === 0)
        .crossJoin(s.range(12).select($"id".as("i")))
        .select((lit(200000L) + $"i").as("doc_id"), $"text"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: duplicate groups by content digest.
    "dedup_exact_groups" -> ((s, dir) =>
      Dedup.exactDuplicateGroups(withRecrawl(s, dir))),

    // Exact dedup survivors (min-id canonical per digest).
    "dedup_exact_survivors" -> ((s, dir) => {
      import s.implicits._
      Dedup.dropExactDuplicates(withRecrawl(s, dir)).select($"doc_id")
    }),

    // MinHash + LSH banded near-dup pairs, Jaccard-verified at 0.8.
    "dedup_minhash_pairs" -> ((s, dir) => {
      import s.implicits._
      Dedup.minHashPairs(Tables.documents(s, dir))
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
    }),

    // MinHash on the xxhash64 signature kernel — the production/scale
    // variant. The verified pair set is hash-family-independent, so the
    // md5-path oracle applies unchanged; what this row buys is a benchmark
    // of the signature stage at production cost.
    "dedup_minhash_fast" -> ((s, dir) => {
      import s.implicits._
      Dedup.minHashPairsFast(Tables.documents(s, dir))
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
    }),

    // The hot-bucket guard exercised for real: a 13-doc boilerplate bucket
    // against maxBucket=8 — the 8 smallest ids stay the bucket's
    // representatives, pairs among them (and every under-cap bucket's
    // pairs) are emitted, the overflow's are sacrificed. The oracle
    // replays the cap itself (QUALIFY ROW_NUMBER ... ORDER BY doc_id), so
    // the guard's exact semantics are hash-pinned, not just "some rows".
    "dedup_minhash_capped" -> ((s, dir) => {
      import s.implicits._
      Dedup.minHashPairs(withBoilerplate(s, dir), maxBucket = 8)
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
    }),

    // The guard's observability half: which buckets are pathological and
    // whether the cap would truncate them — the curation cadence's loud
    // report, oracle-checked on the same boilerplate fixture.
    "dedup_hot_buckets" -> ((s, dir) => {
      import s.implicits._
      Dedup.hotBucketReport(withBoilerplate(s, dir), maxBucket = 8)
        .filter($"bucket_n" > 1)
        .select($"band_idx".cast("long").as("band_idx"), $"band_key", $"bucket_n",
          $"truncated".cast("int").as("truncated"))
    }),

    // Exact duplicated-substring spans (Lee et al. 2022's suffix-array
    // dedup, distributed as positional 5-gram matching): every maximal
    // ≥5-token run whose windows occur ≥2 times in the corpus, merged per
    // document. The planted near-dup pairs make these spans long.
    "dedup_span_flags" -> ((s, dir) => {
      import s.implicits._
      Dedup.duplicateSpans(Tables.documents(s, dir))
        .select($"doc_id", $"span_start", $"span_end")
    }),

    // The SLICED form of the same pass — the bounded-disk scale variant
    // (S sequential digest-range passes; the one that completed the
    // ×10000 decade where the monolithic shuffle ran out of disk). Same
    // oracle as dedup_span_flags: the slice key is a pure function of the
    // digest, so the union over slices is exactly the monolithic flag
    // set. Runs with S=3 over a real scratch dir, so the oracle pins the
    // kernel ≡ sliced ≡ DuckDB triangle, not just the spec's hash-equal.
    "dedup_span_sliced" -> ((s, dir) => {
      import s.implicits._
      val scratch = java.nio.file.Files
        .createTempDirectory("graft_span_sliced").toString
      Dedup.duplicateSpansSliced(Tables.documents(s, dir), scratch, slices = 3)
        .select($"doc_id", $"span_start", $"span_end")
    }),

    // Per-document duplicated-token accounting over the same spans — the
    // scrub-vs-drop decision input.
    "dedup_span_stats" -> ((s, dir) => {
      import s.implicits._
      Dedup.duplicateSpanStats(Tables.documents(s, dir))
        .select($"doc_id", $"n_tokens", $"dup_tokens", $"dup_fraction")
    }),

    // The scrub surface: flagged documents with their duplicated spans
    // removed from the token stream (Lee et al.'s remediation). A
    // wall-to-wall duplicate scrubs to an explicit empty string.
    "dedup_span_scrub" -> ((s, dir) => {
      import s.implicits._
      Dedup.scrubDuplicateSpans(Tables.documents(s, dir))
        .select($"doc_id", $"scrubbed_text")
    }),

    // The ingest-path form: the first 50 docs arrive as a micro-batch and
    // are flagged against the stored gram counts of the rest — by
    // construction equal to the full-corpus spans restricted to the batch,
    // which is exactly what the oracle replays (full pipeline + id filter).
    "dedup_span_incremental" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Dedup.duplicateSpansIncremental(
          docs.filter($"doc_id" < 50),
          Dedup.spanGramCounts(docs.filter($"doc_id" >= 50)))
        .select($"doc_id", $"span_start", $"span_end")
    }),

    // Ground-truth n-gram Jaccard pairs (validates the LSH path's recall).
    "dedup_ngram_pairs" -> ((s, dir) => {
      import s.implicits._
      Dedup.jaccardPairs(Tables.documents(s, dir))
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
    }),

    // SimHash signatures as bit-strings.
    "dedup_simhash_sigs" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", Dedup.simHashString($"text").as("simhash"))
    }),

    // SimHash near-dup pairs, hamming ≤ 3 over 60 bits, 4-block banding.
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir))),

    // End-to-end near-dup removal: drop the higher id of every verified
    // MinHash pair, keep the rest — the "dedup the corpus" surface a
    // training-data pipeline actually calls.
    "dedup_neardup_survivors" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val dropIds = graft.operators.Dedup.minHashPairs(docs)
        .select($"id_b".as("doc_id")).distinct()
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"source")
    }),

    // Embedding-cosine near-dup pairs (exact all-pairs at fixture scale).
    "dedup_embedding_pairs" -> ((s, dir) => {
      import s.implicits._
      Dedup.embeddingPairs(Tables.embeddings(s, dir), minCosine = 0.45)
        .select($"left_id", $"right_id", round($"cosine", 6).as("cosine"))
    }),

    // Celled embedding near-dup — the dense-regime scale path (SCALE.md
    // round-6): top-2 seeded IVF cells per vector, exact pairwise cosine
    // inside each cell's in-memory buffer, survivors only. The oracle
    // replays the whole pipeline (cell assignment included), so recall
    // honesty is built into the hash compare, like ann_pq_top10's.
    "dedup_embedding_celled" -> ((s, dir) => {
      import s.implicits._
      Dedup.embeddingPairsCelled(Tables.embeddings(s, dir), minCosine = 0.45,
          nlist = 16, step = 31L, nprobe = 2)
        .select($"left_id", $"right_id", round($"cosine", 6).as("cosine"))
    }),

    // The spark.sql-ONLY story for the flagship near-dup operator: the same
    // celled pipeline as dedup_embedding_celled, expressed entirely as SQL
    // text over the registered codegen graft_cosine expression — cell
    // assignment (rank over centroid cosines), nprobe=2 cell membership,
    // candidate self-join inside cells, exact re-score. Shares
    // dedup_embedding_celled's DuckDB oracle, so kernel == SQL == oracle is
    // pinned three ways by the gate's hash compare.
    "dedup_sql_pairs" -> ((s, dir) => {
      graft.expressions.GraftExtensions.register(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("graft_emb_sql")
      s.sql(
        """WITH cents AS (
               SELECT vec_id AS centroid_id, embedding AS cvec FROM graft_emb_sql
               WHERE vec_id % 31 = 0 ORDER BY vec_id ASC LIMIT 16),
             assign AS (
               SELECT e.vec_id, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY graft_cosine(e.embedding, c.cvec) DESC,
                            c.centroid_id ASC) AS rn
               FROM graft_emb_sql e CROSS JOIN cents c),
             cells AS (SELECT vec_id, centroid_id FROM assign WHERE rn <= 2),
             cand AS (
               SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
               FROM cells l JOIN cells r
                 ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id)
           SELECT cand.left_id, cand.right_id,
             round(graft_cosine(a.embedding, b.embedding), 6) AS cosine
           FROM cand
           JOIN graft_emb_sql a ON a.vec_id = cand.left_id
           JOIN graft_emb_sql b ON b.vec_id = cand.right_id
           WHERE graft_cosine(a.embedding, b.embedding) >= 0.45""")
    }),

    // Ingest-time celled near-dup against the STORED IVF index: the
    // re-ingested batch (vec_id < 20, retagged +100000) probes its top-2
    // cells and the corpus scan prunes to those partition directories
    // (IvfCatalog) — new-involving pairs only, exact cosine. The oracle
    // replays store assignment, batch probing, and pairing in SQL.
    "dedup_celled_incremental" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val batch = emb.filter($"vec_id" < 20)
        .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
      Dedup.embeddingPairsCelledIncremental(batch,
          graft.IvfCatalog.assignedEmbeddings(s, dir, 16, 31L),
          graft.operators.Similarity.seededCentroids(emb, 16, 31L),
          minCosine = 0.45, batchRows = 20L, nprobe = 2)
        .select($"left_id", $"right_id", round($"cosine", 6).as("cosine"))
    }),

    // Benchmark decontamination: training docs (doc_id>=50) sharing word
    // 8-grams with the "eval set" stand-in (doc_id<50) — the planted
    // near-dup partners of eval docs flag; unrelated prose doesn't.
    "decon_flags" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      graft.operators.Decontamination.overlapCounts(
        docs.filter($"doc_id" >= 50), docs.filter($"doc_id" < 50), n = 8)
    }),

    // The span-level decontamination form: WHICH runs are contaminated
    // (merged token positions), so the remediation can scrubSpans the
    // dirty span instead of dropping the whole training document.
    "decon_span_flags" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      Dedup.contaminatedSpans(
          docs.filter($"doc_id" >= 50), docs.filter($"doc_id" < 50), k = 8)
        .select($"doc_id", $"span_start", $"span_end")
    }),

    // Incremental ingest dedup: the re-crawled batch (doc_id<50 re-tagged
    // +100000) banded against the existing corpus — new×corpus and new×new
    // pairs only, never corpus×corpus. The production daily-ingest shape.
    "dedup_incremental_pairs" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      val batch = docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 100000).as("doc_id"), $"text")
      Dedup.minHashPairsIncremental(batch, docs)
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
    }),

    // Incremental dedup against the STORED corpus index (BandCatalog):
    // bucketed band/shingle tables read shuffle-free on the corpus side,
    // no corpus re-hash — the deployment form of dedup_incremental_pairs,
    // same verified output.
    "dedup_incremental_stored" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      val batch = docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 100000).as("doc_id"), $"text")
      Dedup.minHashPairsIncrementalStored(batch,
          graft.BandCatalog.corpusShingles(s, dir),
          graft.BandCatalog.corpusBands(s, dir))
        .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
    }),

    // Transitive near-dup clusters: every document labeled with the min doc
    // id of its verified-pair connected component (own id if unpaired) —
    // the keep-one-per-cluster surface, robust to chains where pair-wise
    // dropping over- or under-deletes. Reads the build-once ClusterCatalog
    // store (the propagation loop runs at corpus build, not per query).
    "dedup_cluster_ids" -> ((s, dir) =>
      graft.ClusterCatalog.clusterIds(s, dir)))

  // ------------------------------------------------------------- oracle SQL

  private val recrawl =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50"""

  private def duckWords(e: String) = DuckSql.words(e)

  /** Distinct word 3-gram shingles (whole-token-string fallback under 3 words). */
  private val duckShingles =
    s"""list_distinct(CASE WHEN len(w) >= 3
          THEN list_transform(generate_series(1, len(w) - 2),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
          ELSE [array_to_string(w, ' ')] END)"""

  /** Seeded 60-bit md5 hash — mirrors Dedup.md5Hash60. */
  private def duckHash(seed: String, e: String) =
    s"CAST(concat('0x', substr(md5(concat_ws('_', $seed, $e)), 1, 15)) AS BIGINT)"

  private val duckSig16 =
    s"""list_transform(generate_series(0, 15),
          i -> list_min(list_transform(sh, s -> ${duckHash("i", "s")})))"""

  private def duckShinglesCteOver(src: String) =
    s"""sh AS (SELECT doc_id, $duckShingles AS sh
               FROM (SELECT doc_id, ${duckWords("text")} AS w FROM ($src)))"""

  private val duckShinglesCte =
    duckShinglesCteOver("SELECT doc_id, text FROM documents")

  /** The boilerplate fixture: documents + 12 copies of doc 0's text. */
  private val boiler =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT 200000 + i AS doc_id, text
       FROM documents, (SELECT unnest(generate_series(0, 11)) AS i)
       WHERE doc_id = 0"""

  private val duckBandedCte =
    s"""banded AS (
          SELECT doc_id, band_idx, array_to_string(sig[band_idx*4+1 : band_idx*4+4], ',') AS band_key
          FROM (SELECT doc_id, sh, $duckSig16 AS sig FROM sh),
               (SELECT unnest(generate_series(0, 3)) AS band_idx))"""

  private val duckVerify =
    """SELECT c.id_a, c.id_b,
         round(len(list_intersect(a.sh, b.sh)) * 1.0e0 /
               (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
       FROM candidates c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
       WHERE len(list_intersect(a.sh, b.sh)) * 1.0e0 /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8e0"""

  private val duckSimBits =
    s"""list_transform(generate_series(0, 59),
          j -> CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
                    THEN 1 ELSE 0 END)"""

  /** The celled near-dup pipeline replayed whole in DuckDB (cell
    * assignment, candidate join inside cells, exact re-score) — shared by
    * the Scala-kernel row (`dedup_embedding_celled`) and its pure-spark.sql
    * twin (`dedup_sql_pairs`): both must hash-match the SAME oracle, which
    * pins kernel==SQL equivalence transitively. */
  private val duckCelled =
    """WITH cents AS (
           SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
           WHERE vec_id % 31 = 0 ORDER BY vec_id ASC LIMIT 16),
         assign AS (
           SELECT e.vec_id, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) DESC,
                        c.centroid_id ASC) AS rn
           FROM embeddings e CROSS JOIN cents c),
         cells AS (SELECT vec_id, centroid_id FROM assign WHERE rn <= 2),
         cand AS (
           SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
           FROM cells l JOIN cells r
             ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id)
       SELECT cand.left_id, cand.right_id,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
       FROM cand
       JOIN embeddings a ON a.vec_id = cand.left_id
       JOIN embeddings b ON b.vec_id = cand.right_id
       WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45e0"""

  /** Duplicated-substring span pipeline replayed whole in DuckDB (Spark
    * twin: Dedup.duplicateSpans). k = 5; the window digest is the FULL md5
    * hex in both engines (the 60-bit family would collide at corpus window
    * counts); positions 1-based; gaps-and-islands merge via the running
    * max of span ends. */
  /** Gaps-and-islands merge of flagged windows `fl(doc_id, p, e)` into
    * maximal spans — the SQL twin of Dedup.mergeFlaggedWindows, shared by
    * the duplicated-span and contaminated-span oracles. */
  private val duckSpanMergeCtes =
    s"""mx AS (SELECT doc_id, p, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
                 FROM fl),
          il AS (SELECT doc_id, p, e,
                   SUM(CASE WHEN pm IS NULL OR p > pm + 1 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY p) AS g
                 FROM mx),
          sp AS (SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
                        CAST(MAX(e) AS BIGINT) AS span_end
                 FROM il GROUP BY doc_id, g)"""

  /** The span-flag pipeline as a WITH-less fragment (tk → … → sp), so the
    * composed curation oracle can embed it after its own leading CTEs. */
  private[queries] val duckSpanFragment =
    s"""tk AS (SELECT doc_id, ${duckWords("text")} AS w FROM documents),
          gr AS (SELECT doc_id, p, md5(array_to_string(w[p : p + 4], ' ')) AS h
                 FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS p
                       FROM tk WHERE len(w) >= 5)),
          dup AS (SELECT h FROM gr GROUP BY h HAVING COUNT(*) >= 2),
          fl AS (SELECT doc_id, p, p + 4 AS e FROM gr JOIN dup USING (h)),
          $duckSpanMergeCtes"""

  private val duckSpanCtes = s"WITH $duckSpanFragment"

  /** Scrub tail over `tk` + `sp`: flagged documents with every in-span
    * token dropped → scrubbed(doc_id, scrubbed_text). Shared by the
    * dedup_span_scrub row and the composed curation pipeline. */
  private[queries] val duckScrubTail =
    s"""tok AS (SELECT doc_id, unnest(w) AS t, unnest(generate_series(1, len(w))) AS p
                  FROM tk),
          kept AS (SELECT tok.doc_id AS doc_id, tok.t AS t, tok.p AS p,
                     (s2.doc_id IS NULL) AS keep
                   FROM tok
                   JOIN (SELECT DISTINCT doc_id FROM sp) fd ON tok.doc_id = fd.doc_id
                   LEFT JOIN sp s2 ON s2.doc_id = tok.doc_id
                     AND tok.p BETWEEN s2.span_start AND s2.span_end),
          scrubbed AS (SELECT doc_id,
              coalesce(string_agg(CASE WHEN keep THEN t END, ' ' ORDER BY p), '') AS scrubbed_text
            FROM kept GROUP BY doc_id)"""

  /** Span-level decontamination (Spark twin: Dedup.contaminatedSpans,
    * k = 8 over the decon_flags eval/train split): a train window flags on
    * ONE eval occurrence — no count threshold. */
  private val duckDeconSpanCtes =
    s"""WITH tw AS (SELECT doc_id, ${duckWords("text")} AS w FROM documents),
          gr AS (SELECT doc_id, p, md5(array_to_string(w[p : p + 7], ' ')) AS h
                 FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS p
                       FROM tw WHERE len(w) >= 8)),
          eg AS (SELECT DISTINCT h FROM gr WHERE doc_id < 50),
          fl AS (SELECT gr.doc_id AS doc_id, p, p + 7 AS e
                 FROM gr JOIN eg USING (h) WHERE gr.doc_id >= 50),
          $duckSpanMergeCtes"""

  val oracle: Map[String, String] = Map(
    "dedup_span_flags" ->
      s"""$duckSpanCtes
          SELECT doc_id, span_start, span_end FROM sp""",
    // the sliced pass is digest-partitioned, never digest-dependent in
    // RESULT — one oracle serves both forms (the dedup_sql_pairs precedent)
    "dedup_span_sliced" ->
      s"""$duckSpanCtes
          SELECT doc_id, span_start, span_end FROM sp""",
    "dedup_span_stats" ->
      s"""$duckSpanCtes,
          dt AS (SELECT doc_id, CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
                 FROM sp GROUP BY doc_id)
          SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, dup_tokens,
            round(CAST(dup_tokens AS DOUBLE) / CAST(len(w) AS BIGINT), 6) AS dup_fraction
          FROM dt JOIN tk USING (doc_id)""",
    "dedup_span_incremental" ->
      s"""$duckSpanCtes
          SELECT doc_id, span_start, span_end FROM sp WHERE doc_id < 50""",
    "dedup_span_scrub" ->
      s"""$duckSpanCtes,
          $duckScrubTail
          SELECT doc_id, scrubbed_text FROM scrubbed""",
    "dedup_exact_groups" ->
      s"""SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
            MIN(doc_id) AS canonical_id,
            array_to_string(list_sort(list(doc_id)), ',') AS dup_ids
          FROM ($recrawl) GROUP BY md5(text) HAVING COUNT(*) > 1""",
    "dedup_exact_survivors" ->
      s"""SELECT doc_id FROM ($recrawl)
          WHERE doc_id IN (SELECT MIN(doc_id) FROM ($recrawl) GROUP BY md5(text))""",
    "dedup_minhash_pairs" ->
      s"""WITH $duckShinglesCte,
          banded AS (
            SELECT doc_id, band_idx, array_to_string(sig[band_idx*4+1 : band_idx*4+4], ',') AS band_key
            FROM (SELECT doc_id, sh, $duckSig16 AS sig FROM sh),
                 (SELECT unnest(generate_series(0, 3)) AS band_idx)),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
          $duckVerify""",
    // Same oracle as dedup_minhash_pairs: the fast variant differs only in
    // candidate generation; the true-Jaccard-verified pair set is identical.
    "dedup_minhash_fast" ->
      s"""WITH $duckShinglesCte,
          banded AS (
            SELECT doc_id, band_idx, array_to_string(sig[band_idx*4+1 : band_idx*4+4], ',') AS band_key
            FROM (SELECT doc_id, sh, $duckSig16 AS sig FROM sh),
                 (SELECT unnest(generate_series(0, 3)) AS band_idx)),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
          $duckVerify""",
    "dedup_minhash_capped" ->
      s"""WITH ${duckShinglesCteOver(boiler)},
          $duckBandedCte,
          capped AS (
            SELECT doc_id, band_idx, band_key FROM banded
            QUALIFY ROW_NUMBER() OVER (
              PARTITION BY band_idx, band_key ORDER BY doc_id) <= 8),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM capped l JOIN capped r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id)
          $duckVerify""",
    "dedup_hot_buckets" ->
      s"""WITH ${duckShinglesCteOver(boiler)},
          $duckBandedCte
          SELECT band_idx, band_key, COUNT(*) AS bucket_n,
            CAST(COUNT(*) > 8 AS INT) AS truncated
          FROM banded GROUP BY band_idx, band_key HAVING COUNT(*) > 1""",
    "dedup_ngram_pairs" ->
      s"""WITH $duckShinglesCte,
          prefixes AS (
            SELECT doc_id,
              unnest(hs[1 : CAST(len(hs) - ceil(0.8e0 * len(hs)) + 1 AS BIGINT)]) AS h
            FROM (SELECT doc_id,
                    list_sort(list_transform(sh, s -> ${duckHash("0", "s")})) AS hs
                  FROM sh)),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM prefixes l JOIN prefixes r
              ON l.h = r.h AND l.doc_id < r.doc_id)
          $duckVerify""",
    "dedup_simhash_sigs" ->
      s"""SELECT doc_id, array_to_string($duckSimBits, '') AS simhash
          FROM (SELECT doc_id, list_transform(${duckWords("text")}, t -> ${duckHash("0", "t")}) AS hs
                FROM documents)""",
    "dedup_simhash_pairs" ->
      s"""WITH sigs AS (
            SELECT doc_id, $duckSimBits AS bits
            FROM (SELECT doc_id, list_transform(${duckWords("text")}, t -> ${duckHash("0", "t")}) AS hs
                  FROM documents)),
          banded AS (
            SELECT doc_id, block_idx,
                   array_to_string(bits[block_idx*15+1 : block_idx*15+15], ',') AS block_key
            FROM sigs, (SELECT unnest(generate_series(0, 3)) AS block_idx)),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.block_idx = r.block_idx AND l.block_key = r.block_key AND l.doc_id < r.doc_id)
          SELECT c.id_a, c.id_b,
            CAST(list_sum(list_transform(list_zip(a.bits, b.bits),
              p -> CASE WHEN p[1] = p[2] THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
          FROM candidates c JOIN sigs a ON c.id_a = a.doc_id JOIN sigs b ON c.id_b = b.doc_id
          WHERE list_sum(list_transform(list_zip(a.bits, b.bits),
                  p -> CASE WHEN p[1] = p[2] THEN 0 ELSE 1 END)) <= 3""",
    "dedup_neardup_survivors" ->
      s"""WITH $duckShinglesCte,
          banded AS (
            SELECT doc_id, band_idx, array_to_string(sig[band_idx*4+1 : band_idx*4+4], ',') AS band_key
            FROM (SELECT doc_id, sh, $duckSig16 AS sig FROM sh),
                 (SELECT unnest(generate_series(0, 3)) AS band_idx)),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
          pairs AS ($duckVerify)
          SELECT doc_id, source FROM documents
          WHERE doc_id NOT IN (SELECT id_b FROM pairs)""",
    "dedup_embedding_pairs" ->
      """SELECT a.vec_id AS left_id, b.vec_id AS right_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45e0""",
    "dedup_celled_incremental" ->
      """WITH cents AS (
             SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
             WHERE vec_id % 31 = 0 ORDER BY vec_id ASC LIMIT 16),
           store AS (
             SELECT vec_id, embedding, centroid_id FROM (
               SELECT e.vec_id, e.embedding, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) DESC,
                            c.centroid_id ASC) AS rn
               FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
           batch AS (
             SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20),
           bcells AS (
             SELECT vec_id, embedding, centroid_id FROM (
               SELECT b.vec_id, b.embedding, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY b.vec_id
                   ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])) DESC,
                            c.centroid_id ASC) AS rn
               FROM batch b CROSS JOIN cents c) WHERE rn <= 2),
           cand AS (
             SELECT LEAST(b.vec_id, s.vec_id) AS left_id,
                    GREATEST(b.vec_id, s.vec_id) AS right_id
             FROM bcells b JOIN store s ON b.centroid_id = s.centroid_id
             UNION
             SELECT LEAST(x.vec_id, y.vec_id), GREATEST(x.vec_id, y.vec_id)
             FROM bcells x JOIN bcells y
               ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id),
           all_vecs AS (
             SELECT vec_id, embedding FROM embeddings
             UNION ALL SELECT vec_id, embedding FROM batch)
         SELECT cand.left_id, cand.right_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
         FROM cand
         JOIN all_vecs a ON a.vec_id = cand.left_id
         JOIN all_vecs b ON b.vec_id = cand.right_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45e0""",
    "dedup_embedding_celled" -> duckCelled,
    "dedup_sql_pairs" -> duckCelled,
    "decon_flags" ->
      s"""WITH tw AS (SELECT doc_id, ${duckWords("text")} AS w FROM documents),
          grams AS (SELECT doc_id,
            unnest(CASE WHEN len(w) >= 8
              THEN list_transform(generate_series(1, len(w) - 7),
                     i -> array_to_string(w[i : i+7], ' '))
              ELSE [array_to_string(w, ' ')] END) AS gram FROM tw),
          eg AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 50),
          tg AS (SELECT doc_id, gram FROM grams WHERE doc_id >= 50)
          SELECT tg.doc_id, CAST(COUNT(DISTINCT tg.gram) AS BIGINT) AS n_overlap
          FROM tg JOIN eg ON tg.gram = eg.gram GROUP BY tg.doc_id""",
    "decon_span_flags" ->
      s"""$duckDeconSpanCtes
          SELECT doc_id, span_start, span_end FROM sp""",
    // Incremental = the full-union pair set restricted to new-involving
    // pairs. Banding recall is hash-family-independent for the planted
    // ~0.99-Jaccard fixtures (same argument as dedup_minhash_fast), so the
    // md5-family SQL oracles the xxhash64 production path.
    "dedup_incremental_pairs" -> duckIncremental,
    // stored-index form: identical semantics, identical oracle
    "dedup_incremental_stored" -> duckIncremental,
    // Transitive closure of the verified MinHash pair set via recursive CTE;
    // min id per component, singletons keep their own id.
    "dedup_cluster_ids" -> duckClusterIds)

  private lazy val duckIncremental =
    s"""WITH all_docs AS ($recrawl),
          sh AS (SELECT doc_id, $duckShingles AS sh
                 FROM (SELECT doc_id, ${duckWords("text")} AS w FROM all_docs)),
          banded AS (
            SELECT doc_id, band_idx, array_to_string(sig[band_idx*4+1 : band_idx*4+4], ',') AS band_key
            FROM (SELECT doc_id, sh, $duckSig16 AS sig FROM sh),
                 (SELECT unnest(generate_series(0, 3)) AS band_idx)),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
            WHERE l.doc_id >= 100000 OR r.doc_id >= 100000)
          $duckVerify"""

  /** WITH-body (recursive) yielding comp(id, cluster_id) — the verified
    * near-dup components over `documents`. Shared by dedup_cluster_ids and
    * the end-to-end curation oracle (PipelineQueries). Callers must prefix
    * with WITH RECURSIVE. */
  private[queries] lazy val duckComponentCtes =
      s"""$duckShinglesCte,
          banded AS (
            SELECT doc_id, band_idx, array_to_string(sig[band_idx*4+1 : band_idx*4+4], ',') AS band_key
            FROM (SELECT doc_id, sh, $duckSig16 AS sig FROM sh),
                 (SELECT unnest(generate_series(0, 3)) AS band_idx)),
          candidates AS (
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
          pairs AS ($duckVerify),
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
          reach AS (
            SELECT src AS id, dst AS r FROM edges
            UNION
            SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
          comp AS (SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id)"""

  private lazy val duckClusterIds =
      s"""WITH RECURSIVE $duckComponentCtes
          SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id"""
}
