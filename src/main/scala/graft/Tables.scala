package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the shared fixture directory (TESTDATA.md).
  *
  * Every registered query receives an `sfDir` and reads through here, so the
  * scan always goes through the vectorized parquet reader with Catalyst
  * handling column pruning / filter pushdown. At cluster scale the same calls
  * work unchanged against a directory of many part-files.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Parquet scans parallelize by file and by row group, and each fixture
    * table is ONE file with ONE row group — so every scan stage, including
    * the expensive per-row kernels that run fused inside it (tokenize +
    * digest-per-window, shingle sets, MinHash/SimHash signatures, analyzer
    * UDFs), executes as a single task no matter how many cores the session
    * has. Measured at sf0.1 on 32 cores: the span-digest kernel's scan
    * stage ran 1 task while 31 cores idled, and the 8-core bench was
    * indistinguishable from the 32-core one on every query (the r19
    * verdict's "scaling evidence is structurally uninformative" item).
    *
    * Fix: below [[SpreadMaxBytes]] of on-disk input, redistribute the
    * loaded rows round-robin across the session's default parallelism so
    * downstream kernels use the machine. The exchange moves at most
    * SpreadMaxBytes once; everything the kernels explode from the rows
    * (shingles, window digests — typically 10-50× the input) is then
    * produced AND consumed in parallel. Above the gate, file/row-group
    * splits already provide scan parallelism and a corpus-shaped exchange
    * would cost real shuffle bytes — never spread at scale (at 100 TB this
    * gate simply never fires). Below [[SpreadMinBytes]] the table is a
    * broadcast-sized dimension side (nation/region/supplier): an exchange
    * buys nothing a single task doesn't already do in microseconds.
    *
    * Catalyst pushes filters and column pruning through a Repartition
    * node, so PushedFilters/ReadSchema at the scan are unchanged (pinned
    * by PlanSpec); round-robin repartition sorts its input partition first
    * (spark.sql.execution.sortBeforeRepartition, default on), so the
    * row-to-partition assignment is deterministic and replay-safe. */
  val SpreadMaxBytes: Long = 64L << 20
  val SpreadMinBytes: Long = 48L << 10

  /** Only the KERNEL corpus spreads: documents is the table every
    * expensive per-row text kernel consumes (tokenize+digest windows,
    * shingle sets, MinHash/SimHash signatures, analyzers, quality/clean
    * regexes) — there the spread bought 1.3-2× warm (same-JVM A/B at
    * sf0.1: ngram 3.2→1.7 s, bm25_stemmed 1.4→0.9, neardup 1.8→1.2,
    * incremental 1.3→0.8). Everything else keeps its natural split
    * parallelism: the relational/event tables' codegen scan→join→agg
    * queries measured the spread as a net cold-path loss (paired
    * interleave: rel_revenue_by_nation +0.75 s with no kernel to feed),
    * and the embeddings table's float math is trivial per row — its two
    * genuinely compute-bound consumers (the LSH band self-join and the
    * exact O(n²) pair join) spread INSIDE the operator, where the fan-out
    * actually happens (Similarity.lshCandidates /
    * VectorSearch.similarityJoin), so the ~15 ANN serving rows don't pay
    * an exchange for nothing. */
  private val SpreadTables = Set("documents")

  /** The parquet confs that change an inferred schema, `nanosAsLong`
    * first: [[events]] sets it on the session. */
  private val InferenceConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  /** path → (inference confs, file listing, inferred schema): one slot per
    * path. */
  private val schemas =
    new ConcurrentHashMap[String, (Seq[Option[String]], Option[Seq[(String, Long, Long)]], StructType)]()

  /** `spark.read.parquet(p)` with the schema inferred once per file set.
    * Inference runs a Spark job of its own; a read with a known schema runs
    * none, and the listing its file index makes is compared with the one
    * the schema was inferred from ([[IndexMeta.listing]]), so a rewritten
    * file is inferred again. */
  private def parquet(spark: SparkSession, p: String): DataFrame = {
    val confs = InferenceConfs.map(spark.conf.getOption)
    Option(schemas.get(p)).filter(_._1 == confs)
      .map(m => (m, spark.read.schema(m._3).parquet(p)))
      .collect { case (m, df) if IndexMeta.listing(df) == m._2 => df }
      .getOrElse {
        val df = spark.read.parquet(p)
        schemas.put(p, (confs, IndexMeta.listing(df), df.schema))
        df
      }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, path(dir, name))
    if (!SpreadTables.contains(name)) return df
    val bytes = GraftSession.dirBytes(path(dir, name))
    if (bytes >= SpreadMinBytes && bytes < SpreadMaxBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  // RAG-domain tables (reference data model, SURVEY.md §1)
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  /** Fixture generations disagree on the events `ts` physical type: older
    * driver fixtures (and [[ScaleGen]] output) store TIMESTAMP(NANOS), which
    * Spark's reader only accepts as long via `nanosAsLong` — truncate those
    * to microseconds with integral `div` (not `/`; double division loses
    * precision above 2^53). Newer fixtures store TIMESTAMP(MICROS) directly
    * (read as TIMESTAMP_NTZ). Normalize both to session-TZ TimestampType so
    * every downstream window/as-of/streaming consumer sees one type. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  // TPC-H-ish star schema (relational operator coverage)
  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
}
