package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Attribution, Fusion}

/** Driver-side sequential operators: diversity filter (V5), exact token
  * packing (P8) — FIXTURES.md §2 vectors — and the hybrid merge's
  * driver-side order. */
class FusionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("the hybrid merge orders exactly as Spark sorts (score DESC, id ASC) on exact ties") {
    import spark.implicits._
    // every document has the same text and the same embedding, so both
    // branches tie exactly and the id alone orders the rows; one NaN
    // embedding and one zero embedding score apart from the rest
    val same = Seq(0.6f, 0.8f, 0f)
    def corpus[T](ids: Seq[T])(mk: Seq[(T, String, Seq[Float])] => DataFrame): DataFrame =
      mk(ids.zipWithIndex.map { case (id, i) =>
        (id, "spark join vector", if (i == 1) Seq(Float.NaN, 0f, 0f)
                                  else if (i == 2) Seq(0f, 0f, 0f) else same)
      })
    val longs = corpus(Seq(5L, -1L, 0L, Long.MaxValue, Long.MinValue, 42L, 7L, -42L, 3L))(
      _.toDF("id", "text", "embedding"))
    val strings = corpus(Seq("\uE000", "a", "\uFFFD", "\uD83D\uDE00", "\uFFFF", "\uD800\uDC00",
      "\uE000x", "", "\uDBFF\uDFFF", "z\uF8FF"))(_.toDF("id", "text", "embedding"))
    for ((df, n) <- Seq(longs -> 9, strings -> 10); limit <- Seq(3, n)) {
      val got = Fusion.hybridSearch(df, same.toArray, "spark", limit, "id").collect().toSeq
      val want = spark.createDataFrame(got.asJava, got.headOption.map(_.schema).orNull)
        .orderBy(col("score").desc, col("id").asc).collect().toSeq
      assert(got.size === limit)
      assert(got === want, s"limit $limit")
      if (limit == n) {
        // the full merge is every document, in Spark's order of the whole
        // corpus' merged rows
        assert(got.map(_.get(0)).toSet === df.select("id").collect().map(_.get(0)).toSet)
      }
    }
    // Java's String order would put the surrogate pairs before U+E000
    val ids = Fusion.hybridSearch(strings, same.toArray, "spark", 10, "id").collect()
      .map(_.getString(0)).toSeq
    assert(ids.indexOf("\uFFFF") < ids.indexOf("\uD83D\uDE00"))
  }

  test("diversity filter: pass-through at <=3 results") {
    val in = Seq("a b", "a b", "a b")
    assert(Fusion.diversityFilter[String](in, identity) === in)
  }

  test("diversity filter: drops near-duplicates above 0.85 jaccard, keeps top-1") {
    val in = Seq(
      "alpha beta gamma delta epsilon zeta eta",      // kept (top-1)
      "alpha beta gamma delta epsilon zeta eta2",     // jaccard 6/8=0.75 → kept
      "alpha beta gamma delta epsilon zeta eta",      // identical to #1 → dropped
      "totally different words here")                 // kept
    val out = Fusion.diversityFilter[String](in, identity)
    assert(out === Seq(in(0), in(1), in(3)))
  }

  test("jaccard similarity bounds") {
    assert(Fusion.jaccardSimilarity("", "") === 1.0)
    assert(Fusion.jaccardSimilarity("a", "") === 0.0)
    assert(Fusion.jaccardSimilarity("a b", "b a") === 1.0)
    assert(Fusion.jaccardSimilarity("a b c d", "c d e f") === 1.0 / 3.0)
  }

  test("confidence clamps to 1.0 for unbounded score scales") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val results = Seq((1L, 4.2, "a"), (2L, 3.0, "b"), (3L, 2.0, "c"))
      .toDF("id", "score", "source")
    val conf = Fusion.confidence(results).head.getDouble(0)
    assert(conf === 1.0) // 0.6*4.2 + 0.2 + 0.2 would be 2.92 unclamped
  }

  test("packContextWindow: null-content rows draw from the same global budget") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    // null content costs maxTokensPerDoc (least() skips nulls); the window
    // key must still put it in the ONE global partition — a null-valued key
    // would give it a fresh running sum and admit it past a spent budget
    val results = Seq(
      (1L, "x" * 400, 0.9),                      // 100 tokens, cum 100 ≤ 150
      (2L, null.asInstanceOf[String], 0.8))      // 100 tokens, cum 200 > 150
      .toDF("id", "content", "score")
    val kept = Attribution.packContextWindow(results,
        maxTotalTokens = 150, maxTokensPerDoc = 100)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L))
  }

  test("exact packing: skip oversized-for-budget, truncate oversized-per-doc") {
    // budget 100 tokens total, 30 per doc; token = len/4
    val results = Seq(
      ("r1", "x" * 200, 0.9),   // 50 tokens > 30 → truncated to 30 (+ "...")
      ("r2", "y" * 400, 0.8),   // untruncated 100 > remaining 70 → skipped
      ("r3", "z" * 200, 0.7),   // 50 > 30 → truncated to 30, total 60
      ("r4", "w" * 120, 0.6),   // 30 tokens, total 90
      ("r5", "v" * 100, 0.5))   // 25 tokens → 90+25=115 > 100 → skipped
    val out = Attribution.packContextExact(results, maxTotalTokens = 100, maxTokensPerDoc = 30)
    assert(out.map(_._1) === Seq("r1", "r3", "r4"))
    assert(out.head._2 === "x" * 120 + "...")
    assert(out(2)._2 === "w" * 120)
  }
}
