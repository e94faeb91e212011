package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each [[ScaleBench]] leg run in-process on a ×2 upsample of sf0.001, so
  * the scale evidence's harness cannot rot between the runs that record
  * it. Asserts the legs' own self-checks from the lines they return: the
  * decade leg's top-10 overlap vs brute force, the span leg's sliced ≡
  * monolithic equality (and its survivor-fixture tie, which the leg
  * `require`s), the ingest leg's per-batch lines and mixture advice. The
  * catalog tables the legs create are dropped afterwards. */
class ScaleBenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val src = "/root/testdata/sf0.001"
  private lazy val scratch = Files.createTempDirectory("graft_scalebench").toString
  private lazy val tablesBefore = spark.catalog.listTables().collect().map(_.name).toSet

  override def beforeAll(): Unit = { super.beforeAll(); tablesBefore }

  override def afterAll(): Unit = {
    try {
      (spark.catalog.listTables().collect().map(_.name).toSet -- tablesBefore)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
    } finally super.afterAll()
  }

  private def matching(lines: Seq[String], re: scala.util.matching.Regex) =
    lines.collect { case re(gs @ _*) => gs }

  test("decade leg: builds, probes, ingest, compaction, serve matrix and " +
       "edits run; both pruned paths overlap brute force in the top 10") {
    val lines = ScaleBench.decade(spark, src, s"$scratch/decade", factor = 2,
      nlist0 = 0, batchTag = 0L)
    val overlaps = matching(lines, """q\d top-10 overlap vs brute: ivf=(\d+)/10 ivfadc=(\d+)/10""".r)
      .map(_.map(_.toInt))
    assert(overlaps.nonEmpty, lines.mkString("\n"))
    overlaps.foreach { case Seq(ivf, adc) => assert(ivf >= 5 && adc >= 5, lines.mkString("\n")) }
    assert(lines.exists(_.startsWith("ingest batch 0:")))
    assert(lines.count(_.startsWith("edit-stream batch")) === 2)
    assert(lines.exists(_.startsWith("serve batch-")))
    assert(matching(lines, """bulk re-crawl of (\d+) docs: .*""".r).map(_.head.toLong)
      .exists(_ > 0))
  }

  test("span leg: the sliced full pass equals the monolithic one on the " +
       "survivor fixture, and the curation chain and scrub-in-place run") {
    val lines = ScaleBench.span(spark, s"$scratch/span", 50, 2, src)
    val Seq(Seq(sliced, mono)) = matching(lines, """spans: sliced=(\d+) monolithic=(\d+)""".r)
    assert(sliced.toLong > 0 && sliced === mono)
    assert(lines.exists(_.startsWith("curation survivor split: clean=")))
    assert(lines.exists(_.startsWith("curation manifest rows=")))
    assert(lines.exists(_.startsWith("scrub-store: docs=")))
  }

  test("ingest leg: one line per batch, and the cadence reports the " +
       "mixture drift against a 0.4/0.3/0.3 target") {
    val dir = s"$scratch/ingest"
    ScaleBench.upsampleDocs(spark, src, s"$dir/documents.parquet", 2, survivor = false)
    val lines = ScaleBench.ingest(spark, dir, 0, 20, 4)
    val batches = matching(lines, """batch (\d+): docs=(\d+) .*""".r)
    assert(batches.map(_.head.toInt) === (0 until 4), lines.mkString("\n"))
    assert(batches.forall(_(1).toInt == 40))
    assert(lines.exists(_.startsWith("mixture advice:")), lines.mkString("\n"))
    assert(lines.exists(l => l.startsWith("parts dirs after cadence folds") &&
      !l.contains("legacy")), lines.mkString("\n"))
  }
}
