package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.cosineSimilarity
import graft.operators.Similarity

/** Index metadata read once per stored file set ([[IndexMeta]]): warm
  * probes run no metadata job, driver-side probe ranking equals Spark's,
  * every way a stored table can change is re-read, and [[Caches.release]]
  * empties the memo. [[Tables.load]]'s schema memo, keyed on the same
  * listing, infers once per file set. */
class IndexMetaSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", "/tmp/graft_test_warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private def jobs(body: => Unit): Int = JobCount.of(spark.sparkContext)(body)

  private def firstChunkVec(): Array[Float] =
    IvfCatalog.assignedChunks(spark, dir, 16).orderBy(col("chunk_id").asc).limit(1)
      .select("embedding").head.getSeq[Float](0).toArray

  private def writeCentroids(name: String, rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    if (!spark.catalog.tableExists(name)) { // files a killed earlier run left behind
      val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    rows.toDF("centroid_id", "centroid_vec")
      .select(col("centroid_id"), col("centroid_vec").cast("array<float>").as("centroid_vec"))
      .coalesce(1).write.mode("overwrite").format("parquet").saveAsTable(name)
    spark.table(name)
  }

  test("a warm stored-index IVF probe, store read included, runs exactly one Spark job") {
    val qv = firstChunkVec()
    def probe(): Unit = {
      val store = IvfCatalog.assignedChunks(spark, dir, 16)
      val cents = IvfCatalog.chunkCentroidsStored(spark, dir, 16)
      Similarity.ivfSearchPruned(store, cents, qv, k = 10, nprobe = 4, idCol = "chunk_id")
        .collect()
    }
    probe()
    assert(jobs(probe()) === 1)
  }

  test("a warm stored-index IVF-PQ probe runs at least 3 fewer jobs than re-collecting metadata") {
    val qv = firstChunkVec()
    def probe(): Unit = {
      val store = IvfCatalog.assignedChunks(spark, dir, 16)
      val cents = IvfCatalog.chunkCentroidsStored(spark, dir, 16)
      val cb = IvfPqCatalog.chunkCodebookStored(spark, dir, 48, 32)
      val codes = IvfPqCatalog.encodedChunks(spark, dir, 16, 48, 32)
      Similarity.ivfPqSearchPruned(codes, store, cents, cb, qv, k = 10, nprobe = 4,
        idCol = "chunk_id").collect()
    }
    probe()
    // collecting the codebook on every call (twice: once more inside
    // encodedChunks) and ranking probes in a Spark job ran 6 jobs here
    assert(jobs(probe()) <= 3)
    assert(jobs(IvfPqCatalog.chunkCodebookStored(spark, dir, 48, 32)) === 0)
  }

  test("warm batch probes of 5 queries run pinned job counts") {
    // the query frame reads the chunk store, so its collect is one job
    def queries(): DataFrame = IvfCatalog.assignedChunks(spark, dir, 16)
      .orderBy(col("chunk_id").asc).limit(5)
      .select(col("chunk_id").as("qid"), col("embedding").as("qvec"))
    def ivf(): Unit = Similarity.ivfSearchPrunedBatch(IvfCatalog.assignedChunks(spark, dir, 16),
      IvfCatalog.chunkCentroidsStored(spark, dir, 16), queries(), k = 10, nprobe = 4,
      idCol = "chunk_id").collect()
    def ivfPq(): Unit = Similarity.ivfPqSearchPrunedBatch(
      IvfPqCatalog.encodedChunks(spark, dir, 16, 48, 32), IvfCatalog.assignedChunks(spark, dir, 16),
      IvfCatalog.chunkCentroidsStored(spark, dir, 16),
      IvfPqCatalog.chunkCodebookStored(spark, dir, 48, 32), queries(), k = 10, nprobe = 4,
      idCol = "chunk_id").collect()
    ivf(); ivfPq()
    // IVF: the query collect, one job per broadcast (a local relation's
    // too), the top-k map stage and the result; ADC adds the candidate
    // collect and the rerank's stages
    assert(jobs(ivf()) <= 5)
    assert(jobs(ivfPq()) <= 8)
  }

  test("driver probe ranking equals Spark's on exact cosine ties, zero and NaN vectors") {
    val a = Seq(1f, 0f, 0f, 0f)
    val b = Seq(0.6f, 0.8f, 0f, 0f)
    val c = Seq(0f, 0f, 1f, 0f)
    val rows = Seq[(Long, Seq[Float])](
      9L -> a, 3L -> b, 7L -> a, 1L -> c, 12L -> b, 5L -> Seq(0f, 0f, 0f, 0f),
      2L -> a.map(-_), 11L -> c, 4L -> Seq(Float.NaN, 0f, 0f, 0f), 8L -> b, 6L -> a)
    val name = TableStore.tableName("indexmeta_ties", dir)
    val cents = writeCentroids(name, rows)
    val queries = Seq(Array(1f, 0f, 0f, 0f), Array(0.6f, 0.8f, 0f, 0f), Array(0f, 0f, 0f, 0f),
      Array(0.3f, 0.4f, 0.5f, -0.2f), Array(-1f, 0f, 0f, 0f))
    for (q <- queries; n <- Seq(1, 2, 3, 5, rows.size)) {
      val want = cents
        .withColumn("qcos", cosineSimilarity(col("centroid_vec"), typedLit(q)))
        .orderBy(col("qcos").desc, col("centroid_id").asc)
        .limit(n).select("centroid_id").collect().map(_.getLong(0)).toSeq
      assert(Similarity.probedCentroidIds(cents, q, n).toSeq === want,
        s"query ${q.mkString(",")} nprobe $n")
    }
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("a stored table is read once per file set: rewrite and drop-and-rebuild are re-read") {
    val name = TableStore.tableName("indexmeta_rewrite", dir)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def ids(df: DataFrame) = IndexMeta.centroids(df).map(_._1).toSeq
    writeCentroids(name, Seq(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f)))
    assert(ids(spark.table(name)) === Seq(1L, 2L))
    assert(jobs(assert(ids(spark.table(name)) === Seq(1L, 2L))) === 0, "warm read must hit")
    // in-place overwrite under the same name
    writeCentroids(name, Seq(3L -> Seq(1f, 1f)))
    assert(ids(spark.table(name)) === Seq(3L))
    // drop and rebuild
    spark.sql(s"DROP TABLE $name")
    writeCentroids(name, Seq(4L -> Seq(1f, 0f), 5L -> Seq(1f, 2f)))
    assert(jobs(assert(ids(spark.table(name)) === Seq(4L, 5L))) === 1, "rebuild must be re-read")
    // a frame that is not a bare stored table is collected on every call
    val derived = spark.table(name).filter(col("centroid_id") > 4L)
    assert(jobs(assert(ids(derived) === Seq(5L))) === 1)
    assert(jobs(assert(ids(derived) === Seq(5L))) === 1)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("a Reindex generation flip is re-read, not served from the old generation") {
    val nlist = 67 // isolated store/centroid tables
    def genOf(): Long = TableStore.currentGen(spark, IvfCatalog.chunkGroup(dir, nlist))
    def dropAll(): Unit = {
      val g = genOf()
      Seq(IvfCatalog.chunkStoreName(dir, nlist), IvfCatalog.chunkCentroidsName(dir, nlist),
          DocLifecycle.docCellsName(dir, nlist)).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${TableStore.physGen(t, g)}")
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
      val ptr = TableStore.genPointerPath(spark, IvfCatalog.chunkGroup(dir, nlist))
      ptr.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ptr, false)
    }
    dropAll()
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    def read() = IndexMeta.centroids(IvfCatalog.chunkCentroidsStored(spark, dir, nlist))
      .map { case (id, v) => (id, v.toSeq) }.toSet
    val before = read()
    assert(jobs(read()) === 0)
    // grow the corpus so the rebuilt generation derives other centroids
    import spark.implicits._
    val docs = (1 to 6).map { i =>
      (960000L + i, (1 to 3).map(p => s"Ledger $i entry $p records the memo generation " +
        s"flip token ${i * 7919 + p} for the serving store.").mkString(" "))
    }
    graft.streaming.StreamingIngest.ingestDocBatch(docs.toDF("doc_id", "text"), dir, nlist)
    val g0 = genOf()
    Reindex.rebuildChunkIndex(spark, dir, nlist, nlist)
    assert(genOf() !== g0)
    val stored = spark.table(TableStore.physGen(IvfCatalog.chunkCentroidsName(dir, nlist), genOf()))
      .select(col("centroid_id").cast("long"), col("centroid_vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSet
    assert(stored !== before, "the rebuild must derive other centroids for this check to bite")
    assert(read() === stored)
    assert(jobs(read()) === 0)
    dropAll()
  }

  test("Caches.release() empties the memo") {
    IndexMeta.centroids(IvfCatalog.chunkCentroidsStored(spark, dir, 16))
    IvfPqCatalog.chunkCodebookStored(spark, dir, 48, 32)
    assert(IndexMeta.size >= 2)
    Caches.release()
    assert(IndexMeta.size === 0)
    assert(jobs(IndexMeta.centroids(IvfCatalog.chunkCentroidsStored(spark, dir, 16))) === 1)
  }

  test("Tables.load infers a table's schema once per file set") {
    import spark.implicits._
    Tables.documents(spark, dir)
    assert(jobs(Tables.documents(spark, dir)) === 0)
    val tdir = java.nio.file.Files.createTempDirectory("graft_tables_schema").toString
    try {
      Seq((1L, "a")).toDF("id", "text").write.parquet(Tables.path(tdir, "extra"))
      assert(jobs(assert(Tables.load(spark, tdir, "extra").columns.toSeq === Seq("id", "text"))) === 1)
      assert(jobs(Tables.load(spark, tdir, "extra")) === 0)
      // a rewritten file with an added column is inferred again
      Seq((2L, "b", 0.5)).toDF("id", "text", "w").write.mode("overwrite")
        .parquet(Tables.path(tdir, "extra"))
      val again = Tables.load(spark, tdir, "extra")
      assert(again.columns.toSeq === Seq("id", "text", "w"))
      assert(again.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
        Seq((2L, "b", 0.5)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tdir))
  }
}
