package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The stored-index ingest loop, timed end to end (SCALE.md): build the
  * IVF-assigned corpus table ONCE, then flag + append an increment against
  * it — the numbers behind "assignment is a build cost the catalog
  * amortizes; recurring ingest cost is batch × its cells".
  *
  * Usage: `sbt "runMain graft.IngestBench [dir [nlist [batchPct [mode]]]]"` —
  * defaults to the ×1000 ScaleGen corpus, nlist = max(√n, n/1500), 0.1%
  * batch, TRAINED centroids (`mode` = `trained` | `seeded`; trained is the
  * production default — recall .975 vs .895 seeded at ×10 — and its k-means
  * runs over a bounded hash sample, so the extra build cost is one capped
  * MLlib job, not a corpus-scaled one).
  */
object IngestBench {

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/graft_sf100")
    val batchPct = args.lift(2).map(_.toDouble).getOrElse(0.1)
    val trained = args.lift(3).map(_.trim.toLowerCase).getOrElse("trained") match {
      case "trained" => true
      case "seeded"  => false
      case other     => sys.error(s"unknown centroid mode '$other' (trained|seeded)")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val nlist = args.lift(1).map(_.toInt).getOrElse(
      math.max(math.sqrt(n.toDouble).toInt, (n / 1500).toInt))
    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[ingest] $what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val mode = if (trained) "trained" else "seeded"
    println(s"[ingest] corpus $dir: $n vectors, nlist=$nlist, batch=$batchPct%, centroids=$mode")

    // drop a previous build (and stale trained centroids) so the build cost
    // is really measured — trained mode's build includes the k-means job
    val storeTable =
      if (trained) TableStore.tableName(s"ivfk$nlist", dir)
      else TableStore.tableName(s"ivf${nlist}_31", dir)
    spark.sql(s"DROP TABLE IF EXISTS $storeTable")
    // both modes freeze centroids as a table now — drop so the build cost
    // includes deriving them (k-means job / seeded sample respectively)
    spark.sql(s"DROP TABLE IF EXISTS ${TableStore.tableName(
      if (trained) s"ivfcent_k$nlist" else s"ivfcent_s${nlist}_31", dir)}")
    val store = timed(s"build ($mode centroids + assign + partitioned write, ONCE per corpus)") {
      val s = IvfCatalog.assignedEmbeddings(spark, dir, nlist, 31L, trained)
      s.count(); s
    }
    val cents = IvfCatalog.centroidsFor(spark, dir, nlist, 31L, trained)

    val mod = math.max(1L, (100.0 / batchPct).toLong)
    val batch = emb.filter(pmod($"vec_id", lit(mod)) === 0)
      .select(($"vec_id" + 100000000L).as("vec_id"), $"embedding")
    val bn = batch.count()
    val pairs = timed(s"flag increment ($bn vectors vs stored index)") {
      Dedup.embeddingPairsCelledIncremental(batch, store, cents,
        minCosine = 0.9, batchRows = bn, nprobe = 2).count()
    }
    println(s"[ingest] flagged pairs: $pairs")
    timed(s"append increment ($bn vectors into the cell partitioning)") {
      IvfCatalog.appendBatch(spark, dir, batch, nlist, 31L, trained)
    }
    println(s"[ingest] store rows after append: " +
      IvfCatalog.assignedEmbeddings(spark, dir, nlist, 31L, trained).count())
    spark.stop()
  }
}
