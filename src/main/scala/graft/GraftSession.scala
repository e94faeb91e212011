package graft

import org.apache.spark.sql.SparkSession

/** Shared shuffle-sizing defaults for the runnable surfaces (Bench, Verify,
  * Smoke, ScaleBench): size shuffle partitions to the DATA, not the core
  * count. The r7 partition sweep measured 100M-event sessionization at
  * 49.8 s with core-count partitions vs 29.2 s at 256 (≈ tens of MB per
  * partition) — AQE should own that point. Shuffles start wide
  * (`initialPartitionNum`) and AQE coalesces down to the advisory byte
  * size; `parallelismFirst=false` makes the advisory size, not core count,
  * the coalescing target. On a cluster the same knobs govern spill
  * behavior at every scale factor — these defaults are the "would this
  * survive 100×" posture, applied where the driver actually measures.
  *
  * The defaults are GATED ON INPUT SIZE: a paired A/B bench at sf0.1
  * (17.6 MB on disk) measured the wide-initial-partition configs costing
  * 1.11× — per-shuffle map-bucket overhead that tiny inputs never earn
  * back — while the ×1000 corpus (~10× larger on disk, 100M events)
  * measured 1.7× FASTER with them. Below [[DataSizedMinBytes]] of input
  * the session keeps plain core-count static partitions; at or above it
  * the data-sized configs engage. Callers pass the input directory so the
  * gate reads the actual bytes it will process.
  */
object GraftSession {

  /** Input bytes below which the data-sized shuffle configs are a net loss
    * (measured: sf0.1 = 17.6 MB → 1.11× slower; ×1000 ≈ 176 MB → 1.7×
    * faster; 64 MB splits the decades with margin on both sides). */
  val DataSizedMinBytes: Long = 64L << 20

  /** Total file bytes under `dir` (the gate's input-size estimate). */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(dir))
  }

  /** Background disk monitor for corpus-shaped bench legs: runs `f` while
    * sampling free bytes on the filesystem `path` lives on every 500 ms,
    * returning (result, LOW-water mark in GB free) — the number the
    * disk-budget claims in SCALE.md are graded on. Pass the directory the
    * workload actually writes under (store/scratch), not a hard-coded
    * volume: a relocated store would otherwise grade the wrong disk. */
  def withDiskLowWater[T](path: String)(f: => T): (T, Double) = {
    val fsFile = new java.io.File(path)
    val low = new java.util.concurrent.atomic.AtomicLong(fsFile.getUsableSpace)
    def sample(): Unit = low.getAndUpdate(l => math.min(l, fsFile.getUsableSpace))
    val t = new Thread(() =>
      try while (true) { sample(); Thread.sleep(500) }
      catch { case _: InterruptedException => () })
    t.setDaemon(true); t.start()
    val r = try f finally { t.interrupt(); t.join() }
    sample()
    (r, low.get / 1e9)
  }

  /** The runnable surfaces' local session: `local[cpus]`, the shared
    * warehouse, no UI, shuffle partitions sized by [[dataSizedShuffle]] to
    * what `inputDir` holds. Callers add their own confs and `getOrCreate`. */
  def localBuilder(cpus: Int, inputDir: String): SparkSession.Builder =
    dataSizedShuffle(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false"), cpus, inputDir)

  /** Apply the shuffle-sizing defaults to a session builder. `shuffle` is
    * the static partition count (used verbatim below the gate; otherwise
    * the floor under `initialPartitionNum`); `inputDir` is what the session
    * will read — its on-disk size decides which regime applies. */
  def dataSizedShuffle(b: SparkSession.Builder, shuffle: Int,
                       inputDir: String): SparkSession.Builder = {
    val base = b.config("spark.sql.shuffle.partitions", shuffle.toString)
    if (dirBytes(inputDir) < DataSizedMinBytes)
      base // fixture-scale input: stock AQE, static partition count
    else base
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(1024, shuffle).toString)
  }
}
