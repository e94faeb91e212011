package graft

import org.apache.spark.scheduler._

/** Dev tool (optimization rounds): run a registered query once warm and
  * print per-stage wall time, task count, and the stage's name line — the
  * "which stage is slow" evidence the optimization guide (§1.1/§7.1) asks
  * for, without the UI (disabled in this sandbox).
  *
  * Usage: StageProfile <name> [name ...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as usual.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.localBuilder(cpus.toInt, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    case class St(var name: String = "", var tasks: Int = 0,
                  var ms: Long = 0L, var submitted: Long = 0L,
                  var taskMs: Long = 0L, var runMs: Long = 0L,
                  var deserMs: Long = 0L, var gcMs: Long = 0L,
                  var fetchMs: Long = 0L, var resultSerMs: Long = 0L)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (record) {
          val st = stages.computeIfAbsent(e.stageInfo.stageId, _ => St())
          st.name = e.stageInfo.name
          st.submitted = System.nanoTime()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) Option(stages.get(e.stageInfo.stageId)).foreach { st =>
          st.ms = (System.nanoTime() - st.submitted) / 1000000L
          st.tasks = e.stageInfo.numTasks
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (record) Option(stages.get(e.stageId)).foreach { st =>
          st.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            st.runMs += m.executorRunTime
            st.deserMs += m.executorDeserializeTime
            st.gcMs += m.jvmGCTime
            st.fetchMs += m.shuffleReadMetrics.fetchWaitTime
            st.resultSerMs += m.resultSerializationTime
          }
        }
    })
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (name <- args; fn = SparkEntry.queries(name)) {
      // warm pass (untimed): codegen + catalog builds
      fn(spark, sfDir).count()
      Caches.release(); spark.sqlContext.clearCache()
      stages.clear(); record = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      record = false
      Caches.release(); spark.sqlContext.clearCache()
      Thread.sleep(300) // let listener drain
      println(f"[profile] $name total=$total%.2f s, ${stages.size} stages")
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_._2.ms)
      for ((id, st) <- rows.take(25))
        println(f"[profile]   stage=$id%-5d wall=${st.ms}%6d ms  tasks=${st.tasks}%4d  taskSum=${st.taskMs}%6d ms  run=${st.runMs}%6d deser=${st.deserMs}%5d gc=${st.gcMs}%5d fetch=${st.fetchMs}%5d rser=${st.resultSerMs}%4d  ${st.name.take(70)}")
    }
    spark.stop()
  }
}
