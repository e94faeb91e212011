package graft

/** Dev smoke-runner mirroring the driver's t1 check: run SparkEntry.entry on
  * sf0.001, print row count + rows. Optional arg: a query name to run+show
  * instead (on sf0.001), for quick plan/result inspection via
  * `.explain("formatted")`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.localBuilder(cpus.toInt,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption match {
      case Some(name) =>
        val df = SparkEntry.queries(name)(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
        df.explain("formatted")
        df.show(20, truncate = 60)
        println(s"[smoke] $name rows=${df.count()}")
      case None =>
        val df = SparkEntry.entry(spark)
        df.show(20, truncate = 60)
        println(s"[smoke] entry rows=${df.count()}")
    }
    spark.stop()
  }
}
