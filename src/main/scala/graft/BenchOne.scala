package graft

/** Ad-hoc timing for a subset of queries: `runMain graft.BenchOne q1 q2 ...`
  * (all queries if no args). Same session config as [[Bench]]; one warmup +
  * 3 timed runs per query, prints min/median. For iterating on a single
  * operator without paying the full bench.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // between-samples hygiene, shared with Bench — rationale and the
    // measured justification live on the helper
    def purgeLeakedRdds(): Unit = org.apache.spark.sql.graftx
      .CheckpointUtils.purgeAllPersisted(spark)
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      q(spark, sfDir).count() // warmup
      purgeLeakedRdds()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = q(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        purgeLeakedRdds()
        (dt, n)
      }
      val secs = ts.map(_._1).sorted
      println(f"BENCHONE $name%-28s min=${secs.head}%8.3f med=${secs(1)}%8.3f rows=${ts.head._2}")
    }
    spark.stop()
  }
}
