package graft

/** Dev tool for the optimization rounds: dump `.explain("formatted")` for
  * named queries to files, without timing them.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PLAN_DIR=plans/r12 \
  *     sbt "runMain graft.PlanDump _suffix q1_agg a_betweenness ..."
  *
  * The first arg is a filename suffix (e.g. `_before` / `_after`); the rest
  * are query names (all queries if none). Plans are captured WITHOUT
  * executing the query where possible — but queries that run driver-side
  * work while BUILDING their DataFrame (fixture ingest, iterative operators
  * with actions inside) still pay that cost, so expect some runtime.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r12")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val suffix = args.headOption.getOrElse("_plan")
    val names = if (args.length > 1) args.toSeq.drop(1)
      else SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(planDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(planDir, s"$name$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"PLANDUMP wrote $planDir/$name$suffix.txt")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"PLANDUMP FAILED $name: $e")
      } finally org.apache.spark.sql.graftx.CheckpointUtils
        .purgeAllPersisted(spark)
    }
    spark.stop()
  }
}
