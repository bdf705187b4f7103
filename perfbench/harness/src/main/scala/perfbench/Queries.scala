package perfbench

import org.apache.spark.sql.SparkSession

/** Times contract queries from `graft.SparkEntry.queries` in one fresh
  * session configured like `graft.Bench`: a cold pass, then a warm pass
  * over the same list. Each query's DataFrame is built (`query.build`,
  * which includes its eager collects and session-memo builds) and then
  * written to the `noop` sink (`query.exec`), so every output column is
  * computed. After the timed passes, `graft.Verify` dumps the same
  * queries' results for the oracle compare; that part is not timed.
  *
  * Modes: `probe` stops once the session is ready (a set-up sample), `run`
  * times the passes, `trace` also records per-layer spans.
  *
  * Usage: Queries <figures.json> <data dir> <verify dir> <probe|run|trace> <q1,q2,...>
  */
object Queries {
  def main(args: Array[String]): Unit = {
    val Array(figuresPath, dataDir, verifyOut, mode, names) = args
    val order = names.split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val tracer = new Tracer
    val spark = tracer.span("session.start") {
      val s = SparkSession.builder()
        .withExtensions(new graft.GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val readyMs = System.currentTimeMillis()
    if (mode == "probe") {
      Proc.writeJson(figuresPath, Proc.endFigures(readyMs))
      spark.stop()
      return
    }
    if (mode == "trace") tracer.attach(spark)

    val all = graft.SparkEntry.queries
    var failed = 0
    /** (pass wall, of which query.build) in seconds */
    def pass(label: String): (Double, Double) = {
      val t0 = System.nanoTime()
      var buildNs = 0L
      for (name <- order) {
        val q0 = System.nanoTime()
        try {
          val df = tracer.span("query.build")(all(name)(spark, dataDir))
          buildNs += System.nanoTime() - q0
          tracer.span("query.exec")(df.write.format("noop").mode("overwrite").save())
          System.err.println(f"[perfbench] $label $name ${(System.nanoTime() - q0) / 1e9}%.3f s")
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] $label $name FAILED: $e")
        }
      }
      ((System.nanoTime() - t0) / 1e9, buildNs / 1e9)
    }
    val (cold, coldBuild) = pass("cold")
    val (warm, warmBuild) = pass("warm")
    val figures = Proc.endFigures(readyMs) ++ Map(
      "pass.cold_s" -> cold, "pass.warm_s" -> warm,
      "query.build.cold_s" -> coldBuild, "query.build.warm_s" -> warmBuild,
      "failed" -> failed.toDouble)

    graft.Verify.main(Array(dataDir, verifyOut, names)) // stops the session
    val traced = if (mode == "trace") tracer.report(Seq.empty) else Map.empty[String, Double]
    Proc.writeJson(figuresPath, figures ++ traced)
  }
}
