package perfbench

import org.apache.spark.sql.SparkSession

import graft.etl._

/** The traced twin of `graft.etl.CarrotCli.run`: the same public calls in
  * the same order, each wrapped in a [[Tracer]] span. Only the options the
  * benchmark passes are supported (rules, inputs, an output directory);
  * everything else keeps the CLI's defaults. `run.py` checks that its
  * outputs are byte-identical to the CLI's, so drift between this file and
  * the CLI shows up as a failed run.
  *
  * Usage: TraceEtl <figures.json> <rules.json> <inputs dir> <output dir>
  */
object TraceEtl {

  /** Source files whose stages are reported as `site.<File>.task_s`.
    * CarrotMetrics is not one: it only builds plans, which run under the
    * sink's or the caller's frames (the metrics.* spans time them). */
  val Sites = Seq("IdAssign", "TsvSink", "PersonLookup")

  def main(args: Array[String]): Unit = {
    val Array(figuresPath, rulesFile, inputs, output) = args
    val tracer = new Tracer

    val master = sys.props.get("spark.master").orElse(sys.env.get("SPARK_MASTER")).getOrElse("local[*]")
    val spark = tracer.span("session.start") {
      val s = SparkSession.builder()
        .withExtensions(new graft.GraftExtensions)
        .appName("carrot-transform-spark")
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val readyMs = System.currentTimeMillis()
    tracer.attach(spark)

    val (schema, rules) = tracer.span("rules.compile") {
      val schema = OmopSchema.fromFiles(
        "@carrot/config/OMOPCDM_postgresql_5.3_ddl.sql", "@carrot/config/config.json")
      (schema, Rules.fromFile(rulesFile, schema))
    }
    tracer.span("dispatch.list") {
      Dispatch.listSourceNames(spark, inputs).foreach { avail =>
        Dispatch.rulesFilesMismatch(rules.sourceTables, avail).foreach(System.err.println)
      }
    }
    val engine = new CarrotEngine(spark, schema, rules,
      Dispatch.sourceReader(spark, inputs, ","), useInputPersonIds = false, Map.empty,
      personTable = None, cacheJoined = true)
    // the CLI's default --output-mode single
    val write = Dispatch.outputTarget(spark, output, dirMode = false)

    tracer.span("engine.person_ids")(write("person_ids", engine.personIds))
    // a file sink takes the CLI's ordered path
    val results = tracer.span("engine.build")(engine.runOrdered())
    tracer.span("sink.targets")(for ((target, df) <- results) write(target, df))
    tracer.span("metrics.summary")(write("summary_mapstream", engine.summary(0L)))
    tracer.span("metrics.log_counts")(CarrotMetrics.runLogCounts(engine).collect())
    tracer.span("engine.close")(engine.close())

    spark.stop()
    Proc.writeJson(figuresPath, Proc.endFigures(readyMs) ++ tracer.report(Sites))
  }
}
