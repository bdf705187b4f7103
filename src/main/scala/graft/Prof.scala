package graft.etl

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

// Dev-only phase profiler for the carrot engine (not library surface):
//   GRAFT_PROF=1 SPARK_GRAFT_SF_DIR=... sbt "runMain graft.etl.Prof"
// prints per-phase wall times (schema/rules/dictionary/target builds) plus
// IdAssign's internal collect timings — the breakdown used to find the
// round-2 bottlenecks (single-split fan-out, wide-row numbering).
object Prof {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[prof] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder().withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    sys.env.get("PROF_CONF").foreach(_.split(";").filter(_.nonEmpty).foreach { kv =>
      val Array(k, v) = kv.split("="); b.config(k, v)
    })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val schema = t("schema parse") {
      graft.etl.OmopSchema.fromFiles(
        "@carrot/config/OMOPCDM_postgresql_5.3_ddl.sql",
        "@carrot/config/config.json")
    }
    import org.apache.spark.sql.functions._
    val rules = t("rules compile") {
      graft.etl.Rules.fromJson(SparkEntry.carrotTpchRules, schema)
    }
    def readSource(name: String) = name match {
      case "customer_src" =>
        spark.read.parquet(s"$dir/customer.parquet").select(
          col("c_custkey").cast("string").as("person_id"),
          col("c_mktsegment").as("gender_source_value"),
          concat(lit("19"), lpad((col("c_custkey") % 80 + 10).cast("string"), 2, "0"),
            lit("-01-15")).as("birth_datetime"),
          col("c_custkey").cast("long").as(graft.etl.CsvSource.RowIdx))
      case "orders_src" =>
        spark.read.parquet(s"$dir/orders.parquet").select(
          col("o_custkey").cast("string").as("person_id"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("measurement_date"),
          col("o_totalprice").cast("decimal(12,2)").cast("string").as("val"),
          col("o_orderkey").cast("long").as(graft.etl.CsvSource.RowIdx))
    }
    val engine = t("engine ctor") { new graft.etl.CarrotEngine(spark, schema, rules, readSource) }
    t("personLookup materialize") { engine.personLookup.count() }
    t("raw orders_src count") { readSource("orders_src").count() }
    val out = t("run() plan build (lazy)") { engine.run() }
    t("candidates(measurement) count") { engine.metricsBuilds("measurement").candidates.count() }
    val m = out("measurement")
    t("measurement count #1") { m.count() }
    t("measurement count #2") { m.count() }
    t("person count") { out("person").count() }
    val phases = m.queryExecution.tracker.phases
    phases.foreach { case (p, s) =>
      println(f"[prof] phase $p%-22s ${(s.endTimeMs - s.startTimeMs) / 1e3}%.2f s")
    }
    spark.stop()
  }
}
