package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DateExprs

/** The metrics/summary subsystem (reference `tools/metrics.py`) as ONE
  * counted relation per engine: keyed counters over
  * DataKey(source, fieldname, tablename, concept_id, additional), pivoted
  * to one column per counter on the FULL key (source names untruncated,
  * no threshold applied):
  *
  *  - incount: one per source row (`run.py:219-226`)
  *  - invalid_source: empty data-column values per (src, field, tgt)
  *  - invalid_date: records dropped by the birthdate component parse
  *  - invalid_persid: J1 misses per (src, all, tgt)
  *  - outcount: each written record fans out to up to 7 rollup keys
  *    (`metrics.py:191-259`; person rows use out_record[1] as concept and
  *    out_record[2] as additional, non-person rows use out_record[2])
  *
  * The engine caches the relation (tracked by its `CacheScope`), so the
  * counters are aggregated once and both readers are cheap selects:
  * [[summary]] is the materialization (A3, `metrics.py:305-343`) — rows
  * below the output-count threshold dropped, source truncated at the first
  * '.', rows sorted by the "src~field~table~concept~additional" key
  * string — and [[runLogCounts]] picks the two key shapes the console log
  * prints.
  */
object CarrotMetrics {

  import CarrotEngine._

  private val KeyCols = Seq("source", "fieldname", "tablename", "concept_id", "additional")

  private val All = lit("all")
  private val NoAdditional = lit("")

  /** One counter increment's full key: DataKey plus the count type. */
  private def key(src: Column, field: Column, table: Column, concept: Column,
                  additional: Column, countType: String): Column =
    struct(src.as("source"), field.as("fieldname"), table.as("tablename"),
      concept.as("concept_id"), additional.as("additional"), lit(countType).as("count_type"))

  /** The counted relation, uncached: every counter at its full key, one
    * column per count type. Each part below emits (k: key or null, n:
    * weight) rows; one shuffle sums them all. The engine memoizes the
    * result as `metricsCounted`. */
  private[etl] def counted(e: CarrotEngine): DataFrame = {
    val rules  = e.metricsRules
    val schema = e.metricsSchema

    val parts = Seq.newBuilder[DataFrame]

    // ---- ONE scan per source file: every per-row counter (input_count,
    // empty-value counts per mapped field×target) emitted as an exploded
    // key array — the reference increments these in its one pass over the
    // file; so do we.
    for (src <- rules.sourceTables) {
      val dateOk = e.metricsDateCols(src).map(c => DateExprs.normalise8601(col(c)).isNotNull)
        .reduceOption(_ && _).getOrElse(lit(true))

      val elems = Seq.newBuilder[Column]
      elems += key(lit(src), All, All, All, NoAdditional, "input_count")
      for (m <- rules.forSource(src)) {
        // v1 iterates every mapped data column (term fields AND verbatim-copy
        // source fields); v2's standard builder counts per concept-mapped
        // field and its person builder does not count at all.
        val fields: Seq[String] =
          if (m.target == "person") {
            if (rules.v1Compat) m.conceptMappings.take(1).map(_.sourceField) else Seq.empty
          } else {
            val extra = if (rules.v1Compat) m.conceptMappings.flatMap(_.extraCopies.map(_._1)) else Seq.empty
            (m.conceptMappings.map(_.sourceField) ++ extra).distinct
          }
        for (f <- fields)
          elems += when(dateOk && trim(col(f)) === "",
            key(lit(src), lit(f), lit(m.target), All, NoAdditional, "invalid_source_fields"))
      }
      parts += e.metricsRaw(src).select(explode(array(elems.result(): _*)).as("k"), lit(1L).as("n"))
    }

    // ---- per target: invalid_date from the pre-filter candidates, then
    // ONE grouped pass over the joined records carrying the match flag —
    // rollups and the invalid-person count both derive from the resulting
    // tiny grouped relation.
    for ((target, b) <- e.metricsBuilds) {
      // the component-parse drop can only happen for targets whose date
      // dests include configured date components (in practice: person) —
      // statically skip the pre-filter pass everywhere else
      val compPossible = rules.tables.filter(_.target == target).exists { m =>
        val treated = if (rules.v1Compat) m.dateDests.takeRight(1) else m.dateDests
        schema.dateComponents(target).keys.exists(treated.contains)
      }
      if (compPossible)
        parts += b.candidates.filter(col(HasComp) && !col(CompOk))
          .select(key(col(SrcCol), col(DatacolCol), lit(target), All, NoAdditional,
            "invalid_date_fields").as("k"), lit(1L).as("n"))

      val cols = schema.columns(target)
      val c1   = col(cols(1).toLowerCase) // person: gender_concept_id
      val c2   = col(cols(2).toLowerCase) // person: year_of_birth; else concept id
      val g = b.joined
        .groupBy(col(Matched).as("m"), col(SrcCol).as("s"), col(DatacolCol).as("f"), c1.as("c1"), c2.as("c2"))
        .count()

      // every rollup key plus the invalid-person key is exploded per
      // (tiny) grouped row, weighted by its count — not one aggregation
      // job per rollup level
      val (s, t) = (col("s"), lit(target))
      val rollKeys: Seq[Column] = {
        val base = Seq(
          key(s, All, All, All, NoAdditional, "output_count"),
          key(All, All, t, All, NoAdditional, "output_count"),
          key(s, All, t, All, NoAdditional, "output_count"))
        val extra =
          if (target == "person") Seq(
            key(s, All, t, col("c1"), NoAdditional, "output_count"),
            key(s, All, t, col("c1"), col("c2"), "output_count"))
          else Seq(
            key(s, col("f"), t, col("c2"), NoAdditional, "output_count"),
            key(s, All, t, col("c2"), NoAdditional, "output_count"),
            key(All, All, t, col("c2"), NoAdditional, "output_count"),
            key(All, All, All, col("c2"), NoAdditional, "output_count"))
        (base ++ extra).map(k => when(col("m"), k)) :+
          when(!col("m"), key(s, All, t, All, NoAdditional, "invalid_person_ids"))
      }
      parts += g.select(explode(array(rollKeys: _*)).as("k"), col("count").as("n"))
    }

    def sumOf(ct: String): Column =
      coalesce(sum(when(col("k.count_type") === ct, col("n"))), lit(0L)).cast("long")

    parts.result().reduce(_.unionByName(_))
      .filter(col("k").isNotNull)
      .groupBy(KeyCols.map(c => col(s"k.$c").as(c)): _*)
      .agg(
        sumOf("input_count").as("incount"),
        sumOf("invalid_person_ids").as("invalid_persid"),
        sumOf("invalid_date_fields").as("invalid_date"),
        sumOf("invalid_source_fields").as("invalid_source"),
        sumOf("output_count").as("outcount"))
      // metadata-sized: one partition, so each reader of the cached
      // relation runs one task, not one per shuffle partition (the cached
      // plan keeps the aggregation's spark.sql.shuffle.partitions output)
      .coalesce(1)
  }

  def summary(e: CarrotEngine, threshold: Long): DataFrame =
    e.metricsCounted
      .filter(col("outcount") >= lit(threshold))
      // the reference sorts by the FULL stringified key (pre-prefix source)
      .withColumn("_sortkey", concat_ws("~", KeyCols.map(col): _*))
      .select(
        lit(e.metricsRules.dataset).as("dsname"),
        regexp_extract(col("source"), "^[^.]*", 0).as("source"),
        col("fieldname").as("source_field"),
        col("tablename").as("target"),
        col("concept_id"), col("additional"),
        col("incount").cast("string").as("incount"),
        col("invalid_persid").cast("string").as("invalid_persid"),
        col("invalid_date").cast("string").as("invalid_date"),
        col("invalid_source").cast("string").as("invalid_source"),
        col("outcount").cast("string").as("outcount"),
        col("_sortkey"))
      .orderBy(col("_sortkey"))
      .drop("_sortkey")

  /** The reference's per-file console log counters (`run.py:304-307`):
    * (source, tablename, count_type, n) at the two granularities the log
    * prints — per-source `input_count` (tablename "all") and
    * per-(source, target) `output_count` — with FULL source names (the
    * summary table truncates them at the first '.'; the console log does
    * not). A select from the counted relation: no second aggregation. */
  def runLogCounts(e: CarrotEngine): DataFrame = {
    val perSource = col("tablename") === "all"
    e.metricsCounted
      .filter(col("fieldname") === "all" && col("concept_id") === "all" &&
        col("additional") === "" && col("source") =!= "all")
      .select(col("source"), col("tablename"),
        when(perSource, lit("input_count")).otherwise(lit("output_count")).as("count_type"),
        when(perSource, col("incount")).otherwise(col("outcount")).as("n"))
      .filter(col("n") > 0)
  }
}
