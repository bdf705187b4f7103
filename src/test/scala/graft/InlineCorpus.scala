package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** A hand-sized v2 corpus written to a temp dir, so console-log and cache
  * specs need no external checkout. Every expected count below is derived
  * from the fixture text by hand (never from the engine):
  *
  * persons.csv (person target, Sex M/F mapped, original value kept)
  *   P1 M 1980-01-15        dictionary 1; person row (8507)
  *   P2 F 1975-06-30        dictionary 2; person row (8532)
  *   P3 U 1990-02-03        dictionary 3; unmapped value: person row, concept 0
  *   P4 "" 1985-03-04       dictionary 4; empty value: no person row
  *   P5 M 1970-01-15 10:30  birthdate REJECTED by the strict date-only
  *                          dictionary check: its person row and its
  *                          events miss the J1 join (invalid person ids)
  *   P6 F unknown           unparseable date: dropped for every target,
  *                          and rejected by the dictionary
  *   → 6 input rows; 3 person rows written (P1, P2, P3); 1 invalid person
  *     id (P5); 4 person_ids (P1..P4).
  *
  * symptoms.csv (observation target, COUGH → 1 row, FEVER fans out to 2)
  *   P1 2020-01-02 COUGH            1 row
  *   P2 03/04/2021 FEVER            2 rows
  *   P3 2021-05-06 07:08:09 RASH    unmapped value: no row
  *   P1 ?? COUGH                    unparseable date: dropped
  *   X9 2022-02-02 COUGH            unknown person: 1 invalid person id
  *   P2 2022-03-03 ""               empty value: 1 invalid source field
  *   P5 2022-04-04 FEVER            rejected person: 2 invalid person ids
  *   P3 2022-05-05 COUGH            1 row
  *   → 8 input rows; 4 observation rows written; 3 invalid person ids.
  */
object InlineCorpus {

  val Persons: Seq[String] = Seq(
    "PersonID,Sex,BirthDate",
    "P1,M,1980-01-15",
    "P2,F,1975-06-30",
    "P3,U,1990-02-03",
    "P4,,1985-03-04",
    "P5,M,1970-01-15 10:30",
    "P6,F,unknown")

  val Symptoms: Seq[String] = Seq(
    "PersonID,SymptomDate,Symptom",
    "P1,2020-01-02,COUGH",
    "P2,03/04/2021,FEVER",
    "P3,2021-05-06 07:08:09,RASH",
    "P1,??,COUGH",
    "X9,2022-02-02,COUGH",
    "P2,2022-03-03,",
    "P5,2022-04-04,FEVER",
    "P3,2022-05-05,COUGH")

  val Rules: String =
    """{"metadata": {"dataset": "inline"}, "cdm": {
      |  "person": {"persons.csv": {
      |    "person_id_mapping": {"source_field": "PersonID", "dest_field": "person_id"},
      |    "date_mapping": {"source_field": "BirthDate", "dest_field": ["birth_datetime"]},
      |    "concept_mappings": {"Sex": {
      |      "M": {"gender_concept_id": [8507]},
      |      "F": {"gender_concept_id": [8532]},
      |      "original_value": ["gender_source_value"]}}}},
      |  "observation": {"symptoms.csv": {
      |    "person_id_mapping": {"source_field": "PersonID", "dest_field": "person_id"},
      |    "date_mapping": {"source_field": "SymptomDate", "dest_field": ["observation_datetime"]},
      |    "concept_mappings": {"Symptom": {
      |      "COUGH": {"observation_concept_id": [254761]},
      |      "FEVER": {"observation_concept_id": [437663, 4178904]},
      |      "original_value": ["observation_source_value"]}}}}
      |}}""".stripMargin

  /** Hand-derived counts (see the header). */
  val TargetRows: Map[(String, String), Long] =
    Map(("persons.csv", "person") -> 3L, ("symptoms.csv", "observation") -> 4L)
  val PersonIds = 4L

  /** Writes the corpus; returns (inputs dir, rules file). */
  def write(): (String, String) = {
    val root = Files.createTempDirectory("inline_corpus")
    val inputs = Files.createDirectory(root.resolve("inputs"))
    def put(p: Path, lines: Seq[String]): Unit =
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    put(inputs.resolve("persons.csv"), Persons)
    put(inputs.resolve("symptoms.csv"), Symptoms)
    val rules = root.resolve("rules.json")
    Files.write(rules, Rules.getBytes(UTF_8))
    (inputs.toString, rules.toString)
  }
}
