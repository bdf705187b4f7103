#!/usr/bin/env python3
"""Seeded synthetic ETL corpus: three source CSVs plus v2 rules.

Usage: python3 perfbench/gen_corpus.py <outdir> <seed> [persons] [labs] [symptoms]

Writes <outdir>/inputs/{persons,labs,symptoms}.csv and <outdir>/rules.json.
The same seed and sizes give byte-identical files.

Shape of the rules (v2 dialect):
  person      <- persons.csv   Sex: M/F mapped, original value kept
  measurement <- labs.csv      Test: HB fans out to two rows (zip-aligned,
                                     padded), GLU and BMI one row each
  observation <- labs.csv      Test: BMI (routed to both targets) and SMOKE
  observation <- symptoms.csv  Symptom: COUGH, FEVER (fan-out 2), and a
                                        "*" wildcard for every other value

A small fixed share of rows takes every drop path: unparseable dates,
person IDs missing from the person file, birth dates the person
dictionary rejects, values no rule maps, and empty values.
"""
import json
import os
import random
import sys

RULES = {
    "metadata": {"dataset": "perfbench"},
    "cdm": {
        "person": {"persons.csv": {
            "person_id_mapping": {"source_field": "PersonID", "dest_field": "person_id"},
            "date_mapping": {"source_field": "BirthDate", "dest_field": ["birth_datetime"]},
            "concept_mappings": {"Sex": {
                "M": {"gender_concept_id": [8507], "gender_source_concept_id": [8507]},
                "F": {"gender_concept_id": [8532], "gender_source_concept_id": [8532]},
                "original_value": ["gender_source_value"]}}}},
        "measurement": {"labs.csv": {
            "person_id_mapping": {"source_field": "PersonID", "dest_field": "person_id"},
            "date_mapping": {"source_field": "SampleDate", "dest_field": ["measurement_datetime"]},
            "concept_mappings": {"Test": {
                "HB": {"measurement_concept_id": [3000963, 3027484],
                       "measurement_source_concept_id": [3000963]},
                "GLU": {"measurement_concept_id": [3004501]},
                "BMI": {"measurement_concept_id": [3038553]},
                "original_value": ["measurement_source_value"]}}}},
        "observation": {
            "labs.csv": {
                "person_id_mapping": {"source_field": "PersonID", "dest_field": "person_id"},
                "date_mapping": {"source_field": "SampleDate", "dest_field": ["observation_datetime"]},
                "concept_mappings": {"Test": {
                    "BMI": {"observation_concept_id": [4245997]},
                    "SMOKE": {"observation_concept_id": [4275495]},
                    "original_value": ["observation_source_value"]}}},
            "symptoms.csv": {
                "person_id_mapping": {"source_field": "PersonID", "dest_field": "person_id"},
                "date_mapping": {"source_field": "SymptomDate", "dest_field": ["observation_datetime"]},
                "concept_mappings": {"Symptom": {
                    "COUGH": {"observation_concept_id": [254761]},
                    "FEVER": {"observation_concept_id": [437663, 4178904]},
                    "*": {"observation_concept_id": [4322976]},
                    "original_value": ["observation_source_value"]}}}},
    },
}


def pick(rng, weighted):
    """One value from [(value, weight), ...]."""
    r = rng.random() * sum(w for _, w in weighted)
    for v, w in weighted:
        r -= w
        if r < 0:
            return v
    return weighted[-1][0]


def write_csv(path, header, rows):
    with open(path, "w", newline="\n", encoding="utf-8") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def generate(outdir, seed, n_persons=2000, n_labs=20000, n_symptoms=8000):
    rng = random.Random(seed)
    inputs = os.path.join(outdir, "inputs")
    os.makedirs(inputs, exist_ok=True)

    pids = [f"P{n:08d}" for n in rng.sample(range(10 ** 8), n_persons)]
    persons = []
    for pid in pids:
        sex = pick(rng, [("M", 48), ("F", 48), ("U", 2), ("", 2)])
        if rng.random() < 0.02:
            dob = "unknown"
        else:
            dob = f"{rng.randint(1930, 2010)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        persons.append((pid, sex, dob))
    write_csv(os.path.join(inputs, "persons.csv"), ["PersonID", "Sex", "BirthDate"], persons)

    def event_pid():
        return rng.choice(pids) if rng.random() >= 0.03 else f"X{rng.randrange(10 ** 8):08d}"

    def ymd():
        return rng.randint(2015, 2024), rng.randint(1, 12), rng.randint(1, 28)

    labs = []
    for _ in range(n_labs):
        y, m, d = ymd()
        r = rng.random()
        if r < 0.02:
            date = "not recorded"
        elif r < 0.07:
            date = f"{y}-{m:02d}-{d:02d}"
        else:
            date = f"{y}-{m:02d}-{d:02d} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
        test = pick(rng, [("HB", 30), ("GLU", 25), ("BMI", 20), ("SMOKE", 10), ("CHOL", 10), ("", 5)])
        labs.append((event_pid(), date, test, f"{rng.randint(0, 999)}.{rng.randint(0, 99):02d}"))
    write_csv(os.path.join(inputs, "labs.csv"), ["PersonID", "SampleDate", "Test", "Value"], labs)

    symptoms = []
    for _ in range(n_symptoms):
        y, m, d = ymd()
        date = "??" if rng.random() < 0.02 else f"{d:02d}/{m:02d}/{y}"
        sym = pick(rng, [("COUGH", 35), ("FEVER", 30), ("HEADACHE", 15), ("RASH", 17), ("", 3)])
        symptoms.append((event_pid(), date, sym))
    write_csv(os.path.join(inputs, "symptoms.csv"), ["PersonID", "SymptomDate", "Symptom"], symptoms)

    with open(os.path.join(outdir, "rules.json"), "w", newline="\n") as f:
        json.dump(RULES, f, indent=1)
    return n_persons + n_labs + n_symptoms


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sizes = [int(a) for a in sys.argv[3:6]]
    n = generate(sys.argv[1], int(sys.argv[2]), *sizes)
    print(f"wrote {sys.argv[1]}: {n} source rows")
