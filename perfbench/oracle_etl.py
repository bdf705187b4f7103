#!/usr/bin/env python3
"""Expected ETL outputs for a generated corpus, replayed in DuckDB.

Usage: python3 perfbench/oracle_etl.py <corpus dir> <out.json>

Reads the corpus written by gen_corpus.py (rules.json + inputs/*.csv), the
OMOP DDL and the engine config from the repository's resources, and
replays the v2 rules in DuckDB SQL: date normalisation, the person
dictionary, concept fan-out (zip-aligned combos, "*" fallback), the OMOP
projection, auto-numbering, the person join and the summary_mapstream
counters. It never reads anything the program wrote.

The JSON holds, per output table, the row count, a hash of the sorted
data lines (order-insensitive) and a hash of the lines in file order.
Supported rules: v2, one date column per source, a person mapping with
one concept field.
"""
import csv
import hashlib
import json
import os
import re
import sys
from datetime import datetime

import duckdb
import pandas as pd

CONFIG = "src/main/resources/carrot/config"
DDL = f"{CONFIG}/OMOPCDM_postgresql_5.3_ddl.sql"


def normalise_8601(s):
    """Event-date normaliser: year-first or day-first date, optional
    hh:mm[:ss] after one space, to "YYYY-MM-DD hh:mm:ss"; None if no date."""
    toks = s.split(" ")
    m = re.match(r"(\d{4})[-/](\d{2})[-/](\d{2})", toks[0])
    if m:
        y, mo, d = m.groups()
    else:
        m = re.match(r"(\d{2})[-/](\d{2})[-/](\d{4})", toks[0])
        if not m:
            return None
        d, mo, y = m.groups()
    t = re.match(r"(\d{2}):(\d{2})(:(\d{2})(\.\d{6})?)?", toks[1]) if len(toks) == 2 else None
    time = f"{t.group(1)}:{t.group(2)}:{t.group(4) or '00'}" if t else "00:00:00"
    return f"{y}-{mo}-{d} {time}"


def strict_date(s):
    """Birth-date validator: a date-only string in one of three formats."""
    for fmt in ("%Y-%m-%d", "%d-%m-%Y", "%d/%m/%Y"):
        try:
            return datetime.strptime(s, fmt).date()
        except ValueError:
            pass
    return None


def ddl_tables(path):
    """table -> [(column, is_not_null_numeric)] in DDL order."""
    tables, cur = {}, None
    for line in open(path, encoding="utf-8"):
        l = line.strip()
        m = re.match(r"CREATE\s+TABLE\s+(?:@?\w+\.)?(\w+)", l, re.I)
        if m:
            cur = tables.setdefault(m.group(1).lower(), [])
            continue
        if cur is not None:
            m = re.match(r"([a-z_]+)\s+([A-Za-z_]+)", l)
            if m:
                numeric = m.group(2).lower() in ("integer", "numeric")
                cur.append((m.group(1), numeric and "NOT NULL" in l))
            if l.endswith(");"):
                cur = None
    return tables


def combos(dest_map):
    """Concept lists zip-aligned by index, shorter lists padded with their
    last element: {dest: [a, b], dest2: [c]} -> [{dest: a, dest2: c}, {dest: b, dest2: c}]."""
    lists = {d: ids for d, ids in dest_map.items() if ids}
    if not lists:
        return [{}]
    n = max(len(v) for v in lists.values())
    return [{d: str(ids[min(i, len(ids) - 1)]) for d, ids in lists.items()} for i in range(n)]


def q(name):
    return '"' + name.replace('"', '""') + '"'


class Replay:
    def __init__(self, corpus):
        self.rules = json.load(open(os.path.join(corpus, "rules.json")))
        self.ddl = ddl_tables(DDL)
        self.cfg = json.load(open(f"{CONFIG}/config.json"))
        self.con = duckdb.connect()
        self.mappings = [(tgt, src, m) for tgt, srcs in self.rules["cdm"].items()
                         for src, m in srcs.items()]
        self.sources = list(dict.fromkeys(src for _, src, _ in self.mappings))
        for i, src in enumerate(self.sources):
            self.load(i, src, os.path.join(corpus, "inputs", src))

    def date_field(self, src):
        fields = {m["date_mapping"]["source_field"] for _, s, m in self.mappings if s == src}
        assert len(fields) == 1, f"{src}: one date column per source is supported"
        return fields.pop()

    def load(self, i, src, path):
        with open(path, newline="", encoding="utf-8") as f:
            rows = list(csv.DictReader(f))
        df = pd.DataFrame(rows, dtype=str).fillna("")
        df.insert(0, "_idx", range(len(df)))
        dates = df[self.date_field(src)]
        df["_norm"] = [normalise_8601(v) for v in dates]
        df["_birth_ok"] = [strict_date(v) is not None for v in dates]
        comp = [strict_date(n[:10]) if n else None for n in df["_norm"]]
        df["_y"] = [str(d.year) if d else None for d in comp]
        df["_m"] = [str(d.month) if d else None for d in comp]
        df["_d"] = [str(d.day) if d else None for d in comp]
        self.con.register(f"raw_{i}", df)

    def combos_table(self, name, cm):
        exact = {v: d for v, d in cm.items() if v not in ("original_value", "*")}
        dests = sorted({d for dm in cm.values() if isinstance(dm, dict) for d in dm})
        rows = [(v, k, *[c.get(d) for d in dests])
                for v, dm in list(exact.items()) + ([("*", cm["*"])] if "*" in cm else [])
                for k, c in enumerate(combos(dm))]
        frame = pd.DataFrame(rows, columns=["value", "combo_idx", *dests]).astype(
            {"value": str, "combo_idx": "int64", **{d: object for d in dests}})
        self.con.register(name, frame)
        return dests

    def projection(self, tgt, m, dests, origs, field):
        """SELECT list of the OMOP columns of `tgt` for alias s (source row)
        and c (combo row)."""
        date_dests = m["date_mapping"]["dest_field"]
        linked = self.cfg["datetime_linked_fields"].get(tgt, {})
        comps = self.cfg["date_field_components"].get(tgt, {})
        exprs = {}
        for dd in date_dests:
            exprs[dd] = "s._norm"
            if dd in linked:
                exprs[linked[dd]] = "substr(s._norm, 1, 10)"
            for part, col in comps.get(dd, {}).items():
                exprs[col] = {"year": "s._y", "month": "s._m", "day": "s._d"}[part]
        pid = m["person_id_mapping"]
        out = []
        for col, nn in self.ddl[tgt]:
            if col in exprs:
                e = exprs[col]
            elif col == pid["dest_field"]:
                e = f"s.{q(pid['source_field'])}"
            elif col in origs:
                e = f"s.{q(field)}"
            elif col in dests:
                e = f"c.{q(col)}"
            else:
                e = "NULL"
            out.append(f"coalesce({e}, '{'0' if nn else ''}') AS {q(col)}")
        return ", ".join(out)

    def candidates(self, tgt):
        """Every pre-join output row of `tgt` with its processing-order keys,
        source name and data column."""
        parts, n = [], 0
        comps = self.cfg["date_field_components"].get(tgt, {})
        for _, src, m in [x for x in self.mappings if x[0] == tgt]:
            fi = self.sources.index(src)
            for ci, (field, cm) in enumerate(m["concept_mappings"].items()):
                n += 1
                dests = self.combos_table(f"combos_{tgt}_{n}", cm)
                exact = [v for v in cm if v not in ("original_value", "*")]
                origs = cm.get("original_value", [])
                f = f"s.{q(field)}"
                keys = (f"s._idx AS _idx, {fi} AS _file, {ci} AS _cm, "
                        f"'{src}' AS _src, '{field}' AS _field")
                if tgt == "person":
                    assert len(m["concept_mappings"]) == 1, "one person concept field is supported"
                    pid = q(m["person_id_mapping"]["source_field"])
                    gate = f"trim({f}) <> ''" if origs else "c.value IS NOT NULL"
                    comp_ok = " AND s._y IS NOT NULL" if any(d in comps for d in m["date_mapping"]["dest_field"]) else ""
                    parts.append(
                        f"SELECT {keys}, coalesce(c.combo_idx, 0) AS _combo, "
                        f"{self.projection(tgt, m, dests, origs, field)} "
                        f"FROM (SELECT * FROM raw_{fi} WHERE _norm IS NOT NULL "
                        f"      QUALIFY row_number() OVER (PARTITION BY {pid} ORDER BY _idx) = 1) s "
                        f"LEFT JOIN combos_{tgt}_{n} c ON trim({f}) <> '' AND c.value = {f} "
                        f"WHERE ({gate}){comp_ok}")
                else:
                    in_exact = ", ".join("'" + v.replace("'", "''") + "'" for v in exact) or "NULL"
                    parts.append(
                        f"SELECT {keys}, c.combo_idx AS _combo, "
                        f"{self.projection(tgt, m, dests, origs, field)} "
                        f"FROM raw_{fi} s JOIN combos_{tgt}_{n} c ON trim({f}) <> '' AND "
                        f"(c.value = {f} OR (c.value = '*' AND {f} NOT IN ({in_exact}))) "
                        f"WHERE s._norm IS NOT NULL")
        return " UNION ALL ".join(parts)

    def person_dictionary(self):
        tgt, src, m = next(x for x in self.mappings if x[0] == "person")
        pid = q(m["person_id_mapping"]["source_field"])
        fi = self.sources.index(src)
        self.con.execute(
            f"CREATE TABLE dict AS SELECT source_subject, "
            f"CAST(row_number() OVER (ORDER BY first_idx) AS VARCHAR) AS target_subject "
            f"FROM (SELECT {pid} AS source_subject, min(_idx) AS first_idx FROM raw_{fi} "
            f"      WHERE trim({pid}) <> '' AND _birth_ok GROUP BY {pid})")

    def target(self, tgt):
        """Create table out_<tgt>: all candidates, numbered and joined, with
        `_matched`."""
        cols = [c for c, _ in self.ddl[tgt]]
        auto = self.cfg["auto_number_field"].get(tgt)
        pid = self.cfg["person_id_field"].get(tgt, "person_id")
        order = "_file, _idx, _cm, _combo"
        sel = ", ".join(
            f"CAST(row_number() OVER (ORDER BY {order}) AS VARCHAR) AS {q(c)}" if c == auto
            else f"coalesce(d.target_subject, x.{q(c)}) AS {q(c)}" if c == pid
            else f"x.{q(c)}" for c in cols)
        self.con.execute(
            f"CREATE TABLE out_{tgt} AS SELECT {sel}, x._file, x._idx, x._cm, x._combo, "
            f"x._src, x._field, d.target_subject IS NOT NULL AS _matched "
            f"FROM ({self.candidates(tgt)}) x LEFT JOIN dict d ON x.{q(pid)} = d.source_subject")
        rows = self.con.execute(
            f"SELECT {', '.join(q(c) for c in cols)} FROM out_{tgt} WHERE _matched "
            f"ORDER BY {order}").fetchall()
        return ["\t".join(cols)] + ["\t".join(r) for r in rows]

    def summary(self, targets):
        dataset = self.rules.get("metadata", {}).get("dataset", "")
        parts = []
        for i, src in enumerate(self.sources):
            d = f"raw_{i}"
            parts.append(f"SELECT '{src}', 'all', 'all', 'all', '', 'input_count', count(*) FROM {d}")
            for tgt, s, m in self.mappings:
                if s != src or tgt == "person":
                    continue
                for field in m["concept_mappings"]:
                    parts.append(
                        f"SELECT '{src}', '{field}', '{tgt}', 'all', '', 'invalid_source_fields', count(*) "
                        f"FROM {d} WHERE _norm IS NOT NULL AND trim({q(field)}) = ''")
        for tgt in targets:
            cols = [c for c, _ in self.ddl[tgt]]
            c1, c2 = q(cols[1]), q(cols[2])
            g = f"(SELECT _matched AS m, _src AS s, _field AS f, {c1} AS c1, {c2} AS c2, count(*) AS n FROM out_{tgt} GROUP BY ALL)"
            keys = [("s", "'all'", "'all'", "'all'", "''"), ("'all'", "'all'", f"'{tgt}'", "'all'", "''"),
                    ("s", "'all'", f"'{tgt}'", "'all'", "''")]
            keys += ([("s", "'all'", f"'{tgt}'", "c1", "''"), ("s", "'all'", f"'{tgt}'", "c1", "c2")]
                     if tgt == "person" else
                     [("s", "f", f"'{tgt}'", "c2", "''"), ("s", "'all'", f"'{tgt}'", "c2", "''"),
                      ("'all'", "'all'", f"'{tgt}'", "c2", "''"), ("'all'", "'all'", "'all'", "c2", "''")])
            for k in keys:
                parts.append(f"SELECT {', '.join(k)}, 'output_count', sum(n) FROM {g} WHERE m GROUP BY ALL")
            parts.append(f"SELECT s, 'all', '{tgt}', 'all', '', 'invalid_person_ids', sum(n) "
                         f"FROM {g} WHERE NOT m GROUP BY ALL")
        counts = " UNION ALL ".join(f"SELECT * FROM ({p})" for p in parts)
        header = ["dsname", "source", "source_field", "target", "concept_id", "additional",
                  "incount", "invalid_persid", "invalid_date", "invalid_source", "outcount"]

        def total(ct):
            return f"CAST(coalesce(sum(n) FILTER (WHERE ct = '{ct}'), 0) AS VARCHAR)"
        rows = self.con.execute(
            f"SELECT '{dataset}', regexp_extract(src, '^[^.]*', 0), field, tbl, concept, additional, "
            f"{total('input_count')}, {total('invalid_person_ids')}, {total('invalid_date_fields')}, "
            f"{total('invalid_source_fields')}, {total('output_count')} "
            f"FROM ({counts}) AS t(src, field, tbl, concept, additional, ct, n) WHERE n > 0 "
            f"GROUP BY src, field, tbl, concept, additional "
            f"ORDER BY concat_ws('~', src, field, tbl, concept, additional)").fetchall()
        return ["\t".join(header)] + ["\t".join(r) for r in rows]

    def run(self):
        self.person_dictionary()
        targets = list(dict.fromkeys(t for t, _, _ in self.mappings))
        tables = {t: self.target(t) for t in targets}
        tables["person_ids"] = ["SOURCE_SUBJECT\tTARGET_SUBJECT"] + [
            "\t".join(r) for r in self.con.execute("SELECT * FROM dict").fetchall()]
        tables["summary_mapstream"] = self.summary(targets)
        return tables


def digest(lines):
    """Row count and hashes of a table given as [header, row, ...]."""
    body = lines[1:]
    h = lambda xs: hashlib.sha256("\n".join([lines[0]] + xs).encode()).hexdigest()
    return {"rows": len(body), "unordered": h(sorted(body)), "ordered": h(body)}


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    expected = {t: digest(ls) for t, ls in Replay(sys.argv[1]).run().items()}
    with open(sys.argv[2], "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
