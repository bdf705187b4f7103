#!/usr/bin/env python3
"""Cold-process benchmark of carrot-transform-spark.

Run from the root of a checkout:

  python3 perfbench/run.py --workload etl_small_single --seed 1 --seconds 40 --trace 0
  python3 perfbench/run.py --workload queries_sf0001 --seed 1 --seconds 40 --trace 1

The first run in a checkout builds the program and the harness with sbt
(into target/ and .perfbench/). Every run then:
  1. makes its inputs from --seed (untimed),
  2. computes the expected outputs with an independent oracle (untimed),
  3. starts one set-up probe process (set-up sample only),
  4. runs whole cold processes for about --seconds seconds, at least one,
  5. checks every output, and prints one JSON result as its last line.
With --trace 1 it also runs the traced twin of the workload and reports the
per-layer metrics instead of the end-to-end ones. Metric names and units
come from BENCHMARK.json; see perfbench/README.md for what each one means.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.001")
NPROC = len(os.sched_getaffinity(0))
HEAP = "2g"
RUN_LIMIT_S = 175  # a run (after the one-off build) ends within 180 s
sys.path.insert(0, HERE)

from gen_corpus import generate  # noqa: E402
from oracle_etl import Replay, digest  # noqa: E402

# the contract queries the query workload runs: a scan, the ETL operators
# and the full engine (q26/q27 share one memo), and heavy ops queries that
# build session memos
QUERIES = [
    "q01_scan_filter", "q04_person_lookup", "q07_date_norm", "q11_auto_number",
    "q12_first_wins", "q26_carrot_measurement", "q27_carrot_person",
    "q145_ensemble_score", "q212_dup_consensus",
]
ETL_TABLES = ["person", "measurement", "observation", "person_ids", "summary_mapstream"]

# JDK module opens Spark needs outside spark-submit (Spark's
# JavaModuleOptions), the same list the repository's build passes
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def build():
    """Compile the program and the harness once per checkout; return the
    runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    for f in ("build.sbt", "src/main/scala/graft/etl/CarrotCli.scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"run me from the root of a carrot-transform-spark checkout ({f} is missing)")
    opts = "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, capture_output=True, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file + ".tmp", "w") as f:
        f.write(lines[-1])
    os.replace(cp_file + ".tmp", cp_file)
    return lines[-1]


# ---------------------------------------------------------------- processes

def weather():
    """Machine-wide steal ticks, as seconds, and the 1-minute load average."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return steal / os.sysconf("SC_CLK_TCK"), load


class Runner:
    def __init__(self, cp, tag):
        self.cp = cp
        self.deadline = time.time() + RUN_LIMIT_S
        self.dir = os.path.join(WORK, tag)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.dir, "tmp"),
                        SPARK_GRAFT_CPUS=str(NPROC))
        self.n = 0

    def path(self, name):
        return os.path.join(self.dir, name)

    def java(self, main, *args):
        """Run one JVM; return its figures (setup_s and wall_s measured from
        exec), or None if it failed."""
        self.n += 1
        figs_path = self.path(f"figures-{self.n}.json")
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Dspark.master=local[{NPROC}]", f"-Djava.io.tmpdir={self.path('tmp')}",
               "-cp", self.cp, main, figs_path, *args]
        t0 = time.time()
        with open(self.path(f"process-{self.n}.log"), "w") as log:
            try:
                p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=self.dir,
                                   env=self.env, timeout=max(1.0, self.deadline - time.time()))
                ok = p.returncode == 0
            except subprocess.TimeoutExpired:
                ok = False
        if not ok or not os.path.exists(figs_path):
            print(f"perfbench: {main} failed, see {self.path(f'process-{self.n}.log')}", file=sys.stderr)
            return None
        figs = json.load(open(figs_path))
        figs["setup_s"] = figs["ready_ms"] / 1000.0 - t0
        figs["wall_s"] = figs["end_ms"] / 1000.0 - t0
        return figs


def measure(seconds, one):
    """Call one() at least once and again while another call still fits in
    `seconds`; return the results."""
    out, t0 = [], time.time()
    while True:
        s = time.time()
        out.append(one())
        if out[-1] is None or (time.time() - t0) + (time.time() - s) > seconds:
            return out


# ---------------------------------------------------------------- ETL

def read_table(out, table):
    with open(os.path.join(out, f"{table}.tsv"), encoding="utf-8") as f:
        lines = f.read().split("\n")
    return lines[:-1] if lines and lines[-1] == "" else lines


def check_etl(out, expected):
    """Number of output tables that match the oracle. Single-file tables are
    compared in file order, except person_ids, which has none."""
    ok = 0
    for t in ETL_TABLES:
        try:
            d = digest(read_table(out, t))
        except OSError:
            continue
        key = "unordered" if t == "person_ids" else "ordered"
        ok += d["rows"] == expected[t]["rows"] and d[key] == expected[t][key]
    return ok


def same_files(a, b):
    return all(open(os.path.join(a, f"{t}.tsv"), "rb").read() ==
               open(os.path.join(b, f"{t}.tsv"), "rb").read() for t in ETL_TABLES)


def run_etl(args, r):
    corpus = r.path("corpus")
    source_rows = generate(corpus, args.seed)
    expected = {t: digest(ls) for t, ls in Replay(corpus).run().items()}
    rules, inputs = os.path.join(corpus, "rules.json"), os.path.join(corpus, "inputs")

    def cli(probe, out):
        shutil.rmtree(out, ignore_errors=True)
        return r.java("perfbench.Launch", "1" if probe else "0",
                      "--rules-file", rules, "--inputs", inputs, "--output", out)

    probes = [cli(True, r.path("probe-out"))]
    outs = []

    def timed():
        outs.append(r.path(f"out-{len(outs)}"))
        return cli(False, outs[-1])
    reps = measure(args.seconds, timed)
    checks = [(check_etl(o, expected), len(ETL_TABLES)) for o, f in zip(outs, reps) if f]
    report = {"source_rows": source_rows, "tables_ok": checks}
    traced = None
    if args.trace:
        traced = r.java("perfbench.TraceEtl", rules, inputs, r.path("out-traced"))
        if traced:
            checks.append((check_etl(r.path("out-traced"), expected), len(ETL_TABLES)))
            # mirror-drift guard: the traced twin must write what the CLI writes
            mirror = bool(reps[-1]) and same_files(outs[-1], r.path("out-traced"))
            checks.append((int(mirror), 1))
            report["mirror_identical"] = mirror
    return probes, reps, traced, checks, 1, report


# ---------------------------------------------------------------- queries

def run_queries(args, r):
    names = ",".join(QUERIES)

    def process(mode, verify):
        shutil.rmtree(verify, ignore_errors=True)
        return r.java("perfbench.Queries", DATA, verify, mode, names)

    probes = [process("probe", r.path("verify-probe"))]
    verifies = []

    def timed():
        verifies.append(r.path(f"verify-{len(verifies)}"))
        return process("run", verifies[-1])
    reps = measure(args.seconds, timed)
    traced = process("trace", r.path("verify-traced")) if args.trace else None
    checks = []
    for v, f in zip(verifies + [r.path("verify-traced")], reps + [traced]):
        if f:
            p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), v, DATA],
                               capture_output=True, text=True, timeout=120)
            checks.append((sum(line.startswith("OK") for line in p.stdout.splitlines()), len(QUERIES)))
    runs = [f for f in reps + [traced] if f]
    report = {"queries_ok": checks,
              "pass.cold_s": [f["pass.cold_s"] for f in runs],
              "pass.warm_s": [f["pass.warm_s"] for f in runs]}
    return probes, reps, traced, checks, 2 * len(QUERIES), report


WORKLOADS = {"etl_small_single": run_etl, "queries_sf0001": run_queries}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("run me from the root of the checkout (BENCHMARK.json is missing)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()

    steal0, load0 = weather()
    r = Runner(cp, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    # `units`: operations one process attempts (a CLI run, or each query
    # of both passes); a process that fails fails all of them
    probes, reps, traced, checks, units, report = WORKLOADS[args.workload](args, r)
    steal1, load1 = weather()
    procs = reps + ([traced] if args.trace else [])
    attempted = units * len(procs)
    failed = sum(units if f is None else int(f.get("failed", 0)) for f in procs)

    good = [f for f in reps if f]
    setups = [f["setup_s"] for f in probes + good if f]
    report.update(steal_s=steal1 - steal0, loadavg_start=load0, loadavg_end=load1,
                  setup_samples=setups, wall_samples=[f["wall_s"] for f in good])
    values = {}
    if good:
        values = {k: statistics.median(f[k] for f in good) for k in ("wall_s", "cpu_s", "peak_rss_mb")}
        values["setup_s"] = statistics.median(setups)
    if traced:
        # spans the workload does not run read 0
        values = dict(traced)
        values.update(
            steal_s=report["steal_s"], loadavg_start=load0, loadavg_end=load1,
            busy_frac=traced["task_s"] / (traced["wall_s"] * NPROC),
            trace_overhead_s=traced["wall_s"] - statistics.median(f["wall_s"] for f in good) if good else 0.0)
        report["trace_overhead_s"] = values["trace_overhead_s"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    passed, total = sum(c[0] for c in checks), sum(c[1] for c in checks)
    report["correct_frac"] = passed / total if total else 0.0
    correct = bool(checks) and passed == total and failed == 0
    print("perfbench report: " + json.dumps(report, sort_keys=True))
    with open(r.path("report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main())
