"""One benchmark run of one workload, from the root of a checkout:

    python3 perfbench/run.py --workload forward --seed 1 --seconds 10 --trace 0

Builds the program from the checkout (cached by source content), generates
the workload's inputs from the seed, runs them in one JVM with pinned flags,
checks the outputs against answers computed apart from the program, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (and the spans go to
.bench_build/perfbench/traces/). Everything a run writes goes to a
temporary directory under .bench_build/perfbench that is removed at exit.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOAD_NAMES = ("forward", "query", "table")
HEADLINE_IDS = sorted([
    "SCAN-COUNT", "PROJ-EXPR", "FILTER-PRED", "JOIN-INNER-EQUI",
    "JOIN-LEFT-OUTER", "JOIN-FULL-OUTER", "JOIN-SEMI", "JOIN-ANTI",
    "JOIN-RANGE", "JOIN-ASOF", "AGG-TPCH-Q1", "AGG-DISTINCT", "AGG-ROLLUP",
    "AGG-CUBE", "AGG-GROUPING-SETS", "AGG-STATS", "WIN-RANK",
    "WIN-LAG-LEAD", "WIN-FRAME-ROWS", "WIN-FRAME-RANGE", "WIN-NTILE",
    "SORT-TOPK", "SET-UNION", "SET-UNION-ALL", "SET-INTERSECT",
    "SET-EXCEPT", "FN-STRING", "FN-REGEX", "FN-DATE", "FN-MATH",
    "FN-ARRAY", "FN-JSON", "STREAM-TUMBLE", "STREAM-SLIDE",
    "STREAM-SESSION", "LLM-COSINE-TOPK", "LLM-DEDUP", "LLM-TOKENIZE",
    "PARSE-DECONSTRUCT"])

# Nominal seconds of one timed pass on the reference machine (4 cores):
# the number of timed passes is --seconds // nominal, at least 1, so the
# work of a run is fixed by its arguments and never by the clock.
NOMINAL_PASS_S = {"forward": 3, "query": 10, "table": 10}
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fixtures_dir(scale):
    base = os.environ.get("GRAFT_TESTDATA") or os.path.expanduser("~/testdata")
    d = os.path.join(base, scale)
    if not glob.glob(os.path.join(d, "*.parquet")):
        raise SystemExit(f"perfbench: no fixture parquet in {d!r} (set GRAFT_TESTDATA)")
    return d


def bench_config():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def java_cmd(classpath, tmp, main_args):
    return (["java", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm-tmp')}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", ":".join(classpath), "perfbench.Main"] + main_args)


def run_jvm(cmd, tmp, log_name):
    """Runs the JVM to completion; returns its peak resident set in MB."""
    os.makedirs(os.path.join(tmp, "jvm-tmp"), exist_ok=True)
    log_path = os.path.join(tmp, log_name)
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp,
                                start_new_session=True)
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                raise RuntimeError(f"JVM still running after {JVM_TIMEOUT_S} s")
            time.sleep(0.05)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        os.wait4(proc.pid, 0)
        raise
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        with open(log_path, "rb") as f:
            tail = f.read()[-6000:].decode(errors="replace")
        raise RuntimeError(f"JVM exited with {proc.returncode}:\n{tail}")
    return usage.ru_maxrss / 1024.0


def oracle(classpath, root, fixtures):
    """DuckDB's answers for every benchmark query, cached under a key made
    of the program's oracle SQL and the fixture bytes."""
    cache_dir = os.path.join(build.build_root(root), "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    sql_path = os.path.join(os.path.dirname(classpath[0]), "oracle_sql.json")
    if not os.path.exists(sql_path):
        tmp = tempfile.mkdtemp(dir=cache_dir, prefix="sql-")
        try:
            run_jvm(java_cmd(classpath, tmp, ["--oracle-sql", sql_path + ".part"] + HEADLINE_IDS),
                    tmp, "oracle.log")
            os.rename(sql_path + ".part", sql_path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(sql_path, "rb") as f:
        sql_bytes = f.read()
    h = hashlib.sha256(sql_bytes)
    for p in sorted(glob.glob(os.path.join(fixtures, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode() + f.read())
    path = os.path.join(cache_dir, h.hexdigest()[:20] + ".json")
    if not os.path.exists(path):
        answers = checks.oracle_answers(fixtures, json.loads(sql_bytes))
        with open(path + ".part", "w") as f:
            json.dump(answers, f)
        os.rename(path + ".part", path)
    with open(path) as f:
        return json.load(f)


def passes_for(workload, seconds):
    return max(1, seconds // NOMINAL_PASS_S[workload])


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    spec = bench_config()

    prep0 = time.time()
    classpath = build.ensure(root)
    fixtures, warm_fixtures = fixtures_dir("sf0.01"), fixtures_dir("sf0.001")
    answers = oracle(classpath, root, fixtures) if args.workload == "query" else None
    prep_s = time.time() - prep0

    tmp = tempfile.mkdtemp(dir=build.build_root(root), prefix="run-")
    try:
        cfg = {"workload": args.workload, "trace": bool(args.trace), "tmp": tmp,
               "input": os.path.join(tmp, "input"),
               "passes": passes_for(args.workload, args.seconds),
               "fixtures": fixtures, "warm_fixtures": warm_fixtures}
        if args.trace:
            cfg["trace_path"] = os.path.join(build.build_root(root), "traces",
                                             f"{args.workload}-seed{args.seed}.json")
        os.makedirs(cfg["input"])
        if args.workload == "forward":
            bodies = gen.forward(args.seed, cfg["input"])
            cfg["forward"] = gen.FORWARD_CONFIG
        elif args.workload == "table":
            table_spec, states = gen.table(args.seed, gen.TABLE_ROUNDS * cfg["passes"])
            with open(os.path.join(cfg["input"], "table.json"), "w") as f:
                json.dump(table_spec, f)
        else:
            cfg["ids"] = HEADLINE_IDS
        with open(os.path.join(tmp, "config.json"), "w") as f:
            json.dump(cfg, f)

        rss_mb = run_jvm(java_cmd(classpath, tmp, [os.path.join(tmp, "config.json")]),
                         tmp, "jvm.log")
        with open(os.path.join(tmp, "jvm_report.json")) as f:
            rep = json.load(f)

        if args.workload == "forward":
            with open(os.path.join(tmp, "acks.tsv")) as f:
                acks = [(int(p), c, int(i), int(s)) for p, c, i, s in
                        (l.split("\t") for l in f.read().splitlines())]
            problems = checks.check_forward(bodies, acks, tmp)
        elif args.workload == "table":
            with open(os.path.join(tmp, "table_obs.tsv")) as f:
                problems = checks.check_table(table_spec, states, f.readlines())
        else:
            problems = checks.check_results(os.path.join(tmp, "results"), answers, cfg["ids"])
        for p in problems:
            print("perfbench: CHECK FAILED: " + p, file=sys.stderr)

        if args.trace:
            print(f"perfbench: traced run, end-to-end figures: {rep['end_to_end']}", file=sys.stderr)
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            # a layer the workload does not exercise did no work: it reads 0
            values = dict(rep["layers"])
        else:
            names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
            values = dict(rep["end_to_end"])
            values["setup_s"] = rep["first_timed_ms"] / 1000.0 - T_START - prep_s
            values["peak_rss_mb"] = rss_mb
        metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names}
        if not args.trace:
            missing = [n for n, _ in names if n not in values]
            if missing:
                raise RuntimeError(f"end-to-end metrics not measured: {missing}")
        result = {"correct": not problems, "attempted": rep["attempted"],
                  "failed": rep["failed"], "metrics": metrics}
        print(json.dumps(result))
        return 0 if not problems else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
