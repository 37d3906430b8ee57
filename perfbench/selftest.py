"""Self-test of the output checks: each check must pass on good output and
fail on output with one planted defect. Needs no build and no JVM.

    python3 perfbench/selftest.py

Exits 0 when every check behaves; prints one line per case.
"""
import copy
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

CASES = []


def case(fn):
    CASES.append(fn)
    return fn


def _carbon_text(points):
    return "".join(f"{m} {v!r} {e}\n" for m, v, e in points)


def _sfx_parquet(points, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    payload = b"".join(gen._field(1, 2, gen.encode_point(m, e * 1000, float(v)))
                       for m, v, e in points)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"payload": pa.array([payload], pa.binary())}), path)


def _forward_tree(tmp, bodies, acks, mutate=lambda pts: pts, skip_spool=None):
    """Writes what a correct program leaves for `acks` (spool files and both
    forwarders' output), with `mutate` applied to the forwarded points."""
    for p, codec, i, _ in acks:
        spool = os.path.join(tmp, "spool", f"p{p}", codec)
        os.makedirs(spool, exist_ok=True)
        if (codec, i) != skip_spool:
            with open(os.path.join(spool, f"body-{i}.dat"), "wb") as f:
                f.write(bodies[codec][i][0])
    for codec in ("carbon", "sfxproto"):
        idx = [i for p, c, i, _ in acks if c == codec]
        pts = mutate([pt for i in idx for pt in bodies[codec][i][1]])
        out = os.path.join(tmp, "out", "p1", codec)
        os.makedirs(os.path.join(out, "carbon", "batch=0"))
        with open(os.path.join(out, "carbon", "batch=0", "part-00000.txt"), "w") as f:
            f.write(_carbon_text(pts))
        _sfx_parquet(pts, os.path.join(out, "sfxproto", "batch=0", "part-00000.parquet"))


def _forward(mutate=lambda pts: pts, skip_spool=None):
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-")
    try:
        bodies = gen.forward(7, os.path.join(tmp, "input"))
        acks = [(1, c, i, 200) for c in ("carbon", "sfxproto") for i in range(4)]
        _forward_tree(tmp, bodies, acks, mutate, skip_spool)
        return checks.check_forward(bodies, acks, tmp)
    finally:
        shutil.rmtree(tmp)


@case
def forward_good():
    return _forward(), False


@case
def forward_point_dropped():
    return _forward(lambda pts: pts[1:]), True


@case
def forward_point_duplicated():
    return _forward(lambda pts: pts + pts[:1]), True


@case
def forward_value_changed():
    return _forward(lambda pts: [(pts[0][0], pts[0][1] + 0.5, pts[0][2])] + pts[1:]), True


@case
def forward_acked_body_without_spool_file():
    return _forward(skip_spool=("carbon", 2)), True


def _table(skip_update):
    spec, states = gen.table(5, rounds=2)
    # what a correct program observes: fingerprints of the model itself
    obs = []
    for i, op in enumerate(spec["ops"]):
        if op["kind"] == "read":
            rows = [(k, v, g) for k, (v, g) in states[i].items() if g == op["g"]]
            obs += [f"read\t{i}\t{p}\t{checks.fingerprint(rows)}\n" for p in ("sql", "lib")]
    for i in spec["travel_to"] + [-1]:
        rows = [(k, v, g) for k, (v, g) in states[i].items()]
        kind = "latest" if i == -1 else "travel"
        obs += [f"{kind}\t{i}\t{p}\t{checks.fingerprint(rows)}\n" for p in ("sql", "lib")]
    if skip_update:
        # the model misses the first merge's first update, from that op on
        first = next(i for i, o in enumerate(spec["ops"]) if o["kind"] == "merge")
        k = spec["ops"][first]["rows"][0][0]
        before = states[0].get(k)
        states = copy.deepcopy(states)
        for s in states[first:]:
            if before is None:
                s.pop(k, None)
            elif k in s:
                s[k] = before
    return checks.check_table(spec, states, obs)


@case
def table_good():
    return _table(False), False


@case
def table_model_skips_update():
    return _table(True), True


def _oracle(change_row):
    import duckdb
    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-")
    try:
        fixtures = os.path.join(tmp, "fixtures")
        os.makedirs(fixtures)
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT range AS id, range * 1.5 AS x, "
                    "'s' || range AS s FROM range(20)")
        con.execute(f"COPY t TO '{fixtures}/t.parquet' (FORMAT parquet)")
        sql = "SELECT s, id, x FROM t WHERE id % 3 = 0 ORDER BY id"
        oracle = checks.oracle_answers(fixtures, {"Q": sql})
        res = os.path.join(tmp, "results", "Q")
        os.makedirs(res)
        where = "id % 3 = 0"
        x = "CASE WHEN id = 9 THEN x + 1 ELSE x END" if change_row else "x"
        con.execute(f"COPY (SELECT id, {x} AS x, s FROM t WHERE {where} ORDER BY id) "
                    f"TO '{res}/part-0.parquet' (FORMAT parquet)")
        return checks.check_results(os.path.join(tmp, "results"), oracle, ["Q"])
    finally:
        shutil.rmtree(tmp)


@case
def oracle_good():
    return _oracle(False), False


@case
def oracle_row_changed():
    return _oracle(True), True


def main():
    bad = 0
    for fn in CASES:
        problems, should_fail = fn()
        ok = bool(problems) == should_fail
        bad += not ok
        verdict = "fails as it should" if should_fail and ok else \
            "passes as it should" if ok else "WRONG"
        print(f"{fn.__name__:42s} {verdict}" + (f"  ({problems[0][:90]})" if problems else ""))
    print(f"{len(CASES) - bad}/{len(CASES)} cases behave")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
