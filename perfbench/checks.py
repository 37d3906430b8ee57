"""Output checks. Each check compares what the program produced with an
answer computed apart from it (the generator's own record of valid inputs,
DuckDB, or an in-memory table model) and returns a list of problems; an
empty list means the output is correct."""
import collections
import glob
import hashlib
import os
import struct

# ------------------------------------------------------------- wire reader


def _varint(buf, pos):
    shift = v = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def _fields(buf):
    """(field, wire, value) triples of one protobuf message; length-delimited
    values are bytes, varints ints, fixed64 the raw 8 bytes."""
    pos = 0
    while pos < len(buf):
        key, pos = _varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _varint(buf, pos)
        elif wire == 1:
            v, pos = buf[pos:pos + 8], pos + 8
        elif wire == 2:
            n, pos = _varint(buf, pos)
            v, pos = buf[pos:pos + n], pos + n
        elif wire == 5:
            v, pos = buf[pos:pos + 4], pos + 4
        else:
            raise ValueError(f"wire type {wire}")
        yield field, wire, v


def _signed(v):
    return v - (1 << 64) if v >= 1 << 63 else v


def decode_upload(payload):
    """(metric, value, epoch_s) of every datapoint in a SignalFx
    `DataPointUploadMessage`."""
    out = []
    for f, w, dp in _fields(payload):
        if f != 1 or w != 2:
            continue
        metric, ts, value = None, None, None
        for g, gw, v in _fields(dp):
            if g == 2 and gw == 2:
                metric = v.decode()
            elif g == 3 and gw == 0:
                ts = _signed(v)
            elif g == 4 and gw == 2:
                for h, hw, d in _fields(v):
                    if h == 2 and hw == 1:
                        value = struct.unpack("<d", d)[0]
                    elif h == 3 and hw == 0:
                        value = float(_signed(d))
        out.append((metric, value, None if ts is None else ts // 1000))
    return out

# ------------------------------------------------------------------ forward


def read_carbon_output(d):
    pts = []
    for p in sorted(glob.glob(os.path.join(d, "batch=*", "part-*"))):
        with open(p) as f:
            for line in f:
                parts = line.rstrip("\n").split(" ")
                if len(parts) != 3:
                    pts.append((line.rstrip("\n"), None, None))
                    continue
                pts.append((parts[0], float(parts[1]), int(parts[2])))
    return pts


def read_sfx_output(d):
    import pyarrow.parquet as pq
    pts = []
    for p in sorted(glob.glob(os.path.join(d, "batch=*", "*.parquet"))):
        for payload in pq.read_table(p, columns=["payload"]).column("payload").to_pylist():
            pts.extend(decode_upload(payload))
    return pts


def compare_points(name, expected, got):
    """Multiset equality of (metric, value, epoch) points."""
    e, g = collections.Counter(expected), collections.Counter(got)
    if e == g:
        return []
    missing, extra = e - g, g - e
    return [f"{name}: {sum(missing.values())} expected points missing "
            f"(e.g. {list(missing)[:2]}), {sum(extra.values())} unexpected "
            f"(e.g. {list(extra)[:2]})"]


def check_spool(acked_bodies, spool_dir):
    """Every acknowledged body has exactly one spool file with its bytes,
    and nothing else is spooled."""
    files = [p for p in glob.glob(os.path.join(spool_dir, "*")) if os.path.isfile(p)]
    spooled = collections.Counter()
    for p in files:
        with open(p, "rb") as f:
            spooled[hashlib.sha256(f.read()).hexdigest()] += 1
    wanted = collections.Counter(hashlib.sha256(b).hexdigest() for b in acked_bodies)
    if spooled == wanted:
        return []
    return [f"spool {spool_dir}: {sum((wanted - spooled).values())} acked bodies without "
            f"their spool file, {sum((spooled - wanted).values())} spool files no ack explains"]


def check_forward(bodies, acks, tmp):
    """`acks`: (pass, codec, body index, status) rows the harness recorded."""
    problems = []
    by_pass = collections.defaultdict(list)
    for p, codec, i, status in acks:
        if status != 200:
            problems.append(f"pass {p} {codec} body {i}: status {status}")
        by_pass[(p, codec)].append(i)
    for (p, codec), idx in sorted(by_pass.items()):
        acked = [bodies[codec][i][0] for i in idx]
        problems += check_spool(acked, os.path.join(tmp, "spool", f"p{p}", codec))
        expected = [pt for i in idx for pt in bodies[codec][i][1]]
        out = os.path.join(tmp, "out", f"p{p}", codec)
        problems += compare_points(f"pass {p} {codec}->carbon", expected,
                                   read_carbon_output(os.path.join(out, "carbon")))
        problems += compare_points(f"pass {p} {codec}->sfxproto", expected,
                                   read_sfx_output(os.path.join(out, "sfxproto")))
    return problems

# ------------------------------------------------------------ query oracle


def canon(rows):
    """Canonical text hash of result rows (columns already in name order):
    floats to 4 places, NULL literal, lists element-wise."""
    out = []
    for r in rows:
        cells = []
        for v in r:
            if v is None:
                cells.append("NULL")
            elif isinstance(v, bool):
                cells.append("true" if v else "false")
            elif isinstance(v, float):
                cells.append(f"{v:.4f}")
            elif isinstance(v, (list, tuple)):
                cells.append("[" + ",".join(f"{x:.4f}" if isinstance(x, float) else str(x)
                                            for x in v) + "]")
            else:
                cells.append(str(v))
        out.append("|".join(cells))
    return hashlib.sha256("\n".join(out).encode()).hexdigest()[:16]


def _by_name(cursor):
    cols = [c[0] for c in cursor.description]
    perm = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), [tuple(r[i] for i in perm) for r in cursor.fetchall()]


def oracle_answers(fixtures, sql_by_id):
    """{id: [sorted column names, canonical hash, row count]} from DuckDB."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(fixtures, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for qid, sql in sorted(sql_by_id.items()):
        cur = con.execute(sql)
        huge = [c[0] for c in cur.description if str(c[1]).upper() in ("HUGEINT", "INT128")]
        if huge:
            raise ValueError(f"{qid}: HUGEINT columns {huge} in the oracle SQL")
        cols, rows = _by_name(cur)
        out[qid] = [cols, canon(rows), len(rows)]
    return out


def check_results(results_dir, oracle, ids):
    """Each query's parquet result against its DuckDB answer."""
    import duckdb
    con = duckdb.connect()
    problems = []
    for qid in ids:
        d = os.path.join(results_dir, qid)
        if not glob.glob(os.path.join(d, "*.parquet")):
            problems.append(f"{qid}: no result written")
            continue
        cols, rows = _by_name(con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')"))
        want_cols, want_hash, want_n = oracle[qid]
        if cols != want_cols:
            problems.append(f"{qid}: columns {cols} != oracle {want_cols}")
        elif canon(rows) != want_hash:
            problems.append(f"{qid}: rows differ from the oracle ({len(rows)} vs {want_n} rows)")
    return problems

# -------------------------------------------------------------------- table


def fingerprint(rows):
    """Same form as the harness: count, sum of v, SHA-256 of sorted k,v,g lines."""
    lines = sorted(f"{k},{v},{g}" for k, v, g in rows)
    sha = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return f"{len(rows)}\t{sum(v for _, v, _ in rows)}\t{sha}"


def check_table(spec, states, obs_lines):
    """Every filtered read, time-travelled version and the latest version,
    through both paths, against the model state after the same op."""
    problems, seen = [], collections.Counter()
    for line in obs_lines:
        kind, i, *rest = line.rstrip("\n").split("\t")
        i = int(i)
        if kind == "version":
            continue
        path, got = rest[0], "\t".join(rest[1:])
        state = states[i]
        if kind == "read":
            g = spec["ops"][i]["g"]
            want = fingerprint([(k, v, gg) for k, (v, gg) in state.items() if gg == g])
        else:
            want = fingerprint([(k, v, g) for k, (v, g) in state.items()])
        seen[kind] += 1
        if got != want:
            problems.append(f"table {kind} after op {i} via {path}: got {got.split(chr(9))[:2]} "
                            f"want {want.split(chr(9))[:2]}")
    reads = sum(o["kind"] == "read" for o in spec["ops"])
    if seen != collections.Counter({"read": 2 * reads, "travel": 2 * len(spec["travel_to"]),
                                    "latest": 2}):
        problems.append(f"table: observations {dict(seen)} do not cover the op sequence")
    return problems
