"""Seeded input generators. Each returns the inputs the program receives
(written to files) together with what a correct program must make of them,
so the checks never ask the program what the right answer is."""
import os
import random
import struct

# ------------------------------------------------------------------ forward

CARBON_BODIES = 20          # bodies per timed pass
SFX_BODIES = 12
POINTS_PER_BODY = 500       # lines per carbon body, datapoints per protobuf body
MALFORMED_PER_BODY = 10     # planted bad lines / value-less datapoints per body
TRUNCATED_EVERY = 8         # every 8th protobuf body (index 3, 11, ...) is cut short
WARM_BODIES = 4             # bodies per codec in the untimed warm-up pass: 1 micro-batch each
CARBON_MAX_FILES = 5        # maxFilesPerTrigger: 4 micro-batches per carbon drain
SFX_MAX_FILES = 4           # 3 micro-batches per protobuf drain
EPOCH0 = 1_700_000_000


def _varint(v):
    v &= (1 << 64) - 1
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _field(num, wire, payload):
    tag = _varint((num << 3) | wire)
    if wire == 2:
        return tag + _varint(len(payload)) + payload
    return tag + payload


def encode_point(metric, ts_ms, value, str_value=None, mtype=0, dims=()):
    """One SignalFx `DataPoint`, written from the public .proto field numbers."""
    if str_value is not None:
        datum = _field(1, 2, str_value.encode())
    elif isinstance(value, int):
        datum = _field(3, 0, _varint(value))
    else:
        datum = _field(2, 1, struct.pack("<d", value))
    b = _field(2, 2, metric.encode()) + _field(3, 0, _varint(ts_ms)) + _field(4, 2, datum)
    if mtype:
        b += _field(5, 0, _varint(mtype))
    for k, v in dims:
        b += _field(6, 2, _field(1, 2, k.encode()) + _field(2, 2, v.encode()))
    return b


def _metric_pool(rng, n=240):
    svcs = ["api", "db", "cache", "queue", "auth", "web"]
    stats = ["latency", "errors", "hits", "bytes", "count", "p99"]
    return [f"{rng.choice(svcs)}{i}.{rng.choice(stats)}.{rng.choice(['min', 'max', 'avg', 'sum'])}"
            for i in range(n)]


def _value(rng):
    return round(rng.uniform(-5000.0, 5000.0), 3)


def forward(seed, out_dir):
    """Writes input/carbon/*.txt and input/sfxproto/*.bin. Returns
    {codec: [(body_bytes, [(metric, value, epoch_s), ...valid points])]}."""
    rng = random.Random(f"forward-{seed}")
    metrics = _metric_pool(rng)
    hosts = [f"h{i:03d}" for i in range(40)]
    bodies = {"carbon": [], "sfxproto": []}

    for b in range(CARBON_BODIES):
        bad = set(rng.sample(range(POINTS_PER_BODY), MALFORMED_PER_BODY))
        lines, valid = [], []
        for i in range(POINTS_PER_BODY):
            m = rng.choice(metrics)
            epoch = EPOCH0 + rng.randrange(86400)
            v = _value(rng)
            name = m if rng.random() < 0.5 else \
                f"{m}[host={rng.choice(hosts)},az=zone{rng.randrange(3)}]"
            if i in bad:
                lines.append(rng.choice([
                    f"{name} notanumber {epoch}",
                    f"{name} {v!r}",
                    f"{name} {v!r} notatime",
                    f"garbage-line-{b}-{i}",
                ]))
            else:
                lines.append(f"{name} {v!r} {epoch}")
                valid.append((m, float(v), epoch))
        bodies["carbon"].append((("\n".join(lines) + "\n").encode(), valid))

    for b in range(SFX_BODIES):
        bad = set(rng.sample(range(POINTS_PER_BODY), MALFORMED_PER_BODY))
        msg, valid = bytearray(), []
        for i in range(POINTS_PER_BODY):
            m = rng.choice(metrics)
            ts = (EPOCH0 + rng.randrange(86400)) * 1000 + rng.randrange(1000)
            dims = [("host", rng.choice(hosts))] if rng.random() < 0.5 else []
            mtype = rng.choice([0, 1, 3])
            if i in bad:
                msg += _field(1, 2, encode_point(m, ts, None, str_value="n/a", dims=dims))
                continue
            v = rng.randrange(-100000, 100000) if rng.random() < 0.3 else _value(rng)
            msg += _field(1, 2, encode_point(m, ts, v, mtype=mtype, dims=dims))
            valid.append((m, float(v), ts // 1000))
        if b % TRUNCATED_EVERY == 3:
            # cut inside the last datapoint: the program must drop the whole body
            bodies["sfxproto"].append((bytes(msg[:-3]), []))
        else:
            bodies["sfxproto"].append((bytes(msg), valid))

    for codec, ext in (("carbon", "txt"), ("sfxproto", "bin")):
        d = os.path.join(out_dir, codec)
        os.makedirs(d)
        for i, (body, _) in enumerate(bodies[codec]):
            with open(os.path.join(d, f"{i:05d}.{ext}"), "wb") as f:
                f.write(body)
    return bodies


FORWARD_CONFIG = {"warm_bodies": WARM_BODIES, "carbon_max_files": CARBON_MAX_FILES,
                  "sfx_max_files": SFX_MAX_FILES}

# -------------------------------------------------------------------- table

TABLE_ROWS = 20000          # rows at create
TABLE_GROUPS = 16           # values of g; reads and deletes pick one group
MERGE_ROWS = 1000           # rows per MERGE INTO batch: 70% updates, 30% inserts
TABLE_ROUNDS = 10           # rounds of MERGE, DELETE, filtered read per timed pass
COMPACT_FILES = 4


def _table_ops(rng, rows0, rounds):
    """An op list plus, for each op index, the model state after it."""
    state = {}
    init = []
    for k in range(rows0):
        row = (k, rng.randrange(1_000_000), rng.randrange(TABLE_GROUPS))
        init.append(list(row))
        state[k] = row[1:]
    ops, states = [{"kind": "create", "rows": init}], [dict(state)]
    next_k = rows0
    for r in range(rounds):
        upd = rng.sample(sorted(state), int(MERGE_ROWS * 0.7))
        new = list(range(next_k, next_k + MERGE_ROWS - len(upd)))
        next_k += len(new)
        batch = [[k, rng.randrange(1_000_000), rng.randrange(TABLE_GROUPS)] for k in upd + new]
        rng.shuffle(batch)
        ops.append({"kind": "merge", "rows": batch})
        for k, v, g in batch:
            state[k] = (v, g)
        states.append(dict(state))

        g = rng.randrange(TABLE_GROUPS)
        vs = sorted(v for v, gg in state.values() if gg == g)
        thr = vs[int(len(vs) * 0.03)] + 1
        ops.append({"kind": "delete", "g": g, "thr": thr})
        state = {k: (v, gg) for k, (v, gg) in state.items() if not (gg == g and v < thr)}
        states.append(dict(state))

        ops.append({"kind": "read", "g": rng.randrange(TABLE_GROUPS)})
        states.append(states[-1])
        if r == rounds // 2 - 1:
            ops.append({"kind": "compact", "files": COMPACT_FILES})
            states.append(states[-1])
    return ops, states


def table(seed, rounds=TABLE_ROUNDS):
    """Returns (spec for the JVM, model states per op index)."""
    rng = random.Random(f"table-{seed}")
    ops, states = _table_ops(rng, TABLE_ROWS, rounds)
    warm_ops, _ = _table_ops(random.Random(f"table-warmup-{seed}"), 2000, 2)
    compact_at = next(i for i, o in enumerate(ops) if o["kind"] == "compact")
    last_merge = max(i for i, o in enumerate(ops) if o["kind"] == "merge")
    spec = {"ops": ops, "warmup_ops": warm_ops, "travel_to": [0, compact_at - 1, last_merge]}
    return spec, states
