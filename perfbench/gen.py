#!/usr/bin/env python3
"""Seeded input generators for the graft benchmark.

Two inputs, both deterministic in their seed:

* ``changes`` — change-stream envelopes (the ``ChangeStreamSource`` input):
  token-ordered parquet files, each written under a temp name and renamed
  into place, plus a JSON manifest with every event's token and op.
* ``tail``    — the open-loop generator: a single-threaded process that
  writes one envelope file every ``1/cadence`` seconds at ``rate`` ev/s for
  ``seconds`` seconds, stamps each event with its due time and records how
  late each file landed.

Usage:
  python3 perfbench/gen.py changes OUT_DIR MANIFEST SEED FIRST_SEQ COUNT PER_FILE MIN_B MAX_B
  python3 perfbench/gen.py tail    OUT_DIR MANIFEST SEED FIRST_SEQ RATE CADENCE SECONDS MIN_B MAX_B
"""
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- envelopes

DB, COLL = "bench", "events"
# op code → operationType. Publishable: insert/update/replace/delete; the
# rest are dropped by the connector's op filter. `invalidate` is never
# generated: it would stop the stream.
OPS = {"i": "insert", "u": "update", "r": "replace", "d": "delete",
       "D": "drop", "R": "rename", "X": "dropDatabase"}
PUBLISHABLE = "iurd"
OP_CODES = "iurdDRX"
OP_WEIGHTS = [0.45, 0.25, 0.05, 0.05, 0.08, 0.06, 0.06]  # 20 % non-publishable

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()


def token(seq):
    """Resume token for sequence number ``seq``: fixed-width hex, so the
    lexicographic order the source uses equals the numeric order."""
    return "82%022X" % seq


def seed_base(seed):
    """First sequence number of a seed's stream: a new seed moves the whole
    token range."""
    return 1 + (int(seed) * 2654435761 % (1 << 32)) * (1 << 24)


def text_pool(rng, n_chars=1 << 16):
    words = rng.choice(WORDS, size=n_chars // 3)
    return " ".join(words)[:n_chars]


ENVELOPE_SCHEMA = pa.schema([
    ("_id", pa.struct([("_data", pa.string())])),
    ("operationType", pa.string()),
    ("clusterTime", pa.timestamp("us")),
    ("wallTime", pa.timestamp("us")),
    ("ns", pa.struct([("db", pa.string()), ("coll", pa.string())])),
    ("documentKey", pa.string()),
    ("fullDocument", pa.string()),
    ("fullDocumentBeforeChange", pa.string()),
    ("updateDescription", pa.string()),
])


def draw_events(rng, n, min_b, max_b):
    """Op codes, document body sizes and document keys for ``n`` events."""
    ops = rng.choice(np.array(list(OP_CODES)), size=n, p=OP_WEIGHTS)
    sizes = rng.integers(min_b, max_b + 1, size=n)
    keys = rng.integers(0, 1 << 40, size=n)
    offs = rng.integers(0, 1 << 15, size=n)
    return "".join(ops.tolist()), sizes, keys, offs


def envelope_table(first_seq, ops, sizes, keys, offs, pool, wall_us):
    """Arrow table of change events; ``wall_us[j]`` is event j's wallTime
    (its due time for the open-loop tail)."""
    n = len(ops)
    ids, kinds, dkeys, full, before, upd = [], [], [], [], [], []
    for j in range(n):
        op = ops[j]
        ids.append({"_data": token(first_seq + j)})
        kinds.append(OPS[op])
        if op in PUBLISHABLE:
            oid = "%024x" % int(keys[j])
            key = '{"_id":{"$oid":"%s"}}' % oid
            # document = fixed JSON frame + a body padded to the drawn size
            body_len = max(0, int(sizes[j]) - 48)
            o = int(offs[j])
            doc = '{"_id":{"$oid":"%s"},"n":%d,"body":"%s"}' % (
                oid, j, pool[o:o + body_len])
            dkeys.append(key)
            full.append(None if op == "d" else doc)
            before.append(None if op == "i" else
                          '{"_id":{"$oid":"%s"},"n":%d,"body":"%s"}' % (
                              oid, j - 1, pool[o + 1:o + 1 + body_len]))
            upd.append('{"updatedFields":{"n":%d},"removedFields":[]}' % j
                       if op == "u" else None)
        else:
            dkeys.append(None)
            full.append(None)
            before.append(None)
            upd.append(None)
    ts = pa.array(wall_us, type=pa.timestamp("us"))
    ns = [{"db": DB, "coll": COLL}] * n
    return pa.table([ids, kinds, ts, ts, ns, dkeys, full, before, upd],
                    schema=ENVELOPE_SCHEMA)


def write_atomic(table, out_dir, name):
    """Write under a dot-temp name the source never lists, then rename."""
    tmp = os.path.join(out_dir, "." + name + ".inprogress")
    pq.write_table(table, tmp, compression="snappy",
                   row_group_size=max(1, table.num_rows))
    os.rename(tmp, os.path.join(out_dir, name))


def gen_changes(out_dir, manifest, seed, first_seq, count, per_file,
                min_b, max_b):
    """A closed batch of envelopes in token-ordered files of ``per_file``
    events (the backlog, or the short first segment)."""
    rng = np.random.default_rng([int(seed), int(first_seq)])
    pool = text_pool(rng)
    ops, sizes, keys, offs = draw_events(rng, count, min_b, max_b)
    os.makedirs(out_dir, exist_ok=True)
    now_us = int(time.time() * 1e6)
    files = []
    for k in range(0, count, per_file):
        n = min(per_file, count - k)
        s0 = first_seq + k
        t = envelope_table(s0, ops[k:k + n], sizes[k:k + n], keys[k:k + n],
                           offs[k:k + n], pool, [now_us] * n)
        name = "chg-%s.parquet" % token(s0)
        write_atomic(t, out_dir, name)
        files.append({"file": name, "seq0": s0, "n": n,
                      "ops": ops[k:k + n],
                      "bytes": int(sizes[k:k + n].sum())})
    with open(manifest, "w") as f:
        json.dump({"seed": int(seed), "first_seq": int(first_seq),
                   "count": int(count), "files": files}, f)


def gen_tail(out_dir, manifest, seed, first_seq, rate, cadence, seconds,
             min_b, max_b):
    """Open loop: file k holds the events due in (t0 + k/cadence,
    t0 + (k+1)/cadence] and is written when its last event is due. Each
    event's wallTime is its due time. The manifest records the schedule
    and each file's lateness."""
    rng = np.random.default_rng([int(seed), int(first_seq)])
    pool = text_pool(rng)
    per_file = int(round(rate / cadence))
    n_files = int(round(seconds * cadence))
    ops, sizes, keys, offs = draw_events(rng, per_file * n_files, min_b, max_b)
    os.makedirs(out_dir, exist_ok=True)
    files = []
    t0 = time.time()
    for k in range(n_files):
        due = t0 + (k + 1) / cadence
        sleep = due - time.time()
        if sleep > 0:
            time.sleep(sleep)
        lo = k * per_file
        s0 = first_seq + lo
        wall_us = [int((t0 + (lo + j + 1) / rate) * 1e6)
                   for j in range(per_file)]
        t = envelope_table(s0, ops[lo:lo + per_file],
                           sizes[lo:lo + per_file], keys[lo:lo + per_file],
                           offs[lo:lo + per_file], pool, wall_us)
        name = "chg-%s.parquet" % token(s0)
        write_atomic(t, out_dir, name)
        files.append({"file": name, "seq0": s0, "n": per_file,
                      "ops": ops[lo:lo + per_file],
                      "bytes": int(sizes[lo:lo + per_file].sum()),
                      "due": due, "written": time.time()})
    with open(manifest + ".tmp", "w") as f:
        json.dump({"seed": int(seed), "first_seq": int(first_seq),
                   "count": per_file * n_files, "t0": t0, "rate": rate,
                   "cadence": cadence, "files": files}, f)
    os.rename(manifest + ".tmp", manifest)


def main(argv):
    kind, rest = argv[1], argv[2:]
    if kind == "changes":
        out, man, seed, s0, count, per_file, lo, hi = rest
        gen_changes(out, man, int(seed), int(s0), int(count), int(per_file),
                    int(lo), int(hi))
    elif kind == "tail":
        out, man, seed, s0, rate, cadence, secs, lo, hi = rest
        gen_tail(out, man, int(seed), int(s0), float(rate), float(cadence),
                 float(secs), int(lo), int(hi))
    else:
        raise SystemExit("unknown generator: " + kind)


if __name__ == "__main__":
    main(sys.argv)
