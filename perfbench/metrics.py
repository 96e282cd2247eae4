"""Metric and correctness derivation for the graft benchmark.

Everything here is a pure function of the JVM's raw record (raw.json), the
generator manifests and the recorded digests, so it is unit-tested without
Spark (perfbench/test_perfbench.py).
"""
import bisect
import glob
import math
import os
import re
import statistics

from gen import token

# Visibility ceiling for a change event: the reference connector's
# acceptance tests fail an insert that is not published within 5 s
# (test/acceptance/insert_test.go:40; BASELINE.md).
CEILING_S = 5.0
TAIL_PERCENTILES = (99.0, 90.0, 50.0)
PUBLISHABLE = "iurd"
OP_NAMES = {"i": "insert", "u": "update", "r": "replace", "d": "delete"}
STREAM = "EVENTS"


# ---------------------------------------------------------------- statistics

def percentile(values, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = (len(v) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def supported_percentile(n, candidates=TAIL_PERCENTILES, beyond=10):
    """The highest candidate percentile with at least `beyond` samples above
    it; None when even the lowest has fewer."""
    for q in sorted(candidates, reverse=True):
        if n * (100.0 - q) >= 100.0 * beyond - 1e-9:
            return q
    return None


def tail(values, candidates=TAIL_PERCENTILES):
    """(percentile, value) under the percentile rule; the maximum
    (percentile 100) when the sample supports none of the candidates."""
    q = supported_percentile(len(values), candidates)
    if q is None:
        return 100.0, float(max(values))
    return q, percentile(values, q)


def median(values):
    return float(statistics.median(values))


# ---------------------------------------------------------------- tokens


def manifest_events(manifest):
    """[(seq, op_code)] of every event in a generator manifest."""
    out = []
    for f in manifest["files"]:
        out += [(f["seq0"] + j, op) for j, op in enumerate(f["ops"])]
    return out


def tail_due_times(manifest):
    """{seq: due time (epoch s)} of an open-loop manifest: event g of the
    tail is due at t0 + (g + 1) / rate."""
    t0, rate, s0 = manifest["t0"], manifest["rate"], manifest["first_seq"]
    return {seq: t0 + (seq - s0 + 1) / rate
            for seq, _ in manifest_events(manifest)}


# ---------------------------------------------------------------- latency

def triggers(progress, run_id):
    """Data-carrying triggers of one query run, in batch order."""
    ps = [p for p in progress if p["run_id"] == run_id
          and "addBatch" in p["durations_ms"] and p["end_token"]]
    return sorted(ps, key=lambda p: p["batch_id"])


def covering_ends(trigs):
    """Monotone (end_token, end_ms) pairs: the commit time that first
    covers each end offset."""
    toks, ends = [], []
    for p in trigs:
        if not toks or p["end_token"] > toks[-1]:
            toks.append(p["end_token"])
            ends.append(p["end_ms"])
    return toks, ends


def commit_time_ms(tok, toks, ends):
    """End time of the first trigger whose committed end offset covers
    `tok`, or None if none does."""
    i = bisect.bisect_left(toks, tok)
    return ends[i] if i < len(toks) else None


def event_latencies(due, trigs):
    """{seq: latency_s or None} — from each event's scheduled creation time
    to the end of the trigger whose committed end offset covers its token."""
    toks, ends = covering_ends(trigs)
    out = {}
    for seq, t in due.items():
        end = commit_time_ms(token(seq), toks, ends)
        out[seq] = None if end is None else end / 1e3 - t
    return out


def source_backlog(due, trigs, at_s):
    """Events due by `at_s` whose token no trigger ended by `at_s` covers."""
    toks, ends = covering_ends([p for p in trigs if p["end_ms"] / 1e3 <= at_s])
    covered = toks[-1] if toks else ""
    return sum(1 for seq, t in due.items()
               if t <= at_s and token(seq) > covered)


# ---------------------------------------------------------------- prometheus

_PROM = re.compile(r'^(\w+)\{([^}]*)\}\s+(\S+)$')


def prom_histograms(text, family="mongodb_command_duration_seconds"):
    """{command: {"buckets": [(le, count)], "sum": s, "count": n}}."""
    out = {}
    for line in (text or "").splitlines():
        m = _PROM.match(line.strip())
        if not m or not m.group(1).startswith(family):
            continue
        labels = dict(re.findall(r'(\w+)="([^"]*)"', m.group(2)))
        h = out.setdefault(labels.get("command", ""),
                           {"buckets": [], "sum": 0.0, "count": 0.0})
        kind, val = m.group(1)[len(family):], float(m.group(3))
        if kind == "_bucket":
            le = labels["le"]
            h["buckets"].append((math.inf if le == "+Inf" else float(le), val))
        elif kind == "_sum":
            h["sum"] = val
        elif kind == "_count":
            h["count"] = val
    return out


def prom_delta(after, before, command):
    a = after.get(command, {"buckets": [], "sum": 0.0, "count": 0.0})
    b = before.get(command, {"buckets": [], "sum": 0.0, "count": 0.0})
    bb = dict(b["buckets"])
    return {"buckets": [(le, c - bb.get(le, 0.0)) for le, c in a["buckets"]],
            "sum": a["sum"] - b["sum"], "count": a["count"] - b["count"]}


def histogram_quantile(q, h):
    """Prometheus histogram_quantile over cumulative buckets."""
    buckets = sorted(h["buckets"])
    if not buckets or buckets[-1][1] <= 0:
        return 0.0
    rank = q * buckets[-1][1]
    prev_le, prev_c = 0.0, 0.0
    for le, c in buckets:
        if c >= rank:
            if math.isinf(le):
                return prev_le
            return prev_le + (le - prev_le) * (rank - prev_c) / max(c - prev_c, 1e-12)
        prev_le, prev_c = le, c
    return prev_le


# ---------------------------------------------------------------- spans

def union_ms(intervals, lo, hi):
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    iv = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self ms} = duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_ms(
        [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
        s["start_ms"], s["end_ms"]) for s in spans}


TRIGGER_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets")


def trigger_spans(trigs, next_id, run_id):
    """A span per trigger with its durationMs phases as children, laid out
    in the micro-batch execution order."""
    spans = []
    for p in trigs:
        tid = next_id
        next_id += 1
        spans.append({"id": tid, "name": "trigger %d" % p["batch_id"],
                      "layer": "streaming", "parent": -1,
                      "start_ms": p["start_ms"], "end_ms": p["end_ms"],
                      "run_id": run_id})
        t = p["start_ms"]
        for ph in TRIGGER_PHASES:
            d = p["durations_ms"].get(ph)
            if d is None:
                continue
            spans.append({"id": next_id, "name": ph, "layer": "streaming",
                          "parent": tid, "start_ms": t, "end_ms": t + d,
                          "run_id": run_id})
            next_id += 1
            t += d
    return spans, next_id


# ---------------------------------------------------------------- batch

def digest_failures(queries, expected):
    """[(name, reason)] for every query that threw or whose (rows, xor)
    digest differs from the recorded one."""
    bad = []
    for q in queries:
        want = expected.get(q["name"])
        if "error" in q:
            bad.append((q["name"], "threw: " + q["error"]))
        elif want is None:
            bad.append((q["name"], "no recorded digest"))
        elif (q["rows"], str(q["digest"])) != (want["rows"], str(want["xor"])):
            bad.append((q["name"], "digest (%s, %s) != recorded (%s, %s)" % (
                q["rows"], q["digest"], want["rows"], want["xor"])))
    return bad


def stage_rows(jobs, groups):
    """Stages that ran tasks within jobs of the given job groups."""
    return [s for j in jobs if j["group"] in groups for s in j["stages"]
            if s["tasks"] > 0]


def skew(stages):
    """Max over multi-task stages of max / median task time."""
    worst = 1.0
    for s in stages:
        d = s["task_ms"]
        if len(d) >= 2 and median(d) > 0:
            worst = max(worst, max(d) / median(d))
    return worst


# ---------------------------------------------------------------- cdc gate

def cdc_gate(expected, published, batches, files_sorted, late=()):
    """Correctness of the published stream.

    expected:  {token: subject} of every publishable generated event
    published: [(msgId, subject)] after CdcPipeline.dedupByMsgId
    batches:   [(batch_id, min msgId, max msgId)] of the raw table
    files_sorted: [bool] per output file, msgIds ascending within it
    late:      tokens of events published past the visibility ceiling (or
               never committed); an event both missing and late fails once
    Returns (failed ops, details)."""
    got = {}
    for m, s in published:
        got[m] = s
    missing = [t for t in expected if t not in got]
    unexpected = [t for t in got if t not in expected]
    wrong_subject = [t for t, s in expected.items() if t in got and got[t] != s]
    order = sorted(batches)
    out_of_order = sum(1 for a, b in zip(order, order[1:]) if b[1] <= a[2])
    unsorted_files = sum(1 for ok in files_sorted if not ok)
    failed = (len(set(missing) | set(late)) + len(unexpected)
              + len(wrong_subject) + out_of_order + unsorted_files)
    return failed, {"missing": len(missing), "late": len(late),
                    "unexpected": len(unexpected),
                    "wrong_subject": len(wrong_subject),
                    "batches_out_of_order": out_of_order,
                    "files_out_of_order": unsorted_files,
                    "examples_missing": sorted(missing)[:5]}


def read_messages(messages_dir):
    """(raw rows, distinct msgIds, per-batch ranges, per-file sortedness)
    of the raw published table."""
    import pyarrow.parquet as pq
    rows, ids, ranges, sorted_flags = 0, set(), {}, []
    for f in sorted(glob.glob(os.path.join(messages_dir, "*.parquet"))):
        t = pq.read_table(f, columns=["msgId", "batch_id"])
        if t.num_rows == 0:
            continue
        m = t.column("msgId").to_pylist()
        b = t.column("batch_id").to_pylist()
        rows += len(m)
        ids.update(m)
        sorted_flags.append(all(x <= y for x, y in zip(m, m[1:])))
        for bid, mid in zip(b, m):
            lo, hi = ranges.get(bid, (mid, mid))
            ranges[bid] = (min(lo, mid), max(hi, mid))
    batches = [(bid, lo, hi) for bid, (lo, hi) in ranges.items()]
    return rows, len(ids), batches, sorted_flags


def read_published(published_dir):
    import pyarrow.parquet as pq
    out = []
    for f in glob.glob(os.path.join(published_dir, "*.parquet")):
        t = pq.read_table(f, columns=["msgId", "subject"])
        out += list(zip(t.column("msgId").to_pylist(),
                        t.column("subject").to_pylist()))
    return out


def expected_subjects(manifests):
    return {token(seq): "%s.%s" % (STREAM, OP_NAMES[op])
            for man in manifests for seq, op in manifest_events(man)
            if op in PUBLISHABLE}
