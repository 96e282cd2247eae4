#!/usr/bin/env python3
"""graft benchmark — one run of one workload, driven from outside the program.

  python3 perfbench/run.py --workload cdc_resume --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark's JVM
side (perfbench/build.py) on first use, generates the seeded inputs, runs
the workload in a fresh JVM, checks the outputs and prints, as the last line
of stdout, one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (a
separate run with Spark listeners and spans on). The full record (samples,
provenance, correctness details, spans) goes to
.bench_build/results/<workload>-seed<seed>-trace<t>.json. Exit code 0 iff
every correctness check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen as G  # noqa: E402
import metrics as M  # noqa: E402

RUN_LIMIT_S = 170.0

CDC = {
    "first_count": 2000,          # first segment, published in setup
    "backlog_count": 300_000,     # envelopes written during the outage
    "per_file": 20_000,           # token-ordered backlog files
    "doc_bytes": (0, 1024),       # backlog document sizes
    "max_rows_per_trigger": 75_000,  # 4 files a trigger, 4 drain triggers
    "warm_files": 4,              # backlog files drained once, untimed
    "rate": 2000.0,               # open-loop tail, events/s
    "cadence": 2.0,               # tail files/s
    "tail_doc_bytes": (150, 250),
    "tail_warmup_s": 2.0,         # open-loop ramp, excluded from latency
    "setup_reps": 3,
}

# the batch_curation corpus: the engine's sf0.1 documents and embeddings
# tables, as shipped in the testdata, checked in so the benchmark reads
# nothing outside its checkout
CORPUS = os.path.join(HERE, "data", "sf0.1")

BATCH = {
    "queries": [
        "dedup_minhash_pairs", "dedup_clusters", "dedup_span_removal",
        "dedup_winnow_pairs", "text_lm_score", "text_nb_classifier",
        "text_bpe_encode", "text_pack_efficiency", "decontam_overlap",
        "decontam_semantic", "sim_knn_graph", "sim_kmeans_cells",
        "sim_pq_codes", "mix_doremi_weights", "mix_contrastive_pairs",
        "curation_pipeline_e2e"],
    "setup_reps": 3,
}

# fixed heap: peak RSS must not depend on when G1 chose to grow it
JVM_MEM = "3g"

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spec():
    """BENCHMARK.json at the checkout root: the metrics each kind of run
    reports, with their units."""
    return load(os.path.join(HERE, os.pardir, "BENCHMARK.json"))


# ---------------------------------------------------------------- helpers

def cpus():
    """Cores the Spark session uses: all but one of the cores this process
    may run on. The spare core keeps the JIT, GC, listener bus and the
    tail generator off the task threads (on 4 cores, local[4] drained
    slower and with twice the run-to-run spread of local[3]).
    SPARK_GRAFT_CPUS is recorded but not used, so an exported tier-1
    setting cannot change the benchmark."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def steal_s():
    """Host CPU steal reported by the guest kernel, in seconds."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def gen(*args):
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py")]
                   + [str(a) for a in args], check=True)


def load(path):
    with open(path) as f:
        return json.load(f)


def preflight():
    """Refuse to run outside a full checkout: the benchmark builds the
    program from its sources."""
    need = [os.path.join("src", "main", "scala", "graft"),
            os.path.join("perfbench", "src", "graftbench")]
    missing = [p for p in need if not os.path.isdir(p)]
    if missing:
        sys.stderr.write("perfbench: run from the repository root; missing "
                         + ", ".join(missing) + "\n")
        sys.exit(2)
    for mod in ("numpy", "pyarrow"):
        try:
            __import__(mod)
        except ImportError:
            sys.stderr.write("perfbench: python module %s is required\n" % mod)
            sys.exit(2)


# ---------------------------------------------------------------- inputs

def cdc_inputs(work, seed, seconds):
    s0 = G.seed_base(seed)
    c = CDC
    root0 = os.path.join(work, "cdc", "root0", "bench", "events", "changes")
    first_man = os.path.join(work, "first.json")
    backlog_dir = os.path.join(work, "cdc", "backlog")
    backlog_man = os.path.join(work, "backlog.json")
    tail_man = os.path.join(work, "tail.json")
    gen("changes", root0, first_man, seed, s0, c["first_count"],
        c["first_count"], 0, c["doc_bytes"][1])
    b0 = s0 + c["first_count"]
    gen("changes", backlog_dir, backlog_man, seed, b0, c["backlog_count"],
        c["per_file"], *c["doc_bytes"])
    t0 = b0 + c["backlog_count"]
    per_file = int(round(c["rate"] / c["cadence"]))
    tail_s = seconds + c["tail_warmup_s"]
    tail_count = per_file * int(round(tail_s * c["cadence"]))
    backlog = load(backlog_man)
    cfg = {
        "first_last_token": M.token(b0 - 1),
        "backlog_last_token": M.token(t0 - 1),
        "tail_last_token": M.token(t0 + tail_count - 1),
        "backlog_dir": backlog_dir,
        "backlog_files": [f["file"] for f in backlog["files"]],
        "tail_manifest": tail_man,
        "tail_cmd": [sys.executable, os.path.join(HERE, "gen.py"), "tail",
                     root0, tail_man, str(seed), str(t0), str(c["rate"]),
                     str(c["cadence"]), str(tail_s),
                     str(c["tail_doc_bytes"][0]), str(c["tail_doc_bytes"][1])],
        "warm_files": c["warm_files"],
        "warm_last_token": M.token(b0 + c["warm_files"] * c["per_file"] - 1),
        "max_rows_per_trigger": c["max_rows_per_trigger"],
        "setup_reps": c["setup_reps"],
    }
    return cfg, {"first": first_man, "backlog": backlog_man, "tail": tail_man}


def batch_inputs(work):
    # the warm-up reads a hard-linked copy of the corpus: another path, so
    # the path-keyed caches it fills never serve the timed pass
    cfg = {"corpus_dir": CORPUS, "warm_dir": os.path.join(work, "warm"),
           "queries": BATCH["queries"], "setup_reps": BATCH["setup_reps"]}
    return cfg, load(os.path.join(HERE, "expected_digests.json"))["digests"]


# ---------------------------------------------------------------- jvm

def run_jvm(cp, cfg_path, work, deadline):
    cmd = ["java", "-Xms" + JVM_MEM, "-Xmx" + JVM_MEM, "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "graftbench.Main", cfg_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the JVM's process group includes the tail generator it spawns
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
    return rc


# ---------------------------------------------------------------- evaluation

def evaluate_cdc(raw, mans, traced):
    first, backlog, tail_man = (load(mans[k]) for k in
                                ("first", "backlog", "tail"))
    run_id = raw["run_id"]
    trigs = M.triggers(raw["progress"], run_id)
    due = M.tail_due_times(tail_man)
    tail_ops = dict(M.manifest_events(tail_man))
    lat = M.event_latencies(due, trigs)
    measured_from = tail_man["t0"] + CDC["tail_warmup_s"]
    pub_lat = {s: v for s, v in lat.items() if tail_ops[s] in M.PUBLISHABLE
               and due[s] > measured_from}
    known = [v for v in pub_lat.values() if v is not None]
    late = {M.token(s) for s, v in pub_lat.items()
            if v is None or v > M.CEILING_S}

    expected = M.expected_subjects([first, backlog, tail_man])
    published = M.read_published(raw["published_dir"])
    raw_rows, distinct, batches, files_sorted = M.read_messages(
        raw["messages_dir"])
    failed, gate = M.cdc_gate(expected, published, batches, files_sorted,
                              late)
    gate["raw_duplicates"] = raw_rows - distinct
    attempted = len(expected)

    wall = (raw["drain_end_ms"] - raw["restart_ms"]) / 1e3
    lat_ms = [v * 1e3 for v in known] or [float("nan")]
    tq, tv = M.tail(lat_ms)
    lateness = [f["written"] - f["due"] for f in tail_man["files"]]
    e2e = {
        "setup_s": raw["session_s"] + M.median(raw["provision_s"]),
        "wall_s": wall,
        "throughput_per_s": backlog["count"] / wall,
        "latency_p50_ms": M.median(lat_ms),
        "latency_tail_ms": tv,
        "cpu_s": raw["cpu_s"],
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    samples = {"setup_s": len(raw["provision_s"]), "wall_s": 1,
               "throughput_per_s": backlog["count"],
               "latency_p50_ms": len(known), "latency_tail_ms": len(known),
               "latency_tail_percentile": tq}
    details = {
        "gate": gate, "ceiling_s": M.CEILING_S,
        "backlog_events": backlog["count"], "tail_events": tail_man["count"],
        "drain_triggers": sum(1 for p in trigs
                              if p["start_ms"] < raw["drain_end_ms"]),
        "generator_lateness_max_s": max(lateness),
        "generator_lateness_p99_s": M.percentile(lateness, 99),
        "provision_s": raw["provision_s"],
        # [batch id, start (s after restart), trigger ms, addBatch ms, rows]
        "triggers": [[p["batch_id"],
                      round((p["start_ms"] - raw["restart_ms"]) / 1e3, 3),
                      p["durations_ms"].get("triggerExecution"),
                      p["durations_ms"].get("addBatch"), p["rows"]]
                     for p in trigs if p["start_ms"] >= raw["restart_ms"]],
        "tail_start_s": (raw["tail_start_ms"] - raw["restart_ms"]) / 1e3,
    }
    layers = {}
    if traced:
        layers = cdc_layers(raw, trigs, tail_man, due, backlog)
        layers["trace.wall_s"] = wall
    return attempted, failed, e2e, samples, details, layers, trigs


def cdc_layers(raw, trigs, tail_man, due, backlog):
    tail_t = [p for p in trigs if p["start_ms"] >= raw["tail_start_ms"]]
    window = [p for p in trigs if p["start_ms"] >= raw["restart_ms"]]

    def p50(key):
        v = [p["durations_ms"].get(key, 0) for p in tail_t]
        return M.median(v) if v else 0.0
    files = sorted((f["seq0"], f["seq0"] + f["n"] - 1)
                   for f in tail_man["files"])

    def files_in(p):
        return sum(1 for a, b in files
                   if p["start_token"] < M.token(b) <= p["end_token"])
    before, drain_p, end_p = (M.prom_histograms(raw[k]) for k in
                              ("prom_before", "prom_drain", "prom_end"))
    tok_app = M.prom_delta(end_p, before, "tokens_append")
    batch_ids = {str(p["batch_id"]) for p in tail_t}
    tail_jobs = [j for j in raw["jobs"] if j["batch_id"] in batch_ids]
    n = max(1, len(tail_t))
    ends = [p["end_ms"] / 1e3 for p in tail_t]
    gen_end = max(f["written"] for f in tail_man["files"])
    selfs = [p["durations_ms"].get("triggerExecution", 0) - sum(
        p["durations_ms"].get(k, 0) for k in M.TRIGGER_PHASES) for p in tail_t]
    return {
        "sources.latest_offset_ms.p50": p50("latestOffset"),
        "sources.files_per_trigger": M.median([files_in(p) for p in tail_t])
        if tail_t else 0.0,
        "sources.list_ranges_ms": raw["probe_list_ranges_ms"],
        "sources.read_ev_s": raw["probe_backlog_rows"] / raw["probe_read_s"],
        "sources.admitted_share": raw["probe_admitted_rows"]
        / raw["probe_backlog_rows"],
        "operators.to_messages_ev_s": raw["probe_backlog_rows"]
        / raw["probe_to_messages_s"],
        "functions.extjson_ev_s": raw["probe_backlog_rows"]
        / raw["probe_extjson_s"],
        "functions.payload_bytes_per_event": raw["probe_payload_bytes"],
        "streaming.trigger_ms.p50": p50("triggerExecution"),
        "streaming.trigger_ms.max": max(
            [p["durations_ms"].get("triggerExecution", 0) for p in tail_t]
            or [0]),
        "streaming.trigger_self_ms.p50": M.median(selfs) if selfs else 0.0,
        "streaming.add_batch_ms.p50": p50("addBatch"),
        "streaming.query_planning_ms.p50": p50("queryPlanning"),
        "streaming.wal_commit_ms.p50": p50("walCommit"),
        "streaming.commit_offsets_ms.p50": p50("commitOffsets"),
        "streaming.messages_append_s": M.prom_delta(
            end_p, before, "messages_append")["sum"],
        "streaming.tokens_append_ms.p50": 1e3 * M.histogram_quantile(
            0.5, tok_app),
        "streaming.tokens_read_ms": 1e3 * M.prom_delta(
            drain_p, before, "tokens_read")["sum"],
        "streaming.jobs_per_trigger": len(tail_jobs) / n,
        "streaming.tasks_per_trigger": sum(
            s["tasks"] for j in tail_jobs for s in j["stages"]) / n,
        "streaming.output_files_per_trigger":
            (raw["files_after_tail"] - raw["files_before_tail"]) / n,
        "streaming.backlog_events.max": max(
            M.source_backlog(due, tail_t, t) for t in ends + [gen_end]),
        "streaming.backlog_events.end": M.source_backlog(due, tail_t, gen_end),
        "streaming.triggers": len(window),
        "streaming.drain_ev_s_1core": backlog["count"] / raw["drain_1core_s"],
    }


def evaluate_batch(raw, expected, traced):
    qs = raw["queries"]
    bad = M.digest_failures(qs, expected)
    wall = (raw["pass_end_ms"] - raw["pass_start_ms"]) / 1e3
    lat_ms = [q["s"] * 1e3 for q in qs]
    tq, tv = M.tail(lat_ms)
    e2e = {
        "setup_s": raw["session_s"] + M.median(raw["provision_s"]),
        "wall_s": wall,
        "throughput_per_s": len(qs) / wall,
        "latency_p50_ms": M.median(lat_ms),
        "latency_tail_ms": tv,
        "cpu_s": raw["cpu_s"],
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    samples = {"setup_s": len(raw["provision_s"]), "wall_s": 1,
               "throughput_per_s": len(qs), "latency_p50_ms": len(qs),
               "latency_tail_ms": len(qs), "latency_tail_percentile": tq}
    details = {"digest_failures": bad, "order": raw["order"],
               "warmup_s": raw["warmup_s"], "provision_s": raw["provision_s"],
               "warmup_errors": raw.get("warmup_errors", []),
               "per_query_s": {q["name"]: q["s"] for q in qs}}
    layers = {}
    if traced:
        names = {q["name"] for q in qs}
        stages = M.stage_rows(raw["jobs"], names)
        task_s = sum(s["run_ms"] for s in stages) / 1e3
        jobs = [j for j in raw["jobs"] if j["group"] in names]
        self_s = sum(
            q["s"] - M.union_ms([(j["start_ms"], j["end_ms"]) for j in jobs
                                 if j["group"] == q["name"]],
                                q["start_ms"], q["end_ms"]) / 1e3 for q in qs)
        layers = {"queries.%s.s" % q["name"]: q["s"] for q in qs}
        layers.update({
            "queries.jobs": len(jobs),
            "queries.stages": len(stages),
            "queries.tasks": sum(s["tasks"] for s in stages),
            "queries.single_task_stage_share": sum(
                1 for s in stages if s["tasks"] == 1) / max(1, len(stages)),
            "queries.plan_s": raw["plan_ms"] / 1e3,
            "queries.self_s": self_s,
            "queries.task_s": task_s,
            "queries.core_busy_share": task_s / (wall * raw["cores"]),
            "queries.shuffle_write_mb": sum(
                s["shuffle_write_b"] for s in stages) / 2 ** 20,
            "queries.spill_mb": sum(s["spill_b"] for s in stages) / 2 ** 20,
            "queries.stage_skew.max": M.skew(stages),
            "queries.gc_s": raw["gc_s"],
            "trace.wall_s": wall,
        })
    return len(qs), len(bad), e2e, samples, details, layers


def spans_of(raw, trigs):
    spans = list(raw["spans"])
    next_id = 1 + max([s["id"] for s in spans] or [0])
    run_id = spans[0]["run_id"] if spans else ""
    # each query call's Spark jobs as its children (linked by job group)
    for s in [s for s in spans if s["layer"] == "queries"]:
        for j in raw["jobs"]:
            if j["group"] == s["name"] and j["end_ms"] >= 0:
                spans.append({"id": next_id, "name": "job %d" % j["job_id"],
                              "layer": "spark", "parent": s["id"],
                              "start_ms": j["start_ms"],
                              "end_ms": j["end_ms"], "run_id": run_id})
                next_id += 1
    if trigs:
        ts, next_id = M.trigger_spans(trigs, next_id, run_id)
        spans += ts
    return spans


def layer_self_times(spans):
    selfs = M.self_times(spans)
    by_layer, recon = {}, 0.0
    for s in spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + selfs[s["id"]]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["layer"] in ("queries", "streaming") and s["id"] in kids:
            covered = M.union_ms([(c["start_ms"], c["end_ms"])
                                  for c in kids[s["id"]]],
                                 s["start_ms"], s["end_ms"])
            recon = max(recon, abs(selfs[s["id"]] + covered
                                   - (s["end_ms"] - s["start_ms"])))
    return {k: v / 1e3 for k, v in by_layer.items()}, recon


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc_resume", "batch_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    preflight()
    import build
    load_start = loadavg()
    cp, src_digest, build_s = build.ensure()
    deadline = time.time() + RUN_LIMIT_S - (0 if build_s else
                                            time.time() - t_start)
    root = build.build_dir()
    work = os.path.abspath(os.path.join(
        root, "runs", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace,
                                        os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results_dir = os.path.join(root, "results")
    os.makedirs(results_dir, exist_ok=True)
    try:
        g0 = time.time()
        if a.workload == "cdc_resume":
            cfg, mans = cdc_inputs(work, a.seed, a.seconds)
        else:
            cfg, expected = batch_inputs(work)
        input_gen_s = time.time() - g0
        n_cpus = cpus()
        cfg.update({"workload": a.workload, "seed": a.seed,
                    "seconds": a.seconds, "trace": bool(a.trace),
                    "cpus": n_cpus, "work": work,
                    "raw": os.path.join(work, "raw.json")})
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        steal0 = steal_s()
        rc = run_jvm(cp, cfg_path, work, deadline)
        steal = steal_s() - steal0
        if rc != 0 or not os.path.exists(cfg["raw"]):
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(results_dir, "last-failure.log"))
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.stderr.write("perfbench: JVM exit %s\n" % rc)
            sys.exit(3)
        raw = load(cfg["raw"])
        trigs = []
        if a.workload == "cdc_resume":
            attempted, failed, e2e, samples, details, layers, trigs = \
                evaluate_cdc(raw, mans, a.trace)
        else:
            attempted, failed, e2e, samples, details, layers = \
                evaluate_batch(raw, expected, a.trace)
        spans = spans_of(raw, trigs) if a.trace else []
        self_s, recon_ms = layer_self_times(spans)
        if a.trace:
            layers["trace.callback_s"] = raw["trace_callback_s"]
            layers["trace.spans"] = len(spans)
            listed = spec()["per_layer"]
            layers = {m["name"]: float(layers.get(m["name"], 0.0))
                      for m in listed}
            reported = {m["name"]: {"value": layers[m["name"]],
                                    "unit": m["unit"]} for m in listed}
        else:
            reported = {m["name"]: {"value": float(e2e[m["name"]]),
                                    "unit": m["unit"]}
                        for m in spec()["end_to_end"]}
        correct = failed == 0
        prov = dict(raw["provenance"])
        prov.update({
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "cpus_used": n_cpus, "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "host_steal_s": steal,
            "cpu_ref_start_s": raw["cpu_ref_start_s"],
            "cpu_ref_end_s": raw["cpu_ref_end_s"],
            "seed": a.seed, "git_commit": git_commit(),
            "source_digest": src_digest, "build_s": build_s,
            "input_gen_s": input_gen_s,
            "warmup_s": raw.get("warmup_s", 0.0),
        })
        if a.workload == "cdc_resume":
            prov["generator_lateness_max_s"] = details[
                "generator_lateness_max_s"]
            prov["generator_lateness_p99_s"] = details[
                "generator_lateness_p99_s"]
        full = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "seconds": a.seconds, "correct": correct,
                "attempted": attempted, "failed": failed,
                "failed_share": failed / attempted,
                "end_to_end": e2e, "samples": samples, "per_layer": layers,
                "layer_self_s": self_s, "span_reconcile_max_ms": recon_ms,
                "provenance": prov, "details": details,
                "session_s": raw["session_s"], "spans": spans}
        out = os.path.join(results_dir, "%s-seed%d-trace%d.json" % (
            a.workload, a.seed, a.trace))
        with open(out, "w") as f:
            json.dump(full, f)
        print(json.dumps({"provenance": prov, "samples": samples,
                          "failed_share": failed / attempted,
                          "details_file": out}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": reported}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
