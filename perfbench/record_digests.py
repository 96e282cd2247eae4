#!/usr/bin/env python3
"""Record the batch_curation digests the benchmark's correctness gate uses.

  python3 perfbench/record_digests.py

1. links the fixed batch corpus (perfbench/data/sf0.1) into a work
   directory;
2. runs graft.Verify over it for the benchmark's queries;
3. runs tools/check.py, which compares every output with the DuckDB
   oracle, and stops if any query fails;
4. digests the verified outputs ((rows, bit_xor xxhash64 over all columns),
   the shape the benchmark computes on the live frames) and writes
   perfbench/expected_digests.json.

Run from the repository root; needs duckdb for step 3.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def main():
    cp, _, _ = build.ensure()
    work = os.path.abspath(os.path.join(build.build_dir(), "record"))
    shutil.rmtree(work, ignore_errors=True)
    corpus, out = os.path.join(work, "corpus"), os.path.join(work, "verify")
    os.makedirs(corpus)
    for t in ("documents", "embeddings"):
        os.link(os.path.join(run.CORPUS, t + ".parquet"),
                os.path.join(corpus, t + ".parquet"))
    names = run.BATCH["queries"]
    java = ["java", "-Xmx3g", "-Xss8m", "-Djava.io.tmpdir=" + work]
    for p in run.JDK_OPENS:
        java += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names),
               SPARK_GRAFT_CPUS=str(run.cpus()))
    subprocess.run(java + ["-cp", cp, "graft.Verify", corpus, out],
                   stdout=sys.stderr,
                   check=True, env=env)
    # check.py registers every testdata table; the curation oracles read
    # only documents/embeddings, so the others are one-column stubs
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        pq.write_table(pa.table({"stub": [0]}),
                       os.path.join(corpus, t + ".parquet"))
    subprocess.run([sys.executable, os.path.join("tools", "check.py"),
                    corpus, out], check=True)
    r = subprocess.run(java + ["-cp", cp, "graftbench.RecordDigests", out]
                       + names, check=True, capture_output=True, text=True)
    digests = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "expected_digests.json"), "w") as f:
        json.dump({"corpus": os.path.relpath(run.CORPUS),
                   "verified_by": "tools/check.py (DuckDB oracle)",
                   "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
