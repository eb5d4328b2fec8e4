#!/usr/bin/env python3
"""Recompute perfbench/reference_digests.json: the DuckDB digests that
curation_batch's outputs are checked against.

    python3 perfbench/make_reference.py      # from the checkout root

For the workload's scale and the smoke scale it runs one curation_batch
pass (to build and record each gate's oracle SQL from
`SparkEntry.oracleSql`), then runs every oracle in DuckDB over the same
tables (`perfbench/data/sf<scale>`) and stores (rows, digest) keyed by gate and scale, with
the SHA-256 of the oracle text so a changed oracle is never checked
against a stale digest (run.py then falls back to a live DuckDB run).
The digests come from DuckDB only, never from Spark's output. A gate
whose oracle DuckDB cannot finish belongs out of the workload.
"""
import hashlib
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import run  # noqa: E402


def main():
    path = os.path.join(HERE, "reference_digests.json")
    refs = json.load(open(path)) if os.path.isfile(path) else {}
    for smoke in (False, True):
        sf = run.SMOKE_SCALE if smoke else run.SCALE["curation_batch"]
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", "curation_batch", "--seed", "1",
                        "--seconds", "1", "--trace", "0"] +
                       (["--smoke"] if smoke else []),
                       cwd=run.ROOT, check=True, stdout=subprocess.DEVNULL)
        res = json.load(open(os.path.join(run.BUILD, "work",
                                          "curation_batch-1-0.json")))
        con = digest.duck(run.data(sf))
        for c in res["checks"]:
            t0 = time.time()
            rows, dig = digest.of_frame(con.sql(c["oracle"]).df())
            refs[f"{c['name']}@sf{sf}"] = {
                "oracle_sha256": hashlib.sha256(c["oracle"].encode()).hexdigest(),
                "rows": rows, "digest": dig}
            print(f"{c['name']}@sf{sf}: {rows} rows, {time.time() - t0:.1f} s")
    with open(path, "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
