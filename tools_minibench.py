"""Interleaved mini-bench for optimization A/B runs: bench.py's own timing
loop over a few names.

Usage: python tools_minibench.py TAG name1 name2 ... [--rounds N] [--sf DIR]

A name is a declared query (a bare prefix resolves: x12 ->
x12_embedding_neardup_lsh) or a row of bench.py's extras table
(``bench.EXTRAS``, e.g. streaming_stat_ingest_e2e, staged once outside the
timing). The names run INTERLEAVED through ``bench._interleaved`` for one
cold round plus N warm rounds (default 3) on the bench session config
(local[$SPARK_GRAFT_CPUS]), with the x09_lang_id / q67 controls (the
bench's own adjudication pair) in the same record. It prints per-name cold
and warm min and appends a JSON record to /tmp/mini_log.jsonl. A failed
run reads -1.

``--rounds 1`` times an extra twice, as bench.py does (interleaved with
the controls here): its warm min is a batch extra's value, and
min(cold, warm) a streaming extra's.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import ExitStack


def main() -> None:
    args = sys.argv[1:]
    rounds = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--rounds" in args:
        i = args.index("--rounds")
        rounds = int(args[i + 1])
        del args[i:i + 2]
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i:i + 2]
    tag, names = args[0], args[1:]

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import bench

    extras = {row.name: row for row in bench.EXTRAS}
    full = []
    for nm in names:
        hits = [n for n in (*bench.QUERIES, *extras)
                if n == nm or n.split("_")[0] == nm]
        if not hits:
            raise SystemExit(f"no such query or extra: {nm}")
        full.append(hits[0])
    run_list = full + [c for c in ("x09_lang_id", "q67") if c not in full]

    spark = bench.get_spark("mini-bench")
    bench._warm_up(spark, sf_dir)
    with ExitStack() as stack:
        builds = {
            n: stack.enter_context(extras[n].stage(spark, sf_dir))
            if n in extras else bench._query_build(bench.QUERIES[n], sf_dir)
            for n in run_list
        }
        runs = bench._interleaved(spark, builds, rounds + 1)
    warm = {n: [r for r in v[1:] if r >= 0] for n, v in runs.items()}
    rec = {
        "tag": tag,
        "ts": time.strftime("%H:%M:%S"),
        "sf_dir": sf_dir,
        "warm_min": {n: min(w, default=-1.0) for n, w in warm.items()},
        "warm_med": {
            n: round(statistics.median(w), 3) if w else -1.0
            for n, w in warm.items()
        },
        "all": runs,
    }
    with open("/tmp/mini_log.jsonl", "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    for n in run_list:
        print(f"{n:45s} cold {runs[n][0]:7.3f}  warm_min "
              f"{rec['warm_min'][n]:7.3f}  all {runs[n]}")


if __name__ == "__main__":
    main()
