#!/usr/bin/env python
"""Per-key Spark execution timing for every registered operator.

Ranks all queries() keys by single-run execution time — the driver's
correctness sweep runs each key exactly once per session, so a single
cold-ish run (after one global JVM warm-up action) is the
driver-relevant number. Output: PERF_RANK_<sf>.json, sorted slowest
first, plus the total.

Methodology (guide §1.4): each query is materialized through the noop
sink so every column of every row is computed and nothing is collected
to the driver; keys whose DataFrame cannot noop-write (none expected)
fall back to .count() and are flagged. Jobs are labeled with the key
(guide §1.5).

Usage:
    python tools/perf_rank.py [sf_dir] [--repeat N] [key ...]
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    repeat = 1
    for a in sys.argv[1:]:
        if a.startswith("--repeat"):
            repeat = int(a.split("=", 1)[1]) if "=" in a else 3
    sf = args[0] if args else "/root/testdata/sf0.1"
    only = set(args[1:])
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf)
    sys.path.insert(0, REPO)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", f"{REPO}/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from basis_spark.session import get_spark

    spark = get_spark("perf-rank")
    spark.sparkContext.setLogLevel("ERROR")

    queries = mod.queries()
    keys = sorted(only or queries)

    # One throwaway action so the first measured key doesn't absorb the
    # whole JVM/codegen cold start (which is session overhead, not that
    # key's cost).
    queries["agg_groupby_multi"](spark, sf).count()

    out: dict[str, float] = {}
    fallbacks: list[str] = []
    errors: dict[str, str] = {}
    t_all = time.perf_counter()
    for k in keys:
        spark.sparkContext.setJobDescription(k)
        samples = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            try:
                queries[k](spark, sf).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — fall back, keep ranking
                try:
                    queries[k](spark, sf).count()
                    if k not in fallbacks:
                        fallbacks.append(k)
                except Exception as e2:  # noqa: BLE001
                    errors[k] = f"{type(e2).__name__}: {str(e2)[:120]}"
                    break
            samples.append(time.perf_counter() - t0)
        if samples:
            out[k] = round(min(samples), 4)
        print(f"{out.get(k, -1):9.3f}s  {k}", file=sys.stderr, flush=True)
    spark.sparkContext.setJobDescription(None)
    total = round(time.perf_counter() - t_all, 1)

    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]))
    tag = os.path.basename(sf.rstrip("/"))
    # A key-subset spot check must not clobber the full-registry artifact.
    suffix = "" if not only else "_subset"
    path = f"{REPO}/PERF_RANK_{tag}{suffix}.json"
    with open(path, "w") as f:
        json.dump(
            {
                "sf_dir": sf,
                "repeat": repeat,
                "wall_s": total,
                "sum_key_s": round(sum(out.values()), 1),
                "noop_fallback_count_keys": fallbacks,
                "errors": errors,
                "seconds_by_key": ranked,
            },
            f,
            indent=1,
        )
    print(f"wrote {path}: {len(out)} keys, sum {sum(out.values()):.1f}s", flush=True)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
