"""The driver runs queries() under ITS OWN SparkSession, not ours.
These tests spawn a subprocess whose session has hostile defaults
(non-UTC timezone, none of our tuned confs) and assert the contract
still holds: entry() runs, events load (nanos adapter is runtime-set),
and date extraction matches the UTC oracle semantics."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

# The root of the checkout holding this file: the subprocesses import
# its code, not whichever copy is installed or on the default path.
ROOT = str(Path(__file__).resolve().parent.parent)

SCRIPT = r"""
import sys
ROOT = sys.argv[1]
sys.path.insert(0, ROOT)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import importlib.util
spec = importlib.util.spec_from_file_location("__spark_entry__", f"{ROOT}/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
Q = mod.queries()
assert len(mod.entry(spark).collect()) > 0
# the caller launched this JVM, so get_spark's class-data archive is not in play
jvm_args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
assert not [a for a in jvm_args if "Archive" in a or "cds" in a], jvm_args
row = sorted(Q["date_parts"](spark, "/root/testdata/sf0.001").collect(),
             key=lambda r: r["event_id"])[0]
# events.ts starts at 2024-01-01 00:00:00 UTC: a tz-leaking session
# would report y=2023/h=19 here (America/New_York).
assert (row["y"], row["h"]) == (2024, 0), dict(row.asDict())
n = Q["agg_count_distinct"](spark, "/root/testdata/sf0.001").count()
assert n > 0
print("HOSTILE_SESSION_OK")
"""


def test_queries_survive_hostile_driver_session():
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT, ROOT],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "HOSTILE_SESSION_OK" in res.stdout, res.stdout + res.stderr


PARTITION_SCRIPT = r"""
import sys
ROOT = sys.argv[1]
sys.path.insert(0, ROOT)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[3]")
         .config("spark.sql.shuffle.partitions", "5")
         .config("spark.default.parallelism", "3")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import importlib.util
spec = importlib.util.spec_from_file_location("__spark_entry__", f"{ROOT}/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
import duckdb
from basis_spark.io import TABLES
SF = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
Q, O = mod.queries(), mod.oracle_sql()
# The keys whose implementations carry partition-count state (two-pass
# prefix sums over P partitions, monotonically_increasing_id ordinals,
# pid-keyed offsets, applyInPandas groups): results must be IDENTICAL
# under a hostile tiny partition count.
KEYS = ["win_ntile_pctile", "agg_hist_equi_depth", "abc_pareto_class",
        "stat_ks_two_sample", "stat_mann_whitney_u", "stream_lateness_profile",
        "pack_tokens_nextfit", "cumulative_distinct_users",
        "customer_rfm_segmentation", "interval_max_concurrency",
        "win_skyline_pareto_2d", "eval_auc_rank", "agg_percentile_exact_scaffold",
        "text_perplexity_bucket", "multimodal_shard_pack_balanced",
        "corpus_shuffle_epochs"]
def canon(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)
for k in KEYS:
    df = Q[k](spark, SF)
    cols = sorted(df.columns)
    got = canon([r.asDict() for r in df.collect()], cols)
    res = con.execute(O[k])
    dcols = [d[0] for d in res.description]
    rows = [dict(zip(dcols, r)) for r in res.fetchall()]
    want = canon(rows, cols)
    assert got == want, f"{k}: P=5 result diverged from oracle"
print("PARTITION_PERTURBATION_OK")
"""


def test_partition_sensitive_ops_stable_under_tiny_parallelism():
    """Two-pass prefix sums, mid-based ordinals, and pid-offset tables
    must produce IDENTICAL results when the session runs 3 cores / 5
    shuffle partitions instead of 32/64 — a wrong assumption about
    partition count or per-partition ordering shows up here, not on a
    resized production cluster."""
    res = subprocess.run(
        [sys.executable, "-c", PARTITION_SCRIPT, ROOT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "PARTITION_PERTURBATION_OK" in res.stdout, res.stdout[-2000:] + res.stderr[-3000:]
