"""One benchmark process: set up the default session, run one workload
as a closed loop, check every output, and report.

Started by ``run.py``; not meant to be run by hand. Protocol on stdout:
one ``READY <json>`` line once set-up is done (the parent times set-up
from process start to this line), then, unless ``--setup-only``, one
``RESULT <json>`` line. Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

from stats import Tracer, median, self_time_by_name, tail

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
READY, RESULT = "READY", "RESULT"
TAIL_BEYOND = 10
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _emit(tag: str, payload: dict) -> None:
    sys.stdout.write(f"{tag} {json.dumps(payload)}\n")
    sys.stdout.flush()


class Setup:
    """The program's own set-up, timed phase by phase: the default
    session, the operator registry, and one throwaway action on the
    first load of one table. With tracing on, ``io.load`` is wrapped
    before the operators import it, so every later call is a span."""

    def __init__(self, tracer: Tracer, sf_dir: str):
        tr = tracer
        with tr.span("setup"):
            t0 = time.perf_counter()
            with tr.span("session.start"):
                from basis_spark.session import get_spark

                self.spark = get_spark("perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            if tr.enabled:
                _trace_io_load(tr)
            with tr.span("registry.import"):
                import basis_spark.operators  # noqa: F401  (registers every key)
                from basis_spark.registry import ORACLES, QUERIES
            t2 = time.perf_counter()
            with tr.span("setup.action"):
                from basis_spark.io import load

                load(self.spark, sf_dir, "region").collect()
            t3 = time.perf_counter()
        self.queries, self.oracles = QUERIES, ORACLES
        self.phases = {
            "session.start_s": t1 - t0,
            "registry.import_s": t2 - t1,
            "setup.action_s": t3 - t2,
        }


def _trace_io_load(tr: Tracer) -> None:
    """Replace ``basis_spark.io.load`` by a wrapper that records the
    first load of each table as an ``io.load`` span."""
    import basis_spark.io as bio

    inner, seen = bio.load, set()

    def load(spark, sf_dir, name):
        first = (sf_dir, name) not in seen
        seen.add((sf_dir, name))
        with tr.span("io.load" if first else "io.load.again"):
            return inner(spark, sf_dir, name)

    bio.load = load


class SparkCounters:
    """Job, stage and task counters read from Spark's in-process status
    stores, by job group. Only the traced run creates one."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus, self.store = jsc.listenerBus(), jsc.statusStore()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        self.bus.waitUntilEmpty()  # the status store is fed asynchronously
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_write_bytes", "input_bytes", "failed_tasks"), 0.0)
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
        return out


def duckdb_connect():
    """An in-memory DuckDB that spills, if it must, inside the checkout."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    return con


def _digest(rows) -> int:
    """Order-insensitive digest of a row multiset."""
    total = 0
    for r in rows:
        h = hashlib.blake2b(repr(r).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
    return total


class Checker:
    """Output checks, run outside the timed region.

    Keys with an oracle are compared with DuckDB as the repository's
    oracle sweep does: same column names, same row count and the same
    rows after ``_norm_row`` with columns in name order. Keys without
    one must return at least one row with the columns of their first
    call.

    Some oracles take minutes at sf0.1, so DuckDB's answer is looked up
    before it is computed: first in ``expected.json`` beside this file,
    then in the run cache. Both are keyed by the oracle SQL and a hash
    of the input tables, so a changed oracle or changed data is
    recomputed, never matched against a stale answer."""

    def __init__(self, sf_dir: str, cache_dir: str):
        sys.path.insert(0, os.path.join(CHECKOUT, "tools"))
        from oracle_sweep import TABLES, _norm_row

        self.norm, self.cache_dir = _norm_row, cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
                h.update(fh.read())
        self.data_id = h.hexdigest()
        with open(EXPECTED) as fh:
            self.known = json.load(fh)
        self.con = duckdb_connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.first_cols: dict[str, list[str]] = {}
        self.passed: dict[str, set[tuple]] = {}
        self.computed: dict[str, dict] = {}

    def _norm_digest(self, cols: list[str], rows) -> int:
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        return _digest(self.norm(tuple(r[i] for i in idx)) for r in rows)

    def expected(self, sql: str) -> dict:
        tag = hashlib.sha256(f"{self.data_id}\n{sql}".encode()).hexdigest()[:32]
        if tag in self.known:
            return self.known[tag]
        path = os.path.join(self.cache_dir, f"{tag}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        tbl = self.con.execute(sql).fetch_arrow_table()
        cols = list(tbl.schema.names)
        rows = [tuple(row[c] for c in cols) for row in tbl.to_pylist()]
        exp = {"cols": sorted(cols), "n": len(rows), "digest": self._norm_digest(cols, rows)}
        self.computed[tag] = exp
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(exp, fh)
        os.replace(tmp, path)
        return exp

    def check(self, key: str, oracle: str | None, cols: list[str], rows) -> str | None:
        """None when the output is right, else what is wrong."""
        if oracle is None:
            first = self.first_cols.setdefault(key, cols)
            if cols != first:
                return f"columns {cols} differ from the first call's {first}"
            return None if rows else "no rows"
        exp = self.expected(oracle)
        if sorted(cols) != exp["cols"]:
            return f"columns {sorted(cols)} != {exp['cols']}"
        if len(rows) != exp["n"]:
            return f"{len(rows)} rows != {exp['n']}"
        # rows identical to an output already found right need no
        # normalising, which is most of a check's cost
        raw = (tuple(cols), _digest(tuple(r) for r in rows))
        if raw in self.passed.get(key, ()):
            return None
        if self._norm_digest(cols, rows) != exp["digest"]:
            return "values differ"
        self.passed.setdefault(key, set()).add(raw)
        return None


class QueryOps:
    """Operations of a query workload: one registry key each, built by
    ``QUERIES[key](spark, sf)`` and run by ``collect()``."""

    def __init__(self, env, keys, sf_dir):
        self.env, self.keys, self.sf_dir = env, list(keys), sf_dir
        self.checker = Checker(sf_dir, os.path.join(env.work, "oracle-cache"))

    def run_pass(self, op0: int) -> tuple[list[float], list[str | None]]:
        env, tr, ctr = self.env, self.env.tracer, self.env.counters
        lat, errs = [], []
        for i, key in enumerate(self.keys):
            op = op0 + i
            cols, rows, err = [], [], None
            t0 = time.perf_counter()
            try:
                with tr.span("op", op=op):
                    if ctr:
                        ctr.group(f"pb{op}b")
                    with tr.span("operators.build"):
                        df = env.setup.queries[key](env.spark, self.sf_dir)
                    if ctr:
                        ctr.group(f"pb{op}x")
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.action"):
                        rows = df.collect()
                    cols = df.columns
            except Exception as e:  # noqa: BLE001  (a failing key is counted, the loop goes on)
                err = f"{type(e).__name__}: {str(e)[:200]}"
            lat.append(time.perf_counter() - t0)
            if ctr:
                env.count_op(op, builds=[f"pb{op}b"], execs=[f"pb{op}x"])
            if err is None:
                t1 = time.perf_counter()
                err = self.checker.check(key, env.setup.oracles.get(key), cols, rows)
                env.check_s += time.perf_counter() - t1
            if err:
                env.log(f"FAIL {key}: {err}")
            errs.append(err)
        return lat, errs

    def ops_per_pass(self) -> int:
        return len(self.keys)


class ReactiveOps:
    """The write path: a ``Reactor`` diamond (raw -> clicks, purchases ->
    per-user full join) fed the events table in seeded blocks, one poll
    per block. Every pass starts from an empty reactor directory."""

    COLUMNS = ["event_id", "user_id", "event_type", "value"]

    def __init__(self, env, sf_dir, seed, n_blocks):
        import pyarrow.parquet as pq

        from workloads import block_bounds

        self.env = env
        events = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=self.COLUMNS)
        self.blocks = []
        bdir = os.path.join(env.run_dir, "blocks")
        os.makedirs(bdir)
        for i, (lo, hi) in enumerate(block_bounds(events.num_rows, n_blocks, seed)):
            path = os.path.join(bdir, f"block{i}.parquet")
            pq.write_table(events.slice(lo, hi - lo), path)
            self.blocks.append(path)
        self.input_bytes = sum(os.path.getsize(p) for p in self.blocks)
        self.duckdb = duckdb_connect()
        self.duckdb_s = 0.0  # context only, never a metric
        self.n_pass = 0
        self.bytes_ratio: list[float] = []

    def _reactor(self, base):
        from pyspark.sql import functions as F

        from basis_spark.reactive import Reactor

        tr = self.env.tracer

        def traced(fn):
            if not tr.enabled:
                return fn

            def inner(*incs):
                with tr.span("operators.build"):
                    out = fn(*incs)
                with tr.span("plan"):
                    out._jdf.queryExecution().executedPlan()
                return out
            return inner

        def per_user(c, p):
            cu = c.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
            pu = p.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_purch"))
            return cu.join(pu, "user_id", "full").na.fill(0)

        r = Reactor(self.env.spark, base)
        r.source("raw")
        r.node("clicks", traced(lambda inc: inc.filter(F.col("event_type") == "click")), ["raw"])
        r.node("purchases", traced(lambda inc: inc.filter(F.col("event_type") == "purchase")),
               ["raw"])
        r.node("joined", traced(per_user), ["clicks", "purchases"])
        return r

    def run_pass(self, op0: int) -> tuple[list[float], list[str | None]]:
        env, tr, ctr = self.env, self.env.tracer, self.env.counters
        base = os.path.join(env.run_dir, f"reactor{self.n_pass}")
        self.n_pass += 1
        r = self._reactor(base)
        lat, errs = [], []
        for i, path in enumerate(self.blocks):
            op = op0 + i
            err = None
            t0 = time.perf_counter()
            try:
                with tr.span("op", op=op):
                    if ctr:
                        ctr.group(f"pb{op}f")
                    with tr.span("reactive.feed"):
                        r.feed("raw", env.spark.read.parquet(path))
                    if ctr:
                        ctr.group(f"pb{op}p")
                    with tr.span("reactive.poll"):
                        moved = r.poll()
                if set(moved) != {"clicks", "purchases", "joined"}:
                    err = f"poll moved {sorted(moved)}"
            except Exception as e:  # noqa: BLE001  (a failing block is counted, the loop goes on)
                err = f"{type(e).__name__}: {str(e)[:200]}"
            lat.append(time.perf_counter() - t0)
            if ctr:
                env.count_op(op, builds=[], execs=[f"pb{op}f", f"pb{op}p"],
                             polls=[f"pb{op}p"])
            errs.append(err)
        with tr.span("reactive.idle_poll", op=op0 + len(self.blocks) - 1):
            idle = r.poll()
        if idle and not errs[-1]:
            errs[-1] = f"idle poll moved {sorted(idle)}"
        if not errs[-1]:
            errs[-1] = self._check(r)
        for e in errs:
            if e:
                env.log(f"FAIL reactive: {e}")
        written = sum(os.path.getsize(p) for p in glob.glob(f"{base}/**/*", recursive=True)
                      if os.path.isfile(p))
        self.bytes_ratio.append(written / self.input_bytes)
        shutil.rmtree(base)
        return lat, errs

    def _check(self, r) -> str | None:
        """The accumulated sink must equal a full recompute over every
        fed block, made independently by DuckDB."""
        got: dict[int, list[int]] = {}
        for row in r.read("joined").collect():
            acc = got.setdefault(row["user_id"], [0, 0])
            acc[0] += row["n_clicks"]
            acc[1] += row["n_purch"]
        files = ", ".join(f"'{p}'" for p in self.blocks)
        t0 = time.perf_counter()
        want = {
            u: [c, p]
            for u, c, p in self.duckdb.execute(
                "SELECT user_id, count(*) FILTER (WHERE event_type = 'click'), "
                "count(*) FILTER (WHERE event_type = 'purchase') "
                f"FROM read_parquet([{files}]) GROUP BY user_id").fetchall()
            if c or p
        }
        self.duckdb_s += time.perf_counter() - t0
        if got != want:
            diff = sum(1 for u in got.keys() | want.keys() if got.get(u) != want.get(u))
            return f"sink != full recompute for {diff} of {len(want)} users"
        return None

    def ops_per_pass(self) -> int:
        return len(self.blocks)


class Env:
    def __init__(self, args, tracer, setup):
        self.args, self.tracer, self.setup, self.spark = args, tracer, setup, setup.spark
        self.work = args.work
        self.run_dir = args.run_dir
        self.counters = SparkCounters(self.spark) if args.trace else None
        self.per_op: dict[int, dict[str, float]] = {}
        self.record_s = 0.0
        self.check_s = 0.0

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def count_op(self, op: int, builds: list[str], execs: list[str], polls=()) -> None:
        t0 = time.perf_counter()
        c = self.counters
        b_jobs = [j for g in builds for j in c.jobs(g)]
        x_jobs = [j for g in execs for j in c.jobs(g)]
        rec = {"build_jobs": len(b_jobs), "jobs": len(x_jobs),
               "poll_jobs": sum(len(c.jobs(g)) for g in polls)}
        rec.update(c.stage_totals(x_jobs))
        self.per_op[op] = rec
        self.record_s += time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def run_workload(args, tracer: Tracer, setup: Setup) -> dict:
    import workloads

    env = Env(args, tracer, setup)
    wl = workloads.resolve(args.workload)
    sf_dir = args.sf_dir
    if wl.kind == "reactive":
        ops = ReactiveOps(env, sf_dir, args.seed, workloads.REACTIVE_BLOCKS)
    else:
        ops = QueryOps(env, wl.keys, sf_dir)
    n_ops = wl.warm_passes * ops.ops_per_pass()
    pass_s, lat_cold, lat_warm, errs, pass_ops, op_s = [], [], [], [], [], []
    timed = 0.0  # warm passes only
    op0 = 0
    # the cold pass, then warm passes for --seconds of timed work and n_ops
    while len(pass_s) < 2 or timed < args.seconds or len(lat_warm) < n_ops:
        lat, e = ops.run_pass(op0)
        pass_ops.append(range(op0, op0 + len(lat)))
        op0 += len(lat)
        if pass_s:
            timed += sum(lat)
        pass_s.append(sum(lat))
        op_s.append(lat)
        (lat_warm if len(pass_s) > 1 else lat_cold).extend(lat)
        errs.extend(e)
    if isinstance(ops, ReactiveOps):
        shutil.rmtree(os.path.join(env.run_dir, "blocks"))
    failed = sum(1 for e in errs if e)
    p50 = median(lat_warm[:n_ops])
    tail_v, tail_p, tail_n = tail(lat_warm[:n_ops], TAIL_BEYOND)
    out = {
        "workload": wl.name,
        "keys": list(wl.keys),
        "attempted": len(errs),
        "failed": failed,
        "errors": [e for e in errs if e][:20],
        "passes": len(pass_s),
        "pass_s_all": pass_s,
        "op_s": op_s,
        "metrics": {
            "cold_pass_s": pass_s[0],
            "pass_s": median(pass_s[1:]),
            "op_p50_s": p50,
            "op_tail_s": tail_v,
            "ok_ratio": 1 - failed / len(errs),
        },
        "jvm_peak_rss_mb": jvm_peak_rss_mb(setup.spark),
        "op_tail": {"percentile": tail_p, "samples": n_ops, "beyond": tail_n},
        "ops_per_pass": ops.ops_per_pass(),
        "check_s": env.check_s,
    }
    if isinstance(ops, ReactiveOps):
        out["duckdb_recompute_s"] = ops.duckdb_s
    if args.trace:
        out["layers"] = layer_metrics(env, tracer, pass_ops, ops)
        out["layers"]["jvm.peak_rss_mb"] = out["jvm_peak_rss_mb"]
    return out


def layer_metrics(env: Env, tracer: Tracer, pass_ops: list[range], ops) -> dict:
    """Per-layer numbers of the traced run. Sums are per warm pass (mean
    over the warm passes) so that they add up towards ``pass_s``; the
    ``cold_`` ones cover the first pass only."""
    warm = {op for r in pass_ops[1:] for op in r}
    cold = set(pass_ops[0])
    n_warm = len(pass_ops) - 1
    self_warm = self_time_by_name(tracer.spans, warm)
    self_cold = self_time_by_name(tracer.spans, cold)

    def per_op_sum(field: str, opset: set[int]) -> float:
        return sum(env.per_op[o][field] for o in opset if o in env.per_op)

    def span_total(name: str, opset: set[int]) -> float:
        return sum(s.end - s.start for s in tracer.spans if s.name == name and s.op in opset)

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    action_s = (span_total("exec.action", warm) + span_total("reactive.feed", warm)
                + span_total("reactive.poll", warm)) / n_warm
    run_s = per_op_sum("executor_run_s", warm) / n_warm
    m = {
        "io.load_s": sum(s.end - s.start for s in tracer.spans if s.name == "io.load"),
        "operators.build_s": self_warm.get("operators.build", 0.0) / n_warm,
        "operators.build_jobs": per_op_sum("build_jobs", warm) / n_warm,
        "operators.cold_build_s": self_cold.get("operators.build", 0.0),
        "operators.cold_build_jobs": per_op_sum("build_jobs", cold),
        "plan.s": self_warm.get("plan", 0.0) / n_warm,
        "exec.action_s": action_s,
        "exec.slot_busy_ratio": run_s / (action_s * cores) if action_s else 0.0,
        "reactive.feed_s": span_total("reactive.feed", warm) / n_warm,
        "reactive.poll_s": span_total("reactive.poll", warm) / n_warm,
        "reactive.poll_jobs": per_op_sum("poll_jobs", warm) / n_warm,
        "reactive.idle_poll_s": span_total("reactive.idle_poll", warm) / n_warm,
        "reactive.bytes_written_per_input_byte": (
            median(ops.bytes_ratio[1:]) if isinstance(ops, ReactiveOps) else 0.0),
        "trace.record_s": env.record_s / len(pass_ops),
    }
    for f in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_write_bytes", "input_bytes", "failed_tasks"):
        m[f"exec.{f}"] = per_op_sum(f, warm) / n_warm
    return m


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM, which exits once the
    gateway's stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def prepare(args) -> None:
    """Compute the DuckDB answer of every key with an oracle that a
    workload on ``args.sf_dir`` runs, before any run is timed. With
    ``--write-expected``, also add the answers to ``expected.json``."""
    import basis_spark.operators  # noqa: F401  (registers every key)
    from basis_spark.registry import ORACLES

    import workloads

    checker = Checker(args.sf_dir, os.path.join(args.work, "oracle-cache"))
    for name in workloads.WORKLOADS:
        wl = workloads.resolve(name)
        if wl.sf == os.path.basename(args.sf_dir):
            for key in wl.keys:
                if key in ORACLES:
                    checker.expected(ORACLES[key])
    if args.write_expected and checker.computed:
        with open(EXPECTED, "w") as fh:
            json.dump(dict(sorted({**checker.known, **checker.computed}.items())), fh, indent=1)
            fh.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--prepare", action="store_true")
    ap.add_argument("--write-expected", action="store_true")
    args = ap.parse_args()

    # collect() turns timestamps into host-local datetimes; the oracle is UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    # a few oracles bind the fixture path at import time
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = args.sf_dir
    sys.path.insert(0, CHECKOUT)
    if args.prepare:
        prepare(args)
        return 0

    tracer = Tracer(enabled=bool(args.trace))
    setup = Setup(tracer, args.sf_dir)
    _emit(READY, setup.phases)
    try:
        if not args.setup_only:
            result = run_workload(args, tracer, setup)
            if args.trace:
                tracer.write_jsonl(os.path.join(args.run_dir, "spans.jsonl"))
            _emit(RESULT, result)
    finally:
        stop_spark(setup.spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
