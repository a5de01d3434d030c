"""Transaction-log table format (mini-lakehouse) — SURVEY.md §2.M.

The storage pattern behind Delta Lake / Iceberg, reduced to its load-
bearing core: a table is (a) a set of immutable parquet data objects
and (b) an append-only, monotonically versioned commit log of add /
remove actions over those objects. Readers never list the data
directory — they replay the log to the requested version and scan
exactly the live objects, which is what makes snapshot isolation,
time travel, and O(1) "updates" (remove old object + add rewritten
object) possible on an object store with no rename semantics.

Scale posture (100 TB): the log is metadata — KBs per commit,
replayed driver-side in O(#commits) — while every data byte stays in
distributed parquet scans with normal pushdown/pruning. Production
formats add log checkpointing (fold actions ≤ N into one parquet
manifest) so replay stays O(1); that fold is a trivial extension of
`_live_objects` and is documented rather than simulated here. The
fixture table commits two versions: v0 writes the committed orders in
two objects (even / odd orderkey), v1 "repricing update" removes the
odd object and adds a rewritten one — so the latest snapshot, the
as-of-v0 snapshot, and the commit history are all independently
recomputable by the SQL oracles from the orders fixture.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_spark.io import load, scratch_once
from basis_spark.registry import register

_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]


class CommitConflict(Exception):
    """Another writer already committed this version — the optimistic
    concurrency signal. The loser must re-read the log and retry its
    commit at the next version (see table_log_concurrent_commit)."""


def _commit(table_dir: str, version: int, actions: list[dict]) -> None:
    """Append one commit to the log atomically AND exclusively: the
    content lands via temp file + os.link, and link(2) fails with
    EEXIST if the version file already exists — create-if-absent, the
    mutual-exclusion primitive every production log store builds its
    optimistic concurrency on (Delta's put-if-absent, Iceberg's atomic
    swap). The r1-r5 form used os.replace, which would have let a
    losing concurrent writer silently CLOBBER the winner's commit —
    a lost update in the transaction log itself."""
    log_dir = os.path.join(table_dir, "log")
    os.makedirs(log_dir, exist_ok=True)
    final = os.path.join(log_dir, f"{version:08d}.json")
    tmp = final + f".tmp.{os.getpid()}.{id(actions)}"
    with open(tmp, "w") as f:
        json.dump({"version": version, "actions": actions}, f)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} already committed at {final}"
        ) from None
    finally:
        os.unlink(tmp)


def _hardlink_tree(src: str, dst: str) -> None:
    """Clone a data-object directory tree with hardlinks — zero data
    bytes copied, and each clone's directory entries are independent
    (a clone can vacuum/overwrite/delete its objects without touching
    any sibling's, because unlink removes a name, not the inode)."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(tgt, exist_ok=True)
        for name in files:
            os.link(os.path.join(root, name), os.path.join(tgt, name))


def _build_base_objects(spark: SparkSession, sf_dir: str) -> str:
    """Write the three canonical data objects (p0 even / p1 odd /
    p2 odd repriced x2) once per session; every table instance
    hardlinks them. One partitioned write lands p0+p1 in a single job
    (partitionBy drops the parity column from the data files), p2 is
    one cheap local read of p1."""

    def write(base: str) -> None:
        files_dir = os.path.join(base, "files")
        staging = os.path.join(base, "_stage_parity")
        (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select(*_COLS, (F.col("o_orderkey") % 2).alias("parity"))
            .write.partitionBy("parity")
            .parquet(staging)
        )
        os.makedirs(files_dir)
        for parity, obj in ((0, "p0"), (1, "p1")):
            src = os.path.join(staging, f"parity={parity}")
            if not os.path.isdir(src):  # degenerate fixture: no rows of this parity
                raise FileNotFoundError(f"no rows with o_orderkey % 2 = {parity}")
            os.rename(src, os.path.join(files_dir, obj))
        # v1's object: reprice the odd-key orders (x2 — exact in binary
        # floating point, so Spark and DuckDB agree bit-for-bit).
        spark.read.parquet(os.path.join(files_dir, "p1")).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ).select(*_COLS).write.parquet(os.path.join(files_dir, "p2"))
        shutil.rmtree(staging)

    return scratch_once(spark, write, "txn_base", sf_dir)


def _build_table(
    spark: SparkSession,
    sf_dir: str,
    subdir: str = "txn_log",
    then: Callable[[str], None] | None = None,
) -> str:
    """Materialize the two-commit fixture table once per session. The
    data objects come from the shared session-scoped base build via
    hardlink clone; the commit log is written per table instance. An
    update in this format is remove(old object) + add(rewritten
    object); p1's bytes are never touched, which is exactly why v0
    stays readable. A key that mutates its own table instance passes
    the mutation as then(table_dir): it runs in the same write, so a
    failed mutation rebuilds the whole table on the next call."""

    def write(table_dir: str) -> None:
        base = _build_base_objects(spark, sf_dir)
        _hardlink_tree(os.path.join(base, "files"), os.path.join(table_dir, "files"))
        _commit(table_dir, 0, [{"op": "add", "path": "files/p0"},
                               {"op": "add", "path": "files/p1"}])
        _commit(table_dir, 1, [{"op": "remove", "path": "files/p1"},
                               {"op": "add", "path": "files/p2"}])
        if then is not None:
            then(table_dir)

    return scratch_once(spark, write, subdir, sf_dir)


def _read_log(table_dir: str) -> list[dict]:
    log_dir = os.path.join(table_dir, "log")
    commits = []
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".json") and ".checkpoint." not in name:
            with open(os.path.join(log_dir, name)) as f:
                commits.append(json.load(f))
    return commits


def _live_objects(table_dir: str, as_of: int | None = None) -> list[str]:
    """Replay the commit log to `as_of` (latest if None) and return the
    live data-object paths. O(#commits) driver-side metadata work —
    the checkpoint fold (manifest every N commits) slots in here."""
    live: list[str] = []
    for rec in _read_log(table_dir):
        if as_of is not None and rec["version"] > as_of:
            break
        for a in rec["actions"]:
            if a["op"] == "add":
                live.append(a["path"])
            elif a["op"] == "remove":
                live.remove(a["path"])
            else:
                raise ValueError(f"unknown log action {a['op']!r}")
    return [os.path.join(table_dir, p) for p in live]


def _snapshot(spark: SparkSession, sf_dir: str, as_of: int | None) -> DataFrame:
    table_dir = _build_table(spark, sf_dir)
    return spark.read.parquet(*_live_objects(table_dir, as_of)).select(*_COLS)


@register(
    "table_log_snapshot",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    """,
)
def table_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Latest-version read: replay the log (v0 add p0,p1; v1 remove p1,
    # add repriced p2) and scan the live objects {p0, p2}. The oracle
    # recomputes the same snapshot from the orders fixture, so reading
    # a removed object (stale update) or missing one is a value/row
    # mismatch. Scans are plain distributed parquet reads — pushdown
    # and pruning apply exactly as on any parquet source.
    return _snapshot(spark, sf_dir, as_of=None)


@register(
    "table_log_time_travel",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def table_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of-v0 read over the SAME table the snapshot key reads: replay
    # stops before v1, so the scan hits {p0, p1} — the pre-update rows
    # — even though v1's repriced object already exists on disk.
    # Immutable objects + versioned log = time travel with zero data
    # copies, the property that makes reproducible training-data
    # snapshots cheap at 100 TB.
    return _snapshot(spark, sf_dir, as_of=0)


@register(
    "table_log_history",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(version, n_added, n_removed)
    """,
)
def table_log_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Commit-history metadata view (DESCRIBE HISTORY shape): one row
    # per commit with add/remove counts, derived by the same log replay
    # readers use. Driver-side work is O(#commits) on KB-sized JSON —
    # metadata, never data — then handed to Spark as a (tiny) local
    # DataFrame.
    table_dir = _build_table(spark, sf_dir)
    rows = [
        (
            rec["version"],
            sum(1 for a in rec["actions"] if a["op"] == "add"),
            sum(1 for a in rec["actions"] if a["op"] == "remove"),
        )
        for rec in _read_log(table_dir)
    ]
    return spark.createDataFrame(
        rows, "version long, n_added long, n_removed long"
    )


def _objects_matching(spark, live: list[str], shape) -> set[str]:
    """Which live objects hold rows surviving `shape` (a semi-join or
    filter over the whole live set)? ONE Spark job: scan every object,
    tag rows with input_file_name, reduce to the distinct file set —
    #objects rows of driver result, never data. Replaces per-object
    probe jobs (O(#objects) serial job launches at 100 TB)."""
    from urllib.parse import unquote, urlparse

    hits = (
        shape(spark.read.parquet(*live).withColumn("_f", F.input_file_name()))
        .select("_f")
        .distinct()
        .collect()
    )
    files = {unquote(urlparse(r["_f"]).path) for r in hits}
    return {
        obj for obj in live
        if any(f.startswith(obj.rstrip("/") + "/") for f in files)
    }


def _merge_cow(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str,
    version: int,
) -> None:
    """Copy-on-write MERGE into a logged table: rewrite ONLY the live
    objects that contain matched keys (matched rows take the source's
    o_totalprice, unmatched target rows are carried over byte-for-
    byte), land unmatched source rows in one new insert object, and
    commit remove(rewritten olds) + add(rewrites, inserts) as a single
    atomic version. Objects with no matches are never touched — the
    property that makes MERGE affordable at 100 TB, where a day's
    updates hit a handful of partitions out of millions. The match
    probe for ALL live objects is ONE semi-join job over the live set
    tagged with input_file_name (guide §1.2 — the earlier form probed
    each object with its own limit-1 job, a serial driver loop of
    O(#objects) Spark jobs)."""
    live = _live_objects(table_dir)
    src_keys = source.select(key).distinct()
    matched_objs = _objects_matching(
        spark, live, lambda df: df.join(src_keys, key, "left_semi")
    )
    actions: list[dict] = []
    matched_any = []
    for i, obj in enumerate(live):
        if obj not in matched_objs:
            continue  # untouched object stays live — no rewrite, no action
        tgt = spark.read.parquet(obj)
        rewritten = (
            tgt.join(
                source.select(key, F.col("o_totalprice").alias("_src_price")),
                key,
                "left",
            )
            .withColumn(
                "o_totalprice", F.coalesce("_src_price", "o_totalprice")
            )
            .drop("_src_price")
            .select(*_COLS)
        )
        new_rel = f"files/m{version}_{i}"
        rewritten.write.mode("overwrite").parquet(
            os.path.join(table_dir, new_rel)
        )
        rel_old = os.path.relpath(obj, table_dir)
        actions.append({"op": "remove", "path": rel_old})
        actions.append({"op": "add", "path": new_rel})
        matched_any.append(obj)
    inserts = source.join(
        spark.read.parquet(*live).select(key), key, "left_anti"
    ).select(*_COLS)
    ins_rel = f"files/m{version}_ins"
    inserts.write.mode("overwrite").parquet(os.path.join(table_dir, ins_rel))
    actions.append({"op": "add", "path": ins_rel})
    _commit(table_dir, version, actions)


@register(
    "table_log_merge_cow",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice + 100 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def table_log_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MERGE INTO the logged table (its own appId-scoped copy, so the
    # snapshot/time-travel keys keep their pristine two-commit table):
    # source = even-key committed orders repriced +100 (updates — they
    # live only in object p0) plus every 'P'-status order (inserts).
    # COW rewrites p0 -> m2_0, leaves the odd-key object p2 untouched,
    # adds m2_ins, and commits all of it as version 2. The oracle
    # recomputes the post-merge snapshot from the orders fixture, so a
    # lost update, a double-applied update, or a clobbered untouched
    # object is a value mismatch. (+100 and *2 are exact in binary
    # doubles on both engines.)
    def merge(table_dir: str) -> None:
        orders = load(spark, sf_dir, "orders")
        updates = (
            orders.filter(
                (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 2 == 0)
            )
            .select(*_COLS)
            .withColumn("o_totalprice", F.col("o_totalprice") + 100)
        )
        inserts = orders.filter(F.col("o_orderstatus") == "P").select(*_COLS)
        _merge_cow(spark, table_dir, updates.unionByName(inserts),
                   "o_orderkey", version=2)

    table_dir = _build_table(spark, sf_dir, subdir="txn_log_merge", then=merge)
    return spark.read.parquet(*_live_objects(table_dir)).select(*_COLS)


# ---------------------------------------------------------------- r5 ----
# Completing the table-format family: log checkpointing (replay stays
# O(1) as commits accumulate), schema evolution (add-column without
# rewriting old objects), and vacuum (physical deletion of objects no
# retained version references). Together with snapshot / time travel /
# history / COW-merge above, this is the full life cycle a lakehouse
# table goes through.


def _write_checkpoint(table_dir: str, version: int) -> None:
    """Fold every commit <= version into one manifest: the live-object
    list AT that version, written atomically next to the commits it
    folds. Replay afterwards is O(#commits SINCE the checkpoint), the
    property that keeps a 10^6-commit table's metadata read O(1). The
    manifest name sorts with the commits ('NNNNNNNN.checkpoint.json')
    but _read_log skips it, so plain full replay still works — a
    checkpoint is an optimization, never a source of truth."""
    live = _live_objects(table_dir, as_of=version)
    rel = [os.path.relpath(p, table_dir) for p in live]
    final = os.path.join(
        table_dir, "log", f"{version:08d}.checkpoint.json"
    )
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "live": rel}, f)
    os.replace(tmp, final)


def _live_objects_ckpt(
    table_dir: str, as_of: int | None = None
) -> tuple[list[str], int]:
    """Checkpoint-aware replay: seed the live set from the newest
    manifest <= as_of, then apply only the commits after it. Returns
    (live paths, #commits replayed) — the count is what the tests pin
    to prove pre-checkpoint commits were genuinely skipped."""
    log_dir = os.path.join(table_dir, "log")
    ckpt_version, live = -1, []
    for name in sorted(os.listdir(log_dir)):
        if name.endswith(".checkpoint.json"):
            v = int(name.split(".")[0])
            if as_of is None or v <= as_of:
                ckpt_version = v
    if ckpt_version >= 0:
        with open(
            os.path.join(log_dir, f"{ckpt_version:08d}.checkpoint.json")
        ) as f:
            live = list(json.load(f)["live"])
    replayed = 0
    for rec in _read_log(table_dir):
        if rec["version"] <= ckpt_version:
            continue
        if as_of is not None and rec["version"] > as_of:
            break
        replayed += 1
        for a in rec["actions"]:
            if a["op"] == "add":
                live.append(a["path"])
            elif a["op"] == "remove":
                live.remove(a["path"])
            else:
                raise ValueError(f"unknown log action {a['op']!r}")
    return [os.path.join(table_dir, p) for p in live], replayed


@register(
    "table_log_checkpoint",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def table_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Checkpointed read: fold v0+v1 into a manifest, land one more
    # commit (v2 appends the 'P'-status orders as a new object), then
    # read latest THROUGH the checkpoint path — replay must seed from
    # the manifest and apply exactly one commit. The oracle recomputes
    # the v2 snapshot from the orders fixture, so a checkpoint that
    # froze the wrong live set (e.g. included the removed p1) or a
    # replay that skipped v2 is a value/row mismatch.
    def checkpoint_then_append(table_dir: str) -> None:
        _write_checkpoint(table_dir, 1)
        inserts = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "P")
            .select(*_COLS)
        )
        inserts.write.parquet(os.path.join(table_dir, "files", "p3"))
        _commit(table_dir, 2, [{"op": "add", "path": "files/p3"}])

    table_dir = _build_table(
        spark, sf_dir, subdir="txn_log_ckpt", then=checkpoint_then_append
    )
    live, replayed = _live_objects_ckpt(table_dir)
    assert replayed == 1, f"checkpoint not used: replayed {replayed} commits"
    return spark.read.parquet(*live).select(*_COLS)


@register(
    "table_log_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def table_log_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Add-column evolution without rewriting a byte of the old
    # objects: v2 lands the 'P'-status orders WITH o_orderpriority;
    # the read merges footers (mergeSchema) so pre-evolution rows
    # surface NULL for the new column. At 100 TB this is the only
    # affordable widening — the alternative (rewrite every object to
    # the new schema) is a full-table write. Production formats pin
    # the merged schema in the log metadata instead of re-inferring
    # per read; the contract (old objects never rewritten, old rows
    # NULL-filled) is identical.
    def append_wide(table_dir: str) -> None:
        wide = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "P")
            .select(*_COLS, "o_orderpriority")
        )
        wide.write.parquet(os.path.join(table_dir, "files", "s2"))
        _commit(table_dir, 2, [{"op": "add", "path": "files/s2"}])

    table_dir = _build_table(spark, sf_dir, subdir="txn_log_schema", then=append_wide)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*_live_objects(table_dir))
        .select(*_COLS, "o_orderpriority")
    )


def _vacuum(table_dir: str, retain_from_version: int) -> list[str]:
    """Physically delete every data object not referenced by ANY
    version >= retain_from_version. The referenced set is the union of
    live sets over the retained versions (metadata-scale work: replay
    per retained version over KB-sized JSON); deletion is storage-side.
    Time travel to versions before the floor breaks BY DESIGN — that
    is the retention trade every production format makes. Idempotent:
    a second vacuum finds nothing unreferenced."""
    versions = [rec["version"] for rec in _read_log(table_dir)]
    referenced: set[str] = set()
    for v in versions:
        if v >= retain_from_version:
            referenced.update(_live_objects(table_dir, as_of=v))
    files_dir = os.path.join(table_dir, "files")
    deleted = []
    for name in sorted(os.listdir(files_dir)):
        p = os.path.join(files_dir, name)
        if p not in referenced:
            shutil.rmtree(p, ignore_errors=True)
            deleted.append(name)
    return deleted


@register(
    "table_log_vacuum",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    """,
)
def table_log_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vacuum with retention floor v1: the pre-update object p1 is
    # referenced only by v0's snapshot, so it is the one object
    # physically deleted; the latest snapshot must come back
    # BYTE-IDENTICAL after the delete (the oracle recomputes it from
    # orders — a vacuum that deleted a still-live object is a hard
    # read failure, one that deleted nothing leaves the invariant
    # checked by the companion pytest). Runs on its own table copy so
    # the time-travel key's v0 stays readable.
    table_dir = _build_table(spark, sf_dir, subdir="txn_log_vacuum")
    _vacuum(table_dir, retain_from_version=1)
    return spark.read.parquet(*_live_objects(table_dir)).select(*_COLS)


# ---------------------------------------------------------------- r6 ----
# OPTIMIZE: the one life-cycle verb r5 left missing — physical
# re-clustering of a fragmented table INSIDE the log format. Ingest
# leaves many small, unclustered objects; OPTIMIZE rewrites them into
# few cluster-pure objects (here: hash-clustered on o_custkey, sorted
# within each object for row-group skipping) and commits
# remove(fragments) + add(clustered) as ONE atomic version — readers
# mid-replay see the old layout or the new one, never a mix, and the
# table's CONTENT is bit-identical before and after.


@register(
    "table_log_optimize",
    oracle="""
    SELECT o_custkey % 4 AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_keys,
           min(o_custkey) AS min_ck,
           max(o_custkey) AS max_ck,
           CAST(1 AS BIGINT) AS n_clusters_in_file
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def table_log_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE-style compaction + clustering, verified physically: v0
    commits the committed orders as EIGHT orderkey-sliced fragments
    (each a mix of every customer — the layout streaming ingest
    produces); v1 is the OPTIMIZE commit — one distributed
    repartition(o_custkey % 4) + sortWithinPartitions(o_custkey) write
    producing four cluster-pure objects, then remove(8) + add(4)
    atomically. The readout groups the post-OPTIMIZE scan BY PHYSICAL
    FILE (input_file_name) and reports each file's cluster stats; the
    oracle recomputes them per cluster from the orders fixture with
    n_clusters_in_file pinned to 1 — a lazy OPTIMIZE that only
    compacted without clustering, or leaked a fragment into the live
    set, fails the purity column or the row counts. Everything
    data-sized is one shuffle + one scan; the log work is KB-scale
    metadata."""
    def write(table_dir: str) -> None:
        # Fragment ingest layout in one partitioned write; partitionBy
        # drops the frag column from the data files.
        staging = os.path.join(table_dir, "_stage_frags")
        (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select(*_COLS, (F.col("o_orderkey") % 8).alias("frag"))
            .write.partitionBy("frag")
            .parquet(staging)
        )
        os.makedirs(os.path.join(table_dir, "files"))
        frags = []
        for i in range(8):
            rel = f"files/f{i}"
            os.rename(os.path.join(staging, f"frag={i}"),
                      os.path.join(table_dir, rel))
            frags.append(rel)
        _commit(table_dir, 0, [{"op": "add", "path": p} for p in frags])

        # The OPTIMIZE job itself: one shuffle clusters rows, the
        # within-partition sort orders them for min/max row-group
        # pruning on the cluster key's range scans. repartition(4, c)
        # puts each cluster wholly in one task, so every renamed z{c}
        # dir holds ONE part-file; the (c, o_custkey) sort satisfies
        # the dynamic-partition writer's required ordering, so rows
        # land custkey-sorted with no extra sort.
        full = spark.read.parquet(
            *[os.path.join(table_dir, p) for p in frags]
        )
        actions = [{"op": "remove", "path": p} for p in frags]
        zstage = os.path.join(table_dir, "_stage_clusters")
        (
            full.withColumn("c", F.pmod("o_custkey", F.lit(4)))
            .repartition(4, "c")
            .sortWithinPartitions("c", "o_custkey")
            .write.partitionBy("c")
            .parquet(zstage)
        )
        for c in range(4):
            rel = f"files/z{c}"
            os.rename(os.path.join(zstage, f"c={c}"),
                      os.path.join(table_dir, rel))
            actions.append({"op": "add", "path": rel})
        shutil.rmtree(staging)
        shutil.rmtree(zstage)
        _commit(table_dir, 1, actions)

    table_dir = scratch_once(spark, write, "txn_log_opt", sf_dir)
    live = _live_objects(table_dir)
    assert len(live) == 4, f"OPTIMIZE left {len(live)} live objects"
    scan = (
        spark.read.parquet(*live)
        .withColumn("_file", F.input_file_name())
        .withColumn("cluster_id", F.pmod("o_custkey", F.lit(4)))
    )
    # purity per PHYSICAL part-file, folded to the worst file of each
    # cluster — exact whatever the part-file count per object dir
    purity = (
        scan.groupBy("_file")
        .agg(
            F.min("cluster_id").alias("cluster_id"),
            F.countDistinct("cluster_id").alias("pf"),
        )
        .groupBy("cluster_id")
        .agg(F.max("pf").alias("n_clusters_in_file"))
    )
    stats = scan.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_keys"),
        F.min("o_custkey").alias("min_ck"),
        F.max("o_custkey").alias("max_ck"),
    )
    return stats.join(purity, "cluster_id").select(
        "cluster_id", "n_rows", "n_keys", "min_ck", "max_ck",
        "n_clusters_in_file",
    )


@register(
    "table_log_concurrent_commit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 10 = 0
    """,
)
def table_log_concurrent_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency on the commit log: two writers prepare
    DISJOINT appends against the same snapshot version and race to
    commit version 2 — the loser gets CommitConflict from the
    create-if-absent link(2) primitive (NOT a silent overwrite),
    re-reads the log, re-validates (append-only commits conflict with
    nothing semantically), and retries at version 3. Both appends land
    exactly once in a serial order; the snapshot is their union either
    way, which is what the oracle pins. This is the whole ACID story a
    shared lakehouse table needs: data objects are immutable, so the
    ONLY contended resource is one version-numbered log entry, and
    put-if-absent on it serializes writers without locks. Semantic
    conflict checking (did the winner remove an object I rewrote?) is
    the remove-set intersection test on replay — merge/delete writers
    run it before retrying; pure appends skip it by construction."""
    def race(table_dir: str) -> None:
        orders = load(spark, sf_dir, "orders")
        a = orders.filter(F.col("o_orderstatus") == "P").select(*_COLS)
        b = orders.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 10 == 0)
        ).select(*_COLS)
        a.write.parquet(os.path.join(table_dir, "files", "w_a"))
        b.write.parquet(os.path.join(table_dir, "files", "w_b"))
        # Both writers read the snapshot at v1 and target v2. Writer A
        # wins the link race; writer B MUST see CommitConflict, then
        # retry at the next version.
        _commit(table_dir, 2, [{"op": "add", "path": "files/w_a"}])
        try:
            _commit(table_dir, 2, [{"op": "add", "path": "files/w_b"}])
            raise AssertionError("concurrent commit was silently clobbered")
        except CommitConflict:
            next_v = max(r["version"] for r in _read_log(table_dir)) + 1
            _commit(table_dir, next_v, [{"op": "add", "path": "files/w_b"}])

    table_dir = _build_table(spark, sf_dir, subdir="txn_log_occ", then=race)
    return spark.read.parquet(*_live_objects(table_dir)).select(*_COLS)


@register(
    "table_log_delete_where",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
      AND o_totalprice <= 300000
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
      AND o_totalprice * 2 <= 300000
    """,
)
def table_log_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE WHERE on the logged table via copy-on-write:
    the live set is probed for matches in ONE input_file_name-tagged
    job (the merge_cow probe contract); objects WITH matches are rewritten without
    the matching rows, objects without are never touched, and
    remove+add land as one atomic version. Production formats add a
    deletion-vector fast path (commit a bitmap instead of rewriting);
    the COW form here is the semantics both paths must agree with,
    and at 100 TB the untouched-object skip is what bounds the cost
    to the predicate's physical footprint."""
    def delete(table_dir: str) -> None:
        pred = F.col("o_totalprice") > 300000
        live = _live_objects(table_dir)
        matched_objs = _objects_matching(
            spark, live, lambda df: df.filter(pred)
        )
        actions: list[dict] = []
        for i, obj in enumerate(live):
            if obj not in matched_objs:
                continue  # no matches: object stays live untouched
            tgt = spark.read.parquet(obj)
            rel_new = f"files/d2_{i}"
            tgt.filter(~pred).select(*_COLS).write.parquet(
                os.path.join(table_dir, rel_new)
            )
            actions.append(
                {"op": "remove", "path": os.path.relpath(obj, table_dir)}
            )
            actions.append({"op": "add", "path": rel_new})
        _commit(table_dir, 2, actions)

    table_dir = _build_table(spark, sf_dir, subdir="txn_log_del", then=delete)
    return spark.read.parquet(*_live_objects(table_dir)).select(*_COLS)


@register(
    "table_log_change_feed",
    oracle="""
    SELECT 'removed' AS change_type,
           CAST(1 AS BIGINT) AS commit_version,
           o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    UNION ALL
    SELECT 'added' AS change_type,
           CAST(1 AS BIGINT) AS commit_version,
           o_orderkey, o_custkey, round(o_totalprice * 2, 2) AS o_totalprice
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    """,
)
def table_log_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed between two committed versions (the CDC
    read — Delta's table_changes / Iceberg's changelog scan): replay
    the v1 commit's actions and emit each row that left the table
    ('removed') and each row that entered it ('added'). The v1
    reprice therefore shows every odd order twice — its pre-image at
    the old price and its post-image at 2x.

    The scale property this format buys: ONLY the delta objects are
    read — v1 removed p1 and added p2, so untouched p0 (half the
    table) is never scanned, and cost is bounded by the churn, not
    the table. exceptAll between the removed-set and added-set scans
    cancels rows rewritten verbatim (an OPTIMIZE/compaction commit
    produces an EMPTY feed — file movement is not data change).
    Without persistent row ids, removed+added is the honest
    vocabulary: classifying a pair as an UPDATE needs a key contract,
    which is merge_cow's layer, not the log's."""
    table_dir = _build_table(spark, sf_dir)
    v1 = _read_log(table_dir)[1]
    removed = [a["path"] for a in v1["actions"] if a["op"] == "remove"]
    added = [a["path"] for a in v1["actions"] if a["op"] == "add"]
    pre = spark.read.parquet(
        *[os.path.join(table_dir, p) for p in removed]
    ).select(*_COLS)
    post = spark.read.parquet(
        *[os.path.join(table_dir, p) for p in added]
    ).select(*_COLS)

    def tag(df: DataFrame, change_type: str) -> DataFrame:
        return df.select(
            F.lit(change_type).alias("change_type"),
            F.lit(1).cast("long").alias("commit_version"),
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )

    return tag(pre.exceptAll(post), "removed").unionAll(
        tag(post.exceptAll(pre), "added")
    )


@register(
    "table_log_branch",
    oracle="""
    WITH f AS (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_orderstatus = 'F')
    SELECT 'main' AS ref,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN o_orderkey % 2 = 0
                          THEN o_totalprice ELSE o_totalprice * 2 END), 2)
               AS sum_price
    FROM f
    UNION ALL
    SELECT 'exp' AS ref,
           CAST(count(*) + sum(CASE WHEN o_orderkey % 2 = 0
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
           round(sum(o_totalprice)
                 + sum(CASE WHEN o_orderkey % 2 = 0
                            THEN o_totalprice * 3 ELSE 0 END), 2) AS sum_price
    FROM f
    """,
)
def table_log_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch refs on the transaction-log table (Iceberg's
    branch/tag model — the lakehouse verb Delta lacks): a branch is a
    named pointer {base_version, own log dir}. Branch 'exp' forks from
    version 0 (BEFORE main's v1 reprice) and appends its own commit (a
    3x-repriced copy of the even orders); main's log is never touched,
    and the branch never sees main's later commits — a writable,
    isolated experiment against frozen production data, at the cost of
    one KB ref file and zero data copies.

    Branch snapshot = replay(main log, to base_version) + replay(branch
    log): both replays are the same O(#commits) metadata fold, and
    reads stay object-pruned exactly like main-line time travel. The
    output reads BOTH refs and rolls each up, so the oracle pins main's
    isolation (still the v1 reprice) AND the branch's fork+append in
    one comparison."""
    table_dir = _build_table(spark, sf_dir)
    refs_dir = os.path.join(table_dir, "refs")
    branch_log = os.path.join(table_dir, "log-exp")
    marker = os.path.join(branch_log, "00000000.json")
    if not os.path.exists(marker):
        os.makedirs(refs_dir, exist_ok=True)
        os.makedirs(branch_log, exist_ok=True)
        with open(os.path.join(refs_dir, "exp.json.tmp"), "w") as f:
            json.dump({"name": "exp", "base_version": 0,
                       "log_dir": "log-exp"}, f)
        os.replace(os.path.join(refs_dir, "exp.json.tmp"),
                   os.path.join(refs_dir, "exp.json"))
        tripled = (
            load(spark, sf_dir, "orders")
            .filter((F.col("o_orderstatus") == "F")
                    & (F.col("o_orderkey") % 2 == 0))
            .select(
                "o_orderkey", "o_custkey",
                (F.col("o_totalprice") * 3).alias("o_totalprice"),
            )
        )
        tripled.write.mode("overwrite").parquet(
            os.path.join(table_dir, "files", "exp0")
        )
        tmp = marker + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"version": 0,
                       "actions": [{"op": "add", "path": "files/exp0"}]}, f)
        try:
            os.link(tmp, marker)
        except FileExistsError:
            pass  # concurrent builder won the race; same bytes
        finally:
            os.unlink(tmp)

    with open(os.path.join(refs_dir, "exp.json")) as f:
        ref = json.load(f)
    # branch live set: main's log replayed to the fork point, plus the
    # branch's own commits replayed in full
    base_objs = _live_objects(table_dir, as_of=ref["base_version"])
    branch_objs = []
    for name in sorted(os.listdir(os.path.join(table_dir, ref["log_dir"]))):
        if name.endswith(".json"):
            with open(os.path.join(table_dir, ref["log_dir"], name)) as f:
                for a in json.load(f)["actions"]:
                    if a["op"] == "add":
                        branch_objs.append(os.path.join(table_dir, a["path"]))
                    else:
                        branch_objs.remove(os.path.join(table_dir, a["path"]))

    def rollup(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("ref"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        ).select("ref", "n_rows", "sum_price")

    main = spark.read.parquet(*_live_objects(table_dir)).select(*_COLS)
    branch = spark.read.parquet(*(base_objs + branch_objs)).select(*_COLS)
    return rollup(main, "main").unionAll(rollup(branch, "exp"))


@register(
    "table_log_restore",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS final_version,
           CAST(3 AS BIGINT) AS n_commits,
           CAST(2 AS BIGINT) AS n_live_objects,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def table_log_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION 0 (Delta's RESTORE / Iceberg's
    rollback): restoring is a NEW commit whose actions flip the live
    set back to the target version's — remove every object live now
    but not at v0, add back every object live at v0 but not now. No
    data bytes move (v1's repriced object stays on disk, just no
    longer referenced), history is append-only (v2 records the
    restore, so the restore itself is time-travelable), and the
    restored snapshot must equal the as-of-v0 read bit-for-bit.

    The oracle pins all of it: the post-restore table re-aggregates to
    the ORIGINAL prices (undoing v1's x2 repricing), the log has 3
    commits, and the live set is v0's 2 objects. Runs on its own
    table instance (txn_restore) so the shared 2-commit fixture table
    other keys replay is never mutated."""
    def restore(table_dir: str) -> None:
        now = {os.path.relpath(p, table_dir) for p in _live_objects(table_dir)}
        v0 = {os.path.relpath(p, table_dir) for p in _live_objects(table_dir, 0)}
        actions = [{"op": "remove", "path": p} for p in sorted(now - v0)] + [
            {"op": "add", "path": p} for p in sorted(v0 - now)
        ]
        _commit(table_dir, 2, actions)

    table_dir = _build_table(spark, sf_dir, subdir="txn_restore", then=restore)
    live = _live_objects(table_dir)
    snap = spark.read.parquet(*live).select(*_COLS)
    n_commits = len(_read_log(table_dir))
    return snap.agg(
        F.lit(n_commits - 1).cast("long").alias("final_version"),
        F.lit(n_commits).cast("long").alias("n_commits"),
        F.lit(len(live)).cast("long").alias("n_live_objects"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


_SKIP_RANGES = 4


def _build_skipping_table(spark: SparkSession, sf_dir: str) -> str:
    """One-commit table laid out as _SKIP_RANGES custkey-range files,
    each add action carrying its file's (min_ck, max_ck) zone map —
    the per-file statistics Delta/Iceberg record at write time so
    readers can prune files from the LOG, before any footer or data
    byte is touched."""

    def write(table_dir: str) -> None:
        orders = load(spark, sf_dir, "orders").select(*_COLS, "o_orderpriority")
        m = orders.agg(F.max("o_custkey").alias("m")).first()["m"]
        # One partitioned write for all range files: rng counts the
        # interior range boundaries <= custkey, so range i is exactly
        # [i*(m+1)//K, (i+1)*(m+1)//K) (integer floor-div boundaries —
        # a float floor(ck*K/(m+1)) misclassifies edge keys when
        # (m+1) % K != 0). partitionBy drops rng from the data files.
        bounds = [i * (m + 1) // _SKIP_RANGES for i in range(1, _SKIP_RANGES)]
        rng = sum(
            (F.col("o_custkey") >= b).cast("long") for b in bounds
        )
        staging = os.path.join(table_dir, "_stage_ranges")
        orders.withColumn("rng", rng).write.partitionBy("rng").parquet(staging)
        os.makedirs(os.path.join(table_dir, "files"))
        actions = []
        for i in range(_SKIP_RANGES):
            lo = i * (m + 1) // _SKIP_RANGES
            hi = (i + 1) * (m + 1) // _SKIP_RANGES
            rel = f"files/r{i}"
            src = os.path.join(staging, f"rng={i}")
            if os.path.isdir(src):
                os.rename(src, os.path.join(table_dir, rel))
            else:  # empty range at tiny SF: a zone map may cover no rows
                os.makedirs(os.path.join(table_dir, rel))
            actions.append(
                {"op": "add", "path": rel, "min_ck": lo, "max_ck": hi - 1}
            )
        shutil.rmtree(staging)
        _commit(table_dir, 0, actions)

    return scratch_once(spark, write, "txn_skip", sf_dir)


def _skipping_pruned_files(table_dir: str, lo: int, hi: int) -> tuple[list[str], int]:
    """Log-level zone-map pruning: keep add actions whose [min_ck,
    max_ck] intersects [lo, hi]. Returns (kept paths, total files)."""
    adds = [
        a
        for rec in _read_log(table_dir)
        for a in rec["actions"]
        if a["op"] == "add"
    ]
    kept = [
        os.path.join(table_dir, a["path"])
        for a in adds
        if not (a["max_ck"] < lo or a["min_ck"] > hi)
    ]
    return kept, len(adds)


@register(
    "table_log_file_skipping",
    oracle="""
    WITH m AS (SELECT max(o_custkey) AS m FROM orders),
    pred AS (SELECT CAST(floor(2 * m / 5.0) AS BIGINT) AS lo,
                    CAST(floor(3 * m / 5.0) AS BIGINT) AS hi FROM m)
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS spend
    FROM orders, pred
    WHERE o_custkey BETWEEN pred.lo AND pred.hi
    GROUP BY o_orderpriority
    """,
)
def table_log_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping from commit-log file statistics — the lakehouse
    read path that makes selective queries cheap at 100 TB: each add
    action carries its file's custkey zone map, so a range predicate
    prunes files during LOG REPLAY (driver-side metadata, O(#files))
    and Spark never even lists the skipped objects. The fixture table
    is laid out as 4 custkey-range files; the [0.4m, 0.6m] predicate
    intersects exactly 2 of them (asserted, with result-equality vs
    the unpruned read, in tests/test_table_log.py).

    The predicate is STILL applied after the pruned scan — zone maps
    are conservative (a kept file may hold rows outside the range);
    pruning changes I/O, never semantics, which is exactly what the
    oracle checks by recomputing from the raw table. orders carries
    a full join of priorities per range, so the output shape is the
    same priority rollup as the hint keys."""
    table_dir = _build_skipping_table(spark, sf_dir)
    orders = load(spark, sf_dir, "orders")
    m = orders.agg(F.max("o_custkey").alias("m")).first()["m"]
    lo, hi = (2 * m) // 5, (3 * m) // 5
    kept, _total = _skipping_pruned_files(table_dir, lo, hi)
    return (
        spark.read.parquet(*kept)
        .filter(F.col("o_custkey").between(lo, hi))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
    )


@register(
    "table_log_clone_shallow",
    oracle="""
    WITH f AS (SELECT o_orderkey AS k, o_totalprice AS p
               FROM orders WHERE o_orderstatus = 'F')
    SELECT 'source' AS side, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN k % 2 = 1 THEN p * 2 ELSE p END), 2) AS total_price
    FROM f
    UNION ALL
    SELECT 'clone' AS side, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN k % 2 = 1 THEN p * 2 ELSE p END), 2) AS total_price
    FROM f WHERE NOT (k % 2 = 0 AND k % 4 = 0)
    """,
)
def table_log_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow (zero-copy) clone — Delta's CLONE SHALLOW / Iceberg's
    snapshot-ref pattern: the clone's v0 commit ADDs the source's live
    data objects BY REFERENCE (relative paths into the source table),
    copying no bytes; the clone then diverges independently (its v1
    drops the even-key object and adds a k%4!=0 rewrite) while the
    source keeps serving its own latest version untouched. The whole
    clone operation is O(#live objects) driver-side metadata — which
    is the point at 100 TB: branching a petabyte table costs a log
    write, not a copy.

    Output reads BOTH tables' latest versions and emits per-side
    row/price totals; tests/test_r8_ops.py additionally pins the
    zero-copy property (the clone's live set still references a
    source-owned object, and the clone dir holds no copy of it) and
    source-isolation (cloning + diverging didn't change the source's
    live set)."""
    src = _build_table(spark, sf_dir)

    def write(clone: str) -> None:
        live = _live_objects(src)  # [files/p0 (even), files/p2 (odd x2)]
        rel = [os.path.relpath(p, clone) for p in live]
        _commit(clone, 0, [{"op": "add", "path": r} for r in rel])
        kept = spark.read.parquet(live[0]).filter(F.col("o_orderkey") % 4 != 0)
        kept.select(*_COLS).write.parquet(os.path.join(clone, "files", "c0"))
        _commit(
            clone,
            1,
            [{"op": "remove", "path": rel[0]}, {"op": "add", "path": "files/c0"}],
        )

    clone = scratch_once(spark, write, "txn_clone", sf_dir)
    source_df = spark.read.parquet(*_live_objects(src)).select(*_COLS)
    clone_df = spark.read.parquet(*_live_objects(clone)).select(*_COLS)

    def rollup(df: DataFrame, side: str) -> DataFrame:
        return df.agg(
            F.lit(side).alias("side"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        ).select("side", "n_rows", "total_price")

    return rollup(source_df, "source").unionAll(rollup(clone_df, "clone"))


@register(
    "table_log_orphan_files",
    oracle="""
    SELECT 'files/p0' AS rel_path, 'live' AS status,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT 'files/p1' AS rel_path, 'orphan' AS status,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    UNION ALL
    SELECT 'files/p2' AS rel_path, 'live' AS status,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1
    """,
)
def table_log_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage fsck for the commit-log table: diff the objects that
    EXIST under the table's files/ prefix against the objects the log
    says are LIVE, and report each with its row count — the audit that
    finds space leaked by failed writers, interrupted OPTIMIZE jobs,
    and pre-vacuum update debris (here: files/p1, stranded when v1
    replaced it). Vacuum deletes; THIS op is the read-only preview a
    storage team runs first, because an orphan might also be a commit
    that never got written.

    The listing/diff is O(#objects) driver-side metadata, exactly like
    log replay; row counts come from one parquet count per object
    (parallel scans, no shuffle). Uses its own table build (subdir
    txn_orphan) so other table_log keys' extra objects can't leak into
    the listing."""
    table_dir = _build_table(spark, sf_dir, subdir="txn_orphan")
    files_root = os.path.join(table_dir, "files")
    on_disk = sorted(os.listdir(files_root))
    live = {
        os.path.relpath(p, table_dir) for p in _live_objects(table_dir)
    }
    out = None
    for name in on_disk:
        rel = os.path.join("files", name)
        status = "live" if rel in live else "orphan"
        part = (
            spark.read.parquet(os.path.join(table_dir, rel))
            .agg(
                F.lit(rel).alias("rel_path"),
                F.lit(status).alias("status"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
            .select("rel_path", "status", "n_rows")
        )
        out = part if out is None else out.unionAll(part)
    return out


@register(
    "table_log_schema_enforcement",
    oracle="""
    SELECT 'drifted_rename' AS batch_name, 'rejected' AS status,
           CAST(count(*) AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS version_after
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0
    UNION ALL
    SELECT 'drifted_type', 'rejected',
           CAST(count(*) AS BIGINT), CAST(1 AS BIGINT)
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 1
    UNION ALL
    SELECT 'conforming', 'committed',
           CAST(count(*) AS BIGINT), CAST(2 AS BIGINT)
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def table_log_schema_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema enforcement on append — the table-format guarantee that
    separates a governed table from a directory of parquet: a writer
    whose batch drifts from the committed schema (renamed column,
    narrowed type) is REJECTED before any commit lands, while a
    conforming batch commits normally. Emits one audit row per
    attempted append with the decision and the table version after it
    — the write-side quarantine report (the read-side analogue is
    parse_try_cast_quarantine).

    Enforcement compares the batch's Spark schema against the
    committed table schema (names + types, order-insensitive) as
    DRIVER-SIDE metadata — rejection costs zero data movement, which
    is the point at 100 TB: the cheap gate runs before the expensive
    write. Isolated table build (subdir txn_enforce) so other
    table_log keys' objects never leak in."""
    table_dir = _build_table(spark, sf_dir, subdir="txn_enforce")
    committed = spark.read.parquet(*_live_objects(table_dir)).select(*_COLS)
    committed_schema = {(f.name, f.dataType.simpleString()) for f in committed.schema.fields}

    orders = load(spark, sf_dir, "orders")
    open_o = orders.filter(F.col("o_orderstatus") == "O")
    batches = [
        (
            "drifted_rename",
            open_o.filter(F.col("o_orderkey") % 2 == 0).select(
                F.col("o_orderkey").alias("order_key"),  # renamed column
                "o_custkey",
                "o_totalprice",
            ),
        ),
        (
            "drifted_type",
            open_o.filter(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey",
                "o_custkey",
                F.col("o_totalprice").cast("int"),  # narrowed type
            ),
        ),
        (
            "conforming",
            orders.filter(F.col("o_orderstatus") == "P").select(*_COLS),
        ),
    ]
    # version_after is DETERMINISTIC across re-invocations (the r7
    # cache-test lesson: same-session reruns must not mutate state
    # again): rejections report the base build's version (they leave
    # the log untouched); the accepted batch reports the version of
    # ITS append commit, found in the log if a prior call in this
    # session already landed it.
    log = _read_log(table_dir)
    base_version = max(
        rec["version"]
        for rec in log
        if not any(a.get("path", "").startswith("files/append_") for a in rec["actions"])
    )
    out_rows = []
    for name, batch in batches:
        batch_schema = {(f.name, f.dataType.simpleString()) for f in batch.schema.fields}
        path = os.path.join("files", f"append_{name}")
        if batch_schema != committed_schema:
            out_rows.append((name, "rejected", batch.count(), base_version))
            continue
        existing = next(
            (
                rec["version"]
                for rec in _read_log(table_dir)
                for a in rec["actions"]
                if a.get("path") == path
            ),
            None,
        )
        if existing is None:
            batch.write.mode("overwrite").parquet(os.path.join(table_dir, path))
            existing = max(rec["version"] for rec in _read_log(table_dir)) + 1
            _commit(table_dir, existing, [{"op": "add", "path": path}])
        out_rows.append((name, "committed", batch.count(), existing))
    return spark.createDataFrame(
        out_rows, "batch_name string, status string, n_rows long, version_after long"
    )
