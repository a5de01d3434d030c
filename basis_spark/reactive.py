"""Reactive change-propagation runtime (SURVEY.md §1.1: the reference's
"new upstream data triggers downstream recomputation of only the new
blocks" contract, as a long-running subscription loop rather than the
lazy re-evaluate-the-plan mapping `pipeline.Graph` provides).

Model (mirrors the reference's block/stream semantics):

- Every node's output is an APPEND-ONLY sequence of parquet blocks
  (`base_dir/<node>/block=N/`). Blocks are immutable: a re-run appends
  block N+1, never rewrites.
- A source node is fed externally (`feed()` — the ingestion API).
- A transform node declares inputs and a python fn over increment
  DataFrames: on each propagation pass the fn receives ONLY the blocks
  each input produced since this node last consumed it, and its result
  is appended as the node's next block. Each (consumer, input, block)
  is processed AT MOST ONCE; consumption state is a JSON high-watermark
  file per node (`base_dir/<node>/_consumed.json` — the reference's
  metadata-DB consumption log), so a restarted Reactor resumes exactly
  where the last one stopped.
- Every node's block schema is pinned by its first block
  (`base_dir/<node>/_schema.json`); a later block whose schema differs
  is refused before anything is written.
- `poll()` runs one propagation pass level by level (a node's level is
  one more than its deepest input's; sources are level 0) — a new
  source block flows through the whole downstream cone in a single
  pass.
- Nodes are `pipeline.Node` records ordered by `pipeline.topo_order`,
  the graph core `pipeline.Graph` uses. This block store also backs
  `Graph.materialize` and the `rollup_incremental` key.

Scale notes: an increment is read as a plain parquet scan of just the
new block dirs (partition-pruned by construction — old blocks are never
re-read, the at-most-once contract is also the incremental-scan
optimization); per-pass driver work is file listing + one JSON write
per advanced node. Transform fns are ordinary DataFrame code, so
Catalyst fuses each node's increment plan; aggregating nodes follow the
reference's accumulator pattern (emit per-increment partials, merge on
read — see rollup_incremental) rather than holding driver state.
The scan carries the node's pinned schema, so building a read runs no
schema-inference job. The fresh nodes of one level are independent, so
they run concurrently, one thread each (fn, block write, commit), and
fill executor slots one node's small increment job leaves idle; the
threads inherit the caller's job group and tags.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from glob import glob

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from basis_spark.pipeline import Node, topo_order


class Reactor:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self._nodes: dict[str, Node] = {}  # fn None => source
        self._schemas: dict[str, StructType] = {}
        os.makedirs(base_dir, exist_ok=True)

    # ---------------------------------------------------- wiring ----
    def source(self, name: str) -> None:
        self._nodes[name] = Node(name)

    def node(self, name: str, fn: Callable[..., DataFrame], inputs: list[str]) -> None:
        """Declare a transform node: on each pass that finds new blocks
        in any input, fn receives one increment DataFrame per input
        (None for an input with nothing new) and returns the node's
        next block. fns of independent nodes (same level, neither an
        input of the other) may run concurrently in separate threads,
        so a fn must not share unsynchronized mutable state with
        another node's fn."""
        missing = [u for u in inputs if u not in self._nodes]
        if missing:
            raise ValueError(f"node {name!r}: unknown inputs {missing}")
        self._nodes[name] = Node(name, fn=fn, inputs=inputs)

    # ---------------------------------------------------- storage ----
    def _dir(self, name: str) -> str:
        return os.path.join(self.base, name)

    def _blocks(self, name: str) -> list[str]:
        return sorted(
            glob(os.path.join(self._dir(name), "block=*")),
            key=lambda p: int(p.rsplit("=", 1)[1]),
        )

    def n_blocks(self, name: str) -> int:
        return len(self._blocks(name))

    def _state_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_consumed.json")

    def _consumed(self, name: str) -> dict[str, int]:
        p = self._state_path(name)
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return {}

    def _write_atomic(self, p: str, text: str) -> None:
        tmp = f"{p}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, p)

    def _commit_consumed(self, name: str, state: dict[str, int]) -> None:
        self._write_atomic(self._state_path(name), json.dumps(state))

    def _schema_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_schema.json")

    def _schema(self, name: str) -> StructType | None:
        """The node's pinned block schema: kept in memory once known,
        else loaded from the file its first append wrote."""
        s = self._schemas.get(name)
        if s is None and os.path.exists(p := self._schema_path(name)):
            with open(p) as fh:
                s = self._schemas[name] = StructType.fromJson(json.load(fh))
        return s

    def _append_block(self, name: str, df: DataFrame) -> int:
        # Write to a staging dir, then publish with one atomic rename:
        # a concurrent reader (the serve() daemon polling while feed()
        # runs in another thread/process) must either see the complete
        # block or no block — listing a half-written block=N dir made
        # spark.read fail with UNABLE_TO_INFER_SCHEMA (no committed
        # footer yet). Staging dirs start with '_' so _blocks() never
        # globs them.
        #
        # The first block pins the node's schema; every later block must
        # match it (nullability aside: Spark reads parquet as nullable),
        # so reads can skip schema inference. A drifting block is refused
        # here, before anything is written. A dir whose blocks predate
        # the pin file is pinned once from its first block on disk.
        n = self.n_blocks(name)
        schema = df.schema
        pinned = self._schema(name) if n else None
        if n and pinned is None:
            pinned = self.spark.read.parquet(self._blocks(name)[0]).schema
        if pinned is not None and schema.simpleString() != pinned.simpleString():
            raise ValueError(
                f"node {name!r}: block schema {schema.simpleString()} differs "
                f"from the pinned {pinned.simpleString()}"
            )
        tmp = os.path.join(self._dir(name), f"_staging_block_{n}_{os.getpid()}")
        df.write.mode("overwrite").parquet(tmp)
        if pinned is None or name not in self._schemas:
            pinned = pinned or schema
            self._write_atomic(self._schema_path(name), pinned.json())
            self._schemas[name] = pinned
        # Publish: if a concurrent appender took block=n between the
        # n_blocks() read and our rename, retry the RENAME ONLY at the
        # next free index — the staged parquet needs no rewrite, so the
        # lost race costs one directory listing, not a Spark job. Eight
        # consecutive losses means something other than appends is
        # racing on this node dir; surface the OSError then.
        import shutil

        for _ in range(8):
            final = os.path.join(self._dir(name), f"block={n}")
            try:
                os.rename(tmp, final)
                return n
            except OSError:
                n = max(self.n_blocks(name), n + 1)
        shutil.rmtree(tmp, ignore_errors=True)
        raise OSError(
            f"could not publish block for node {name!r}: lost the rename "
            f"race 8 times (last tried index {n})"
        )

    # ------------------------------------------------------- feed ----
    def feed(self, name: str, df: DataFrame) -> int:
        """Append a new block to a source node; returns its index."""
        if self._nodes[name].fn is not None:
            raise ValueError(f"{name!r} is a transform node; only sources are fed")
        return self._append_block(name, df)

    # ---------------------------------------------------- reading ----
    def read(self, name: str) -> DataFrame:
        """Full accumulated output of a node (union of all its blocks)."""
        blocks = self._blocks(name)
        if not blocks:
            raise ValueError(f"node {name!r} has produced no blocks yet")
        return self._scan(name, blocks)

    def _scan(self, name: str, blocks: list[str]) -> DataFrame:
        reader = self.spark.read
        schema = self._schema(name)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*blocks)

    def _read_increment(self, name: str, frm: int, to: int) -> DataFrame | None:
        # Half-open [frm:to] slice, NOT [frm:]: poll() records `to` as
        # consumed, so a block appended by a concurrent feed() between
        # the n_blocks() listing and this glob must be left for the next
        # pass — reading it now would process it without recording it,
        # and the next poll would emit its rows a second time.
        blocks = self._blocks(name)[frm:to]
        return self._scan(name, blocks) if blocks else None

    # ------------------------------------------------- propagation ----
    def _levels(self) -> list[list[str]]:
        """Transform nodes grouped by depth: a source is depth 0, any
        other node one more than its deepest input. Nodes of one level
        never feed each other."""
        depth: dict[str, int] = {}
        levels: list[list[str]] = []
        for n in topo_order(self._nodes):
            nd = self._nodes[n]
            if nd.fn is None:
                depth[n] = 0
                continue
            d = depth[n] = 1 + max((depth[u] for u in nd.inputs), default=0)
            levels.extend([] for _ in range(d - len(levels)))
            levels[d - 1].append(n)
        return levels

    def _pending(self, name: str) -> tuple[list[DataFrame | None], dict[str, int]] | None:
        """The node's increments and the watermarks that consuming them
        commits, or None if no input has a new block."""
        state = self._consumed(name)
        incs: list[DataFrame | None] = []
        new_state = dict(state)
        for u in self._nodes[name].inputs:
            have = self.n_blocks(u)
            incs.append(self._read_increment(u, state.get(u, 0), have))
            new_state[u] = have
        return (incs, new_state) if any(x is not None for x in incs) else None

    def _step(self, name: str, incs: list[DataFrame | None], new_state: dict[str, int]) -> int:
        out = self._nodes[name].fn(*incs)  # None increments: input had nothing new
        n = self._append_block(name, out)
        # Commit consumption AFTER the block lands: a crash between
        # the two re-processes the increment, so it is never skipped,
        # but the replay appends a duplicate block that no reader
        # dedupes (at-least-once; ROADMAP item 1 makes it exactly-once).
        self._commit_consumed(name, new_state)
        return n

    def poll(self) -> dict[str, int]:
        """One propagation pass: every transform node with unconsumed
        upstream blocks runs over exactly those increments and appends
        one output block. Returns {node: appended block index} for the
        nodes that moved. Levels run in order, so a fresh source block
        reaches the deepest downstream node in a single poll; the fresh
        nodes of one level run concurrently. If a node raises, the rest
        of its level still finishes and commits, no later level runs,
        and the first error (in level order) is re-raised."""
        moved: dict[str, int] = {}
        for level in self._levels():
            work = [(n, p) for n in level if (p := self._pending(n)) is not None]
            moved.update(self._run_level(work))
        return moved

    def _run_level(self, work: list[tuple[str, tuple]]) -> dict[str, int]:
        """Step the given nodes of one level, one thread each; an empty
        level starts no thread. Each thread takes its own copy of the
        caller's JVM local properties (job group, tags) at start(), so
        sibling nodes' SQL executions never share one properties map."""
        results: list[int | BaseException | None] = [None] * len(work)

        def run(i: int, name: str, *pending) -> None:
            try:
                results[i] = self._step(name, *pending)
            except BaseException as e:
                results[i] = e

        threads = [
            InheritableThread(run, args=(i, n, *p), session=self.spark)
            for i, (n, p) in enumerate(work)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        err = next((r for r in results if isinstance(r, BaseException)), None)
        if err is not None:
            raise err
        return {n: r for (n, _), r in zip(work, results)}

    # ------------------------------------------------------ daemon ----
    # The reference runs change propagation as a PERSISTENT service, not
    # a caller-driven poll loop. serve() is that runtime shape: a
    # long-running subscription daemon that owns a single-writer lease
    # on the reactor directory, polls continuously, and sleeps only
    # when a pass moved nothing. Everything serve() relies on for
    # correctness is the machinery above (at-most-once consumption
    # watermarks, commit-after-block crash ordering), so a daemon
    # killed at ANY instruction resumes exactly where it stopped when
    # the next one takes the lease.

    def _lease_path(self) -> str:
        return os.path.join(self.base, "_leader.lock")

    def _acquire_lease(self, lease_ttl_s: float) -> None:
        """Single-writer lease via O_EXCL create. A lease whose file
        mtime is older than lease_ttl_s is considered abandoned (the
        holder died without release) and is stolen; the live holder
        re-touches the file every pass, so a healthy daemon is never
        stolen from. Best-effort on a local FS — an object store would
        use conditional-put, a cluster a real lock service; the
        CONTRACT (one writer per reactor dir) is what matters."""
        import time

        while True:
            try:
                fd = os.open(
                    self._lease_path(), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self._lease_path())
                except OSError:
                    continue  # holder released between our two syscalls
                if age > lease_ttl_s:
                    try:
                        os.unlink(self._lease_path())  # steal abandoned lease
                    except OSError:
                        pass
                    continue
                raise RuntimeError(
                    "another reactor daemon holds the lease on "
                    f"{self.base} (age {age:.1f}s <= ttl {lease_ttl_s}s)"
                )

    def _release_lease(self) -> None:
        try:
            os.unlink(self._lease_path())
        except OSError:
            pass

    def serve(
        self,
        stop: Callable[[], bool],
        poll_interval_s: float = 0.05,
        lease_ttl_s: float = 600.0,
    ) -> tuple[int, int]:
        """Run as the propagation daemon until stop() returns True:
        acquire the lease, poll in a loop (sleeping poll_interval_s
        after idle passes only — a moving graph is drained hot), renew
        the lease heartbeat each pass, release on the way out. Returns
        (passes, nodes_moved_total). Driver-side cost per idle pass is
        file listing only; all data movement is the poll()'s Spark
        jobs."""
        import time

        self._acquire_lease(lease_ttl_s)
        passes = moved_total = 0
        try:
            while not stop():
                moved = self.poll()
                passes += 1
                moved_total += len(moved)
                os.utime(self._lease_path())  # heartbeat: lease stays fresh
                if not moved:
                    time.sleep(poll_interval_s)
            return passes, moved_total
        finally:
            self._release_lease()
