"""Functional-reactive pipeline layer (SURVEY.md §1.1/§3.1, M3).

The reference's model, re-expressed on Spark:

- DataBlock (immutable record set + schema)  → DataFrame.
- Node (python fn / SQL template over inputs) → Node wrapping a
  DataFrame→DataFrame transform or a SQL string over named inputs.
  A SQL node's inputs are bound through spark.sql's keyword arguments:
  each gets a view name for that one call, dropped once the query is
  analyzed.
- Graph + Environment.produce(node)          → Graph.produce(name):
  topological resolution of upstream nodes, each materialized lazily —
  the "DAG execution" is Catalyst's logical plan; we never collect.
  `topo_order` is also the propagation order of reactive.Reactor,
  whose nodes are the same `Node` records.
- BlockLog (immutable blocks)                 → Graph.materialize,
  which appends through reactive.Reactor's block store.
- Incremental consumption (metadata DB high-watermark) →
  HighWatermarkState over a monotone column, persisted as JSON.
- accumulator / dedupe_keep_latest            → accumulate(),
  dedupe_keep_latest() below (same semantics as the §2.J operator keys).

No scheduler, no threads: Spark's lazy DAG already gives the
functional-reactive contract (recompute = re-evaluate the plan over new
inputs; blocks processed at most once via the watermark predicate).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

_SQL_TOKEN = re.compile(
    r"""
      (?P<ws>\s+|--[^\n]*|/\*.*?\*/)      # whitespace + comments
    | (?P<string>'(?:[^'\\]|\\.|'')*')    # string literal ('' and \' escapes)
    | (?P<qident>`(?:[^`]|``)*`)          # backtick-quoted identifier
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<num>\d+(?:\.\d*)?)
    | (?P<punct>.)
    """,
    re.S | re.X,
)

# Keywords that end a FROM clause's table-list context (JOIN re-opens a
# table position; everything here closes it until the next FROM/JOIN).
_FROM_ENDERS = {
    "where", "on", "using", "group", "order", "having", "limit",
    "union", "except", "intersect", "qualify", "window", "select",
    "lateral", "pivot", "unpivot", "tablesample", "values",
}
# Tokens that may sit between JOIN-ish keywords and the table name.
_JOIN_MODIFIERS = {"inner", "left", "right", "full", "cross", "natural",
                   "semi", "anti", "outer"}
_SQL_KEYWORDS = _FROM_ENDERS | _JOIN_MODIFIERS | {
    "join", "when", "and", "or", "not", "as", "from",
}


def _cte_names(toks: list[re.Match]) -> set[str]:
    """Lowercased CTE names declared anywhere in the token stream:
    after each WITH keyword, parse `[RECURSIVE] name [(cols)] AS (...)
    [, name ...]`. Collected from ALL nesting levels — over-broad
    exclusion of an input that shares a name with an inner CTE fails
    loudly via the seen-count check rather than silently rewriting a
    scoped reference."""
    sig = [
        (m.lastgroup, m.group(0).lower())
        for m in toks
        if m.lastgroup not in ("ws",)
    ]
    names: set[str] = set()
    i = 0
    n = len(sig)
    while i < n:
        if sig[i] != ("ident", "with"):
            i += 1
            continue
        i += 1
        if i < n and sig[i] == ("ident", "recursive"):
            i += 1
        while i < n:
            kind, text = sig[i]
            if kind == "qident":
                names.add(text[1:-1].replace("``", "`"))
            elif kind == "ident" and text not in _SQL_KEYWORDS:
                names.add(text)
            else:
                break
            i += 1
            # optional column list: name (a, b) AS (...)
            if i < n and sig[i] == ("punct", "("):
                depth = 0
                while i < n:
                    if sig[i] == ("punct", "("):
                        depth += 1
                    elif sig[i] == ("punct", ")"):
                        depth -= 1
                        if depth == 0:
                            i += 1
                            break
                    i += 1
            if i >= n or sig[i] != ("ident", "as"):
                break
            i += 1
            if i >= n or sig[i] != ("punct", "("):
                break
            depth = 0
            while i < n:
                if sig[i] == ("punct", "("):
                    depth += 1
                elif sig[i] == ("punct", ")"):
                    depth -= 1
                    if depth == 0:
                        i += 1
                        break
                i += 1
            if i < n and sig[i] == ("punct", ","):
                i += 1
                continue
            break
    return names


def _rewrite_table_refs(sql: str, mapping: dict[str, str], node: str) -> str:
    """Rewrite input-node names to their `mapping` targets, ONLY in
    table positions — a tokenizer + FROM-clause state machine, not a
    regex (round-3 verdict: the regex pass misresolved quoted
    identifiers and aliases shadowing an input name).

    Token walk: strings/comments pass through untouched (a literal
    'src' is never a table ref); a table position opens after FROM or
    JOIN (and again after each comma while the FROM list at that paren
    depth is open) and closes at WHERE/GROUP/ON/... or ')'. Whatever
    identifier fills an ALIAS slot — `FROM x src`, `(SELECT ...) src`
    — is skipped even when it matches an input, so alias shadowing
    keeps standard SQL scoping: `src.col` then resolves against the
    alias, untouched by the rewrite. Backtick-quoted table refs
    (`` FROM `src` ``) rewrite like bare ones; dotted refs
    (`FROM cat.src`) never match a node input (inputs are single-part
    names). A rewritten ref with no explicit alias gets `AS <input>`
    appended so qualified column refs keep resolving. An input that
    never appears in a table position raises — that SQL can't be
    reading the input, a wiring mistake better surfaced than silently
    run."""
    toks = list(_SQL_TOKEN.finditer(sql))
    out: list[str] = []
    # Case-insensitive input matching (Spark resolves identifiers
    # case-insensitively, so `FROM SRC` must rewrite for input 'src');
    # CTE names shadow inputs exactly like aliases do — a `WITH src AS
    # (...)` makes later `FROM src` refer to the CTE, never the input.
    lmap = {k.lower(): k for k in mapping}
    ctes = _cte_names(toks)
    seen: dict[str, int] = dict.fromkeys(mapping, 0)
    # Per-paren-depth state: is a FROM table-list open, and is the next
    # identifier a table position?
    in_from = [False]
    expect_table = [False]
    expect_alias = False  # last token was a table ref / subquery close

    def _sig(i: int) -> tuple[str, str] | None:
        """Kind+lowercased text of token i if significant, else None."""
        m = toks[i]
        if m.lastgroup == "ws":
            return None
        return m.lastgroup, m.group(0).lower()

    i = 0
    while i < len(toks):
        m = toks[i]
        kind, text = m.lastgroup, m.group(0)
        low = text.lower()
        if kind in ("ws", "string", "num"):
            out.append(text)
            i += 1
            continue
        if kind == "punct":
            if text == "(":
                # A '(' in table position CONSUMES it (subquery or
                # parenthesized join); the inner context may open with a
                # table name (`FROM (src JOIN ...)`) — a subquery's
                # SELECT clears it via _FROM_ENDERS.
                inner = expect_table[-1]
                expect_table[-1] = False
                in_from.append(inner)
                expect_table.append(inner)
                expect_alias = False
            elif text == ")":
                if len(in_from) > 1:
                    in_from.pop()
                    expect_table.pop()
                expect_alias = True  # `(SELECT ...) alias`
            elif text == "," and in_from[-1]:
                expect_table[-1] = True
                expect_alias = False
            elif text == ".":
                expect_alias = False
            out.append(text)
            i += 1
            continue
        # identifier or quoted identifier
        if kind == "ident" and low == "from":
            in_from[-1] = True
            expect_table[-1] = True
            expect_alias = False
        elif kind == "ident" and low == "join":
            expect_table[-1] = True
            expect_alias = False
        elif kind == "ident" and low in _JOIN_MODIFIERS:
            expect_alias = False
        elif kind == "ident" and low in _FROM_ENDERS:
            in_from[-1] = False
            expect_table[-1] = False
            expect_alias = False
        elif expect_table[-1] and not (kind == "ident" and low in _SQL_KEYWORDS):
            name = text[1:-1].replace("``", "`") if kind == "qident" else text
            # dotted ref (cat.src)? inputs are single-part — skip whole ref
            j = i + 1
            while j < len(toks) and _sig(j) is None:
                j += 1
            dotted = j < len(toks) and _sig(j) == ("punct", ".")
            lname = name.lower()
            if not dotted and lname in lmap and lname not in ctes:
                cname = lmap[lname]
                seen[cname] += 1
                # explicit alias next (AS x / bare x)? keep it, else
                # alias the view back to the input name.
                k = j
                if k < len(toks) and _sig(k) == ("ident", "as"):
                    has_alias = True
                else:
                    nxt = _sig(k) if k < len(toks) else None
                    has_alias = nxt is not None and (
                        nxt[0] == "qident"
                        or (nxt[0] == "ident" and nxt[1] not in _SQL_KEYWORDS)
                    )
                out.append(mapping[cname] if has_alias else f"{mapping[cname]} AS {name}")
            else:
                out.append(text)
            expect_table[-1] = False
            expect_alias = True
            i += 1
            continue
        elif expect_alias or (kind == "ident" and low == "as"):
            # alias slot (possibly after AS): never rewritten
            expect_alias = low == "as"
        out.append(text)
        i += 1
    for uname, n in seen.items():
        if n == 0:
            raise ValueError(
                f"SQL node {node!r} declares input {uname!r} but never "
                f"references it in a table position (FROM/JOIN)"
            )
    return "".join(out)


@dataclass
class Node:
    name: str
    fn: Callable[..., DataFrame] | None = None
    sql: str | None = None
    inputs: list[str] = field(default_factory=list)


def topo_order(nodes: dict[str, Node], roots: list[str] | None = None) -> list[str]:
    """Names of `roots` (default: every node) and all their upstream
    nodes, each once, every node after its inputs. Raises ValueError on
    a cycle. The check runs on the active DFS path, not on a visited
    set: a diamond (one upstream feeding two inputs of a node) is the
    normal shape in the node-graph model, not a cycle."""
    order: list[str] = []
    done: set[str] = set()
    path: set[str] = set()

    def visit(n: str) -> None:
        if n in done:
            return
        if n in path:
            raise ValueError(f"cycle detected at node {n!r}")
        path.add(n)
        for u in nodes[n].inputs:
            visit(u)
        path.discard(n)
        done.add(n)
        order.append(n)

    for n in nodes if roots is None else roots:
        visit(n)
    return order


class Graph:
    """A tiny declarative node graph: python nodes and SQL-template nodes."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._nodes: dict[str, Node] = {}

    def node(self, name: str, inputs: list[str] | None = None):
        """Decorator: register a python node fn(*upstream_dfs) -> DataFrame."""

        def deco(fn: Callable[..., DataFrame]):
            self._nodes[name] = Node(name=name, fn=fn, inputs=inputs or [])
            return fn

        return deco

    def source(self, name: str, df: DataFrame) -> None:
        self._nodes[name] = Node(name=name, fn=lambda: df, inputs=[])

    def sql_node(self, name: str, sql: str, inputs: list[str]) -> None:
        """SQL node: the SQL reads each input by its node name."""
        self._nodes[name] = Node(name=name, sql=sql, inputs=inputs)

    @classmethod
    def from_yaml(
        cls,
        spark: SparkSession,
        text: str,
        sources: dict[str, DataFrame] | None = None,
    ) -> "Graph":
        """Build a graph from a YAML spec (the reference's graph.yml shape):

        nodes:
          - name: big_orders
            sql: SELECT * FROM orders WHERE o_totalprice > 100
            inputs: [orders]

        Python nodes are code, so YAML carries only SQL nodes; DataFrame
        sources (fixture tables, upstream graphs) are passed in `sources`
        and become named source nodes.
        """
        import yaml

        spec = yaml.safe_load(text)
        g = cls(spark)
        for name, df in (sources or {}).items():
            g.source(name, df)
        for nd in spec.get("nodes", []):
            g.sql_node(nd["name"], nd["sql"], list(nd.get("inputs", [])))
        return g

    def produce(self, name: str) -> DataFrame:
        """Resolve the upstream cone of `name` in topological order, each
        node once, and return the node's DataFrame. Lazy: nothing
        materializes until an action runs.

        A SQL node's input refs are rewritten to `{in<i>}` placeholders
        and bound through spark.sql's keyword arguments: each input gets
        a fresh view name for that one call, dropped once the query is
        analyzed, so concurrent graphs (or an unrelated temp view with a
        node's name) can't cross-resolve and nothing is left in the
        session catalog."""
        dfs: dict[str, DataFrame] = {}
        for n in topo_order(self._nodes, [name]):
            node = self._nodes[n]
            ups = [dfs[u] for u in node.inputs]
            if node.sql is not None:
                # Literal braces are doubled so the formatter leaves them be.
                sql = node.sql.replace("{", "{{").replace("}", "}}")
                mapping = {u: f"{{in{i}}}" for i, u in enumerate(node.inputs)}
                dfs[n] = self.spark.sql(
                    _rewrite_table_refs(sql, mapping, node.name),
                    **{f"in{i}": df for i, df in enumerate(ups)},
                )
            else:
                dfs[n] = node.fn(*ups)
        return dfs[name]

    def materialize(self, name: str, base_dir: str) -> dict:
        """Produce a node and append its output as the next immutable
        block of `base_dir/<node>/` in the Reactor's block store (the
        reference's Environment.produce + BlockLog/FunctionLog): blocks
        are append-only and publish atomically, and the node's first
        block pins its schema, so a later output with other columns or
        types raises ValueError and writes nothing. Adds a run-log line
        to `base_dir/<node>/log.jsonl` (node, block, rows, wall seconds,
        ISO timestamp) and returns that entry."""
        # Lazy: reactive.py imports this module, and the registry import
        # should not load reactive.py.
        from basis_spark.reactive import Reactor

        t0 = time.time()
        r = Reactor(self.spark, base_dir)
        r.source(name)
        obs = Observation("rows")
        block = r.feed(name, self.produce(name).observe(obs, F.count(F.lit(1)).alias("n")))
        entry = {
            "node": name,
            "block": block,
            "rows": obs.get["n"],
            "wall_s": round(time.time() - t0, 3),
            "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        }
        with open(os.path.join(base_dir, name, "log.jsonl"), "a") as f:
            f.write(json.dumps(entry) + "\n")
        return entry


def accumulate(*increments: DataFrame) -> DataFrame:
    """basis accumulator: fold append-only increments into one table."""
    if not increments:
        raise ValueError(
            "accumulate() needs at least one increment (an empty fold has "
            "no schema to build an empty DataFrame from)"
        )
    out = increments[0]
    for inc in increments[1:]:
        out = out.unionByName(inc)
    return out


def dedupe_keep_latest(
    df: DataFrame, keys: list[str], order_cols: list[str]
) -> DataFrame:
    """One row per key, latest (by order_cols desc) wins."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


class HighWatermarkState:
    """Persisted monotone-column watermark — the reference's incremental
    block-pruning, as a predicate that parquet scans push down.

    The watermark is persisted LOSSLESSLY with a type tag: int/float/str
    as-is, timestamp/date via isoformat. Forcing int() (round 1) raised
    on timestamp columns and truncated floats, despite the class being
    documented as working over any monotone column.
    """

    def __init__(self, path: str, column: str):
        self.path = path
        self.column = column

    @staticmethod
    def _encode(v):
        if isinstance(v, datetime.datetime):
            return {"type": "timestamp", "value": v.isoformat()}
        if isinstance(v, datetime.date):
            return {"type": "date", "value": v.isoformat()}
        return {"type": "scalar", "value": v}

    @staticmethod
    def _as_utc(v):
        """Comparable form: a legacy NAIVE stored watermark is assumed
        UTC (the container's TZ) so it can compare against the aware
        timestamp_us form without a TypeError."""
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            return v.replace(tzinfo=datetime.timezone.utc)
        return v

    @staticmethod
    def _decode(d):
        if d["type"] == "timestamp_us":
            # TZ-unambiguous form: epoch micros -> aware UTC datetime
            # (F.lit of an aware datetime maps to the exact instant).
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            return epoch + datetime.timedelta(microseconds=d["value"])
        if d["type"] == "timestamp":
            # legacy naive-isoformat files (driver-TZ-dependent; kept
            # readable for states persisted before the timestamp_us form)
            return datetime.datetime.fromisoformat(d["value"])
        if d["type"] == "date":
            return datetime.date.fromisoformat(d["value"])
        return d["value"]

    def read(self):
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            doc = json.load(f)
        # round-1 files stored a bare int under "watermark"
        if "type" not in doc:
            return doc["watermark"]
        return self._decode(doc)

    def filter_new(self, df: DataFrame) -> DataFrame:
        wm = self.read()
        # F.lit maps datetime/date to timestamp/date literals, so the
        # comparison stays in the column's native type and pushes down.
        return df if wm is None else df.filter(F.col(self.column) > F.lit(wm))

    def advance(self, df: DataFrame):
        from pyspark.sql import types as T

        is_ts = isinstance(df.schema[self.column].dataType, T.TimestampType)
        if is_ts:
            # collect epoch micros, not a naive local datetime: plain
            # collect() localizes TimestampType to the DRIVER's host tz,
            # so the persisted isoformat depended on where advance() ran
            # and shifted filter_new by the TZ delta after a restart.
            us = df.agg(F.max(F.unix_micros(self.column)).alias("m")).collect()[0]["m"]
            if us is None:
                return self.read()
            cur = self.read()
            doc = {"type": "timestamp_us", "value": int(us), "column": self.column}
            new_wm = self._decode(doc)
            if cur is not None and not (self._as_utc(new_wm) > self._as_utc(cur)):
                return cur
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            with open(self.path, "w") as f:
                json.dump(doc, f)
            return new_wm
        new_wm = df.agg(F.max(self.column).alias("m")).collect()[0]["m"]
        if new_wm is None:
            return self.read()
        # Monotone clamp: advancing on a late/replayed block whose max
        # is BELOW the stored watermark must not regress it (a regressed
        # watermark re-emits already-consumed rows on the next
        # filter_new — the exactly-the-documented-contract violation).
        cur = self.read()
        if cur is not None and not (new_wm > cur):
            return cur
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        doc = self._encode(new_wm)
        doc["column"] = self.column
        with open(self.path, "w") as f:
            json.dump(doc, f)
        return new_wm
