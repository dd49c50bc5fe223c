"""Extract → Transform → Load pipeline graph.

Re-expression of the reference's pipeline-node abstraction: the
`Extract` trait ("how is data extracted", ``/root/reference/src/etl.rs:14-19``)
and the `Load` trait ("how is data loaded", ``/root/reference/src/etl.rs:22-28``),
plus the declarative source/sink binding sketched (but never shipped) in
the reference's attribute macro (``/root/reference/skopje-macros/src/lib.rs:12-75``).

Spark-first translation:

- A **source** node is ``(ctx) -> DataFrame`` — it *declares* a scan
  (``spark.read...``); nothing is fetched until an action runs.
- A **transform** node is ``(ctx, *parent_dfs) -> DataFrame`` — pure
  plan composition; Catalyst sees the whole graph and optimizes across
  node boundaries (filter pushdown through transforms into scans).
- A **sink** node is ``(ctx, df) -> Any`` — the only place actions
  happen (``df.write...``), mirroring how the reference's `Load::load`
  is the only effectful stage.

Because nodes compose *lazy plans* rather than materialized batches,
a pipeline of N transforms costs one optimized Spark job per sink —
not N materializations. That is the property that lets the same graph
run on 60k rows locally and 100 TB on a cluster: the engine never
inserts a collect/cache between stages unless the user opts in via
``cache=True`` (useful when one source feeds many sinks).

``Pipeline.run`` starts each node as soon as its inputs are ready, the
way the reference fans out one task per download chunk
(``src/extract/http.rs``), so one branch's driver work overlaps
another branch's Spark stages.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


@dataclass
class PipelineContext:
    """Carried into every node: the session plus free-form config
    (connection strings, paths, retry policies — the analog of the
    typed `Client` parameter threaded through the reference's traits,
    ``/root/reference/src/etl.rs:15,24``)."""

    spark: SparkSession
    conf: dict[str, Any] = field(default_factory=dict)


@dataclass
class _Node:
    name: str
    fn: Callable
    deps: tuple[str, ...] = ()
    cache: bool = False


class Pipeline:
    """A named DAG of source/transform/sink nodes.

    >>> p = Pipeline("demo")
    >>> p.source("orders", lambda ctx: ctx.spark.read.parquet(...))
    >>> p.transform("big", lambda ctx, o: o.filter("o_totalprice > 100"),
    ...             deps=["orders"])
    >>> p.sink("out", lambda ctx, df: df.write.mode("overwrite").parquet(...),
    ...        dep="big")
    >>> results = p.run(spark)
    """

    def __init__(self, name: str = "pipeline"):
        self.name = name
        self._nodes: dict[str, _Node] = {}

    # -- graph construction -------------------------------------------------
    def _add(self, node: _Node) -> str:
        if node.name in self._nodes:
            raise ValueError(f"duplicate node {node.name!r}")
        for d in node.deps:
            if d not in self._nodes:
                raise ValueError(f"node {node.name!r} depends on unknown {d!r}")
        self._nodes[node.name] = node
        return node.name

    def source(self, name: str, fn: Callable[[PipelineContext], DataFrame],
               *, cache: bool = False) -> str:
        """Register an extract node (`Extract` analog)."""
        return self._add(_Node(name, fn, (), cache))

    def transform(self, name: str, fn: Callable, *, deps: list[str],
                  cache: bool = False) -> str:
        """Register a transform node; ``fn(ctx, *parent_dfs)``."""
        return self._add(_Node(name, fn, tuple(deps), cache))

    def sink(self, name: str, fn: Callable[[PipelineContext, DataFrame], Any],
             *, dep: str) -> str:
        """Register a load node (`Load` analog); the only effectful kind."""
        return self._add(_Node(name, fn, (dep,)))

    # -- execution ----------------------------------------------------------
    def run(self, spark: SparkSession,
            conf: dict[str, Any] | None = None) -> dict[str, Any]:
        """Execute the graph. A node starts once all its dependencies
        have returned; at most ``min(len(nodes), defaultParallelism)``
        run at once, and a free slot goes to the earliest-registered
        ready node, so on one core nodes run in registration order. Node
        threads inherit the caller's local properties and session tags,
        and label their jobs ``<pipeline>/<node>``.

        If a node raises, running nodes finish, no further node starts,
        and the first exception is re-raised unchanged. Two sinks that
        write the same target must be ordered by a dependency: versioned
        writes assume one writer per commit.

        Returns ``{node_name: DataFrame | sink_result}`` in registration
        order so callers can inspect intermediate plans (still lazy).
        """
        ctx = PipelineContext(spark=spark, conf=dict(conf or {}))
        pending = list(self._nodes.values())
        slots = max(1, min(len(pending), spark.sparkContext.defaultParallelism))
        out: dict[str, Any] = {}
        running: dict[Future, _Node] = {}
        failure: Exception | None = None
        with ThreadPoolExecutor(slots, thread_name_prefix=self.name) as pool:
            while True:
                if failure is None:
                    ready = [n for n in pending if all(d in out for d in n.deps)]
                    for node in ready[:slots - len(running)]:
                        pending.remove(node)
                        # wrapped per node: every thread gets its own copy
                        # of the caller's local properties
                        task = inheritable_thread_target(spark)(self._run_node)
                        args = [out[d] for d in node.deps]
                        running[pool.submit(task, ctx, node, args)] = node
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    node = running.pop(fut)
                    try:
                        out[node.name] = fut.result()
                    except Exception as e:
                        failure = failure or e
        if failure is not None:
            raise failure
        return {name: out[name] for name in self._nodes}

    def _run_node(self, ctx: PipelineContext, node: _Node, args: list) -> Any:
        ctx.spark.sparkContext.setJobDescription(f"{self.name}/{node.name}")
        result = node.fn(ctx, *args)
        return result.cache() if node.cache else result
