"""Declarative INCREMENTAL pipelines over versioned tables — the
Delta Live Tables shape (reference target: the end-state declarative
API skopje's attribute macros sketch, `/root/reference/skopje-macros/
src/lib.rs`), built from this store's own primitives: change feeds,
expectation ladders, and atomic manifest commits.

A pipeline is a DAG of :class:`LiveNode`\\ s. Each node owns one
versioned table (its ``target``) and declares how it derives from its
inputs (other nodes' targets, or external versioned tables):

- ``mode="append"`` — a STREAMING TABLE: the transform is row-wise
  over NEW rows only; each run reads the inputs' change feeds since
  the node's recorded cursors, transforms the inserts, and APPENDS.
  Upstream updates/deletes refuse loudly (an append node cannot fold
  them — use ``replace``, or the store's apply-changes machinery).
- ``mode="replace"`` — a MATERIALIZED VIEW: the transform recomputes
  over the inputs' pinned full snapshots and commits the result as the
  target's next version. Correct for ANY transform (joins,
  aggregates); cost is the recompute. (For grouped aggregates the
  store's :func:`~skopje_spark.sinks.versioned.versioned_ivm_view`
  folds incrementally instead — use it directly when the shape fits.)
- ``mode="upsert"`` — APPLY CHANGES (DLT's ``apply_changes`` / SCD
  type 1): one streaming input, ``keys`` required. Each run reduces
  the input's feed range to the FINAL action per key (a key inserted
  then updated then deleted nets to its last action), row-wise
  transforms the surviving rows, MERGEs them by key, and key-frame
  DV-deletes the net-deleted keys. The transform must preserve the
  key columns. Replay after a crash re-applies the same range — both
  apply steps are idempotent by key, the replicate argument.

``static_inputs`` are read FULL at their current latest. For append
and upsert nodes they never gate — the stream-static join semantic (a
dimension update does not reprocess history; that is the documented
DLT contract, not a bug). For REPLACE nodes they DO gate: a
materialized view recomputes when any dependency — streamed or
static — advanced, and no-ops when nothing changed at all (idle polls
stop growing version debt).

EXACTLY-ONCE BY COMMIT ATOMICITY: each node's input cursors
(``{input: last_processed_version}``) ride the SAME manifest commit as
the data they produced, under a compare-and-swap on the target's
version. ``live_cursors`` is a carried table property of the target,
read from its latest commit alone: every later commit (a compaction,
a constraint change, any manual write) carries it forward, and
``vacuum`` can never retire it. A crash before the commit leaves the
cursor untouched (the rerun re-reads the same range); a crash after
has the cursor advanced with the data. When a run needs MORE than one
commit (an upsert run with both a merge and a key-frame delete), only
the run's FINAL commit advances the cursor (the first carries the old
one) — a crash between the commits replays the whole range, and every
apply step is idempotent by key. A target whose latest commit carries
no cursors (one written before cursors were carried, or a table the
pipeline never wrote) takes the first-run path: the node rebuilds it
from the inputs' snapshots. There is no
side-channel checkpoint to drift, and two racing runners resolve by
CAS — one wins, one gets a loud CommitConflict. Quarantine rows are
staged BEFORE the cursor-carrying commit (at-least-once for the
audit trail; a post-commit write would lose them forever on a crash
in between).

Expectations (``sinks/expect.py`` ladder) gate every node commit:
violating rows warn / drop / quarantine (into ``<target>_quarantine``
with back-pointers) / fail the run, and per-expectation violation
counts ride the commit metadata — data-quality history is table
history.

Scale: a run's cost is O(changes since last run) per append node
(native CDC scans, no table rescan) plus the declared recomputes —
the property that makes a 100 TB curation DAG pollable every five
minutes.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skopje_spark.sinks.expect import expectation_gate
from skopje_spark.sinks.versioned import (
    latest_version,
    snapshot_meta,
    versioned_append,
    versioned_change_feed,
    versioned_read,
    versioned_write,
)

__all__ = ["LiveNode", "LivePipeline"]

_MODES = ("append", "replace", "upsert")
_CURSORS_KEY = "live_cursors"


@dataclass
class LiveNode:
    """One table in a live pipeline. ``transform`` receives
    ``(spark, frames)`` where ``frames[name]`` is the DELTA frame for
    streamed inputs of an append node, and the FULL pinned snapshot
    for replace-node inputs and all ``static_inputs``."""

    name: str
    target: str
    transform: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    inputs: list[str] = field(default_factory=list)
    static_inputs: list[str] = field(default_factory=list)
    mode: str = "append"
    keys: list[str] | None = None
    expectations: dict[str, str] | None = None
    on_violation: str = "quarantine"
    input_keys: dict[str, list[str]] | None = None
    partition_by: list[str] | None = None
    change_feed: bool = True

    def __post_init__(self):
        if self.mode not in _MODES:
            raise ValueError(
                f"node {self.name!r}: mode must be one of {_MODES}"
            )
        if self.on_violation not in ("warn", "drop", "quarantine", "fail"):
            raise ValueError(
                f"node {self.name!r}: on_violation must be one of "
                "('warn', 'drop', 'quarantine', 'fail'), got "
                f"{self.on_violation!r}"
            )
        if not self.inputs and not self.static_inputs:
            raise ValueError(f"node {self.name!r} declares no inputs")
        dup = set(self.inputs) & set(self.static_inputs)
        if dup:
            raise ValueError(
                f"node {self.name!r}: inputs also listed static: {dup}"
            )
        if self.mode == "upsert":
            if not self.keys:
                raise ValueError(
                    f"upsert node {self.name!r} requires keys=[...]"
                )
            if len(self.inputs) != 1:
                raise ValueError(
                    f"upsert node {self.name!r} takes exactly ONE "
                    "streamed input (apply-changes is per-source)"
                )


def _node_cursors(target: str) -> dict[str, int] | None:
    """The node's recorded cursors, read from the target's latest
    commit: ``live_cursors`` is a carried table property, so manual
    commits (compactions, repairs, constraint changes) and ``vacuum``
    keep it. None before the first pipeline commit — or on a target
    whose latest commit carries none, which the first-run path
    rebuilds from the inputs' snapshots."""
    committed = latest_version(target)
    raw = None if committed is None else snapshot_meta(
        target, _CURSORS_KEY, version=committed
    )
    return None if raw is None else json.loads(raw)


class LivePipeline:
    """A validated DAG of :class:`LiveNode`\\ s. ``run(spark)``
    processes every node once, in dependency order, each node
    incrementally against its recorded cursors; rerunning with no new
    input commits is a no-op per node. Returns ``{node:
    {"version", "action", "rows", "cursors", ...}}``."""

    def __init__(self, nodes: list[LiveNode]):
        self.nodes = {n.name: n for n in nodes}
        if len(self.nodes) != len(nodes):
            raise ValueError("duplicate node names")
        # topo order over intra-pipeline edges (inputs naming nodes)
        order: list[str] = []
        state: dict[str, int] = {}

        def visit(name: str):
            if state.get(name) == 2:
                return
            if state.get(name) == 1:
                raise ValueError(f"cycle through node {name!r}")
            state[name] = 1
            for dep in (
                list(self.nodes[name].inputs)
                + list(self.nodes[name].static_inputs)
            ):
                if dep in self.nodes:
                    visit(dep)
            state[name] = 2
            order.append(name)

        for n in nodes:
            visit(n.name)
        self.order = order

    def _path_of(self, ref: str) -> str:
        return self.nodes[ref].target if ref in self.nodes else ref

    def run(self, spark: SparkSession) -> dict[str, dict]:
        report: dict[str, dict] = {}
        for name in self.order:
            report[name] = self._run_node(spark, self.nodes[name])
        return report

    def full_refresh(self, spark: SparkSession, name: str) -> dict:
        """DLT's FULL REFRESH of one node: recompute its target from
        the inputs' CURRENT full snapshots (expectations gate applies)
        and reset its cursors to those versions — the recovery move
        after an upstream backfill or a transform fix, without
        touching the rest of the DAG. The rebuild is one snapshot
        commit; history (and any pinned readers) keep the old
        versions. Downstream nodes see the rebuild as a normal new
        commit (append nodes over a refreshed input need their own
        refresh or input_keys for the snapshot-diff fallback)."""
        node = self.nodes[name]
        latests = {
            ref: latest_version(self._path_of(ref)) for ref in node.inputs
        }
        frames = {
            ref: versioned_read(spark, self._path_of(ref), version=v)
            for ref, v in latests.items()
        }
        for ref in node.static_inputs:
            frames[ref] = versioned_read(spark, self._path_of(ref))
        out = node.transform(spark, frames)
        meta = {
            _CURSORS_KEY: json.dumps(latests, sort_keys=True),
            "live_node": node.name,
            "live_mode": node.mode,
            "live_full_refresh": "true",
        }
        admitted, n_rows, q_df, exp_meta = _gate(out, node)
        meta.update(exp_meta)
        expected = latest_version(node.target)
        _stage_quarantine(spark, node, q_df, expected)
        v = versioned_write(
            admitted, node.target, meta=meta,
            partition_by=node.partition_by,
            expected_version=expected,
        )
        return {
            "version": v, "action": "full_refresh",
            "rows": n_rows, "cursors": latests,
        }

    # ------------------------------------------------------------------
    def _run_node(self, spark: SparkSession, node: LiveNode) -> dict:
        cursors = _node_cursors(node.target)
        latests: dict[str, int] = {}
        for ref in node.inputs:
            src = self._path_of(ref)
            lv = latest_version(src)
            if lv is None:
                raise FileNotFoundError(
                    f"node {node.name!r}: input {ref!r} ({src}) has no "
                    "committed version"
                )
            latests[ref] = lv

        first_run = cursors is None
        # replace nodes gate on static inputs TOO: a materialized view
        # must recompute when its dimension changes, and may no-op when
        # nothing changed at all. Append/upsert nodes never gate on
        # statics (the stream-static contract: a dimension update does
        # not reprocess history, and does not trigger a run by itself).
        gate_latests = dict(latests)
        if node.mode == "replace":
            for ref in node.static_inputs:
                lv = latest_version(self._path_of(ref))
                if lv is not None:
                    gate_latests[ref] = lv
        if not first_run:
            fresh = {
                ref: lv
                for ref, lv in gate_latests.items()
                if lv > int(cursors.get(ref, -1))
            }
            if not fresh:
                return {
                    "version": latest_version(node.target),
                    "action": "noop",
                    "rows": 0,
                    "cursors": cursors,
                }

        if node.mode == "upsert" and not first_run:
            return _run_upsert(self, spark, node, cursors, latests)
        frames: dict[str, DataFrame] = {}
        if node.mode == "replace" or first_run:
            for ref in node.inputs:
                frames[ref] = versioned_read(
                    spark, self._path_of(ref), version=latests[ref]
                )
        else:  # append, incremental
            for ref in node.inputs:
                src = self._path_of(ref)
                frm = int(cursors.get(ref, -1)) + 1
                if frm > latests[ref]:
                    # unchanged input of a multi-input node: empty delta
                    frames[ref] = versioned_read(
                        spark, src, version=latests[ref]
                    ).limit(0)
                    continue
                keys = (node.input_keys or {}).get(ref)
                feed = versioned_change_feed(
                    spark, src,
                    from_version=frm, to_version=latests[ref],
                    keys=keys,
                )
                non_insert = feed.filter(
                    ~F.col("_change_type").isin("insert")
                )
                if non_insert.limit(1).count():
                    raise ValueError(
                        f"append node {node.name!r}: input {ref!r} has "
                        "update/delete changes in "
                        f"v[{frm}..{latests[ref]}] — an append node "
                        "cannot fold them; use mode='replace' or the "
                        "store's apply-changes machinery"
                    )
                frames[ref] = feed.drop("_change_type", "_commit_version")
        for ref in node.static_inputs:
            src = self._path_of(ref)
            frames[ref] = versioned_read(spark, src)

        out = node.transform(spark, frames)
        new_cursors = {
            **({} if cursors is None else cursors),
            **(gate_latests if node.mode == "replace"
               else {ref: latests[ref] for ref in node.inputs}),
        }
        meta = {
            _CURSORS_KEY: json.dumps(new_cursors, sort_keys=True),
            "live_node": node.name,
            "live_mode": node.mode,
        }
        expected = latest_version(node.target)
        action = (
            "build" if first_run
            else ("replace" if node.mode == "replace" else "append")
        )

        admitted, n_rows, q_df, exp_meta = _gate(out, node)
        meta.update(exp_meta)

        # quarantine is staged BEFORE the cursor-carrying data commit:
        # a crash between the two replays the range and quarantines
        # again (at-least-once for the audit trail — duplicates beat
        # silently losing violating rows forever, which is what a
        # post-commit write does when the cursor has already advanced)
        _stage_quarantine(spark, node, q_df, expected)

        if node.mode == "replace" or first_run:
            # a full snapshot write has no diff to record; downstream
            # append nodes reading a replace node declare input_keys
            # for the snapshot-diff fallback
            v = versioned_write(
                admitted, node.target, meta=meta,
                partition_by=node.partition_by,
                expected_version=expected,
            )
        else:
            v = versioned_append(
                spark, node.target, admitted, meta=meta,
                expected_version=expected,
                change_feed=node.change_feed,
            )
        rows = n_rows
        return {
            "version": v,
            "action": action,
            "rows": rows,
            "cursors": new_cursors,
        }


def _run_upsert(self: "LivePipeline", spark: SparkSession,
                node: LiveNode, cursors: dict, latests: dict) -> dict:
    """Incremental APPLY CHANGES for one upsert node: net-final
    reduction of the feed range (the replicate reduction), row-wise
    transform of the survivors, expectation gate, MERGE by key +
    key-frame delete.

    EXACTLY-ONCE: the advanced cursor rides ONLY the run's FINAL
    commit. When the run needs both a merge and a key-frame delete,
    the merge carries the OLD cursors from its base — a crash between
    the two leaves the cursor at its old value, so the rerun re-reads the
    same range and re-applies both steps (merge and key-delete are
    idempotent by key). Attaching the cursor to the first commit
    would make the rerun see the range consumed and the net-deleted
    keys would survive forever. Both commits CAS on the version they
    expect (``expected_version``), so two racing runners resolve with
    a loud CommitConflict, never a double-apply.

    NET-FINAL TIES: a single commit can record a delete AND an insert
    for the same key (``versioned_replace_where(change_feed=True)``
    stages the removal and the replacement in one commit); the shared
    reduction (``versioned._net_final_changes``) ranks the delete
    lowest within a commit, so it never elects the delete of a
    replaced key."""
    from skopje_spark.sinks.versioned import (
        _net_final_changes,
        versioned_delete,
        versioned_upsert,
    )

    ref = node.inputs[0]
    src = self._path_of(ref)
    frm = int(cursors.get(ref, -1)) + 1
    if frm > latests[ref]:
        return {
            "version": latest_version(node.target),
            "action": "noop",
            "rows": 0,
            "cursors": cursors,
        }
    feed = versioned_change_feed(
        spark, src, from_version=frm, to_version=latests[ref],
        keys=(node.input_keys or {}).get(ref),
    )
    ups_src, dels = _net_final_changes(feed, node.keys)
    out = node.transform(spark, {ref: ups_src})
    new_cursors = {**cursors, ref: latests[ref]}
    base_meta = {
        "live_node": node.name,
        "live_mode": node.mode,
    }
    admitted, n_rows, q_df, exp_meta = _gate(out, node)
    base_meta.update(exp_meta)
    cursor_meta = {
        **base_meta,
        _CURSORS_KEY: json.dumps(new_cursors, sort_keys=True),
    }
    expected = latest_version(node.target)
    # stage quarantine BEFORE any cursor-advancing commit (see
    # _stage_quarantine: at-least-once beats silent loss)
    _stage_quarantine(spark, node, q_df, expected)
    has_ups = bool(admitted.limit(1).count())
    has_dels = bool(dels.limit(1).count())
    if has_ups and has_dels:
        # the merge carries the old cursors — only the final (delete)
        # commit advances them; crash between them replays both
        v = versioned_upsert(
            spark, node.target, admitted, node.keys, meta=base_meta,
            expected_version=expected,
            change_feed=node.change_feed,
        )
        v = versioned_delete(
            spark, node.target, dels, meta=cursor_meta,
            expected_version=v,
            change_feed=node.change_feed,
        )
    elif has_ups:
        v = versioned_upsert(
            spark, node.target, admitted, node.keys, meta=cursor_meta,
            expected_version=expected,
            change_feed=node.change_feed,
        )
    elif has_dels:
        v = versioned_delete(
            spark, node.target, dels, meta=cursor_meta,
            expected_version=expected,
            change_feed=node.change_feed,
        )
    else:
        # versions advanced but net-zero changes (metadata commits,
        # self-cancelling chains): advance the cursor with an empty
        # append so the feed range never grows unboundedly
        v = versioned_append(
            spark, node.target,
            versioned_read(spark, node.target).limit(0),
            meta=cursor_meta,
            expected_version=expected,
        )
    return {
        "version": v,
        "action": "apply_changes",
        "rows": n_rows,
        "cursors": new_cursors,
    }


def _stage_quarantine(spark, node: LiveNode, q_df, expected) -> None:
    """Write violating rows to ``<target>_quarantine`` BEFORE the
    cursor-carrying data commit. A crash after the quarantine write
    but before the data commit replays the range and may quarantine
    the same rows again (at-least-once, deduplicable on the
    back-pointer) — the alternative, writing after the commit, loses
    the rows FOREVER on a crash between the two because the advanced
    cursor makes the rerun skip the range. ``quarantine_source_version``
    back-points at the version the guarded commit WILL take (its CAS
    on ``expected`` makes that deterministic)."""
    if q_df is None:
        return
    qpath = f"{node.target.rstrip('/')}_quarantine"
    q_meta = {
        "quarantine_of": node.target,
        "quarantine_source_version": str(
            0 if expected is None else expected + 1
        ),
    }
    if latest_version(qpath) is None:
        versioned_write(q_df, qpath, meta=q_meta)
    else:
        versioned_append(spark, qpath, q_df, meta=q_meta)


def _gate(df, node: LiveNode):
    """The expectation ladder of one node commit
    (:func:`~skopje_spark.sinks.expect.expectation_gate`): returns
    (admitted, rows_written, quarantine_df|None, commit_meta); a node
    without expectations admits everything, uncounted."""
    if not node.expectations:
        return df, None, None, {}
    return expectation_gate(
        df, node.expectations, node.on_violation,
        prefix=f"live node {node.name!r}: ",
    )[:4]
