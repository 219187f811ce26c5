"""Traced run: spans around each layer's public functions, Spark job
groups per span, and Spark's own event log for what ran under each span.

The engine is not modified. ``install`` wraps public functions of each
layer module (and the few methods that are a layer's boundary) from the
outside; every wrapped call becomes a span ``(id, name, layer, start,
end, parent, op, phase)`` kept in memory and written out at the end.
Spans that can launch Spark work set ``spark.jobGroup.id`` to the span
id, so ``read_eventlog`` can map every stage and task back to its span,
its layer and the timed operation it ran under.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

PKG = "opencypher_datalayer_spark"


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    phase = "timed"
    enabled = False

    def op(self, name):
        return contextlib.nullcontext()

    def span(self, name, layer, spark=True):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name, layer, spark=True, is_op=False):
        parent = self._stack[-1] if self._stack else None
        sid = self._next
        self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": sid if is_op else (parent["op"] if parent else None),
            "op_name": name if is_op else (parent["op_name"] if parent else None),
            "phase": self.phase,
            "group": f"pb{sid}" if spark else (parent["group"] if parent else None),
        }
        self._stack.append(rec)
        if spark:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark:
                if parent and parent["group"]:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def op(self, name):
        return self.span(name, "op", spark=True, is_op=True)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


# (module, owner attribute path, layer, span name, launches Spark work)
LAYER_FUNCTIONS = [
    ("model", "normalize_entity", "model", "model.normalize_entity", False),
    ("functions.localframe", "local_df", "functions.localframe", "localframe.local_df", True),
    ("functions.localframe", "local_df_cols", "functions.localframe", "localframe.local_df_cols", True),
    ("ingest", "DatasetWriter._flush", "ingest", "ingest.flush", True),
    ("ingest", "Dataset.full_sync", "ingest", "ingest.full_sync", True),
    ("ingest", "DataLayer.query", "ingest", "ingest.query", True),
    ("ingest", "DataLayer.get_entities", "ingest", "ingest.get_entities", True),
    ("store", "GraphStore.apply_batch", "store", "store.apply_batch", True),
    ("storage", "ParquetGraphStorage.merge_commit", "storage", "storage.merge_commit", True),
    ("storage", "ParquetGraphStorage.commit", "storage", "storage.commit", True),
    ("storage", "ParquetGraphStorage.load", "storage", "storage.load", True),
    ("storage", "ParquetGraphStorage.lookup_nodes", "storage", "storage.lookup_nodes", True),
    ("plans.cypher", "Parser.parse_union", "plans.cypher", "cypher.parse", False),
    ("plans.cypher", "_run_single", "plans.cypher", "cypher.build", True),
    ("streaming.clean_ingest", "StreamingCleanIngest.apply", "streaming", "clean.apply", True),
    ("streaming.neardup", "StreamingNearDupFilter.apply", "streaming", "neardup.apply", True),
    ("operators.minhash", "signatures_for", "operators.minhash", "minhash.signatures_for", True),
    ("operators.bm25_index", "write_bm25_index", "operators.bm25_index", "bm25.write", True),
    ("operators.bm25_index", "extend_bm25_index", "operators.bm25_index", "bm25.extend", True),
    ("operators.bm25_index", "bm25_topk", "operators.bm25_index", "bm25.topk.call", True),
    ("operators.artifacts", "ArtifactStore.commit", "operators.artifacts", "artifacts.commit", True),
    ("operators.artifacts", "ArtifactStore.commit_extension", "operators.artifacts", "artifacts.commit_extension", True),
    ("operators.artifacts", "ArtifactStore._commit", "operators.artifacts", "artifacts.attempt", True),
    ("operators.graph_algorithms", "pagerank_fixedpoint", "operators.graph_algorithms", "graph.pagerank.call", True),
    ("operators.graph_algorithms", "label_propagation", "operators.graph_algorithms", "graph.label_prop.call", True),
    ("operators.graph_algorithms", "bfs_distances", "operators.graph_algorithms", "graph.bfs.call", True),
    ("operators.graph_algorithms", "triangle_count", "operators.graph_algorithms", "graph.triangles.call", True),
    ("operators.components", "connected_components", "operators.components", "components.cc.call", True),
]


def _wrap(fn, tracer, layer, name, spark):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer, spark):
            return fn(*args, **kwargs)

    return traced


def install(tracer) -> None:
    """Wrap every entry of ``LAYER_FUNCTIONS``. A module-level function
    is replaced wherever the package bound it (``from x import f``
    copies the reference), so calls through any import path are seen."""
    import importlib

    for mod_name, path, layer, name, spark in LAYER_FUNCTIONS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        owner_name, _, attr = path.rpartition(".")
        if owner_name:
            owner = getattr(mod, owner_name)
            setattr(owner, attr, _wrap(owner.__dict__[attr], tracer, layer, name, spark))
            continue
        orig = getattr(mod, attr)
        wrapped = _wrap(orig, tracer, layer, name, spark)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG):
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)


# -- Spark event log ----------------------------------------------------

def read_eventlog(log_dir: str) -> dict:
    """Per job group: jobs, stages that ran, and task totals."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    stage_group: dict[int, str | None] = {}
    out: dict = defaultdict(lambda: defaultdict(int))
    stages_ran: dict[str | None, set] = defaultdict(set)
    for path in files:
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    g = out[group]
                    stages_ran[group].add(ev.get("Stage ID"))
                    g["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["executor_run_ms"] += m.get("Executor Run Time", 0)
                    g["result_bytes"] += m.get("Result Size", 0)
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for group, s in stages_ran.items():
        out[group]["stages"] = len(s)
    return {k: dict(v) for k, v in out.items()}


class SpanIndex:
    """Spans joined with the event log's per-group totals."""

    def __init__(self, spans: list[dict], groups: dict):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self.groups = groups

    def dur_ms(self, s) -> float:
        return (s["end"] - s["start"]) * 1000.0

    def self_ms(self, s) -> float:
        return self.dur_ms(s) - sum(self.dur_ms(c) for c in self.children[s["id"]])

    def timed(self, name=None, op_name=None):
        return [
            s
            for s in self.spans
            if s["phase"] == "timed"
            and (name is None or s["name"] == name)
            and (op_name is None or s["op_name"] == op_name)
        ]

    def subtree_groups(self, s) -> set:
        out, todo = set(), [s]
        while todo:
            x = todo.pop()
            if x["group"]:
                out.add(x["group"])
            todo += self.children[x["id"]]
        return out

    def spark(self, spans, field: str) -> float:
        groups: set = set()
        for s in spans:
            groups |= self.subtree_groups(s)
        return float(sum(self.groups.get(g, {}).get(field, 0) for g in groups))


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (ms) from the executed query's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            p = phases.apply(k)
            out[k] = float(p.endTimeMs() - p.startTimeMs())
    return out
