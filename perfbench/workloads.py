"""The four closed-loop workloads. Each drives the engine only through
its public functions, with one client that waits for every call.

A workload object goes through ``setup(rep)`` (called several times;
the last one is used), ``warmup()``, a fixed number of ``step()``
calls, then ``check()``. ``step`` records ``(seconds, steal
share)`` samples in ``op_s`` (the workload's unit operation) and
``aux_s`` (its secondary call) and returns the number of items it
pushed through. Checks run outside the timed region and return the
indices of wrong operations.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from perfbench import checks, gen, trace

now = time.perf_counter


def _steal_and_total() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class Workload:
    op_name = "op"  # the timed op's span name
    item_unit = "items/s"
    setup_reps = 3
    min_ops = 2
    step_s: float  # one step's duration on a 4-core host; sets the step count

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.op_s: list[float] = []
        self.aux_s: list[float] = []
        self.errors: list[str] = []  # wrong results, one line each

    def _time(self, samples: list, call):
        """Run ``call``, append (seconds, steal share of the host's CPU
        during the call) to ``samples``, and return its result."""
        steal0, total0 = _steal_and_total()
        t0 = now()
        out = call()
        dt = now() - t0
        steal1, total1 = _steal_and_total()
        samples.append((dt, (steal1 - steal0) / max(1, total1 - total0)))
        return out

    def _dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def extra_attempts(self) -> int:
        """Checked ops outside the timed loop (warm-up ops, final checks)."""
        return 0

    def layer_metrics(self, idx) -> dict:
        return {}


# -- uda_sync -----------------------------------------------------------

UDA_CONFIG = {
    "dataset_definitions": [
        {"name": "people", "source_config": {"label": "Person", "batch_size": 1000}},
        {"name": "orgs", "source_config": {"label": "Organisation", "batch_size": 1000}},
    ]
}
LABELS = {"people": "Person", "orgs": "Organisation"}
LOOKUPS_PER_FLUSH = 3


def _current_dir(root: str) -> str:
    """The directory of a storage root's committed snapshot."""
    from opencypher_datalayer_spark.storage import open_storage

    storage = open_storage(root)
    return storage._version_dir(storage.current_version())


def _tree(root: str) -> dict:
    """relpath -> (inode, size) of every parquet data file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


class UdaSync(Workload):
    """Incremental batches after a full sync of a seeded population, with
    read-your-writes ``get_entities`` calls after every flush."""

    op_name = "flush"
    item_unit = "entities/s"
    step_s = 3.5

    def setup(self, rep: int) -> None:
        from opencypher_datalayer_spark import DataLayer

        self.root = self._dir(f"uda{rep}")
        self.layer = DataLayer(self.spark, UDA_CONFIG, storage_root=self.root)
        self.stream = gen.UdaStream(self.seed)
        self.population = self.stream.full_sync()
        self.batches: list[tuple[str, list[dict]]] = []
        self.lookups: list[list[tuple[list[str], list]]] = []
        self.rng = random.Random(self.seed + 1)
        self.storage_stats: list[dict] = []

    def warmup(self) -> None:
        """The full sync (a start batch that wipes, then the population)
        on the measured store: it pays the cold-start cost of every call
        the timed batches make, and its result is checked with the rest."""
        from opencypher_datalayer_spark.ingest import BatchInfo

        t0 = now()
        w = self.layer.dataset("people").full_sync(BatchInfo("sync-1", True, True))
        for e in self.population:
            w.write(e)
        w.close()
        self.fullsync_s = now() - t0
        self.layer.get_entities([self.population[0]["id"]]).collect()

    def _storage_sample(self, before: dict, n_entities: int) -> None:
        after = _tree(_current_dir(self.root))
        inodes = {ino for ino, _ in before.values()}
        new = {p: s for p, (ino, s) in after.items() if ino not in inodes}
        self.storage_stats.append(
            {
                "files": len(after),
                "rewritten": len(new),
                "bytes_written": sum(new.values()),
                "bytes_stored": sum(s for _, s in after.values()),
                "entities": n_entities,
            }
        )

    def step(self) -> int:
        tr = self.tracer
        ds, ents = self.stream.next_batch()
        self.batches.append((ds, ents))
        before = _tree(_current_dir(self.root)) if tr.enabled else None

        def flush():
            with tr.op("flush"):
                w = self.layer.dataset(ds).incremental()
                for e in ents:
                    w.write(e)
                w.close()

        self._time(self.op_s, flush)
        if tr.enabled:
            self._storage_sample(before, len(ents))
        looked = []
        for _ in range(LOOKUPS_PER_FLUSH):
            gids = [ents[self.rng.randrange(len(ents))]["id"] for _ in range(5)]

            def lookup():
                with tr.op("lookup"):
                    return self.layer.get_entities(gids).collect()

            looked.append((gids, self._time(self.aux_s, lookup)))
        self.lookups.append(looked)
        if tr.enabled:
            from opencypher_datalayer_spark.storage import open_storage

            files, _total = open_storage(self.root).pruned_files("nodes", looked[0][0])
            self.storage_stats[-1]["lookup_files"] = len(files)
        return len(ents)

    def check(self) -> list[int]:
        model = checks.UdaModel()
        bad_ops = []
        model.wipe("Person", "people")
        model.apply(self.population, "Person", "people")
        for i, ((ds, ents), looked) in enumerate(zip(self.batches, self.lookups)):
            model.apply(ents, LABELS[ds], ds)
            errs = [e for gids, rows in looked for e in checks.check_lookup(model, gids, rows)]
            if errs:
                bad_ops.append(i)
                self.errors += errs[:3]
        store = self.layer.store
        errs = checks.check_store(model, store.nodes.collect(), store.edges.collect())
        if errs:
            bad_ops.append(len(self.batches))
            self.errors += errs[:5]
        self.final_nodes = len(model.nodes)
        return bad_ops

    def extra_attempts(self) -> int:
        return 1  # the final whole-store check

    def layer_metrics(self, idx) -> dict:
        n = max(1, len(self.op_s))
        flushes = idx.timed(name="flush")
        m = {}

        def per_flush(span_name):
            return sum(idx.dur_ms(s) for s in idx.timed(name=span_name, op_name="flush")) / n

        ents = sum(len(e) for _, e in self.batches) or 1
        m["model.normalize_us_per_entity"] = per_flush("model.normalize_entity") * 1000.0 * n / ents
        m["localframe.local_df_ms_per_flush"] = per_flush("localframe.local_df")
        m["ingest.flush_self_ms"] = sum(idx.self_ms(s) for s in idx.timed(name="ingest.flush", op_name="flush")) / n
        m["storage.merge_commit_ms"] = per_flush("storage.merge_commit")
        m["store.apply_batch_ms"] = per_flush("store.apply_batch")
        m["storage.load_ms"] = per_flush("storage.load")
        st = self.storage_stats
        if st:
            m["storage.files_rewritten_share"] = sum(s["rewritten"] / max(1, s["files"]) for s in st) / len(st)
            m["storage.bytes_written_per_entity"] = sum(s["bytes_written"] for s in st) / sum(s["entities"] for s in st)
            m["storage.files_per_version"] = float(st[-1]["files"])
            m["storage.lookup_files_read"] = sum(s.get("lookup_files", 0) for s in st) / len(st)
            m["storage.bytes_stored_per_entity"] = st[-1]["bytes_stored"] / max(1, self.final_nodes)
        for f in SPARK_FIELDS:
            m[f"spark.{f}_per_flush"] = idx.spark(flushes, f) / n
        return m


SPARK_FIELDS = ["jobs", "stages", "tasks", "shuffle_bytes", "executor_run_ms", "result_bytes"]


# -- cypher_read --------------------------------------------------------

POINT = [name for name, _ in gen.READ_TEMPLATES].index("point_gid")


class CypherRead(Workload):
    """Seeded ``DataLayer.query`` statements over the committed sf0.1
    star graph, timed from the call through ``collect()``."""

    op_name = "read"
    item_unit = "statements/s"
    setup_reps = 2
    min_ops = 8  # one round of every template
    step_s = 0.95

    def setup(self, rep: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from opencypher_datalayer_spark import DataLayer
        from opencypher_datalayer_spark.sources.tabular import graph_from_tables
        from opencypher_datalayer_spark.storage import open_storage

        tables = gen.star_tables(self.seed)
        sf = self._dir(f"sf{rep}")
        for name, cols in tables.items():
            pq.write_table(pa.table(cols), os.path.join(sf, f"{name}.parquet"))
        self.root = self._dir(f"graph{rep}")
        open_storage(self.root).commit(graph_from_tables(self.spark, sf))
        self.layer = DataLayer(self.spark, storage_root=self.root)
        self.stream = gen.read_stream(self.seed, tables)
        self.n_orders = len(tables["orders"]["o_orderkey"])
        self.point_rng = random.Random(self.seed + 1)
        self.i = 0
        self.reads: list[tuple[int, dict, list]] = []
        self.phases: list[dict] = []
        self.returned_rows = 0

    def _read(self, t: int, params: dict):
        df = self.layer.query(gen.READ_TEMPLATES[t][1], params)
        rows = df.collect()
        return df, rows

    def warmup(self) -> None:
        """Every template once: the stream's leading round. The timed
        reads continue the stream after it."""
        self.i = gen.warmup_len(self.stream)
        for t, p in self.stream[: self.i]:
            self._read(t, p)

    def step(self) -> int:
        t, params = self.stream[self.i % len(self.stream)]
        self.i += 1

        def read(name, t, params):
            with self.tracer.op(name):
                return self._read(t, params)

        df, rows = self._time(self.op_s, lambda: read("read", t, params))
        self.reads.append((t, params, rows))
        if self.tracer.enabled:
            self.phases.append(trace.catalyst_phases(df))
            self.returned_rows += len(rows)
        point = {"gid": f"urn:graft/order/{self.point_rng.randrange(1, self.n_orders + 1)}"}
        _df, rows = self._time(self.aux_s, lambda: read("point_read", POINT, point))
        self.reads.append((POINT, point, rows))
        return 2

    def check(self) -> list[int]:
        oracle = checks.CypherOracle(_current_dir(self.root))
        expected: dict = {}
        bad = []
        try:
            for i, (t, params, rows) in enumerate(self.reads):
                name = gen.READ_TEMPLATES[t][0]
                key = (t, tuple(sorted(params.items())))
                if key not in expected:
                    expected[key] = oracle.expected(name, params)
                errs = checks.check_read(expected[key], rows, name)
                if errs:
                    bad.append(i)
                    self.errors += errs
        finally:
            oracle.close()
        return bad

    def layer_metrics(self, idx) -> dict:
        n = max(1, len(self.op_s))
        reads = idx.timed(name="read")
        m = {
            "cypher.parse_ms": sum(idx.dur_ms(s) for s in idx.timed(name="cypher.parse", op_name="read")) / n,
            "cypher.build_ms": sum(idx.dur_ms(s) for s in idx.timed(name="cypher.build", op_name="read")) / n,
            "spark.eager_jobs_per_read": idx.spark(idx.timed(name="ingest.query", op_name="read"), "jobs") / n,
            "spark.input_bytes_per_read": idx.spark(reads, "input_bytes") / n,
            "spark.rows_examined_per_row_returned": idx.spark(reads, "input_records") / max(1, self.returned_rows),
        }
        for k in ("analysis", "optimization", "planning"):
            vals = [p.get(k, 0.0) for p in self.phases]
            m[f"catalyst.{k}_ms"] = sum(vals) / max(1, len(vals))
        loads = [s for s in idx.spans if s["name"] == "storage.load" and s["phase"] == "setup"]
        if loads:
            m["storage.load_ms"] = idx.dur_ms(loads[-1])
        for f in SPARK_FIELDS:
            m[f"spark.{f}_per_read"] = idx.spark(reads, f) / n
        return m


# -- curation_stream ----------------------------------------------------

MIN_TOKENS = 16
MIN_ALPHA = 0.8
TOPK = 10
WARM_EPOCHS = 2


class CurationStream(Workload):
    """``StreamingCleanIngest.apply`` per micro-batch, then one BM25
    top-k probe against the index the stream has built so far."""

    op_name = "epoch"
    item_unit = "docs/s"
    step_s = 2.9

    def setup(self, rep: int) -> None:
        from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
        from opencypher_datalayer_spark.streaming.clean_ingest import StreamingCleanIngest

        self.root = self._dir(f"cur{rep}")
        store = ArtifactStore(os.path.join(self.root, "store"))
        self.sink = StreamingCleanIngest(
            self.spark, os.path.join(self.root, "state"), store, "bm25_index", ("stream",), MIN_TOKENS, MIN_ALPHA
        )
        self.stream = gen.DocStream(self.seed)
        self.epochs: list[list[tuple[int, str]]] = []
        self.probes: list[tuple[list[str], list]] = []
        self.artifact_bytes: list[int] = []

    def _frame(self, docs):
        import pandas as pd

        pdf = pd.DataFrame({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]})
        return self.spark.createDataFrame(pdf, "doc_id long, text string")

    def _probe(self, epoch: int, terms: list[str]):
        import pandas as pd

        from opencypher_datalayer_spark.operators import bm25_index

        q = self.spark.createDataFrame(pd.DataFrame({"q_id": [-1 - epoch], "toks": [terms]}), "q_id long, toks array<string>")
        with self.tracer.span("bm25.probe", "operators.bm25_index"):
            return bm25_index.bm25_topk(self.spark, self.sink.index_dir(), q, TOPK).collect()

    def warmup(self) -> None:
        """The stream's first two epochs (the initial index build and the
        first extension) and one probe, on the measured sink: they pay
        the cold-start cost and are checked with the rest."""
        for _ in range(WARM_EPOCHS):
            self._epoch([], [])

    def _epoch(self, epoch_samples: list, probe_samples: list) -> int:
        e = len(self.epochs)
        docs = self.stream.next_epoch()
        terms = self.stream.probe_terms()
        batch = self._frame(docs)

        def apply():
            with self.tracer.op("epoch"):
                self.sink.apply(batch, e)

        def probe():
            with self.tracer.op("probe"):
                return self._probe(e, terms)

        self._time(epoch_samples, apply)
        self.epochs.append(docs)
        self.probes.append((terms, self._time(probe_samples, probe)))
        if self.tracer.enabled:
            self.artifact_bytes.append(_dir_bytes(os.path.join(self.root, "store")))
        return len(docs)

    def step(self) -> int:
        return self._epoch(self.op_s, self.aux_s)

    def check(self) -> list[int]:
        from opencypher_datalayer_spark.operators import bm25_index
        from opencypher_datalayer_spark.operators import minhash as mh
        from opencypher_datalayer_spark.streaming import neardup

        model = checks.CurationModel(MIN_TOKENS, MIN_ALPHA, mh, neardup.AGREE_R, bm25_index.K1, bm25_index.B, bm25_index.SCALE)
        kept_rows = self.sink.kept().select("doc_id", "epoch").collect()
        by_epoch: dict = {}
        for r in kept_rows:
            by_epoch.setdefault(int(r["epoch"]), []).append(int(r["doc_id"]))
        bad = []
        for e, docs in enumerate(self.epochs):
            keep = model.epoch(docs)
            errs = checks.check_kept(keep, by_epoch.get(e, []))
            terms, rows = self.probes[e]
            errs += checks.check_probe(model.topk(-1 - e, terms, TOPK), rows, TOPK)
            if errs:
                bad.append(e)
                self.errors += errs
        self.model = model
        return bad

    def extra_attempts(self) -> int:
        return 2 * WARM_EPOCHS  # the checked warm-up epochs and probes

    def layer_metrics(self, idx) -> dict:
        n = max(1, len(self.op_s))
        epochs = idx.timed(name="epoch")
        probes = idx.timed(name="probe")
        model = self.model
        planted = [d for d in self.stream.planted if d < model.n_docs and model.quality(self.stream.texts[d])]
        kept = set(model.kept)
        eligible = [d for d in planted if self.stream.planted[d] in kept]
        extends = idx.timed(name="bm25.extend")
        ext_docs = sum(len(set(model.kept) & {d for d, _ in ep}) for ep in self.epochs[1:]) or 1
        grow = [b - a for a, b in zip(self.artifact_bytes, self.artifact_bytes[1:])]
        commit_spans = idx.timed(name="artifacts.commit") + idx.timed(name="artifacts.commit_extension")
        attempts = [s for s in idx.timed(name="artifacts.attempt") if idx.by_id.get(s["parent"], {}).get("name") == "artifacts.commit_extension"]
        m = {
            "minhash.signatures_ms_per_epoch": sum(idx.dur_ms(s) for s in idx.timed(name="minhash.signatures_for")) / n,
            "neardup.apply_ms_per_epoch": sum(idx.dur_ms(s) for s in idx.timed(name="neardup.apply")) / n,
            "neardup.kept_share": len(model.kept) / max(1, model.n_quality),
            "neardup.planted_recall": sum(1 for d in eligible if d not in kept) / max(1, len(eligible)),
            "clean.quality_pass_share": model.n_quality / max(1, model.n_docs),
            "bm25.extend_ms_per_epoch": sum(idx.dur_ms(s) for s in extends) / n,
            "bm25.extend_bytes_per_doc": sum(grow) / ext_docs if grow else 0.0,
            "bm25.probe_ms": sum(idx.dur_ms(s) for s in idx.timed(name="bm25.probe")) / max(1, len(probes)),
            "bm25.probe_input_bytes": idx.spark(probes, "input_bytes") / max(1, len(probes)),
            "bm25.generations_end": float((self.sink.compact_signal() or {}).get("generations", 0)),
            "artifacts.commits": float(len(commit_spans)),
            "artifacts.cas_retries": float(len(attempts) - len(idx.timed(name="artifacts.commit_extension"))),
        }
        for f in SPARK_FIELDS:
            m[f"spark.{f}_per_epoch"] = idx.spark(epochs, f) / n
        return m


def _dir_bytes(root: str) -> int:
    total = 0
    seen = set()
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_ino not in seen:  # hard-linked carry-forward counts once
                seen.add(st.st_ino)
                total += st.st_size
    return total


# -- graph_analytics ----------------------------------------------------

PR_ITER = 5
LP_ITER = 3
BFS_HOPS = 4
CC_CALLS_PER_PASS = 5
LAYER_OF = {
    "graph.pagerank": "operators.graph_algorithms",
    "graph.label_prop": "operators.graph_algorithms",
    "graph.bfs": "operators.graph_algorithms",
    "graph.triangles": "operators.graph_algorithms",
    "components.cc": "operators.components",
}


class GraphAnalytics(Workload):
    """Repeated passes of five graph algorithms over a seeded power-law
    graph, each result collected to the driver. After each pass, a few
    standalone ``connected_components`` calls are the secondary call."""

    op_name = "pass"
    item_unit = "edges/s"
    min_ops = 1
    step_s = 6.0

    def setup(self, rep: int) -> None:
        from collections import Counter

        import pandas as pd
        from pyspark.sql import functions as F

        self.edges = gen.power_law_graph(self.seed)
        pdf = pd.DataFrame({"src": [u for u, _ in self.edges], "dst": [v for _, v in self.edges]})
        self.e = self.spark.createDataFrame(pdf, "src long, dst long").localCheckpoint()
        self.sym = self.e.union(self.e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).localCheckpoint()
        deg = Counter(u for e in self.edges for u in e)
        self.source = min(deg, key=lambda v: (-deg[v], v))
        self.results: list[dict] = []
        self.cc_results: list[list] = []

    def _pass(self) -> dict:
        from opencypher_datalayer_spark.operators import components, graph_algorithms as ga

        runs = [
            ("pagerank", "graph.pagerank", lambda: ga.pagerank_fixedpoint(self.e, n_iter=PR_ITER)),
            ("label_prop", "graph.label_prop", lambda: ga.label_propagation(self.sym, n_iter=LP_ITER)),
            ("bfs", "graph.bfs", lambda: ga.bfs_distances(self.sym, self.source, BFS_HOPS)),
            ("triangles", "graph.triangles", lambda: ga.triangle_count(self.e)),
            ("components", "components.cc", lambda: components.connected_components(self.e)),
        ]
        out = {}
        for key, span, call in runs:
            # the span covers the call and the collect that materializes it
            with self.tracer.span(span, LAYER_OF[span]):
                out[key] = call().collect()
        return out

    def warmup(self) -> None:
        # one full pass: a reduced pass leaves the first timed pass
        # measurably slower than the later ones
        self._pass()

    def step(self) -> int:
        from opencypher_datalayer_spark.operators import components

        def one_pass():
            with self.tracer.op("pass"):
                return self._pass()

        def cc():
            with self.tracer.op("cc"):
                return components.connected_components(self.e).collect()

        self.results.append(self._time(self.op_s, one_pass))
        for _ in range(CC_CALLS_PER_PASS):
            self.cc_results.append(self._time(self.aux_s, cc))
        return len(self.edges)

    def check(self) -> list[int]:
        from opencypher_datalayer_spark.operators import graph_algorithms as ga

        want = checks.graph_expected(
            self.edges, PR_ITER, LP_ITER, self.source, BFS_HOPS, (ga.PR_SCALE, ga.PR_DAMPING_NUM, ga.PR_DAMPING_DEN)
        )
        bad = []
        for i, r in enumerate(self.results):
            got = {
                "pagerank": {int(x["id"]): int(x["rank"]) for x in r["pagerank"]},
                "label_prop": {int(x["id"]): int(x["label"]) for x in r["label_prop"]},
                "bfs": {int(x["id"]): int(x["dist"]) for x in r["bfs"]},
                "triangles": int(r["triangles"][0]["n_triangles"]),
                "components": {int(x["id"]): int(x["comp"]) for x in r["components"]},
            }
            errs = checks.check_graph(want, got)
            if errs:
                bad.append(i)
                self.errors += errs
        for i, rows in enumerate(self.cc_results):
            errs = checks.check_graph({"components": want["components"]}, {"components": {int(x["id"]): int(x["comp"]) for x in rows}})
            if errs:
                bad.append(len(self.results) + i)
                self.errors += errs
        return bad

    def layer_metrics(self, idx) -> dict:
        n = max(1, len(self.op_s))
        passes = idx.timed(name="pass")
        m = {}
        for key, span in (
            ("graph.pagerank", "graph.pagerank"),
            ("graph.label_prop", "graph.label_prop"),
            ("graph.bfs", "graph.bfs"),
            ("graph.triangles", "graph.triangles"),
            ("components.cc", "components.cc"),
        ):
            spans = idx.timed(name=span)
            m[f"{key}_ms"] = sum(idx.dur_ms(s) for s in spans) / n
            m[f"{key}_jobs"] = idx.spark(spans, "jobs") / n
            m[f"{key}_shuffle_bytes"] = idx.spark(spans, "shuffle_bytes") / n
        m["components.cc_result_bytes"] = idx.spark(idx.timed(name="components.cc"), "result_bytes") / n
        for f in SPARK_FIELDS:
            m[f"spark.{f}_per_pass"] = idx.spark(passes, f) / n
        return m


WORKLOADS = {
    "uda_sync": UdaSync,
    "cypher_read": CypherRead,
    "curation_stream": CurationStream,
    "graph_analytics": GraphAnalytics,
}
