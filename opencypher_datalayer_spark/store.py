"""GraphStore: the property graph as two DataFrames, with the reference's
write semantics implemented as native DataFrame operations.

The reference ships five Cypher templates to Neo4j per batch, in a fixed
order (reference ``neo4j.go:238-284``): tombstone deletes (C1), node
upsert + outgoing-edge clear + label + wholesale property replace (C2),
reference-target stub creation (C3), edge merge (C4); plus a filtered
bulk delete for full-sync wipes (C5, ``neo4j.go:125-127``) and a gid
index DDL (C6 — unnecessary here: uniqueness is enforced by the merge
itself, and file/partition pruning plays the index's role).

Here each template is a set-oriented DataFrame transform; one
``apply_batch`` call is the atomic unit the reference's per-batch
transaction was. It runs in two steps: ``prepare_batch`` evaluates the
batch side once, and ``GraphStore.apply_prepared`` merges it into the
store (``storage.merge_commit`` runs the two steps separately, so that
the batch's keys can also choose the files to rewrite).

Scale notes (100 TB, 1000 executors):

- The batch side is evaluated once per batch, in one Spark action: the
  in-batch dedup, property-key flattening and reference fan-out yield
  the live node items, the deduped edge items and ONE key frame of the
  batch's dead, live and target gids. Up to ``MERGE_MAX_BATCH_ROWS``
  deduped rows these are rebuilt as one-slice driver-local frames;
  above it the same frames are derived from a ``localCheckpoint`` of
  the deduped batch. Either way no store-side join re-runs the dedup.
- Every merge is batch-vs-store, and the batch side is small (a sync
  micro-batch), so it is explicitly ``F.broadcast``: node upsert, edge
  clear, and tombstone deletes are broadcast anti-joins against the key
  frame, never a full shuffle of the store.
- The store side is only ever filtered/anti-joined and unioned — no
  store-wide shuffle or sort in the write path at all.
- The C2 prior-labels lookup and the C3 stub-existence check are one
  broadcast semi-join of the store's nodes against the key frame (cost
  ~ one scan of nodes, which file-level pruning on gid ranges cuts
  further), materialized once like the batch. The label union and the
  stub projection are then joins of batch-sized frames.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opencypher_datalayer_spark.functions.localframe import local_df
from opencypher_datalayer_spark.functions.uri import strip_prop_keys, uri_localname
from opencypher_datalayer_spark.model import EDGES_SCHEMA, NODES_SCHEMA


def empty_nodes(spark: SparkSession) -> DataFrame:
    # plain empty LocalRelation — do NOT coalesce/repartition it: keeping
    # the relation recognizably empty lets PropagateEmptyRelation fold
    # away whole join/union branches in the first write statements
    # (measured: wrapping these in coalesce(1) made the Cypher write
    # roundtrip 5x slower by defeating that pruning)
    return spark.createDataFrame([], NODES_SCHEMA)


def labels_expr(df: DataFrame) -> F.Column:
    """The node's label SET as a non-null array column.

    Normalizes the two legacy shapes: frames with a null ``labels`` cell
    (rows created before the multi-label column, or ad-hoc test frames)
    fall back to the scalar ``label``; frames without the column at all
    (ad-hoc query graphs built straight from tabular data) are treated as
    single-label."""
    has_col = "labels" in df.columns
    base = F.col("labels") if has_col else F.lit(None).cast("array<string>")
    return F.coalesce(
        base,
        F.when(F.col("label").isNotNull(), F.array("label")).otherwise(
            F.array().cast("array<string>")
        ),
    )


def where_label(nodes: DataFrame, label: str) -> DataFrame:
    """Label scan with multi-label semantics: a node matches ``:Person``
    when Person is IN its label set (Neo4j ``SET n:%s`` accumulates,
    ``neo4j.go:107``) — not only when it was the latest write's label."""
    return nodes.where(F.array_contains(labels_expr(nodes), label))


def empty_edges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], EDGES_SCHEMA)


@dataclass(frozen=True)
class GraphStore:
    """Immutable snapshot of the graph; every write returns a new snapshot.

    Snapshot-per-commit is what a table format (Delta/Iceberg) gives on a
    cluster; the persistence half lives in ``storage.ParquetGraphStorage``
    (versioned directories + atomic CURRENT pointer swap).
    """

    nodes: DataFrame
    edges: DataFrame
    # Driver-maintained UPPER BOUND on max(nodes, edges) row count, or
    # None when unknown (e.g. a store loaded from storage). Not a
    # semantic field — the Cypher write planner uses it to pick the
    # small-store plan shape (broadcast the store side: one broadcast
    # per join site) over the scale-safe inversion (the store never
    # shuffles but every site pays two broadcasts of fixed driver
    # cost). Wrong-high is safe (falls back to the inversion);
    # wrong-low is impossible by construction (writes only add).
    size_hint: int | None = None

    @staticmethod
    def empty(spark: SparkSession) -> "GraphStore":
        return GraphStore(empty_nodes(spark), empty_edges(spark), size_hint=0)

    # ------------------------------------------------------------------
    # Write path
    # ------------------------------------------------------------------

    def apply_batch(self, batch: DataFrame, label: str, source: str) -> "GraphStore":
        """Apply one sync batch (entity envelope rows, ``model.ENTITY_SCHEMA``):
        :func:`prepare_batch` evaluates it once, :meth:`apply_prepared`
        merges it into the store."""
        return self.apply_prepared(prepare_batch(batch), label, source)

    def apply_prepared(self, prepared: "PreparedBatch", label: str, source: str) -> "GraphStore":
        """Merge a prepared batch into this store.

        Order is semantically load-bearing and mirrors the reference's
        single transaction: deletes -> node upserts -> target stubs ->
        edges (``neo4j.go:243-279``). The batch side is materialized, so
        every join below reads it without re-deriving it.
        """
        keys = prepared.keys
        # C1 + C2 remove the same store rows: every dead or live gid
        # (the dedup makes the two sets disjoint)
        batch_gids = keys.where(F.col("dead") | F.col("live")).select("gid")

        # One lookup of the store's nodes against the key frame serves
        # both store-dependent decisions: a live gid's prior label set
        # (C2) and whether a target already exists (C3). The store is
        # semi-joined against the broadcast keys, never the other way
        # round: anti-joining the keys against the store would plan as a
        # store-wide SortMergeJoin (the small side cannot be the build
        # side of an anti join). The result is batch-sized, so it is
        # materialized once like the batch.
        found = _materialize(
            self.nodes.join(F.broadcast(keys.select("gid")), "gid", "left_semi").select(
                "gid", labels_expr(self.nodes).alias("_prior_labels")
            ),
            prepared.local,
        )

        # --- C1: DETACH DELETE for tombstones (neo4j.go:95-99) and
        # --- C2: node merge + outgoing-edge clear + property replace
        # (neo4j.go:101-109). Replace-not-patch means the new row simply
        # supersedes the old one: broadcast anti-join + union. Labels are
        # the one accumulating field (``SET n:%s`` ADDS, neo4j.go:107):
        # the superseding row unions the prior label set with the batch
        # label.
        node_items = prepared.nodes.join(F.broadcast(found), "gid", "left").select(
            "gid",
            F.lit(label).alias("label"),
            F.array_sort(
                F.array_union(
                    F.coalesce("_prior_labels", F.array().cast("array<string>")),
                    F.array(F.lit(label)),
                )
            ).alias("labels"),
            F.lit(source).alias("source"),
            "props",
        )

        # --- C3: reference-target stubs (neo4j.go:111-114): every target
        # gets a gid-only node unless one exists after C1/C2, i.e. unless
        # it is live in this batch or found in the store and not deleted.
        stubs = (
            keys.where(F.col("target") & ~F.col("live"))
            .join(F.broadcast(found), "gid", "left")
            .where(F.col("dead") | F.col("_prior_labels").isNull())
            .select(
                "gid",
                F.lit(None).cast("string").alias("label"),
                F.array().cast("array<string>").alias("labels"),  # MERGE adds no label
                F.lit(None).cast("string").alias("source"),
                F.create_map().cast("map<string,string>").alias("props"),
            )
        )
        nodes = (
            _anti_by_gid(self.nodes, batch_gids)
            .unionByName(node_items, allowMissingColumns=True)
            .unionByName(stubs, allowMissingColumns=True)
        )

        # --- C4: edge merge (neo4j.go:116-123). Edges leaving a dead or
        # live gid and edges entering a dead gid are gone; both endpoints
        # of every new edge exist by construction (src is live, dst has
        # a stub), so the MATCH endpoint check is a no-op and a plain
        # union is the merge.
        edges = (
            self.edges.join(
                F.broadcast(batch_gids.withColumnRenamed("gid", "src")), "src", "left_anti"
            )
            .join(
                F.broadcast(keys.where("dead").select(F.col("gid").alias("dst"))),
                "dst",
                "left_anti",
            )
            .unionByName(prepared.edges.withColumn("source", F.lit(source)))
        )
        return GraphStore(nodes, edges)

    def delete_all(self, label: str, source: str) -> "GraphStore":
        """C5 filtered bulk delete (full-sync wipe, ``neo4j.go:125-127``):
        drop every node with this label AND source, detaching its edges."""
        # ``MATCH (n:%s {source: $source})`` matches via the label SET
        doomed = F.array_contains(labels_expr(self.nodes), label) & F.col(
            "source"
        ).eqNullSafe(source)
        doomed_gids = self.nodes.where(doomed).select("gid")
        return GraphStore(self.nodes.where(~doomed), _detach_edges(self.edges, doomed_gids))

    # ------------------------------------------------------------------
    # Maintenance
    # ------------------------------------------------------------------

    def checkpointed(self) -> "GraphStore":
        """Truncate lineage after a batch chain (local analog of a table
        commit): without this, N applied batches build an N-deep plan."""
        return GraphStore(
            self.nodes.localCheckpoint(),
            self.edges.localCheckpoint(),
            size_hint=self.size_hint,
        )

    def counts(self) -> tuple[int, int]:
        return self.nodes.count(), self.edges.count()


# Above this many deduped batch rows, keeping the batch and its keys on
# the driver stops being metadata-scale: the prepared frames are
# checkpointed instead, and ``merge_commit`` takes the full-commit path.
MERGE_MAX_BATCH_ROWS = 100_000

_NODE_ITEMS = "gid string, props map<string,string>"
_EDGE_ITEMS = "src string, rel_type string, dst string"
_KEYS = "gid string, dead boolean, live boolean, target boolean"


@dataclass(frozen=True)
class PreparedBatch:
    """One sync batch, evaluated once (:func:`prepare_batch`).

    - ``nodes`` (gid, props): the live node items, property keys flattened;
    - ``edges`` (src, rel_type, dst): the edge items, MERGE-deduped;
    - ``keys`` (gid, dead, live, target): one row per gid the batch
      touches — the single key frame every store-side join reads.

    ``dead``/``live``/``targets`` are the same keys as sorted driver
    lists when the batch was small enough to collect (the frames are
    then driver-local), else ``None`` (the frames then read a checkpoint
    of the deduped batch, and the key frame is checkpointed itself).
    """

    nodes: DataFrame
    edges: DataFrame
    keys: DataFrame
    dead: list[str] | None = None
    live: list[str] | None = None
    targets: list[str] | None = None

    @property
    def local(self) -> bool:
        return self.dead is not None


def prepare_batch(batch: DataFrame) -> PreparedBatch:
    """Evaluate a sync batch once: W3-W7 of the reference
    (``neo4j.go:186-228``) in one Spark action.

    The batch is deduped (:func:`_dedup_keep_last`), its property keys
    flattened (W4) and each live entity's references fanned out to
    distinct (rel_type, dst) pairs (W5/W6). After the dedup each gid is
    one row, so a row-local ``array_distinct`` is the MERGE dedup on
    (src, rel_type, dst) and needs no second shuffle.

    At most ``MERGE_MAX_BATCH_ROWS`` deduped rows are collected and the
    frames rebuilt on the driver, so every later join reads a one-slice
    local relation instead of re-running the dedup. A larger batch
    derives the same frames from a ``localCheckpoint`` of the deduped
    rows (computing the dedup a second time, once, for the checkpoint).
    """
    deduped = _dedup_keep_last(batch).select(
        "id",
        "deleted",
        strip_prop_keys("props").alias("props"),
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.map_entries("refs"),
                    lambda ref: F.transform(
                        F.coalesce(ref["value"], F.array().cast("array<string>")),
                        lambda dst: F.struct(
                            uri_localname(ref["key"]).alias("rel_type"), dst.alias("dst")
                        ),
                    ),
                )
            )
        ).alias("edges"),
    )
    rows = deduped.limit(MERGE_MAX_BATCH_ROWS + 1).collect()
    if len(rows) > MERGE_MAX_BATCH_ROWS:
        return _prepared_checkpointed(deduped.localCheckpoint())

    spark = batch.sparkSession
    live_rows = [r for r in rows if not r["deleted"]]
    edge_rows = [(r["id"], e["rel_type"], e["dst"]) for r in live_rows for e in r["edges"] or ()]
    dead = {r["id"] for r in rows if r["deleted"]}
    live = {r["id"] for r in live_rows}
    targets = {dst for _src, _rel, dst in edge_rows}
    key_rows = [
        (g, g in dead, g in live, g in targets) for g in sorted(dead | live | targets)
    ]
    return PreparedBatch(
        local_df(spark, [(r["id"], r["props"]) for r in live_rows], _NODE_ITEMS, n_slices=1),
        local_df(spark, edge_rows, _EDGE_ITEMS, n_slices=1),
        local_df(spark, key_rows, _KEYS, n_slices=1),
        sorted(dead),
        sorted(live),
        sorted(targets),
    )


def _prepared_checkpointed(deduped: DataFrame) -> PreparedBatch:
    live = deduped.where(~F.col("deleted"))
    edges = live.select(F.col("id").alias("src"), F.explode("edges").alias("e")).select(
        "src", "e.rel_type", "e.dst"
    )
    keys = (
        deduped.select(
            F.col("id").alias("gid"),
            F.col("deleted").alias("dead"),
            (~F.col("deleted")).alias("live"),
            F.lit(False).alias("target"),
        )
        .unionByName(
            edges.select(
                F.col("dst").alias("gid"),
                F.lit(False).alias("dead"),
                F.lit(False).alias("live"),
                F.lit(True).alias("target"),
            )
        )
        .groupBy("gid")
        .agg(*(F.max(c).alias(c) for c in ("dead", "live", "target")))
    )
    return PreparedBatch(
        live.select(F.col("id").alias("gid"), "props"), edges, keys.localCheckpoint()
    )


def _materialize(df: DataFrame, local: bool) -> DataFrame:
    """A batch-sized frame computed once: rebuilt on the driver as one
    slice when the batch is driver-local, else checkpointed."""
    if local:
        return local_df(df.sparkSession, df.collect(), df.schema, n_slices=1)
    return df.localCheckpoint()


def _dedup_keep_last(batch: DataFrame) -> DataFrame:
    """A gid repeated within one batch resolves to its last LIVE
    occurrence; a tombstone only wins when every occurrence is one.

    This mirrors the reference's transaction order (``neo4j.go:243-279``):
    C1 deletes run before C2 upserts in the same txn, so a gid that is
    both tombstoned and upserted in one batch always ends up live — a
    trailing tombstone does NOT delete it. Ordering by (live first,
    then _seq desc) reproduces that in one window pass.
    """
    w = Window.partitionBy("id").orderBy(F.col("deleted").asc(), F.col("_seq").desc())
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _anti_by_gid(nodes: DataFrame, gids: DataFrame) -> DataFrame:
    return nodes.join(F.broadcast(gids), "gid", "left_anti")


def _detach_edges(edges: DataFrame, gids: DataFrame) -> DataFrame:
    """Remove every edge incident (either direction) to the given gids."""
    return edges.join(
        F.broadcast(gids.withColumnRenamed("gid", "src")), "src", "left_anti"
    ).join(F.broadcast(gids.withColumnRenamed("gid", "dst")), "dst", "left_anti")
