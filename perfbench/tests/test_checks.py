"""Every checker accepts a right result and rejects a planted wrong one.
No Spark session is started: the checkers are pure Python and DuckDB.

    python3 -m pytest perfbench/tests -q
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen

NS = gen.NS


# -- uda_sync -------------------------------------------------------------


def _row(gid, label, labels, source, props):
    return {"gid": gid, "label": label, "labels": labels, "source": source, "props": props}


def _edge(src, rel, dst, source):
    return {"src": src, "rel_type": rel, "dst": dst, "source": source}


def test_uda_model_reference_semantics():
    m = checks.UdaModel()
    a, b, c = f"{NS}/things/a", f"{NS}/things/b", f"{NS}/ext/c"
    m.apply(
        [
            {"id": a, "props": {f"{NS}/name": "x", f"{NS}/age": 3}, "refs": {f"{NS}/knows": [b, c]}},
            {"id": b, "props": {f"{NS}/ok": True}, "refs": {f"{NS}/knows": a}},
            {"id": a, "props": {f"{NS}/name": "y"}, "refs": {f"{NS}/knows": [c]}},  # last write wins
        ],
        "Person",
        "people",
    )
    assert m.node_row(a) == (a, "Person", ("Person",), "people", {"name": "y"})
    assert m.node_row(b)[4] == {"ok": "true"}
    assert m.node_row(c) == (c, None, (), None, {})  # dangling target stub
    assert set(m.edges) == {(a, "knows", c), (b, "knows", a)}
    m.apply([{"id": b, "props": {}, "refs": {}}], "Org", "orgs")
    assert m.node_row(b)[2] == ("Org", "Person")  # labels accumulate
    assert set(m.edges) == {(a, "knows", c)}  # outgoing edges of b cleared
    m.apply([{"id": a, "deleted": True}], "Person", "people")
    assert m.node_row(a) is None and not m.edges  # tombstone detaches
    # a tombstone and a live write of one id in one batch: the id stays live
    m.apply([{"id": b, "deleted": True}, {"id": b, "props": {}, "refs": {}}], "Person", "people")
    assert m.node_row(b) is not None
    m.wipe("Person", "people")
    assert m.node_row(b) is None


def test_uda_checks_reject_planted_errors():
    m = checks.UdaModel()
    a, b = f"{NS}/things/a", f"{NS}/things/b"
    m.apply([{"id": a, "props": {f"{NS}/n": 1}, "refs": {f"{NS}/r": b}}], "Person", "people")
    nodes = [_row(a, "Person", ["Person"], "people", {"n": "1"}), _row(b, None, [], None, {})]
    edges = [_edge(a, "r", b, "people")]
    assert checks.check_store(m, nodes, edges) == []
    assert checks.check_lookup(m, [a], nodes[:1]) == []
    wrong_prop = [_row(a, "Person", ["Person"], "people", {"n": "2"}), nodes[1]]
    assert checks.check_store(m, wrong_prop, edges)
    assert checks.check_store(m, nodes, [])  # lost edge
    assert checks.check_store(m, nodes + nodes[:1], edges)  # duplicate gid
    assert checks.check_lookup(m, [a], [])  # read-your-writes miss
    assert checks.check_lookup(m, [a], [_row(a, "Person", ["Org", "Person"], "people", {"n": "1"})])


# -- cypher_read ----------------------------------------------------------


@pytest.fixture()
def snapshot(tmp_path):
    """A two-table committed snapshot in the storage layout."""
    nodes = [
        ("urn:graft/order/1", "Order", ["Order"], "sales", [("status", "F"), ("priority", "1-URGENT")]),
        ("urn:graft/customer/1", "Customer", ["Customer"], "crm", [("name", "C1"), ("mktsegment", "BUILDING"), ("acctbal", "10.00")]),
        ("urn:graft/nation/0", "Nation", None, "geo", [("name", "ALGERIA")]),
    ]
    for label in {n[1] for n in nodes}:
        d = tmp_path / "nodes" / f"label={label}"
        os.makedirs(d)
        rows = [n for n in nodes if n[1] == label]
        pq.write_table(
            pa.table(
                {
                    "gid": [r[0] for r in rows],
                    "labels": pa.array([r[2] for r in rows], pa.list_(pa.string())),
                    "source": [r[3] for r in rows],
                    "props": pa.array([r[4] for r in rows], pa.map_(pa.string(), pa.string())),
                }
            ),
            d / "part-0.parquet",
        )
    for rel, src, dst in [("placed_by", "urn:graft/order/1", "urn:graft/customer/1"), ("in_nation", "urn:graft/customer/1", "urn:graft/nation/0")]:
        d = tmp_path / "edges" / f"rel_type={rel}"
        os.makedirs(d)
        pq.write_table(pa.table({"src": [src], "dst": [dst], "source": ["x"]}), d / "part-0.parquet")
    oracle = checks.CypherOracle(str(tmp_path))
    yield oracle
    oracle.close()


def test_cypher_oracle_accepts_and_rejects(snapshot):
    want = snapshot.expected("point_gid", {"gid": "urn:graft/order/1"})
    assert want == [("F", "1-URGENT")]
    assert checks.check_read(want, [("F", "1-URGENT")], "point_gid") == []
    assert checks.check_read(want, [("O", "1-URGENT")], "point_gid")
    assert checks.check_read(want, [], "point_gid")
    want = snapshot.expected("varlen_path", {"gid": "urn:graft/order/1"})
    assert want == [("urn:graft/customer/1", 1), ("urn:graft/nation/0", 2)]
    assert checks.check_read(want, list(reversed(want)), "varlen_path")  # ORDER BY hops broken
    want = snapshot.expected("optional_collect", {"gid": "urn:graft/customer/1"})
    assert want == [("C1", ("urn:graft/order/1",), 1)]
    assert checks.check_read(want, [("C1", [], 0)], "optional_collect")
    want = snapshot.expected("exists", {"nation": "ALGERIA"})
    assert want == [(0,)]  # the one customer placed an order
    assert checks.check_read(want, [(1,)], "exists")


# -- curation_stream ------------------------------------------------------


def _curation_model():
    from opencypher_datalayer_spark.operators import bm25_index
    from opencypher_datalayer_spark.operators import minhash as mh
    from opencypher_datalayer_spark.streaming import neardup

    return checks.CurationModel(16, 0.8, mh, neardup.AGREE_R, bm25_index.K1, bm25_index.B, bm25_index.SCALE)


def test_curation_model_gates_and_rejects():
    s = gen.DocStream(5, epoch_docs=60, dup_share=0.0, junk_share=0.0)
    e0 = s.next_epoch()
    text = e0[0][1]
    junk = (1000, "too short")
    copy_now = (1001, text)  # near-dup of an accepted doc from epoch 0
    e1 = [junk, copy_now, (1002, s._fresh()), (1003, s._fresh())]
    e1.append((1004, e1[2][1]))  # within-batch duplicate: min id keeps
    m = _curation_model()
    keep0 = m.epoch(e0)
    assert checks.check_kept(keep0, keep0) == []
    keep1 = m.epoch(e1)
    assert 1000 not in keep1 and 1001 not in keep1 and 1004 not in keep1
    assert 1002 in keep1
    assert checks.check_kept(keep1, keep1 + [1001])  # planted: a near-dup kept
    assert checks.check_kept(keep1, keep1[1:])  # planted: a survivor lost
    top = m.topk(-1, text.split()[:6], 5)
    assert top and top[0][0] == e0[0][0]
    rows = [{"doc_id": d, "s_int": sc} for d, sc in top]
    assert checks.check_probe(top, rows, 5) == []
    rows[0]["s_int"] += 1
    assert checks.check_probe(top, rows, 5)


def test_curation_signature_is_md5_minhash():
    from opencypher_datalayer_spark.operators import minhash as mh

    m = _curation_model()
    sig, bands = m.signature("short")
    h = int(__import__("hashlib").md5(b"short").hexdigest()[:15], 16) % mh.P
    assert sig[0] == (mh.MINHASH_A[0] * h + mh.MINHASH_B[0]) % mh.P
    assert len(bands) == mh.BANDS


# -- graph_analytics ------------------------------------------------------


def test_graph_expected_and_rejects():
    edges = [(1, 2), (2, 3), (3, 1), (4, 5)]
    want = checks.graph_expected(edges, 3, 3, 1, 2, (10**9, 85, 100))
    assert want["triangles"] == 1
    assert want["components"] == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert want["bfs"] == {1: 0, 2: 1, 3: 1}
    got = {k: (dict(v) if isinstance(v, dict) else v) for k, v in want.items()}
    assert checks.check_graph(want, got) == []
    got["pagerank"][1] += 1
    assert checks.check_graph(want, got)
    got = dict(want, triangles=0)
    assert checks.check_graph(want, got)


def test_label_propagation_tie_break():
    # a path 1-2-3: 2 sees labels {1, 3} once each -> smallest wins
    sym = [(1, 2), (2, 1), (2, 3), (3, 2)]
    assert checks.label_propagation(sym, 1) == {1: 2, 2: 1, 3: 2}


def test_pagerank_int_matches_hand_computation():
    # 1 -> 2 once: teleport 0.15 * S, then 2 gains floor(S * 85 / 100)
    s = 10**9
    pr = checks.pagerank_int([(1, 2)], 1, s, 85, 100)
    assert pr == {1: 15 * s // 100, 2: 15 * s // 100 + (s * 85) // 100}
