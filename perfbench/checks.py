"""Result checkers, independent of the engine's own code paths.

- ``UdaModel``: a pure-Python replay of the reference's sync semantics
  (upsert with property replace, outgoing-edge clear, dangling-target
  stubs, tombstone detach-delete, label accumulation, full-sync wipe).
- ``CypherOracle``: each read template as DuckDB SQL over the
  committed parquet snapshot.
- ``CurationModel``: the clean-ingest composition recomputed in Python
  in the same epoch order (quality floor, MinHash-LSH near-dup gate
  against the accepted corpus, within-batch component collapse, exact
  integer-grid BM25 top-k over the survivors).
- ``graph_expected``: networkx for BFS, triangles and components, and
  pure-Python replicas of the integer PageRank and the tie-broken
  synchronous label propagation.

Each checker returns a list of human-readable mismatch strings; empty
means the result is correct.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict


def localname(uri: str) -> str:
    return uri.split("#")[-1].split("/")[-1]


def _prop_str(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


# -- uda_sync -----------------------------------------------------------


class UdaModel:
    """nodes: gid -> (label, labels tuple, source, props dict);
    edges: (src, rel_type, dst) -> source."""

    def __init__(self):
        self.nodes: dict[str, tuple] = {}
        self.edges: dict[tuple, str] = {}

    def _detach(self, gids: set) -> None:
        for g in gids:
            self.nodes.pop(g, None)
        self.edges = {
            e: s for e, s in self.edges.items() if e[0] not in gids and e[2] not in gids
        }

    def wipe(self, label: str, source: str) -> None:
        doomed = {
            g for g, n in self.nodes.items() if label in n[1] and n[2] == source
        }
        self._detach(doomed)

    def apply(self, entities: list[dict], label: str, source: str) -> None:
        last_live: dict[str, dict] = {}
        seen: set = set()
        for e in entities:
            seen.add(e["id"])
            if not e.get("deleted", False):
                last_live[e["id"]] = e
        dead = seen - set(last_live)
        self._detach(dead)
        live = set(last_live)
        self.edges = {e: s for e, s in self.edges.items() if e[0] not in live}
        new_edges: dict[tuple, str] = {}
        for gid, e in last_live.items():
            prior = self.nodes.get(gid)
            labels = tuple(sorted(set(prior[1] if prior else ()) | {label}))
            props = {localname(k): _prop_str(v) for k, v in (e.get("props") or {}).items()}
            self.nodes[gid] = (label, labels, source, props)
            for ref, targets in (e.get("refs") or {}).items():
                for t in [targets] if isinstance(targets, str) else targets:
                    new_edges[(gid, localname(ref), t)] = source
        for _src, _rel, dst in new_edges:
            if dst not in self.nodes:
                self.nodes[dst] = (None, (), None, {})
        self.edges.update(new_edges)

    def node_row(self, gid: str):
        n = self.nodes.get(gid)
        return None if n is None else (gid, n[0], n[1], n[2], n[3])


def node_rows(rows) -> dict:
    """Engine node Rows -> gid -> comparable tuple."""
    out = {}
    for r in rows:
        out[r["gid"]] = (
            r["gid"],
            r["label"],
            tuple(sorted(r["labels"] or ())),
            r["source"],
            dict(r["props"] or {}),
        )
    return out


def check_lookup(model: UdaModel, gids: list[str], rows) -> list[str]:
    got = node_rows(rows)
    bad = []
    for g in sorted(set(gids)):
        want = model.node_row(g)
        if got.get(g) != want:
            bad.append(f"lookup {g}: engine {got.get(g)} != model {want}")
    for g in set(got) - set(gids):
        bad.append(f"lookup returned unrequested gid {g}")
    return bad


def check_store(model: UdaModel, node_rows_, edge_rows) -> list[str]:
    got_n = node_rows(node_rows_)
    bad = []
    if len(got_n) != len(node_rows_):
        bad.append(f"duplicate gids in store: {len(node_rows_)} rows, {len(got_n)} gids")
    want_n = {g: model.node_row(g) for g in model.nodes}
    for g in sorted(set(got_n) | set(want_n)):
        if got_n.get(g) != want_n.get(g):
            bad.append(f"node {g}: engine {got_n.get(g)} != model {want_n.get(g)}")
            if len(bad) > 20:
                return bad
    got_e = Counter((r["src"], r["rel_type"], r["dst"], r["source"]) for r in edge_rows)
    want_e = Counter((s, r, d, src) for (s, r, d), src in model.edges.items())
    if got_e != want_e:
        extra = list((got_e - want_e).items())[:5]
        missing = list((want_e - got_e).items())[:5]
        bad.append(f"edges differ: extra {extra} missing {missing}")
    return bad


# -- cypher_read --------------------------------------------------------

# DuckDB SQL for each template over views ``nodes(gid, label, labels,
# source, props)`` and ``edges(src, rel_type, dst, source)``; ``?``
# placeholders take the parameters in the listed order.
_NODE = "(SELECT * FROM nodes WHERE list_contains(labels, '{label}'))"
_P = "map_extract(props, '{k}')[1]"

CYPHER_SQL = {
    "scan_filter_order_limit": (
        ["seg", "min"],
        f"""SELECT gid, {_P.format(k='name')} AS name FROM {_NODE.format(label='Customer')}
            WHERE {_P.format(k='mktsegment')} = ? AND CAST({_P.format(k='acctbal')} AS DOUBLE) > ?
            ORDER BY name LIMIT 20""",
        True,
    ),
    "point_gid": (
        ["gid"],
        f"""SELECT {_P.format(k='status')}, {_P.format(k='priority')}
            FROM {_NODE.format(label='Order')} WHERE gid = ?""",
        False,
    ),
    "optional_collect": (
        ["gid"],
        f"""SELECT {_P.format(k='name')} AS name,
                   coalesce(list_sort(list(o.gid) FILTER (WHERE o.gid IS NOT NULL)),
                            []::VARCHAR[]) AS orders,
                   count(o.gid) AS n
            FROM {_NODE.format(label='Customer')} c
            LEFT JOIN (SELECT e.dst AS cg, o.gid FROM edges e
                       JOIN {_NODE.format(label='Order')} o ON o.gid = e.src
                       WHERE e.rel_type = 'placed_by') o ON o.cg = c.gid
            WHERE c.gid = ? GROUP BY c.gid, name""",
        False,
    ),
    "two_hop_agg": (
        ["nation"],
        f"""SELECT map_extract(c.props, 'mktsegment')[1] AS seg, count(*) AS orders
            FROM edges e1 JOIN {_NODE.format(label='Order')} o ON o.gid = e1.src
            JOIN {_NODE.format(label='Customer')} c ON c.gid = e1.dst
            JOIN edges e2 ON e2.src = c.gid
            JOIN {_NODE.format(label='Nation')} n ON n.gid = e2.dst
            WHERE e1.rel_type = 'placed_by' AND e2.rel_type = 'in_nation'
              AND map_extract(n.props, 'name')[1] = ?
            GROUP BY seg ORDER BY seg""",
        True,
    ),
    "with_where": (
        ["seg", "k"],
        f"""SELECT * FROM (
              SELECT map_extract(n.props, 'name')[1] AS nation, count(*) AS customers
              FROM {_NODE.format(label='Customer')} c
              JOIN edges e ON e.src = c.gid AND e.rel_type = 'in_nation'
              JOIN {_NODE.format(label='Nation')} n ON n.gid = e.dst
              WHERE map_extract(c.props, 'mktsegment')[1] = ?
              GROUP BY nation) WHERE customers > ? ORDER BY nation""",
        True,
    ),
    "varlen_path": (
        ["gid"],
        f"""WITH RECURSIVE walk(node, hops) AS (
              SELECT gid, 0 FROM {_NODE.format(label='Order')} WHERE gid = ?
              UNION ALL
              SELECT e.dst, w.hops + 1 FROM walk w JOIN edges e ON e.src = w.node
              WHERE w.hops < 3 AND e.rel_type IN ('placed_by', 'in_nation', 'in_region'))
            SELECT node AS gid, hops FROM walk WHERE hops >= 1 ORDER BY hops""",
        True,
    ),
    "exists": (
        ["nation"],
        f"""SELECT count(*) AS idle FROM {_NODE.format(label='Customer')} c
            JOIN edges e ON e.src = c.gid AND e.rel_type = 'in_nation'
            JOIN {_NODE.format(label='Nation')} n ON n.gid = e.dst
            WHERE map_extract(n.props, 'name')[1] = ?
              AND NOT EXISTS (SELECT 1 FROM edges p
                              WHERE p.dst = c.gid AND p.rel_type = 'placed_by')""",
        False,
    ),
    "union": (
        ["nation", "min", "nation"],
        f"""SELECT map_extract(c.props, 'name')[1] AS name FROM {_NODE.format(label='Customer')} c
              JOIN edges e ON e.src = c.gid AND e.rel_type = 'in_nation'
              JOIN {_NODE.format(label='Nation')} n ON n.gid = e.dst
              WHERE map_extract(n.props, 'name')[1] = ?
                AND CAST(map_extract(c.props, 'acctbal')[1] AS DOUBLE) > ?
            UNION
            SELECT map_extract(s.props, 'name')[1] FROM {_NODE.format(label='Supplier')} s
              JOIN edges e ON e.src = s.gid AND e.rel_type = 'in_nation'
              JOIN {_NODE.format(label='Nation')} n ON n.gid = e.dst
              WHERE map_extract(n.props, 'name')[1] = ?""",
        False,
    ),
}


def _norm_value(v):
    if isinstance(v, (list, tuple)):
        return tuple(sorted(_norm_value(x) for x in v))
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


def normalize_rows(rows, ordered: bool) -> list:
    out = [tuple(_norm_value(x) for x in r) for r in rows]
    return out if ordered else sorted(out, key=repr)


class CypherOracle:
    """DuckDB over the committed snapshot's parquet files."""

    def __init__(self, version_dir: str):
        import duckdb

        self.con = duckdb.connect()
        scan = f"read_parquet('{version_dir}/nodes/**/*.parquet', hive_partitioning = true)"
        cols = {r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {scan}").fetchall()}
        # snapshots written without the label-set column read as single-label
        single = "CASE WHEN label IS NULL THEN []::VARCHAR[] ELSE [label] END"
        labels = f"coalesce(labels, {single})" if "labels" in cols else single
        self.con.execute(
            f"CREATE VIEW nodes AS SELECT gid, label, {labels} AS labels, source, props FROM {scan}"
        )
        self.con.execute(
            f"CREATE VIEW edges AS SELECT src, rel_type, dst, source FROM "
            f"read_parquet('{version_dir}/edges/**/*.parquet', hive_partitioning = true)"
        )

    def expected(self, template: str, params: dict) -> list:
        names, sql, ordered = CYPHER_SQL[template]
        rows = self.con.execute(sql, [params[n] for n in names]).fetchall()
        return normalize_rows(rows, ordered)

    def close(self) -> None:
        self.con.close()


def check_read(expected: list, got_rows, template: str) -> list[str]:
    got = normalize_rows([tuple(r) for r in got_rows], CYPHER_SQL[template][2])
    if got != expected:
        return [f"{template}: engine {got[:5]} != duckdb {expected[:5]} ({len(got)} vs {len(expected)} rows)"]
    return []


# -- curation_stream ----------------------------------------------------


def _md5_int(s: str, p: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % p


class CurationModel:
    """Recomputes, epoch by epoch, which documents the clean-ingest
    sink keeps, and the exact BM25 top-k of a probe against the
    survivors so far. Parameters are the sink's documented contract
    (quality floor, MinHash coefficients and banding, agreement floor,
    BM25 k1/b and the 1e-9 integer score grid)."""

    def __init__(self, min_tokens: int, min_alpha: float, mh, agree_r: int, k1: float, b: float, scale: int):
        self.min_tokens, self.min_alpha = min_tokens, min_alpha
        self.mh, self.agree_r = mh, agree_r
        self.k1, self.b, self.scale = k1, b, scale
        self.sig: dict[int, tuple] = {}
        self.bands: dict[tuple, set] = defaultdict(set)  # (band, key) -> accepted ids
        self.kept: list[int] = []
        self.n_quality = 0
        self.n_docs = 0
        # BM25 corpus over survivors
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        self.df: Counter = Counter()

    def quality(self, text: str) -> bool:
        toks = text.split()
        if len(toks) < self.min_tokens or not text:
            return False
        alpha = sum(1 for ch in text if "a" <= ch <= "z") / len(text)
        return alpha >= self.min_alpha

    def signature(self, text: str) -> tuple[tuple, tuple]:
        mh = self.mh
        k = mh.SHINGLE_K
        n = max(len(text) - (k - 1), 1)
        hs = {_md5_int(text[i : i + k], mh.P) for i in range(n)}
        m = tuple(min((a * h + b) % mh.P for h in hs) for a, b in zip(mh.MINHASH_A, mh.MINHASH_B))
        r = mh.ROWS_PER_BAND
        bands = tuple(
            hashlib.md5(",".join(str(x) for x in m[i * r : (i + 1) * r]).encode()).hexdigest()
            for i in range(mh.BANDS)
        )
        return m, bands

    def _near(self, a: tuple, b: tuple) -> bool:
        return sum(x == y for x, y in zip(a, b)) >= self.agree_r

    def epoch(self, docs: list[tuple[int, str]]) -> list[int]:
        self.n_docs += len(docs)
        cand = {}
        for d, text in docs:
            if self.quality(text):
                cand[d] = self.signature(text)
        self.n_quality += len(cand)
        # 1. corpus filter against previously accepted docs
        rest = {}
        for d, (m, bands) in cand.items():
            hits = set()
            for i, key in enumerate(bands):
                hits |= self.bands.get((i, key), set())
            if not any(self._near(m, self.sig[h]) for h in hits):
                rest[d] = (m, bands)
        # 2. within-batch collapse: components of the near-dup graph keep their min id
        parent = {d: d for d in rest}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        by_band: dict[tuple, list] = defaultdict(list)
        for d, (_m, bands) in rest.items():
            for i, key in enumerate(bands):
                by_band[(i, key)].append(d)
        for members in by_band.values():
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    a, b = members[i], members[j]
                    if self._near(rest[a][0], rest[b][0]):
                        ra, rb = find(a), find(b)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
        keep = sorted(d for d in rest if find(d) == d)
        texts = dict(docs)
        for d in keep:
            m, bands = rest[d]
            self.sig[d] = m
            for i, key in enumerate(bands):
                self.bands[(i, key)].add(d)
            toks = texts[d].split()
            c = Counter(toks)
            self.tf[d] = c
            self.dl[d] = len(toks)
            self.df.update(c.keys())
        self.kept += keep
        return keep

    def topk(self, q_id: int, terms: list[str], k: int) -> list[tuple[int, int]]:
        """(doc_id, s_int) of the exact top-k over the survivors so far,
        ranked by (s_int desc, doc_id asc), self pair excluded."""
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / n
        k1, b = self.k1, self.b
        scores: dict[int, int] = defaultdict(int)
        for t in set(terms):
            df = self.df.get(t, 0)
            if not df:
                continue
            idf = (float(n) - df + 0.5) / (df + 0.5) + 1.0
            for d, c in self.tf.items():
                tf = c.get(t)
                if tf:
                    sat = (tf * (1.0 + k1)) / (tf + k1 * ((1.0 - b) + b * (self.dl[d] / avgdl)))
                    scores[d] += int(math.floor(idf * sat * float(self.scale)))
        ranked = sorted(((d, s) for d, s in scores.items() if d != q_id), key=lambda x: (-x[1], x[0]))
        return ranked[:k]


def check_kept(model_kept: list[int], engine_kept) -> list[str]:
    want, got = set(model_kept), set(engine_kept)
    if want != got:
        return [
            f"kept set differs: engine-only {sorted(got - want)[:10]}, "
            f"model-only {sorted(want - got)[:10]} ({len(got)} vs {len(want)})"
        ]
    return []


def check_probe(expected: list[tuple[int, int]], engine_rows, k: int) -> list[str]:
    got = sorted(((int(r["doc_id"]), int(r["s_int"])) for r in engine_rows), key=lambda x: (-x[1], x[0]))[:k]
    if got != expected:
        return [f"bm25 top-{k}: engine {got} != model {expected}"]
    return []


# -- graph_analytics ----------------------------------------------------


def pagerank_int(edges: list[tuple[int, int]], n_iter: int, scale: int, num: int, den: int) -> dict[int, int]:
    verts = {u for e in edges for u in e}
    deg = Counter(u for u, _ in edges)
    teleport = (den - num) * scale // den
    rank = {v: scale for v in verts}
    for _ in range(n_iter):
        contrib: dict[int, int] = defaultdict(int)
        for u, v in edges:
            contrib[v] += rank[u] // deg[u]
        rank = {v: teleport + (contrib[v] * num) // den if v in contrib else teleport for v in verts}
    return rank


def label_propagation(sym_edges: list[tuple[int, int]], n_iter: int) -> dict[int, int]:
    verts = {u for e in sym_edges for u in e}
    nbrs: dict[int, list[int]] = defaultdict(list)
    for u, v in sym_edges:
        nbrs[u].append(v)
    label = {v: v for v in verts}
    for _ in range(n_iter):
        new = {}
        for v in verts:
            if v not in nbrs:
                new[v] = v
                continue
            c = Counter(label[x] for x in nbrs[v])
            new[v] = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        label = new
    return label


def graph_expected(edges: list[tuple[int, int]], pr_iter: int, lp_iter: int, bfs_source: int, bfs_hops: int, pr_consts: tuple) -> dict:
    import networkx as nx

    und = nx.Graph()
    und.add_edges_from(edges)
    sym = edges + [(v, u) for u, v in edges]
    return {
        "pagerank": pagerank_int(edges, pr_iter, *pr_consts),
        "label_prop": label_propagation(sym, lp_iter),
        "bfs": dict(nx.single_source_shortest_path_length(und, bfs_source, cutoff=bfs_hops)),
        "triangles": sum(nx.triangles(und).values()) // 3,
        "components": {v: min(c) for c in nx.connected_components(und) for v in c},
    }


def check_graph(expected: dict, got: dict) -> list[str]:
    bad = []
    for name, want in expected.items():
        if got.get(name) != want:
            g = got.get(name)
            if isinstance(want, dict) and isinstance(g, dict):
                diff = [k for k in set(want) | set(g) if want.get(k) != g.get(k)][:5]
                bad.append(f"{name}: {len(diff)}+ differing keys, e.g. {[(k, g.get(k), want.get(k)) for k in diff]}")
            else:
                bad.append(f"{name}: engine {g} != expected {want}")
    return bad
