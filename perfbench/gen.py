"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed (``random.Random(seed)``
and ``numpy.random.default_rng(seed)`` only), so the same seed yields
byte-identical inputs and the engine receives nothing but these inputs.
``fingerprint`` hashes a generator's output for the determinism tests.
"""

from __future__ import annotations

import hashlib
import json
import random

import numpy as np

NS = "http://data.sample.org"


def fingerprint(obj) -> str:
    """Stable sha256 of a JSON-serialisable input (numpy arrays as lists)."""

    def conv(o):
        if isinstance(o, np.ndarray):
            return o.tolist()
        if isinstance(o, (np.integer,)):
            return int(o)
        if isinstance(o, (np.floating,)):
            return float(o)
        raise TypeError(type(o))

    blob = json.dumps(obj, sort_keys=True, default=conv, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


# -- uda_sync -----------------------------------------------------------


def _person(n: int) -> str:
    return f"{NS}/things/p{n}"


def _org(n: int) -> str:
    return f"{NS}/things/o{n}"


class UdaStream:
    """The UDA producer's entity stream: a full-sync population, then
    incremental batches of ``batch_size`` entities each.

    Incremental ``people`` batches mix hot-key-skewed updates, new ids,
    ~5% tombstones and an occasional id repeated within the batch; every
    fourth batch goes to the ``orgs`` dataset and carries a few person
    ids, so those nodes accumulate both labels. Every live entity has
    1-3 references (a ``knows`` list that can point at never-synced
    ``ext`` ids, plus a single ``worksFor`` target)."""

    def __init__(self, seed: int, population: int = 1000, batch_size: int = 1000):
        self.rng = random.Random(seed)
        self.batch_size = batch_size
        self.population = population
        self.people: list[int] = []  # ids ever synced, creation order (hot first)
        self.orgs: list[int] = []
        self._next_p = 0
        self._next_o = 0
        self._k = 0

    def _props(self, n: int) -> dict:
        r = self.rng
        return {
            f"{NS}/name": f"name-{n}-{r.randrange(1000)}",
            f"{NS}/age": r.randrange(18, 90),
            f"{NS}/score": round(r.random() * 100, 3),
            f"{NS}/active": r.random() < 0.5,
        }

    def _refs(self) -> dict:
        r = self.rng
        n_knows = r.randrange(0, 3)
        knows = []
        for _ in range(n_knows):
            if r.random() < 0.15 or not self.people:
                knows.append(f"{NS}/ext/x{r.randrange(5000)}")  # dangling target
            else:
                knows.append(_person(self.people[r.randrange(len(self.people))]))
        refs: dict = {}
        if knows:
            refs[f"{NS}/knows"] = knows
        if not knows or r.random() < 0.7:
            org = r.randrange(max(1, self._next_o) + 50)  # some never-synced orgs
            refs[f"{NS}/worksFor"] = _org(org)
        return refs

    def _live(self, gid: str, n: int) -> dict:
        return {"id": gid, "props": self._props(n), "refs": self._refs()}

    def _hot(self, pool: list[int]) -> int:
        return pool[int(len(pool) * self.rng.random() ** 3)]

    def full_sync(self) -> list[dict]:
        out = []
        for _ in range(self.population):
            n = self._next_p
            self._next_p += 1
            self.people.append(n)
            out.append(self._live(_person(n), n))
        return out

    def next_batch(self) -> tuple[str, list[dict]]:
        """(dataset name, entities) of the next incremental batch."""
        r = self.rng
        self._k += 1
        out: list[dict] = []
        if self._k % 4 == 0:
            while len(out) < self.batch_size:
                x = r.random()
                if x < 0.03 and self.people:
                    n = self._hot(self.people)
                    out.append(self._live(_person(n), n))
                elif x < 0.6 or not self.orgs:
                    n = self._next_o
                    self._next_o += 1
                    self.orgs.append(n)
                    out.append(self._live(_org(n), n))
                else:
                    n = self._hot(self.orgs)
                    out.append(self._live(_org(n), n))
            return "orgs", out
        while len(out) < self.batch_size:
            x = r.random()
            if x < 0.01 and out:
                prev = out[r.randrange(len(out))]["id"]  # repeat: last write wins
                n = int(prev.rsplit("/", 1)[1][1:])
                out.append(self._live(prev, n))
            elif x < 0.06:
                out.append({"id": _person(self._hot(self.people)), "deleted": True})
            elif x < 0.36:
                n = self._next_p
                self._next_p += 1
                self.people.append(n)
                out.append(self._live(_person(n), n))
            else:
                n = self._hot(self.people)
                out.append(self._live(_person(n), n))
        return "people", out


# -- cypher_read --------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def star_tables(seed: int, customers: int = 15000, orders: int = 150000, suppliers: int = 1000) -> dict:
    """The sf0.1-sized star schema that ``sources.tabular.graph_from_tables``
    reads: column-name -> numpy array, per table. As in TPC-H, customer
    keys divisible by 3 place no orders."""
    g = np.random.default_rng(seed)
    ck = np.arange(1, customers + 1, dtype=np.int64)
    active = ck[ck % 3 != 0]
    sk = np.arange(1, suppliers + 1, dtype=np.int64)
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": np.array(REGIONS, dtype=object),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.array(NATIONS, dtype=object),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": ck,
            "c_name": np.array([f"Customer#{k:09d}" for k in ck], dtype=object),
            "c_nationkey": g.integers(0, 25, customers).astype(np.int32),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, customers), 2),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[g.integers(0, 5, customers)],
        },
        "supplier": {
            "s_suppkey": sk,
            "s_name": np.array([f"Supplier#{k:09d}" for k in sk], dtype=object),
            "s_nationkey": g.integers(0, 25, suppliers).astype(np.int32),
            "s_acctbal": np.round(g.uniform(-999.99, 9999.99, suppliers), 2),
        },
        "orders": {
            "o_orderkey": np.arange(1, orders + 1, dtype=np.int64),
            "o_custkey": active[g.integers(0, len(active), orders)],
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[g.integers(0, 3, orders)],
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[g.integers(0, 5, orders)],
        },
    }


# The read templates: (name, statement). Parameters come from
# ``read_stream``; properties are stored as strings and compared
# numerically when the literal is a number.
READ_TEMPLATES = [
    (
        "scan_filter_order_limit",
        "MATCH (c:Customer) WHERE c.mktsegment = $seg AND c.acctbal > $min "
        "RETURN c.gid AS gid, c.name AS name ORDER BY name LIMIT 20",
    ),
    (
        "point_gid",
        "MATCH (o:Order) WHERE o.gid = $gid "
        "RETURN o.status AS status, o.priority AS priority",
    ),
    (
        "optional_collect",
        "MATCH (c:Customer) WHERE c.gid = $gid "
        "OPTIONAL MATCH (c)<-[:placed_by]-(o:Order) "
        "RETURN c.name AS name, collect(o.gid) AS orders, count(o) AS n",
    ),
    (
        "two_hop_agg",
        "MATCH (o:Order)-[:placed_by]->(c:Customer)-[:in_nation]->(n:Nation) "
        "WHERE n.name = $nation RETURN c.mktsegment AS seg, count(o) AS orders ORDER BY seg",
    ),
    (
        "with_where",
        "MATCH (c:Customer)-[:in_nation]->(n:Nation) WHERE c.mktsegment = $seg "
        "WITH n.name AS nation, count(c) AS customers WHERE customers > $k "
        "RETURN nation, customers ORDER BY nation",
    ),
    (
        "varlen_path",
        "MATCH (o:Order)-[r:placed_by|in_nation|in_region*1..3]->(x) WHERE o.gid = $gid "
        "RETURN x.gid AS gid, r.hops AS hops ORDER BY hops",
    ),
    (
        "exists",
        "MATCH (c:Customer)-[:in_nation]->(n:Nation) WHERE n.name = $nation "
        "AND NOT EXISTS { (c)<-[:placed_by]-(o) } RETURN count(c) AS idle",
    ),
    (
        "union",
        "MATCH (c:Customer)-[:in_nation]->(n:Nation) WHERE n.name = $nation "
        "AND c.acctbal > $min RETURN c.name AS name "
        "UNION MATCH (s:Supplier)-[:in_nation]->(n:Nation) WHERE n.name = $nation "
        "RETURN s.name AS name",
    ),
]


def read_stream(seed: int, tables: dict, n: int = 4000, repeat_share: float = 0.3) -> list[tuple[int, dict]]:
    """A seeded stream of (template index, params). Templates come in
    shuffled rounds of one each, so every window of the stream has the
    same mix; about ``repeat_share`` of the reads repeat an earlier
    exact (template, params) pair."""
    r = random.Random(seed)
    okeys = tables["orders"]["o_orderkey"]
    ckeys = tables["customer"]["c_custkey"]
    seen: dict[int, list[dict]] = {}
    out: list[tuple[int, dict]] = []
    while len(out) < n:
        order = list(range(len(READ_TEMPLATES)))
        r.shuffle(order)
        for t in order:
            earlier = seen.setdefault(t, [])
            if earlier and r.random() < repeat_share:
                out.append((t, earlier[r.randrange(len(earlier))]))
                continue
            name = READ_TEMPLATES[t][0]
            if name in ("point_gid", "varlen_path"):
                p = {"gid": f"urn:graft/order/{int(okeys[r.randrange(len(okeys))])}"}
            elif name == "optional_collect":
                p = {"gid": f"urn:graft/customer/{int(ckeys[r.randrange(len(ckeys))])}"}
            elif name == "scan_filter_order_limit":
                p = {"seg": r.choice(SEGMENTS), "min": r.randrange(0, 9000)}
            elif name == "with_where":
                p = {"seg": r.choice(SEGMENTS), "k": r.randrange(80, 140)}
            elif name == "union":
                p = {"nation": r.choice(NATIONS), "min": r.randrange(5000, 9900)}
            else:
                p = {"nation": r.choice(NATIONS)}
            earlier.append(p)
            out.append((t, p))
    return out


def warmup_len(stream: list[tuple[int, dict]]) -> int:
    """Length of the shortest prefix of ``stream`` that holds every
    template. The warm-up reads that prefix and the timed reads start
    after it, so a timed read repeats a warm-up read only where the
    stream itself planted a repeat."""
    seen = set()
    for i, (t, _p) in enumerate(stream):
        seen.add(t)
        if len(seen) == len(READ_TEMPLATES):
            return i + 1
    return len(stream)


# -- curation_stream ----------------------------------------------------


def _vocab(r: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(r.choice(letters) for _ in range(r.randrange(3, 10))))
    return sorted(words)


class DocStream:
    """Micro-batches of ``(doc_id, text)`` documents with planted
    near-duplicates (exact copies and one- or two-token edits of
    earlier documents) and planted low-quality documents (too short, or
    mostly digits), so both gates of the clean-ingest sink have work.

    ``planted`` maps a planted near-duplicate's doc_id to the doc_id it
    copies."""

    def __init__(self, seed: int, epoch_docs: int = 200, dup_share: float = 0.15, junk_share: float = 0.1):
        self.rng = random.Random(seed)
        self.words = _vocab(self.rng, 600)
        # Zipf-ish term weights: a few common words, a long tail
        self.weights = [1.0 / (i + 1) ** 0.8 for i in range(len(self.words))]
        self.epoch_docs = epoch_docs
        self.dup_share = dup_share
        self.junk_share = junk_share
        self.next_id = 0
        self.texts: dict[int, str] = {}
        self.planted: dict[int, int] = {}

    def _fresh(self) -> str:
        k = self.rng.randrange(20, 90)
        return " ".join(self.rng.choices(self.words, self.weights, k=k))

    def _edit(self, text: str) -> str:
        toks = text.split(" ")
        for _ in range(self.rng.randrange(0, 3)):
            toks[self.rng.randrange(len(toks))] = self.rng.choice(self.words)
        return " ".join(toks)

    def _junk(self) -> str:
        r = self.rng
        if r.random() < 0.5:
            return " ".join(r.choices(self.words, k=r.randrange(3, 15)))
        return " ".join(
            str(r.randrange(10**6)) if r.random() < 0.6 else r.choice(self.words)
            for _ in range(r.randrange(20, 60))
        )

    def next_epoch(self) -> list[tuple[int, str]]:
        out = []
        for _ in range(self.epoch_docs):
            d = self.next_id
            self.next_id += 1
            x = self.rng.random()
            if x < self.dup_share and self.texts:
                src = self.rng.choice(sorted(self.texts)[-2000:])
                text = self._edit(self.texts[src])
                self.planted[d] = src
            elif x < self.dup_share + self.junk_share:
                text = self._junk()
            else:
                text = self._fresh()
            self.texts[d] = text
            out.append((d, text))
        return out

    def probe_terms(self) -> list[str]:
        return self.rng.choices(self.words, self.weights, k=8)


# -- graph_analytics ----------------------------------------------------


def power_law_graph(seed: int, large=(700, 450, 250), n_small: int = 250, m: int = 2) -> list[tuple[int, int]]:
    """Directed edge list of a graph with a few large preferential-
    attachment components (heavy-tailed degrees, many triangles) and
    many small tree-like ones. Node ids are a seeded permutation, so
    component membership is not contiguous. No self-loops and no
    duplicate undirected edges."""
    r = random.Random(seed)
    sizes = list(large) + [r.randrange(2, 7) for _ in range(n_small)]
    total = sum(sizes)
    ids = list(range(total))
    r.shuffle(ids)
    edges: list[tuple[int, int]] = []
    base = 0
    for size in sizes:
        nodes = ids[base : base + size]
        base += size
        seen: set[tuple[int, int]] = set()
        targets: list[int] = [nodes[0]]  # degree-weighted urn
        for i in range(1, size):
            v = nodes[i]
            picks: set[int] = set()
            for _ in range(min(m, i)):
                picks.add(r.choice(targets))
            for u in picks:
                key = (min(u, v), max(u, v))
                if key in seen:
                    continue
                seen.add(key)
                edges.append((v, u))
                targets += [u, v]
        if size > 3 and r.random() < 0.3:  # a cycle-closing chord in some small ones
            u, v = nodes[0], nodes[-1]
            key = (min(u, v), max(u, v))
            if key not in seen:
                seen.add(key)
                edges.append((u, v))
    return edges
