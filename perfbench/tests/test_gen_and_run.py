"""Seeded generators are deterministic per seed and differ across
seeds; the run helpers follow their stated rules.

    python3 -m pytest perfbench/tests -q
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

from perfbench import gen, run

HERE = os.path.dirname(os.path.abspath(__file__))


def _uda(seed):
    s = gen.UdaStream(seed)
    return [s.full_sync()] + [s.next_batch() for _ in range(5)]


def _docs(seed):
    s = gen.DocStream(seed)
    return [s.next_epoch() for _ in range(3)] + [s.probe_terms(), sorted(s.planted.items())]


def _star(seed):
    t = gen.star_tables(seed, customers=300, orders=3000, suppliers=20)
    return [t, gen.read_stream(seed, t, n=200)]


GENERATORS = [_uda, _docs, _star, gen.power_law_graph]


def test_same_seed_same_bytes():
    for g in GENERATORS:
        assert gen.fingerprint(g(11)) == gen.fingerprint(g(11)), g


def test_different_seed_different_inputs():
    for g in GENERATORS:
        assert gen.fingerprint(g(11)) != gen.fingerprint(g(12)), g


def test_uda_stream_mix():
    s = gen.UdaStream(3)
    s.full_sync()
    batches = [s.next_batch() for _ in range(8)]
    assert [ds for ds, _ in batches].count("orgs") == 2
    people = [e for ds, b in batches if ds == "people" for e in b]
    tomb = sum(1 for e in people if e.get("deleted"))
    assert 0.02 < tomb / len(people) < 0.08
    for ds, b in batches:
        assert len(b) == 1000
        ids = [e["id"] for e in b]
        if ds == "people":
            assert len(set(ids)) < len(ids)  # a repeated id within the batch
        else:
            assert any("/things/p" in i for i in ids)  # a person synced as an org
    live = [e for e in people if not e.get("deleted")]
    assert all(1 <= sum(len(v) if isinstance(v, list) else 1 for v in e["refs"].values()) <= 3 for e in live)
    assert any("/ext/" in t for e in live for t in e["refs"].get(f"{gen.NS}/knows", []))


def test_read_stream_balanced_with_repeats():
    t = gen.star_tables(1, customers=300, orders=3000, suppliers=20)
    s = gen.read_stream(1, t, n=800)
    counts = [sum(1 for x, _ in s[:80] if x == k) for k in range(len(gen.READ_TEMPLATES))]
    assert counts == [10] * len(gen.READ_TEMPLATES)
    keys = [(x, tuple(sorted(p.items()))) for x, p in s]
    assert 1 - len(set(keys)) / len(keys) > 0.25  # planted repeats plus natural collisions


def test_timed_reads_do_not_replay_the_warmup():
    """The timed reads after the warm-up repeat a warm-up read only as
    often as the stream plants repeats (``repeat_share``, 0.3), not
    every time."""
    t = gen.star_tables(1, customers=300, orders=3000, suppliers=20)

    def key(x):
        return x[0], tuple(sorted(x[1].items()))

    timed = repeats = 0
    for seed in range(1, 41):
        s = gen.read_stream(seed, t, n=200)
        w = gen.warmup_len(s)
        assert sorted(x for x, _ in s[:w]) == list(range(len(gen.READ_TEMPLATES)))
        warm = {key(x) for x in s[:w]}
        first_round = s[w : w + len(gen.READ_TEMPLATES)]
        timed += len(first_round)
        repeats += sum(key(x) in warm for x in first_round)
    assert repeats / timed <= 0.3 + 0.05  # planted repeats plus rare natural collisions


def test_tail_rule():
    assert run.tail([5.0, 1.0, 3.0]) == {"value": 5.0, "percentile": 100.0, "n": 3, "beyond": 0}
    t = run.tail([float(i) for i in range(100)])
    assert t["percentile"] == 90.0 and t["value"] == 89.0 and t["beyond"] == 10


def test_steady_ms_drops_stolen_samples_unless_most_are():
    assert run.steady_ms([(1.0, 0.0), (3.0, 0.2), (1.2, 0.01)]) == [1000.0, 1200.0]
    assert run.steady_ms([(1.0, 0.0), (3.0, 0.2), (2.0, 0.5)]) == [1000.0, 3000.0, 2000.0]


def test_cached_untraced_record_is_tied_to_the_code(tmp_path, monkeypatch):
    for top in run.CODE_DIRS:
        (tmp_path / top).mkdir()
        (tmp_path / top / "a.py").write_text("x = 1\n")
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    code = run.code_id()
    (tmp_path / "perfbench" / "a.py").write_text("x = 2\n")
    assert run.code_id() != code

    args = argparse.Namespace(workload="uda_sync", seed=1, seconds=6)
    path = run._cache_path(args, code)
    assert code in os.path.basename(path)
    os.makedirs(os.path.dirname(path))
    with open(path, "w") as f:
        json.dump({"code_id": "other", "end_to_end": {}}, f)
    assert run.untraced_reference(args, code) is None
    with open(path, "w") as f:
        json.dump({"code_id": code, "end_to_end": {}}, f)
    assert run.untraced_reference(args, code)["code_id"] == code


def test_metric_lists_are_well_formed():
    names = [n for n, *_ in run.END_TO_END] + [n for n, _ in run.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(len(n) <= 64 for n in names)
    assert len(run.PER_LAYER) <= 128


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    shutil.copytree(os.path.dirname(HERE), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "uda_sync", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
