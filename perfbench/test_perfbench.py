"""Self-tests of the benchmark itself; they start no Spark session.

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def _archive(tmp, seed):
    g = gen.ArchiveGen(seed)
    g.write_dump(os.path.join(tmp, "dump.ndjson"), 20, 300)
    d = g.write_delta(os.path.join(tmp, "delta.ndjson"), n_new=5,
                      n_com_edits=4, n_sub_edits=2, n_resends=5)
    return g, d


def test_generator_is_deterministic(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for p in (a, b, c):
        p.mkdir()
    ga, da = _archive(str(a), 7)
    gb, db = _archive(str(b), 7)
    _archive(str(c), 8)
    for name in ("dump.ndjson", "delta.ndjson"):
        assert filecmp.cmp(a / name, b / name, shallow=False)
        assert not filecmp.cmp(a / name, c / name, shallow=False)
    assert ga.truth == gb.truth
    assert da.touched_threads == db.touched_threads
    assert gen.corpus_rows(3, 500) == gen.corpus_rows(3, 500)
    assert gen.corpus_rows(3, 500) != gen.corpus_rows(4, 500)


def test_delta_ground_truth(tmp_path):
    g, d = _archive(str(tmp_path), 1)
    rows = [json.loads(line) for line in open(d.path)]
    assert len(rows) == d.rows == 5 + 4 + 2 + 5
    assert len({r["name"] for r in rows}) == len(rows)  # one row per id
    assert d.real_edits == 6 and d.resends == 5
    assert g.truth.edits == {"submissions": 2, "comments": 4}
    for r in rows:  # every row in the delta is the stored state
        store = g.truth.subs if r["name"].startswith("t3_") else g.truth.coms
        assert store[r["name"]] == r
    counts = g.truth.author_counts()
    assert sum(c["submissions"] for c in counts.values()) == 20
    assert sum(c["comments"] for c in counts.values()) == 300 + 5


def test_corpus_ground_truth():
    rows, truth = gen.corpus_rows(5, 3000)
    text = dict(rows)
    assert len(rows) == truth.n_docs == 3000
    assert truth.exact_groups and truth.near_clusters and truth.junk
    for g in truth.exact_groups:
        assert len({text[i] for i in g}) == 1
    assert 0.35 < len(truth.non_en) / 3000 < 0.65


def test_metric_names_match_benchmark_json():
    bench = json.load(open(BENCH))
    e2e = {"setup_s": "s", "peak_rss_mb": "MB"}
    e2e.update({k: u for k, (_, u) in workloads.end_to_end({}).items()})
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == e2e
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        tracing.per_layer_names()
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    # a workload with no samples yet: phase_metrics reads only these two
    blank = types.SimpleNamespace(
        samples={}, checks=types.SimpleNamespace(attempted=0, failed=0))
    phase = workloads.Workload.phase_metrics(blank)
    assert set(phase) <= {n for n, _ in tracing.per_layer_names()}


def test_fails_without_the_program(tmp_path):
    """Run from a directory that holds only BENCHMARK.json and perfbench/:
    exit non-zero and print no result."""
    shutil.copy(BENCH, tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_curate",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
