"""The benchmark's own tests: deterministic inputs, output checks that reject
bad outputs, and a tiny-size smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import checks, inputs
from perfbench.probes import Tracer, parse_metric, tree_cpu_s
from perfbench.workloads import WORKLOADS, Workload

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def table_digest(table) -> str:
    """sha256 over a table's Arrow IPC stream."""
    import pyarrow as pa
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


# -- inputs -------------------------------------------------------------------

def test_near_dup_tables_depend_only_on_the_seed():
    a_docs, a_emb = inputs.near_dup_tables(5, 60)
    b_docs, b_emb = inputs.near_dup_tables(5, 60)
    c_docs, c_emb = inputs.near_dup_tables(6, 60)
    assert table_digest(a_docs) == table_digest(b_docs)
    assert table_digest(a_emb) == table_digest(b_emb)
    assert table_digest(a_docs) != table_digest(c_docs)
    assert table_digest(a_emb) != table_digest(c_emb)


def test_near_dup_tables_have_duplicates_and_stop_shingles():
    docs, emb = inputs.near_dup_tables(5, 300)
    texts = docs.column("text").to_pylist()
    assert len(texts) > 300                       # clusters were added
    assert len(set(texts)) < len(texts)           # with exact copies
    assert sum(inputs.BOILERPLATE in t for t in texts) > 60
    assert emb.num_rows == docs.num_rows
    assert len(emb.column("embedding")[0]) == inputs.EMB_DIMS


def test_append_plan_depends_only_on_the_seed():
    a = inputs.append_plan(3, 100, 5, 10, 4)
    assert a == inputs.append_plan(3, 100, 5, 10, 4)
    assert a != inputs.append_plan(4, 100, 5, 10, 4)
    committed = set(a.history_ids)
    for new, replay in a.increments:
        assert set(replay) <= committed           # replays were committed
        assert not set(new) & committed           # new urls are new
        committed |= set(new)


@pytest.fixture(scope="module")
def spark():
    import os

    from qwen_ocr_spark.plans.session import get_spark
    os.environ.setdefault("PYTHONPATH", str(ROOT))
    s = get_spark(master="local[2]", app_name="perfbench-tests")
    yield s
    s.stop()


def _pages_digest(path):
    import pyarrow.parquet as pq
    return table_digest(pq.read_table(path).sort_by("url"))


def test_pages_corpus_depends_only_on_the_seed(spark, tmp_path):
    inputs.write_pages_corpus(spark, str(tmp_path / "a"), 24, 1)
    inputs.write_pages_corpus(spark, str(tmp_path / "b"), 24, 1)
    inputs.write_pages_corpus(spark, str(tmp_path / "c"), 24, 2)
    a = _pages_digest(tmp_path / "a")
    assert a == _pages_digest(tmp_path / "b")
    assert a != _pages_digest(tmp_path / "c")


# -- output checks --------------------------------------------------------------

URLS = ["u1", "u2", "u3"]
DIGESTS = {"u1": "d1", "u2": "d2", "u3": None}


def _check(committed, manifest=None, digests=DIGESTS):
    manifest = [len(committed)] if manifest is None else manifest
    return checks.check_commit(committed, URLS, manifest, digests, DIGESTS)


def test_commit_check_accepts_a_correct_commit():
    assert _check(URLS) == []


def test_commit_check_rejects_a_dropped_url():
    assert any("not committed" in p for p in _check(["u1", "u2"]))


def test_commit_check_rejects_a_duplicated_url():
    assert any("more than once" in p for p in _check(URLS + ["u2"]))


def test_commit_check_rejects_a_wrong_digest():
    bad = dict(DIGESTS, u1="other")
    assert any("digest of u1" in p for p in _check(URLS, digests=bad))


def test_commit_check_rejects_a_manifest_mismatch():
    assert any("manifest" in p for p in _check(URLS, manifest=[2]))


def test_replay_check_rejects_rows_for_replayed_urls():
    assert checks.check_replays(8, 8) == []
    assert checks.check_replays(10, 8)


def test_pass_check_is_order_insensitive_but_exact():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (2, "y")]
    fp = checks.result_fingerprint(cols, rows)
    assert checks.check_pass("p", checks.result_fingerprint(cols, rows[::-1]), fp) == []
    assert checks.check_pass("p", checks.result_fingerprint(cols, rows[:2]), fp)
    assert checks.check_pass(
        "p", checks.result_fingerprint(cols, [(1, "x"), (2, "y"), (3, "y")]), fp)


# -- probes -----------------------------------------------------------------------

def test_parse_metric_reads_totals_and_summaries():
    assert parse_metric("1,279.6 KiB") == [1279.6 * 1024]
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "12.1 s (2.8 s, 3.2 s, 660 ms (stage 3.0: task 5))") == \
        [12.1, 2.8, 3.2, 0.66]


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("op", "workload"):
        with t.span("call", "sinks"):
            pass
    t.spans[0].start, t.spans[0].end = 0.0, 10.0
    t.spans[1].start, t.spans[1].end = 2.0, 5.0
    assert t.self_times() == {"workload": 7.0, "sinks": 3.0}


def test_tree_cpu_counts_an_exited_child():
    before, _ = tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert tree_cpu_s()[0] - before >= 0.4


# -- the runner -------------------------------------------------------------------

def _run(cwd, *args, timeout=400):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


# extract_batch is not in BENCHMARK.json (see DESIGN.md) but stays runnable
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_smoke_run(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", "0", "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= Workload.min_ops
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_tiny_traced_run_emits_every_per_layer_metric():
    p = _run(ROOT, "--workload", "append_resume", "--seed", "1", "--seconds", "1",
             "--trace", "1", "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert result["metrics"]["sinks.replayed_urls_skipped"]["value"] > 0


def test_runner_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "extract_batch", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert not p.stdout.strip()
