"""Tests of the benchmark harness itself.

Run from the repository root:  python3 -m pytest perfbench/tests -q -p no:cacheprovider
(the smoke test starts three small Spark sessions and takes a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pandas as pd
import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PERFBENCH)
sys.path.insert(0, os.path.dirname(PERFBENCH))  # tools.check_correctness
sys.dont_write_bytecode = True

from kbench import datagen, etl_fns  # noqa: E402
from kbench.layers import END_TO_END, PER_LAYER  # noqa: E402
from kbench.stats import median, percentile, self_time, union_length  # noqa: E402
from kbench.trace import Tracer  # noqa: E402


# ------------------------------------------------------------------ stats


def test_percentile_interpolates_and_reports_sample_count():
    assert percentile([3, 1, 2], 50) == (2.0, 3)
    assert percentile([1, 2, 3, 4], 50) == (2.5, 4)
    assert percentile(list(range(11)), 90) == (9.0, 11)
    assert percentile([5.0], 90) == (5.0, 1)
    assert median([4, 1, 3, 2]) == 2.5


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_self_time_is_span_minus_union_of_children():
    # overlapping children [1,3] and [2,4] cover 3 s; [8,12] is clipped to [8,10]
    assert union_length([(1, 3), (2, 4)]) == 3
    assert self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(10 - 3 - 2)
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(0, 10), (0, 10)]) == 0


def test_tracer_off_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_tracer_nests_spans_per_thread():
    tr = Tracer(True)

    def client():
        with tr.span("outer"):
            with tr.span("inner"):
                pass

    threads = [threading.Thread(target=client) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    outer = {s.id: s for s in tr.named("outer")}
    inner = tr.named("inner")
    assert len(outer) == 4 and len(inner) == 4
    for s in inner:
        assert outer[s.parent].thread == s.thread


# ------------------------------------------------------------------ data


def _frames(d):
    return {f: pd.read_parquet(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_seeded_generation_is_deterministic(tmp_path, monkeypatch):
    import numpy as np

    for seed in (1, 2):
        a, b = tmp_path / f"a{seed}", tmp_path / f"b{seed}"
        for d in (a, b):
            d.mkdir()
            datagen.build_corpus(str(d), np.random.default_rng(seed), docs=300, vecs=100)
            datagen.build_tpch(str(d), np.random.default_rng(seed), sf_milli=1)
            datagen.build_etl(str(d), np.random.default_rng(seed), rows=200)
        fa, fb = _frames(a), _frames(b)
        assert fa.keys() == fb.keys()
        for k in fa:
            pd.testing.assert_frame_equal(fa[k], fb[k])
    docs1 = pd.read_parquet(tmp_path / "a1" / "documents.parquet")
    docs2 = pd.read_parquet(tmp_path / "a2" / "documents.parquet")
    assert not docs1["text"].equals(docs2["text"])
    # the cache hands back the same directory for the same key
    monkeypatch.setattr(datagen, "CACHE_DIR", str(tmp_path / "cache"))
    assert datagen.etl_rows(7, 50) == datagen.etl_rows(7, 50)


def test_vocabulary_scales_with_corpus():
    assert len(datagen.vocabulary(300)) == 31 * 2
    assert len(datagen.vocabulary(50_000)) == 31 * 32


def test_etl_reference_counts_injected_errors():
    rows = [(i, i % 1000) for i in range(500)]
    assert etl_fns.injected_errors(rows) == sum(1 for i in range(500) if i % 53 == 7)
    groups = etl_fns.reference(rows)
    flat = [x for g in groups for x in g]
    assert len(flat) == len(set(flat))  # distinct() ran before group()


def test_manifest_replay_fails_torn_reads():
    """Only states after a whole commit are correct; the state between a
    merge's delete and upsert commits is a torn read."""
    from kbench.core import Op
    from kbench.oracle import multiset
    from kbench.serve_mix import COLS, TORN, replay

    def frame(ids, c, dead=None):
        pdf = pd.DataFrame({"id": ids, "k": [i * 10 for i in ids], "v": [float(c)] * len(ids), "c": [c] * len(ids)})
        if dead is not None:
            pdf["dead"] = dead
        return pdf

    log = [("append", frame([0, 1, 2, 3], 0)), ("merge", frame([1, 2], 1, dead=[False, True]))]
    after_append = [(0, 0, 0.0, 0), (1, 10, 0.0, 0), (2, 20, 0.0, 0), (3, 30, 0.0, 0)]
    after_merge = [(0, 0, 0.0, 0), (1, 10, 1.0, 1), (3, 30, 0.0, 0)]
    mid_merge = [(0, 0, 0.0, 0), (3, 30, 0.0, 0)]

    def lookup(out, lo, hi):
        return Op("range", out=out, info={"lo": 0, "hi": 3, "state_lo": lo, "state_hi": hi})

    ops = [lookup(after_append, 0, 2), lookup(after_merge, 1, 2), lookup(mid_merge, 1, 2), lookup(after_merge, 0, 1)]
    feed = [(*r, "insert") for r in after_append] + [(1, 10, 0.0, 0, "delete"), (2, 20, 0.0, 0, "delete")]
    live, feed_error = replay(log, ops, feed, (1, 2))
    assert [op.error for op in ops[:2]] == [None, None]
    assert ops[2].error == TORN and not ops[2].correct
    assert ops[3].error.startswith("lookup matches no table version")  # merge not started yet
    assert feed_error == TORN
    assert live == multiset(after_merge, COLS)
    assert replay(log, [], [(*r, "insert") for r in after_merge], (2, 2))[1] is None


# ------------------------------------------------------------------ spark


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("wh")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_job_attribution_is_per_thread_under_concurrent_clients(spark):
    sc = spark.sparkContext
    tr = Tracer(True)
    tr.bind(sc)
    barrier = threading.Barrier(3)

    def client(i: int) -> None:
        barrier.wait()
        with tr.span(f"client{i}"):
            for _ in range(i + 1):
                assert sc.parallelize(range(100), 2).count() == 100  # one job, two tasks

    threads = [threading.Thread(target=client, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    sc.parallelize(range(10), 2).count()  # outside every span: attributed to none
    tr.collect(sc)
    for i in range(3):
        (sp,) = tr.named(f"client{i}")
        assert sp.work["jobs"] == i + 1
        assert sp.work["tasks"] == 2 * (i + 1)


def test_inclusive_work_adds_child_spans(spark):
    sc = spark.sparkContext
    tr = Tracer(True)
    tr.bind(sc)
    with tr.span("parent") as parent:
        sc.parallelize(range(10), 1).count()
        with tr.span("child"):
            sc.parallelize(range(10), 3).count()
    tr.collect(sc)
    assert parent.work["jobs"] == 1
    inc = tr.inclusive(parent)
    assert inc["jobs"] == 2 and inc["tasks"] == 4


# ------------------------------------------------------------------ smoke


def test_benchmark_json_lists_the_harness_metrics():
    with open(os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


def test_smoke_mode_prints_every_metric_with_its_unit():
    """Tiny inputs, every workload: exits 0 only if every metric named in
    BENCHMARK.json is printed with its unit and every output is correct."""
    proc = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload", "all", "--smoke", "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(PERFBENCH),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    details = [json.loads(x[len("kbench-detail "):]) for x in lines if x.startswith("kbench-detail ")]
    assert [d["workload"] for d in details] == ["curation", "serve_mix"]
    for d in details:
        assert d["detail"]["failed_frac"] == {"value": 0.0, "unit": "ratio"}
        assert d["detail"]["setup_s"]["unit"] == "s"
    assert details[1]["detail"]["torn_reads"]["unit"] == "count"
