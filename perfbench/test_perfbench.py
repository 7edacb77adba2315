"""The benchmark's own tests: reference cross-checks, per-call job
attribution, and smoke runs of every workload.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root; the smoke runs start ``run.py`` as a
subprocess each and take under a minute apiece.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import reference as ref  # noqa: E402
from run import layer_metric_names  # noqa: E402

WORKLOADS = ("interval_core", "tiers")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


@pytest.fixture(scope="module")
def spark():
    from timeperiods_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=4,
                  driver_memory="1g")
    yield s
    s.stop()


# --------------------------------------------------------------- references


def test_grid_reference_matches_slow_oracle(spark):
    """The NumPy interval average agrees with the package's row-by-row
    reference implementation on a small random grid."""
    from timeperiods_spark.operators.interval_avg_slow import interval_weighted_avg_slow

    rng = np.random.default_rng(7)
    n, width, phase, cells = 60, 10, 3, 30
    g = np.arange(n) % 3
    length = rng.integers(1, 14, n)
    s = np.zeros(n, np.int64)
    for k in range(3):
        m = g == k
        step = length[m] + rng.integers(0, 3, m.sum())
        s[m] = 10 + np.cumsum(step) - step
    e = s + length - 1
    v = np.round(rng.uniform(1, 100, n), 2)
    x = spark.createDataFrame(
        [(int(a), int(b), int(c), float(d)) for a, b, c, d in zip(g, s, e, v)],
        "g int, s long, e long, v double")
    ys = phase + width * np.arange(cells)
    y = spark.createDataFrame(
        [(k, int(a), int(a) + width - 1) for k in range(3) for a in ys],
        "g int, s long, e long")
    got = interval_weighted_avg_slow(x, y, ("s", "e"), ("v",), ("g",), 50.0) \
        .orderBy("g", "s").toPandas()
    exp = ref.grid_weighted_avg(g, s, e, v, n_groups=3, phase=phase, width=width,
                                n_cells=cells, required_percentage=50.0)
    assert np.array_equal(got["xduration"].to_numpy(np.int64), exp["xduration"].ravel())
    covered = exp["xduration"].ravel() > 0
    for col in ("xminstart", "xmaxend"):
        assert np.array_equal(got[col].to_numpy()[covered].astype(np.int64),
                              exp[col].ravel()[covered])
    a, b = got["v"].to_numpy(np.float64), exp["value"].ravel()
    assert np.array_equal(np.isnan(a), np.isnan(b))
    assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)], rtol=1e-12)


def test_token_reference_matches_duckdb_oracle():
    """The NumPy token-table closed forms agree with the package's DuckDB
    oracle SQL for the same generator."""
    duckdb = pytest.importorskip("duckdb")
    from timeperiods_spark.sources.tokens import token_table_oracle_sql

    n = 3000
    df = duckdb.sql(token_table_oracle_sql(n)).df()
    src, start, end, n_tok = ref.token_docs(0, n)
    assert np.array_equal(df["n_tok"].to_numpy(np.int64), n_tok)
    assert np.array_equal(df["start_hour"].to_numpy(np.int64), start)
    assert np.array_equal(df["end_hour"].to_numpy(np.int64), end)
    assert list(df["source"]) == [f"src_{k}" for k in src]


def test_atomic_pieces_reference_small_case():
    # [1,3] and [2,5] split into [1,1] [2,3] [4,5]: rows (1,1,1,3)
    # (2,3,1,3) (2,3,2,5) (4,5,2,5)
    out = ref.atomic_piece_sums([0, 0], [1, 2], [3, 5], n_groups=1)
    assert out.tolist() == [[4, 1 + 2 + 2 + 4, 1 + 3 + 3 + 5, 1 + 1 + 2 + 2, 3 + 3 + 5 + 5]]


def test_minhash_reference_matches_the_operator(spark):
    """The NumPy xxhash64 equals Spark's, and the reference survivors
    equal ``minhash_dedup``'s on a small headline-shaped corpus, with a
    cap low enough that hot buckets are dropped."""
    from pyspark.sql import functions as F

    from timeperiods_spark.operators.dedup import minhash_dedup

    rng = np.random.default_rng(5)
    grams = rng.choice(np.frombuffer(b"abcdefghij klmnop", np.uint8), (500, 5))
    got = spark.createDataFrame([(bytes(g).decode(),) for g in grams], "s string") \
        .select(F.xxhash64("s")).toPandas().iloc[:, 0].to_numpy(np.int64)
    assert np.array_equal(got, ref.xxhash64_5(grams))

    words = np.array("a the data row key join sort scan hash spark".split())
    texts = [" ".join(rng.choice(words, int(rng.integers(4, 30)))) for _ in range(150)]
    texts += [t + " dup" for t in texts[:15]] + texts[15:20]
    ids = rng.permutation(len(texts)).astype(np.int64)
    docs = spark.createDataFrame([(int(i), t) for i, t in zip(ids, texts)],
                                 "doc_id long, text string")
    for cap in (4, 500):
        want, stats = ref.minhash_dedup(ids, texts, threshold=0.5, max_bucket_size=cap)
        assert stats["verified_pairs"] >= 15
        assert (stats["hot_buckets"] > 0) == (cap == 4)
        got = minhash_dedup(docs, "doc_id", "text", verify_threshold=0.5,
                            hash_fn="xxhash64", max_bucket_size=cap,
                            hot_bucket_warn=False).select("doc_id").toPandas()
        assert np.array_equal(np.sort(got["doc_id"].to_numpy(np.int64)), want)


# ---------------------------------------------------------------- the meter


def test_jobs_launched_from_worker_threads_are_counted(spark):
    """A call that runs jobs on threads of its own (as ingest_batch does
    for its tier writes) owns them all: it counts the same jobs and
    tasks as the same actions run on the calling thread."""
    from sparkmeter import SparkMeter

    meter = SparkMeter(spark, enabled=True)

    def action(i):
        spark.range(0, 1000 * (i + 1), 1, 3).selectExpr("sum(id)").collect()

    def on_threads():
        threads = [threading.Thread(target=action, args=(i,)) for i in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        action(3)

    def on_caller():
        for i in range(4):
            action(i)

    meter.call("threads", on_threads)
    meter.call("caller", on_caller)
    meter.call("one", lambda: spark.range(100, numPartitions=2).collect())
    threads, caller, one = meter.records
    assert threads.counters["spark_jobs"] == caller.counters["spark_jobs"] >= 4
    assert threads.counters["tasks"] == caller.counters["tasks"] >= 4 * 3
    assert one.counters["spark_jobs"] == 1 and one.counters["tasks"] == 2
    assert threads.counters["cpu_s"] > 0


def test_repeated_call_does_not_recount_reused_stages(spark):
    """A second action over a persisted shuffle reuses (skips) its map
    stage; only the first call is charged for it."""
    from sparkmeter import SparkMeter

    meter = SparkMeter(spark, enabled=True)
    df = spark.range(0, 5000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
    held = {}

    def first():
        held["rdd"] = df.rdd  # with AQE, planning .rdd runs the shuffle
        return held["rdd"].collect()

    meter.call("first", first)
    meter.call("again", lambda: held["rdd"].collect())
    first, again = meter.records
    assert first.counters["shuffle_write_mb"] > 0
    assert again.counters["shuffle_write_mb"] == 0
    assert again.counters["stages"] < first.counters["stages"]


# ----------------------------------------------------------------- the runs


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct_and_traced(workload):
    proc, result = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", "1", "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    assert names == layer_metric_names()
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert any(ln.startswith("[layers] ") for ln in proc.stdout.splitlines())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_expected_value_fails_the_run(workload):
    proc, result = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", "0", "--smoke", "--corrupt")
    assert proc.returncode == 1
    assert result is not None and not result["correct"] and result["failed"] >= 1
    e2e = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == e2e


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interval_core",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
