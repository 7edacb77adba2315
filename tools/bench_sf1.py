"""One-shot sf1.0 headline bench (VERDICT r3 item 9).

The driver only ships sf0.1 parquet; this tool deterministically
synthesizes a 10x corpus (/tmp, never under /root/testdata) and runs
the SAME headline queries bench.py runs, recording per-query walls and
the sf1.0/sf0.1 ratio so superlinear fan-out constants show up one
order of magnitude closer to the design point.

Synthesis = 10 shifted copies of each sf0.1 table with remapped keys.
documents.text additionally gets a per-copy Caesar rotation
(``translate`` over both alphabets), so copies are NOT near-duplicates
of each other: every base doc would otherwise become a 10-clique and
the minhash pair count would scale ~100x for 10x rows — a property of
that artificial corpus, not of the operator. Rotation keeps the
per-copy near-dup density identical to sf0.1 → honest linear scaling.

Run:  python tools/bench_sf1.py            (~tens of minutes)
Out:  BENCH_DETAIL_SF1.json at the repo root + one summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.environ.setdefault("SPARK_GRAFT_SF1_DIR", "/tmp/sparkgraft_sf1")
COPIES = int(os.environ.get("SPARK_GRAFT_SF1_COPIES", "10"))

# bench.py reads these at import time — set before importing
os.environ["SPARK_GRAFT_SF_DIR"] = SF1_DIR
os.environ.setdefault("SPARK_GRAFT_BENCH_DOCS", str(10_000_000))
os.environ.setdefault("SPARK_GRAFT_BENCH_REPS", "2")

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from timeperiods_spark import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
ALPHA = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"


def _rot(s: str, i: int) -> str:
    return s[i % len(s):] + s[: i % len(s)]


def synthesize(spark) -> None:
    # v2: rotation also covers digits — leaving numbers unrotated made
    # numeric shingles identical across copies, creating hot cross-copy
    # LSH buckets (measured 113x candidate pairs at 10x docs: a data-
    # construction artifact, not operator behavior)
    marker = os.path.join(SF1_DIR, "_SYNTH_OK_V2")
    if os.path.exists(marker):
        return
    os.makedirs(SF1_DIR, exist_ok=True)
    specs = {
        # table -> (key shift columns, per-copy extra transform)
        "orders": (["o_orderkey", "o_custkey"], None),
        "events": (["event_id", "user_id"], None),
        "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], None),
        "documents": (["doc_id"], "rotate_text"),
    }
    for name, (keys, xform) in specs.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        row = df.agg(*[F.max(k).alias(k) for k in keys]).first()
        if any(row[k] is None for k in keys):
            raise ValueError(f"{name}: empty source or all-NULL key column")
        shifts = {k: row[k] + 1 for k in keys}
        parts = []
        for i in range(COPIES):
            part = df
            for k, m in shifts.items():
                part = part.withColumn(k, F.col(k) + F.lit(i * m))
            if xform == "rotate_text" and i > 0:
                part = part.withColumn(
                    "text",
                    F.translate(
                        "text",
                        ALPHA + ALPHA.upper() + DIGITS,
                        _rot(ALPHA, i) + _rot(ALPHA.upper(), i)
                        + _rot(DIGITS, i),
                    ),
                )
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(bench.CPUS * 2).write.mode("overwrite").parquet(
            f"{SF1_DIR}/{name}.parquet"
        )
        print(f"synthesized {name}: {COPIES}x", flush=True)
    with open(marker, "w") as f:
        f.write("ok\n")


def pipeline_probe(spark) -> dict:
    """10x scale ratios for the pipeline surface (VERDICT r4 item 6):
    pack_chunks, ngram_contamination, and minhash_dedup_incremental
    have fan-out constants (per-chunk collect_list, gram explosion,
    band-index probes) that the headline set never exercises. Each
    workload runs at a base scale and at 10x; the wall ratio at 10x
    data should be <= ~linear (10) plus noise. Probes ride along so a
    steal-dirty ratio is visible as such."""
    from timeperiods_spark.operators.dedup import (
        build_minhash_index,
        minhash_dedup_incremental,
    )
    from timeperiods_spark.operators.packing import pack_chunks
    from timeperiods_spark.operators.tokenstats import ngram_contamination
    from timeperiods_spark.sources.tokens import token_table

    n_base = int(os.environ.get("SPARK_GRAFT_SF1_PIPE_DOCS", "30000"))

    def w_pack(n_docs: int):
        def run():
            t = token_table(spark, n_docs, with_interval=False,
                            partitions=bench.CPUS * 4)
            out = pack_chunks(t, "doc_id", "tokens", "n_tok",
                              chunk_len=256, group_by=["source"])
            return out.count()
        return run

    def w_contam(n_docs: int):
        def run():
            t = token_table(spark, n_docs, with_interval=False,
                            partitions=bench.CPUS * 4)
            did = F.col("doc_id").cast("long")
            train = t.filter(did < n_docs // 4)
            test = t.filter(did >= n_docs // 4)
            out = ngram_contamination(test, train, "tokens", "doc_id", n=8)
            return out.count()
        return run

    def w_minhash_inc(sf_dir: str, split: int):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def run():
            did = F.col("doc_id").cast("long")
            idx_b, idx_s = build_minhash_index(
                docs.filter(did < split), "doc_id", "text",
                k=5, n_hashes=12, bands=4, hash_fn="xxhash64",
            )
            r = minhash_dedup_incremental(
                docs.filter(did >= split), "doc_id", "text",
                index_bands=idx_b, index_shingles=idx_s,
                k=5, n_hashes=12, bands=4, verify_threshold=0.4,
                hash_fn="xxhash64",
            )
            return r["deduped"].count()
        return run

    def w_spans(sf_dir: str):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def run():
            from timeperiods_spark import duplicate_spans

            # production key shape: 8-byte hashed windows. The sf1
            # corpus Caesar-rotates each copy, so duplication stays
            # within-copy and the expected output grows ~linearly.
            out = duplicate_spans(docs, "doc_id", "text", k=12,
                                  hash_windows=True)
            return out.count()
        return run

    def w_dedup_lines(sf_dir: str):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def run():
            from timeperiods_spark import dedup_lines

            # line-broken docs (the synthetic corpus is single-line):
            # break after every 5 words — whitespace survives the sf1
            # per-copy Caesar rotation, so BOTH legs get the same line
            # shape (a word-keyed break would leave rotated copies
            # single-line and flatter the 10x ratio).
            # hash_lines = the 8-byte production key shape.
            broken = docs.select(
                F.col("doc_id"),
                F.regexp_replace(
                    F.col("text"), r"((?:\S+\s+){5})", "$1\n"
                ).alias("text"),
            )
            out = dedup_lines(broken, "doc_id", "text", hash_lines=True)
            return out.count()
        return run

    def w_holt(n_rows: int):
        def run():
            from timeperiods_spark import holt

            # synthetic long series: 8 groups x n_rows/8 points — the
            # bucketed matrix-scan path (few groups, big domain)
            n_g = 8
            base = spark.range(n_rows).select(
                (F.col("id") % n_g).alias("g"),
                (F.col("id") / n_g).cast("long").alias("t"),
                (F.sin(F.col("id") / 97.0) * 50 + 100).alias("v"),
            )
            out = holt(base, "t", "v", ["g"], alpha=0.3, beta=0.2)
            return out.count()
        return run

    def w_ohlc(n_rows: int):
        def run():
            from timeperiods_spark import rollup_ohlc

            base = spark.range(n_rows, numPartitions=bench.CPUS * 4).select(
                (F.col("id") % 16).cast("string").alias("g"),
                (F.col("id") / 16).cast("long").alias("p"),
                ((F.col("id") * 2654435761) % 100000).cast("double").alias("v"),
            )
            out = rollup_ohlc(base, "p", "v", ["g"], bucket_width=3600)
            return out.count()
        return run

    def w_xcorr(n_rows: int):
        def run():
            from timeperiods_spark import cross_correlation

            n_s = 8
            base = spark.range(n_rows, numPartitions=bench.CPUS * 4).select(
                F.concat(F.lit("s"), (F.col("id") % n_s)).alias("s"),
                (F.col("id") / n_s).cast("long").alias("p"),
                (F.sin(F.col("id") / 101.0) * 40 + 80).alias("v"),
            )
            out = cross_correlation(
                base, "p", "v", "s",
                pairs=[("s0", "s1"), ("s2", "s3"), ("s4", "s4")],
                lags=[-2, -1, 0, 1, 2],
            )
            return out.count()
        return run

    def w_vocab(n_docs: int):
        def run():
            from timeperiods_spark import vocab_coverage

            t = token_table(spark, n_docs, with_interval=False,
                            partitions=bench.CPUS * 4)
            toks = t.select(
                F.transform("tokens", lambda x: (x % 4099).cast("string"))
                .alias("tokens")
            )
            return vocab_coverage(
                toks, vocab_sizes=[10, 100, 1000]
            ).count()
        return run

    # sf0.1 has 5000 docs (ids 0..4999); sf1 = 10 shifted copies. The
    # incremental base probes the top 10% against the other 90%; at 10x
    # the batch is copy 9 probing the index of copies 0-8.
    workloads = {
        "pack_chunks": (w_pack(n_base), w_pack(n_base * 10)),
        "ngram_contamination": (w_contam(n_base), w_contam(n_base * 10)),
        "minhash_dedup_incremental": (
            w_minhash_inc(SRC, 4500),
            w_minhash_inc(SF1_DIR, 45000),
        ),
        "duplicate_spans": (w_spans(SRC), w_spans(SF1_DIR)),
        "dedup_lines": (w_dedup_lines(SRC), w_dedup_lines(SF1_DIR)),
        "holt": (w_holt(400_000), w_holt(4_000_000)),
        "rollup_ohlc": (w_ohlc(4_000_000), w_ohlc(40_000_000)),
        "xcorr": (w_xcorr(2_000_000), w_xcorr(20_000_000)),
        "vocab_coverage": (w_vocab(n_base), w_vocab(n_base * 10)),
    }
    def contam_phases(n_docs: int) -> dict:
        """Phase profile for the gram-join fan-out (VERDICT r5 item 7):
        distinct (doc, gram) rows on the test side, distinct grams on
        the train side, and each phase's wall — the join's input sizes
        ARE the fan-out constant, so a super-linear wall at 100x will
        be attributable to a specific side before it happens. Built
        from the same token_ngram_counts the operator composes, so the
        counted rows are exactly the join inputs."""
        from timeperiods_spark.operators.tokenstats import (
            token_ngram_counts,
        )

        t = token_table(spark, n_docs, with_interval=False,
                        partitions=bench.CPUS * 4)
        did = F.col("doc_id").cast("long")
        train = t.filter(did < n_docs // 4)
        test = t.filter(did >= n_docs // 4)
        t0 = time.time()
        test_rows = token_ngram_counts(
            test.select("doc_id", "tokens"), "tokens", n=8,
            group_by=["doc_id"],
        ).count()
        t_test = time.time() - t0
        t0 = time.time()
        train_rows = token_ngram_counts(
            train.select("tokens"), "tokens", n=8
        ).count()
        t_train = time.time() - t0
        t0 = time.time()
        out_rows = ngram_contamination(
            test, train, "tokens", "doc_id", n=8
        ).count()
        t_full = time.time() - t0
        return {
            "docs": n_docs,
            "test_gram_rows": test_rows,
            "train_distinct_grams": train_rows,
            "output_rows": out_rows,
            "test_grams_s": round(t_test, 3),
            "train_grams_s": round(t_train, 3),
            "full_s": round(t_full, 3),
            "join_agg_s_approx": round(
                max(0.0, t_full - t_test - t_train), 3
            ),
        }

    only = os.environ.get("SPARK_GRAFT_SF1_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        workloads = {k: v for k, v in workloads.items() if k in keep}
    out: dict = {"base_docs": n_base}
    if "ngram_contamination" in workloads:
        out["ngram_contamination_phases"] = {
            "small": contam_phases(n_base),
            "large": contam_phases(n_base * 10),
            "note": (
                "wall ratio tracks the JOIN-INPUT row ratios "
                "(test_gram_rows x train_distinct_grams growth), not "
                "the output rows — a 10x-docs run grows both join "
                "sides ~10x, so a ~7x wall ratio is the fan-out "
                "constant surfacing, not super-linear blowup; "
                "join_agg_s_approx isolates the join+aggregate phase "
                "(full minus the two gram-build walls, which the full "
                "run recomputes internally)"
            ),
        }
        print(json.dumps(
            {"ngram_contamination_phases":
             out["ngram_contamination_phases"]}), flush=True)
    for name, (small, large) in workloads.items():
        rows_s, wall_s, pr_s = bench._bracketed_call(
            small, bench.HEAD_CANARY_THREADS
        )
        rows_l, wall_l, pr_l = bench._bracketed_call(
            large, bench.HEAD_CANARY_THREADS
        )
        thr = bench._probe_threshold(bench.HEAD_CANARY_THREADS)
        out[name] = {
            "small_seconds": wall_s,
            "large_seconds": wall_l,
            "ratio_at_10x": round(wall_l / max(wall_s, 1e-9), 2),
            "rows": [rows_s, rows_l],
            "clean": bool(max(pr_s + pr_l) <= thr),
            "probes": [[round(p, 3) for p in pr_s],
                       [round(p, 3) for p in pr_l]],
        }
        print(json.dumps({name: {k: v for k, v in out[name].items()
                                 if k != "probes"}}), flush=True)
    return out


def main() -> None:
    spark = get_spark(
        "bench-sf1",
        master=f"local[{bench.CPUS}]",
        shuffle_partitions=bench.CPUS * 2,
        driver_memory="96g",
    )
    t0 = time.time()
    synthesize(spark)
    synth_s = round(time.time() - t0, 1)

    t0 = time.time()
    times, extras = {}, {}
    if os.environ.get("SPARK_GRAFT_SF1_HEADLINE", "1") != "0":
        times, extras = bench.bench_queries(spark)
    total = round(sum(times.values()), 3)

    pipeline = {}
    if os.environ.get("SPARK_GRAFT_SF1_PIPELINE", "1") != "0":
        pipeline = pipeline_probe(spark)

    # sf0.1 best reference from the committed BENCH_DETAIL.json
    # (headline_extras carries per-rep walls as <q>_all_seconds)
    ref = {}
    ref_path = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            he = json.load(f).get("headline_extras", {})
        ref = {
            k[: -len("_all_seconds")]: min(v)
            for k, v in he.items()
            if k.endswith("_all_seconds") and isinstance(v, list) and v
        }
    ratios = {
        q: round(times[q] / ref[q], 2)
        for q in times
        if isinstance(ref.get(q), (int, float)) and ref[q] > 0
    }

    out = {
        "sf": 1.0,
        "copies": COPIES,
        "synth_seconds": synth_s,
        "cpus": bench.CPUS,
        "n_docs_tier": bench.N_DOCS,
        "total_seconds": total,
        "queries": {q: round(t, 3) for q, t in times.items()},
        "sf01_reference": ref,
        "ratio_vs_sf01": ratios,
        "pipeline_10x": pipeline,
        "wall_seconds": round(time.time() - t0, 1),
        "extras": {
            k: v
            for k, v in extras.items()
            if not k.endswith("_bracket_probes")
        },
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_SF1_OUT", os.path.join(REPO, "BENCH_DETAIL_SF1.json")
    )
    if os.environ.get("SPARK_GRAFT_SF1_MERGE") == "1" and os.path.exists(out_path):
        # additive probe run: update only what was measured, keep the
        # committed quiet-window evidence for everything else
        with open(out_path) as f:
            prev = json.load(f)
        merged_pipe = dict(prev.get("pipeline_10x") or {})
        merged_pipe.update({k: v for k, v in pipeline.items() if k != "base_docs"})
        if pipeline:
            merged_pipe["base_docs"] = pipeline.get(
                "base_docs", merged_pipe.get("base_docs")
            )
        prev["pipeline_10x"] = merged_pipe
        if times:
            prev["queries"] = out["queries"]
            prev["total_seconds"] = out["total_seconds"]
            prev["ratio_vs_sf01"] = out["ratio_vs_sf01"]
            prev["extras"] = out["extras"]
        out = prev
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    print(json.dumps({
        "metric": "sf1_headline_seconds",
        "value": total,
        "unit": "sec",
        "queries": out["queries"],
        "ratio_vs_sf01": ratios,
        "sf": 1.0,
    }))


if __name__ == "__main__":
    main()
