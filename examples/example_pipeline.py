"""End-to-end training-data pipeline over the token table: the
composition a 10^12-sequence deployment runs nightly, here at demo
scale.

    1. near-dup dedup of the incoming batch against a persisted
       MinHash band index (incremental — no whole-corpus rescan);
    2. rollup of the survivors' token counts into the hourly tier
       (additive partials, sweep algorithm, carry hints);
    3. cascade to daily/weekly + gap-fill + 7-day rolling mean;
    4. Gorilla-compress the daily series into bounded blocks and prove
       the bit-exact round-trip;
    5. coverage report: merged active intervals and the gap report;
    6. eval-set decontamination (8-gram overlap scrub) + vocab heavy
       hitters over the survivors;
    7. pack the clean token streams into fixed-length training windows
       and prove the packing is lossless;
    8. raw-text hygiene: Gopher rule flags -> PII scrub -> cross-corpus
       line dedup -> quality-weighted hash sampling.

Run: python examples/example_pipeline.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from timeperiods_spark import (  # noqa: E402
    build_minhash_index,
    cascade,
    compress_series,
    decompress_series,
    find_gaps,
    gap_fill_locf,
    get_spark,
    merge_intervals,
    minhash_dedup_incremental,
    ngram_contamination,
    pack_chunks,
    rolling_window_agg,
    rollup_regular,
    token_histogram,
    token_table,
    topk_per_group,
)
from timeperiods_spark.operators.rollup import finalize_rollup  # noqa: E402


def main() -> None:
    spark = get_spark("example-pipeline", master="local[4]", shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="pipeline_demo_")
    try:
        # --- 1. incremental dedup: yesterday's corpus is the index ---
        docs = spark.createDataFrame(
            [(i, f"shared boilerplate text block number {i % 4} tail {i}")
             for i in range(40)],
            "doc_id long, text string",
        )
        idx_bands, idx_sh = build_minhash_index(
            docs.filter("doc_id < 20"), "doc_id", "text"
        )
        r = minhash_dedup_incremental(
            docs.filter("doc_id >= 20"), "doc_id", "text",
            index_bands=idx_bands, index_shingles=idx_sh,
            verify_threshold=0.5,
        )
        survivors = r["deduped"].count()
        print(f"[1] incremental dedup: {survivors} survivors of 20 new docs")

        # --- 2./3. tiers over the (already-clean) token table ---
        tok = token_table(spark, 20_000)
        hourly = rollup_regular(
            tok, ("start_hour", "end_hour"), ("n_tok",), ("source",),
            width=1, partial=True, algorithm="sweep", validate=False,
            carry_hints={"span": (0, 365 * 24 + 64), "groups": 11},
        )
        daily_p = cascade(hourly, ("n_tok",), ("source",), fine_width=1, coarse_width=24)
        daily = finalize_rollup(
            daily_p, ("n_tok",), ("source",), width=24, required_percentage=0.0
        )
        filled = gap_fill_locf(
            daily, ("n_tok",), ("source",), width=24,
            span=(0, 24 * 366 - 1), group_count_hint=11,
        )
        smooth = rolling_window_agg(
            daily.select("source", "period", F.col("n_tok").alias("value")),
            "period", "value", ["source"], k=7,
        )
        print(f"[2] daily tier: {daily.count()} rows; "
              f"[3] gap-filled {filled.count()}, 7d-rolling {smooth.count()}")

        # --- 4. compression round-trip ---
        series = daily.select("source", "period", F.col("n_tok").alias("value"))
        comp = compress_series(series, ["source"], block_size=4096).cache()
        back = decompress_series(comp, ["source"]).withColumnRenamed("value", "rt")
        mismatch = (
            series.join(back, ["source", "period"])
            .filter(~F.col("value").eqNullSafe(F.col("rt")))
            .count()
        )
        blocks = comp.count()
        raw, enc = comp.agg(F.sum("raw_bytes"), F.sum(F.length("blob"))).first()
        print(f"[4] gorilla: {blocks} blocks, {raw}->{enc} bytes "
              f"({raw/enc:.1f}x), {mismatch} round-trip mismatches")
        assert mismatch == 0

        # --- 5. coverage report on the raw intervals ---
        active = merge_intervals(
            tok.select("source", "start_hour", "end_hour"),
            ("start_hour", "end_hour"), ["source"],
        )
        gaps = find_gaps(
            tok.select("source", "start_hour", "end_hour"),
            ("start_hour", "end_hour"), ["source"], span=(0, 365 * 24 - 1),
        )
        print(f"[5] coverage: {active.count()} active intervals, "
              f"{gaps.count()} gaps across sources")

        # --- 6. decontamination + vocab stats ---
        corpus = tok.withColumn("did", F.col("doc_id").cast("long"))
        train = corpus.filter("did < 19000")
        evalset = corpus.filter("did >= 19000")
        cont = ngram_contamination(evalset, train, "tokens", "doc_id", n=8)
        flagged = cont.filter("n_hit > 0").count()
        clean_train = train.join(
            cont.filter("n_hit > 0").select(
                F.col("doc_id").cast("string").alias("doc_id")
            ),
            "doc_id",
            "left_anti",
        )
        top = topk_per_group(
            token_histogram(
                train.withColumn(
                    "tokens", F.transform("tokens", lambda x: x % 101)
                ),
                group_by=["source"],
            ),
            ["token"], F.sum("count"), group_by=["source"], k=3,
        )
        print(f"[6] decontamination: {flagged} of {evalset.count()} eval docs "
              f"flagged; per-source top-3 rows: {top.count()}")

        # --- 7. pack the clean stream into 2048-token windows ---
        packed = pack_chunks(
            clean_train.withColumn("doc_id", F.col("did")),
            "doc_id", "tokens", "n_tok", chunk_len=2048, group_by=["source"],
        )
        n_win, n_tok_out = packed.agg(
            F.count(F.lit(1)), F.sum("n_tok")
        ).first()
        n_tok_in = clean_train.agg(F.sum("n_tok")).first()[0]
        print(f"[7] packing: {n_tok_in} tokens -> {n_win} windows of 2048 "
              f"({n_tok_out} tokens out)")
        assert n_tok_in == n_tok_out, "packing must be lossless"

        # --- 8. text hygiene on raw docs: rules -> PII -> line dedup
        #        -> quality-weighted sampling ---
        from timeperiods_spark import (
            dedup_lines,
            gopher_quality,
            hash_sample,
            scrub_pii,
        )

        raw = spark.createDataFrame(
            [(i,
              ("the quick brown fox and the lazy dog have been seen " * 3)
              + f"\ncommon footer {i % 2}\nmail user{i}@example.com")
             for i in range(30)],
            "doc_id long, text string",
        )
        hygiene = scrub_pii(
            gopher_quality(raw, "text", min_words=20), "text",
        )
        cleaned = dedup_lines(
            hygiene.filter("gopher_keep").select("doc_id", "text_scrubbed"),
            "doc_id", "text_scrubbed",
        )
        # quality-weighted keep-rate: rule passes -> higher rate
        rated = hygiene.withColumn(
            "rate", F.when(F.col("gopher_keep"), 0.9).otherwise(0.2)
        )
        sampled = hash_sample(rated, "doc_id", rate_col="rate", seed=7)
        print(f"[8] hygiene: {cleaned.count()} docs after line dedup; "
              f"{hygiene.filter('email_count > 0').count()} had PII "
              f"(scrubbed); {sampled.count()} sampled by quality rate")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
