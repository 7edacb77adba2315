"""Structured Streaming bridges: checkpointed incremental ingest and
watermarked event-time rollup."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from timeperiods_spark import TierCatalog, token_table
from timeperiods_spark.operators.rollup import rollup_regular
from timeperiods_spark.streaming.stream_ingest import (
    stream_ingest,
    windowed_rollup_stream,
)

from .conftest import assert_df_equal

IVARS = ("start_hour", "end_hour")
COLS = ["doc_id", "tokens", "n_tok", "source", "start_hour", "end_hour"]


def _write_batch(spark, path, lo, hi, n_total=3000):
    token_table(spark, n_total, doc_range=(lo, hi)).write.mode("append").parquet(path)


def test_stream_ingest_incremental(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat = TierCatalog(str(tmp_path / "cat"), ("n_tok",), ("source",))
    schema = token_table(spark, 1).schema

    # epoch 0: first two thirds of the corpus
    _write_batch(spark, src, 0, 2000)
    q = stream_ingest(
        spark, src, schema, cat, IVARS,
        checkpoint_dir=ckpt, manifest_dir=str(tmp_path / "m"),
    )
    q.awaitTermination()

    # more data arrives; a NEW availableNow query resumes from the
    # checkpoint and must process ONLY the new files
    _write_batch(spark, src, 2000, 3000)
    q2 = stream_ingest(
        spark, src, schema, cat, IVARS,
        checkpoint_dir=ckpt, manifest_dir=str(tmp_path / "m"),
    )
    q2.awaitTermination()

    # catalog state == one-shot batch build over the full corpus
    full = token_table(spark, 3000)
    for tier, width in cat.tiers.items():
        streamed = cat.read_finished(spark, tier, 0.0)
        direct = rollup_regular(
            full, IVARS, ("n_tok",), ("source",), width=width,
            required_percentage=0.0,
        )
        assert_df_equal(
            streamed.orderBy("source", "period"),
            direct.orderBy("source", "period"),
            ["source", "period"],
        )
    # each epoch left its own lineage units
    import os

    units = os.listdir(str(tmp_path / "m" / "units"))
    assert any("epoch0" in u for u in units) and any("epoch1" in u for u in units)


def test_windowed_rollup_stream_matches_batch_agg(spark, tmp_path):
    """availableNow file stream through the watermarked window agg ==
    the same aggregation done in batch."""
    src = str(tmp_path / "ev")
    rows = spark.range(500).select(
        (F.col("id") % 7).cast("string").alias("g"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 97).alias("ts"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    rows.write.parquet(src)

    stream = spark.readStream.schema(rows.schema).parquet(src)
    agg = windowed_rollup_stream(stream, "ts", "v", ["g"], window_duration="1 hour")
    out_path = str(tmp_path / "out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_path)

    batch = (
        rows.groupBy("g", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("v").alias("n_events"),
            F.sum("v").alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "g",
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "sum_value",
            "first_ts",
            "last_ts",
        )
    )
    # append mode emits only watermark-closed windows; the final window
    # may be withheld, so compare on the intersection of windows
    got_keys = {(r["g"], r["window_start"]) for r in got.collect()}
    batch_rows = {
        (r["g"], r["window_start"]): r for r in batch.collect()
    }
    assert len(got_keys) > 0
    for r in got.collect():
        b = batch_rows[(r["g"], r["window_start"])]
        assert r["n_events"] == b["n_events"]
        assert r["sum_value"] == pytest.approx(b["sum_value"])
        assert r["first_ts"] == b["first_ts"] and r["last_ts"] == b["last_ts"]


def test_stateful_locf_stream_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState gap-fill: the carried value must cross
    MICRO-BATCH boundaries (checkpointed state), not just row groups.
    Batch 1 observes periods 0 and 3 of group 'a'; batch 2 observes
    period 6 — the 4,5 gap rows must fill with batch-1's last value."""
    import pyspark.sql.types as T

    from timeperiods_spark.streaming.stream_ingest import stateful_locf_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    schema = T.StructType(
        [
            T.StructField("g", T.StringType()),
            T.StructField("period", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def run_once(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src) if part else spark.createDataFrame(rows, schema).coalesce(
            1
        ).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        filled = stateful_locf_stream(stream, ["g"], "period", "v")
        q = (
            filled.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once([("a", 0, 10.0), ("a", 3, 13.0), ("b", 5, 50.0)], part=False)
    run_once([("a", 6, 16.0)], part=True)

    got = {
        (r["g"], r["period"]): (r["v"], r["gap_filled"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[("a", 0)] == (10.0, False)
    assert got[("a", 1)] == (10.0, True) and got[("a", 2)] == (10.0, True)
    assert got[("a", 3)] == (13.0, False)
    # the cross-batch carry: gaps 4,5 filled from batch-1 state
    assert got[("a", 4)] == (13.0, True) and got[("a", 5)] == (13.0, True)
    assert got[("a", 6)] == (16.0, False)
    assert got[("b", 5)] == (50.0, False) and len(got) == 8


def test_sessionized_rollup_stream_matches_batch(spark, tmp_path):
    """Native session_window stream == the same session aggregation in
    batch, compared on watermark-closed sessions."""
    from timeperiods_spark.streaming.stream_ingest import (
        sessionized_rollup_stream,
    )

    src = str(tmp_path / "sev")
    # three bursts per group separated by > gap
    rows = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.timestamp_seconds(
            F.lit(1700000000)
            + (F.col("id") / 3).cast("long") * 7          # 7s cadence
            + ((F.col("id") / 100).cast("long") * 7200)   # 2h burst gaps
        ).alias("ts"),
        (F.col("id") % 5).cast("double").alias("v"),
    )
    rows.write.parquet(src)

    stream = spark.readStream.schema(rows.schema).parquet(src)
    agg = sessionized_rollup_stream(stream, "ts", "v", ["g"], gap="10 minutes")
    out_path = str(tmp_path / "sout")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "sck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["g"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_path).collect()
    }
    assert got  # at least the watermark-closed sessions emitted

    batch = (
        rows.groupBy("g", F.session_window("ts", "10 minutes").alias("win"))
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"))
        .select("g", F.col("win.start").alias("ss"), "n", "s")
    )
    want = {(r["g"], r["ss"]): (r["n"], r["s"]) for r in batch.collect()}
    for k, v in got.items():
        assert want[k] == v, (k, v, want.get(k))


def test_stream_dedup_ingest_equals_whole_corpus(spark, tmp_path):
    """Two availableNow passes over a growing corpus: the accumulated
    deduped output must equal the whole-corpus single_hop survivor set
    (monotone doc ids), with the band index persisted between passes."""
    from timeperiods_spark.operators.dedup import minhash_dedup
    from timeperiods_spark.streaming.stream_ingest import stream_dedup_ingest

    base = [
        "the quick brown fox jumps over the lazy dog in the park",
        "a completely different document about spark query engines",
        "numbers and symbols 123 456 !!! ??? mixed into text here",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        rows.append((i * 10 + 1, t + " extra tail words"))
    rows.append((99, base[0]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    src = str(tmp_path / "dsrc")
    docs.filter("doc_id < 20").write.mode("append").parquet(src)
    args = dict(
        id_col="doc_id", text_col="text",
        index_dir=str(tmp_path / "didx"), out_dir=str(tmp_path / "dout"),
        checkpoint_dir=str(tmp_path / "dck"), verify_threshold=0.4,
    )
    stream_dedup_ingest(spark, src, docs.schema, **args).awaitTermination()
    docs.filter("doc_id >= 20").write.mode("append").parquet(src)
    stream_dedup_ingest(spark, src, docs.schema, **args).awaitTermination()

    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "dout")).collect()}
    want = {
        r["doc_id"]
        for r in minhash_dedup(docs, "doc_id", "text", verify_threshold=0.4)
        .select("doc_id").collect()
    }
    assert got == want


def test_dedup_ingest_epoch_replay_idempotent(spark, tmp_path):
    """A crash-replayed foreachBatch epoch must not grow the persisted
    index or the survivor output: epoch-keyed overwrite writes make the
    replay rewrite its own files (round-4 ADVICE — append-mode index
    writes duplicated (id, band) rows on every replay, inflating all
    future candidate fan-out)."""
    from timeperiods_spark.streaming.stream_ingest import dedup_ingest_epoch

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "an entirely different document about streaming replay"),
        ],
        "doc_id long, text string",
    )
    args = dict(
        id_col="doc_id", text_col="text",
        index_dir=str(tmp_path / "idx"), out_dir=str(tmp_path / "out"),
        verify_threshold=0.4,
    )
    dedup_ingest_epoch(spark, docs, 0, **args)

    def snapshot():
        bands = spark.read.parquet(str(tmp_path / "idx" / "bands"))
        out = spark.read.parquet(str(tmp_path / "out"))
        return (
            sorted((r["id"], r["band"]) for r in bands.collect()),
            sorted(r["doc_id"] for r in out.collect()),
        )

    first = snapshot()
    # replay the SAME epoch (same batch, same epoch_id), as Structured
    # Streaming does after a crash between the writes and the commit
    dedup_ingest_epoch(spark, docs, 0, **args)
    assert snapshot() == first
    # no duplicate (id, band) index rows either
    bands, survivors = first
    assert len(bands) == len(set(bands))
    assert survivors == [1, 3]


def test_dedup_index_compaction(spark, tmp_path):
    """VERDICT r4 item 4: N epoch dirs → compact → 1 base + tail
    epochs; index content identical; replay of a compacted epoch is a
    full no-op; the next incremental batch probes the base correctly."""
    import os

    from timeperiods_spark.streaming import dedup_index as dix
    from timeperiods_spark.streaming.stream_ingest import dedup_ingest_epoch

    texts = [
        "the quick brown fox jumps over the lazy dog in the park today",
        "an entirely different document about streaming compaction and manifests",
        "numbers and symbols 123 456 mixed into this third document here",
        "yet another unrelated text about spark query planning internals",
    ]
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    args = dict(id_col="doc_id", text_col="text", index_dir=idx,
                out_dir=out, verify_threshold=0.4)

    # epochs 0..3: one new doc each plus a near-dup of an older doc
    for e in range(4):
        rows = [(e * 10, texts[e])]
        if e > 0:
            rows.append((e * 10 + 1, texts[e - 1] + " tail"))
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        dedup_ingest_epoch(spark, batch, e, **args)

    bands_root = os.path.join(idx, "bands")

    def index_rows():
        df = dix.read_live(spark, bands_root)
        return sorted((r["id"], r["band"], r["bsig"]) for r in df.collect())

    def survivors():
        return sorted(
            r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
        )

    before_rows, before_surv = index_rows(), survivors()
    assert len(dix.live_dirs(bands_root)) == 4

    # compact through epoch 2 (e.g. the last checkpointed one)
    res = dix.compact_index(spark, idx, through_epoch=2)
    assert res["bands"] and res["bands"].startswith("__base")
    assert sorted(dix.live_dirs(bands_root)) == [res["bands"], "__epoch=3"]
    assert index_rows() == before_rows  # content unchanged
    assert dix.compacted_through(bands_root) == 2

    # replay of a compacted epoch: full no-op (no dirs, no rows)
    replay = spark.createDataFrame([(10, texts[1])], "doc_id long, text string")
    dedup_ingest_epoch(spark, replay, 1, **args)
    assert sorted(dix.live_dirs(bands_root)) == [res["bands"], "__epoch=3"]
    assert not os.path.isdir(os.path.join(bands_root, "__epoch=1"))
    assert index_rows() == before_rows and survivors() == before_surv

    # next batch probes the compacted base: near-dup of epoch-0 doc drops
    nxt = spark.createDataFrame(
        [(50, texts[0] + " tiny suffix"), (51, "completely novel fifth text about gardens")],
        "doc_id long, text string",
    )
    dedup_ingest_epoch(spark, nxt, 4, **args)
    surv = survivors()
    assert 51 in surv and 50 not in surv

    # second compaction folds base + tail into a new generation
    res2 = dix.compact_index(spark, idx, through_epoch=4)
    assert res2["bands"] != res["bands"]
    assert dix.live_dirs(bands_root) == [res2["bands"]]
    # all rows preserved across two generations
    ids = {i for i, _, _ in index_rows()}
    assert {0, 10, 11, 20, 21, 30, 31, 50, 51} <= ids


def test_epoch_manifest_concurrent_register_and_compact(spark, tmp_path):
    """ADVICE r5: register_epoch and compact_root are both manifest
    writers; unserialized, a stale register write could drop a
    just-swapped __base from the live set. With the manifest lock +
    re-read-merge swap, every epoch registered WHILE a compaction runs
    survives in the final live set alongside the new base — under any
    interleaving."""
    import threading

    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    small = spark.range(4).selectExpr("id", "id AS band", "array(id) AS bsig")
    for e in range(3):
        small.write.parquet(os.path.join(root, f"__epoch={e}"))
        dix.register_epoch(root, e)

    err: list = []

    def compact():
        try:
            dix.compact_root(spark, root, through_epoch=1)
        except Exception as exc:  # pragma: no cover - surfaced below
            err.append(exc)

    t = threading.Thread(target=compact)
    t.start()
    registered = []
    for e in range(10, 40):
        dix.register_epoch(root, e)
        registered.append(e)
    t.join()
    assert not err, err
    live = dix.live_dirs(root)
    assert any(d.startswith("__base") for d in live), live
    for e in registered:
        assert f"__epoch={e}" in live, (e, live)
    assert "__epoch=2" in live and "__epoch=0" not in live


def test_vacuum_spares_inflight_epoch_dirs(spark, tmp_path):
    """An epoch dir whose data files landed but whose register_epoch
    commit has not run (id > compacted_through, not live) must survive
    vacuum — deleting it would race the ingest thread. Stale dirs at or
    below the watermark are reclaimed."""
    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    small = spark.range(2).selectExpr("id", "id AS band", "array(id) AS bsig")
    for e in range(3):
        small.write.parquet(os.path.join(root, f"__epoch={e}"))
        dix.register_epoch(root, e)
    dix.compact_root(spark, root, through_epoch=2, remove_old=True)

    # in-flight: data landed, not yet registered, id above the watermark
    small.write.parquet(os.path.join(root, "__epoch=7"))
    # stale replay of a compacted epoch: id at/below the watermark
    small.write.parquet(os.path.join(root, "__epoch=1"))
    dropped = dix.vacuum_root(root)
    assert "__epoch=1" in dropped and "__epoch=7" not in dropped
    assert os.path.isdir(os.path.join(root, "__epoch=7"))
    # once registered it joins the live set and is never vacuumable
    assert dix.register_epoch(root, 7)
    assert "__epoch=7" in dix.live_dirs(root)


def test_compact_reserves_base_and_vacuum_spares_pending(spark, tmp_path):
    """ADVICE r6: (a) a concurrent compactor mid-merge is visible as an
    empty reserved base dir + __pending marker — a second compact_root
    must pick the NEXT generation name, and vacuum_root must not rmtree
    the in-flight base; (b) once the marker is gone (crashed compactor,
    never swapped) the dead dir is reclaimable."""
    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    small = spark.range(4).selectExpr("id", "id AS band", "array(id) AS bsig")
    for e in range(3):
        small.write.parquet(os.path.join(root, f"__epoch={e}"))
        dix.register_epoch(root, e)

    # simulate compactor A between its reservation and its swap
    pending = os.path.join(root, "__base0")
    os.makedirs(pending)
    open(dix._pending_marker(root, "__base0"), "w").close()

    # a pending base is invisible to legacy discovery readers
    assert "__base0" not in dix.live_dirs(root)

    # compactor B: skips the reserved name, completes, and its vacuum
    # (remove_old=True) spares the in-flight base
    name = dix.compact_root(spark, root, through_epoch=2, remove_old=True)
    assert name == "__base1"
    assert dix.live_dirs(root) == ["__base1"]
    assert os.path.isdir(pending)
    assert os.path.isfile(dix._pending_marker(root, "__base0"))

    # marker gone (compactor A crashed pre-swap): now it is dead
    os.remove(dix._pending_marker(root, "__base0"))
    assert "__base0" in dix.vacuum_root(root)
    assert not os.path.isdir(pending)


def test_concurrent_compactors_exactly_one_wins(spark, tmp_path):
    """ADVICE r6: two compact_root callers racing on one root never
    share a base dir and never publish duplicate rows — the loser
    (fold set already swapped away, or nothing left to merge) returns
    None and its reserved dir is reclaimed."""
    import threading

    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    small = spark.range(4).selectExpr("id", "id AS band", "array(id) AS bsig")
    for e in range(3):
        small.write.parquet(os.path.join(root, f"__epoch={e}"))
        dix.register_epoch(root, e)

    results: list = [None, None]
    errs: list = []

    def compact(slot):
        try:
            results[slot] = dix.compact_root(spark, root, through_epoch=2)
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    ts = [threading.Thread(target=compact, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    winners = [r for r in results if r is not None]
    assert len(winners) == 1, results
    assert dix.live_dirs(root) == [winners[0]]
    rows = sorted(
        (r["id"], r["band"]) for r in dix.read_live(spark, root).collect()
    )
    # 3 epochs x 4 distinct rows, no duplication from a double-publish
    assert len(rows) == 12 and len(set(rows)) == 4


def _epoch_index(spark, root):
    """Three unregistered epoch dirs under ``root``."""
    small = spark.range(4).selectExpr("id", "id AS band", "array(id) AS bsig")
    for e in range(3):
        small.write.parquet(os.path.join(root, f"__epoch={e}"))


def test_compact_writes_marker_before_base_dir(spark, tmp_path, monkeypatch):
    """A vacuum that runs the moment compact_root's base dir appears
    must already see its pending marker and spare the dir."""
    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    _epoch_index(spark, root)
    for e in range(3):
        dix.register_epoch(root, e)
    real_makedirs = os.makedirs
    dropped: list = []

    def makedirs(path, *a, **kw):
        real_makedirs(path, *a, **kw)
        if os.path.basename(path).startswith(dix.BASE_PREFIX):
            dropped.extend(dix.vacuum_root(root))

    monkeypatch.setattr(os, "makedirs", makedirs)
    name = dix.compact_root(spark, root, through_epoch=2, remove_old=False)
    monkeypatch.undo()
    assert name == "__base0"
    assert name not in dropped, dropped


def test_scanners_list_dirs_before_markers(spark, tmp_path, monkeypatch):
    """A compactor reserving a base (marker, then dir) right after a
    scanner read the markers must stay invisible to live_dirs and safe
    from vacuum_root."""
    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    _epoch_index(spark, root)
    real = dix._pending_bases

    def reserve_after_scan(name):
        fired = []

        def pending_bases(r):
            out = real(r)
            if not fired:
                fired.append(name)
                open(dix._pending_marker(root, name), "w").close()
                os.makedirs(os.path.join(root, name))
            return out

        monkeypatch.setattr(dix, "_pending_bases", pending_bases)

    # legacy layout (no manifest): discovery must not expose the base
    reserve_after_scan("__base8")
    assert "__base8" not in dix.live_dirs(root)
    monkeypatch.setattr(dix, "_pending_bases", real)
    for e in range(3):
        dix.register_epoch(root, e)
    # manifest layout: vacuum must not delete the in-flight base
    reserve_after_scan("__base9")
    assert "__base9" not in dix.vacuum_root(root)
    assert os.path.isdir(os.path.join(root, "__base9"))


def test_vacuum_rechecks_marker_and_tolerates_vanished_dirs(
    spark, tmp_path, monkeypatch
):
    """Between vacuum's snapshot and its rmtree, a dead dir may vanish
    (a lost-race compactor deleting its own base) or gain a pending
    marker: the vacuum neither fails nor deletes the marked dir."""
    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    _epoch_index(spark, root)
    for e in range(3):
        dix.register_epoch(root, e)
    assert dix.compact_root(
        spark, root, through_epoch=2, remove_old=False
    ) == "__base0"
    os.makedirs(os.path.join(root, "__base7"))  # dead, unmarked
    real = dix._epoch_id

    def epoch_id(name):
        if name == "__epoch=1":
            shutil.rmtree(os.path.join(root, name))
        if name == "__base7":
            open(dix._pending_marker(root, name), "w").close()
        return real(name)

    monkeypatch.setattr(dix, "_epoch_id", epoch_id)
    dropped = dix.vacuum_root(root)
    assert sorted(dropped) == ["__epoch=0", "__epoch=1", "__epoch=2"]
    assert os.path.isdir(os.path.join(root, "__base7"))


def test_next_base_name_skips_marked_names(spark, tmp_path):
    """A pending marker whose dir is gone (manual cleanup of a crashed
    compactor's dir) still retires its generation name."""
    from timeperiods_spark.streaming import dedup_index as dix

    root = str(tmp_path / "bands")
    _epoch_index(spark, root)
    for e in range(3):
        dix.register_epoch(root, e)
    open(dix._pending_marker(root, "__base0"), "w").close()
    assert dix.compact_root(spark, root, through_epoch=2) == "__base1"
    assert dix.live_dirs(root) == ["__base1"]


def test_distinct_rollup_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming HLL window partials == the batch sketch of the same
    windows, and they cascade with the batch distinct machinery."""
    from timeperiods_spark import finalize_distinct
    from timeperiods_spark.operators.rollup import merge_partials as _mp  # noqa: F401
    from timeperiods_spark.streaming.stream_ingest import distinct_rollup_stream

    src = str(tmp_path / "ev_d")
    rows = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 23).alias("ts"),
        (F.col("id") % 311).alias("uid"),
    )
    rows.write.parquet(src)

    stream = spark.readStream.schema(rows.schema).parquet(src)
    agg = distinct_rollup_stream(stream, "ts", "uid", ["g"],
                                 window_duration="1 hour")
    out_path = str(tmp_path / "out_d")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ck_d"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_path)
    assert got.count() > 0

    batch = (
        rows.groupBy("g", F.window("ts", "1 hour").alias("win"))
        .agg(F.hll_sketch_agg("uid", F.lit(12)).alias("hll_uid"),
             F.count(F.lit(1)).alias("n_events"))
        .select("g", F.col("win.start").alias("window_start"),
                F.hll_sketch_estimate("hll_uid").alias("est"), "n_events")
    )
    bm = {(r["g"], r["window_start"]): r for r in batch.collect()}
    for r in got.select(
        "g", "window_start", "n_events",
        F.hll_sketch_estimate("hll_uid").alias("est"),
    ).collect():
        b = bm[(r["g"], r["window_start"])]
        assert r["n_events"] == b["n_events"]
        assert r["est"] == b["est"]  # same rows -> same sketch estimate

    # the emitted sketches merge through the batch distinct machinery:
    # union all streamed windows per group == direct whole-data sketch
    per_group = got.withColumn("period", F.lit(0).cast("long")).groupBy(
        "g", "period"
    ).agg(F.hll_union_agg("hll_uid").alias("hll_uid"))
    est = {r["g"]: r["n_distinct_est"] for r in finalize_distinct(
        per_group, "uid", ["g"], width=1).collect()}
    exact = {r["g"]: r["n"] for r in rows.groupBy("g").agg(
        F.count_distinct("uid").alias("n")).collect()}
    for g, e in est.items():
        assert abs(e - exact[g]) <= 0.05 * exact[g]


def test_ewma_stream_equals_batch_over_concatenation(spark, tmp_path):
    """Streaming EWMA folds the recurrence across micro-batch
    boundaries: feeding batches 1..k equals the batch operator over
    the concatenation (same init, same rounding grid)."""
    import pyspark.sql.types as T

    from timeperiods_spark import ewma
    from timeperiods_spark.streaming.stream_ingest import ewma_stream

    src = str(tmp_path / "esrc")
    ckpt = str(tmp_path / "eck")
    out_dir = str(tmp_path / "eout")
    schema = T.StructType([
        T.StructField("g", T.StringType()),
        T.StructField("t", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])

    def run_once(rows, first):
        mode = "overwrite" if first else "append"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            mode).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        sm = ewma_stream(stream, ["g"], "t", "v", alpha=0.3)
        q = (
            sm.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    b1 = [("a", 1, 10.0), ("a", 3, 20.0), ("b", 2, 5.0), ("a", 4, None)]
    b2 = [("a", 7, 30.0), ("b", 9, 6.0), ("a", 2, 99.0)]  # a@2 is LATE
    run_once(b1, first=True)
    run_once(b2, first=False)

    got = {(r["g"], r["t"]): r["ewma"]
           for r in spark.read.parquet(out_dir).collect()}
    all_rows = [r for r in b1 + b2 if r[2] is not None
                and not (r[0] == "a" and r[1] == 2)]  # late row dropped
    df = spark.createDataFrame(all_rows, schema)
    want = {(r["g"], r["t"]): r["ewma"]
            for r in ewma(df, "t", "v", ["g"], alpha=0.3).collect()}
    assert got.keys() == want.keys()
    for k in got:
        assert abs(got[k] - want[k]) < 2e-6, k
    # NULL value row emitted nothing
    assert ("a", 4) not in got
