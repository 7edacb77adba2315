"""The benchmark workloads: ``interval_core`` and ``tiers``.

Each workload makes its inputs from the seed (written as parquet under
the run's temp dir, then read back by Spark like any user table),
derives the expected results once with :mod:`reference`, and runs
passes of public calls. Every call goes through ``SparkMeter.call`` and
its output is checked; a call that raises or returns a wrong result
counts as failed.

Sizes are per workload in :data:`SIZES` and :data:`SMOKE_SIZES`.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import reference as ref

#: relative tolerance for float aggregates: partial sums are reordered
#: by the physical layout, which flips digits near the 6th decimal of a
#: rounded mean but stays far inside 1e-9 relative
FLOAT_RTOL = 1e-9

SIZES = {
    "interval_core": {"orders": 30_000, "events": 30_000, "lineitem": 100_000,
                      "docs": 1_000},
    "tiers": {"batches": 1, "batch_docs": 60_000, "queries": 8},
}
SMOKE_SIZES = {
    "interval_core": {"orders": 1_500, "events": 1_000, "lineitem": 6_000,
                      "docs": 300},
    "tiers": {"batches": 2, "batch_docs": 5_000, "queries": 3},
}

#: the tiers pass expires hourly buckets below this period
TIER_HORIZON = 2048


def _write(df: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def _close(a, b) -> bool:
    a = np.asarray(a, np.float64)
    b = np.asarray(b, np.float64)
    return bool(np.array_equal(np.isnan(a), np.isnan(b)) and np.allclose(
        a[~np.isnan(a)], b[~np.isnan(b)], rtol=FLOAT_RTOL, atol=0.0))


class Workload:
    """Base: inputs in ``setup_inputs``, one pass in ``run_pass``."""

    name = ""
    #: untimed passes before timing starts
    warmup_passes = 1
    #: timed passes run at least this often, past --seconds if need be,
    #: so that the median pass drops one outlier pass
    min_passes = 3

    def __init__(self, spark, meter, seed: int, size: dict, tmp: str):
        self.spark = spark
        self.meter = meter
        self.size = size
        self.tmp = tmp
        self.rng = np.random.default_rng(seed)
        self.phase = "warmup"
        self.attempted = 0
        self.failed = 0
        self.latencies_s: list[float] = []  # per request, timed passes
        self.call_s = 0.0  # wall time inside public calls, checks excluded
        self.catalog_state: dict = {}

    def call(self, op: str, fn, check, **kw):
        """Time one public call through the meter and check its output.
        Returns ``(output, wall_s)``; output is None when it raised."""
        self.attempted += 1
        try:
            out, wall = self.meter.call(op, fn, phase=self.phase, **kw)
            problem = check(out)
        except Exception as exc:  # a failed call is a counted outcome
            out, wall = None, math.nan
            problem = f"raised {type(exc).__name__}: {exc}"
        if not math.isnan(wall):
            self.call_s += wall
        if problem:
            self.failed += 1
            print(f"[check] {self.name} {op} ({self.phase}): {problem}",
                  file=sys.stderr, flush=True)
        return out, wall

    def setup_inputs(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> int:
        """Run one pass; returns the number of work items it processed."""
        raise NotImplementedError

    def corrupt(self) -> None:
        """Perturb one expected value, so the run must report a failure
        (the benchmark's own test of its checks)."""
        raise NotImplementedError


# ------------------------------------------------------------ interval_core


class IntervalCore(Workload):
    """iwa grouped (auto strategy), iwa ungrouped (bin join),
    remove_overlaps and minhash_dedup: JVM join/window/aggregate work
    with per-call managed persists, no Python, no disk writes."""

    name = "interval_core"
    # The operators' per-call persists plan the second call of a session
    # differently from the third and later ones (NOTES.md, finding 1).
    # Timing starts at the third call, the plan a long-lived session
    # keeps; the per-call table of a traced run shows the change.
    warmup_passes = 2
    GROUPS = 20
    WIDTH = 30
    BIN_WIDTH = 500
    RO_GROUPS = 5

    def setup_inputs(self):
        rng, sz, d = self.rng, self.size, self.tmp
        # orders-like: per group, back-to-back intervals of 1..13 units
        # with random gaps, 2-decimal prices; the y grid's phase comes
        # from the seed so period boundaries cut intervals differently
        n = sz["orders"]
        g = np.arange(n) % self.GROUPS
        length = rng.integers(1, 14, n)
        step = length + rng.integers(0, 3, n)
        s = np.empty(n, np.int64)
        for k in range(self.GROUPS):
            m = g == k
            s[m] = self.WIDTH + np.cumsum(step[m]) - step[m]
        e = s + length - 1
        v = np.round(rng.uniform(900.0, 500_000.0, n), 2)
        self.phase_y = int(rng.integers(0, self.WIDTH))
        self.cells = int((e.max() - self.phase_y) // self.WIDTH + 3)
        ys = self.phase_y + self.WIDTH * np.arange(self.cells)
        self.x_orders = _write(pd.DataFrame({"g": g.astype(np.int32), "s": s, "e": e, "v": v}),
                               os.path.join(d, "orders_x.parquet"))
        self.y_orders = _write(pd.DataFrame({
            "g": np.repeat(np.arange(self.GROUPS, dtype=np.int32), self.cells),
            "s": np.tile(ys, self.GROUPS),
            "e": np.tile(ys + self.WIDTH - 1, self.GROUPS)}),
            os.path.join(d, "orders_y.parquet"))
        self.exp_orders = ref.grid_weighted_avg(
            g, s, e, v, n_groups=self.GROUPS, phase=self.phase_y,
            width=self.WIDTH, n_cells=self.cells, required_percentage=50.0)

        # events-like: one ungrouped run of 5-unit intervals
        m = sz["events"]
        es = 5 * np.arange(m, dtype=np.int64) + 1
        ev = rng.normal(50.0, 20.0, m)
        self.ev_cells = int(es[-1] + 4) // self.BIN_WIDTH + 2
        eys = self.BIN_WIDTH * np.arange(self.ev_cells, dtype=np.int64)
        self.x_events = _write(pd.DataFrame({"s": es, "e": es + 4, "v": ev}),
                               os.path.join(d, "events_x.parquet"))
        self.y_events = _write(pd.DataFrame({"s": eys, "e": eys + self.BIN_WIDTH - 1}),
                               os.path.join(d, "events_y.parquet"))
        self.exp_events = ref.grid_weighted_avg(
            np.zeros(m), es, es + 4, ev, n_groups=1, phase=0,
            width=self.BIN_WIDTH, n_cells=self.ev_cells, required_percentage=50.0)

        # lineitem-like: per group, one interval starting at every unit,
        # 2..6 units long — dense overlaps for remove_overlaps
        k = sz["lineitem"]
        lg = np.arange(k) % self.RO_GROUPS
        ls = np.arange(k, dtype=np.int64) // self.RO_GROUPS + 1
        le = ls + rng.integers(1, 6, k)
        self.x_lineitem = _write(pd.DataFrame({"g": lg.astype(np.int32), "s": ls, "e": le}),
                                 os.path.join(d, "lineitem_x.parquet"))
        self.exp_pieces = ref.atomic_piece_sums(lg, ls, le, n_groups=self.RO_GROUPS)
        self._setup_docs()
        self.items = n + m + k + sz["docs"]

    def corrupt(self):
        v = self.exp_orders["value"]
        k = np.flatnonzero(~np.isnan(v.ravel()))[0]
        v.ravel()[k] *= 1.0 + 1e-6

    #: the headline ``documents`` corpus draws words from a vocabulary of
    #: this kind: 31 short words, so unrelated documents share many
    #: shingles and the LSH join yields background candidate pairs
    WORDS = ("a the data table row column key value query join group sort "
             "merge filter scan hash window batch stream spark vector order "
             "line part customer fast slow big small agg index").split()
    #: share of documents that are near-duplicates of another one
    NEAR_DUP_SHARE = 0.05
    DEDUP = {"threshold": 0.5, "max_bucket_size": 500}

    def _setup_docs(self):
        """Documents shaped like the headline corpus: 10-100 words drawn
        uniformly from :data:`WORDS`; 5% are light edits of a random
        other document (the suffix ``" dup"``, Jaccard about 0.98; one in
        thirty an exact copy), so two edits of one document form a
        cluster of three. The expected survivors come from the exact
        reference of the operator, which also reports the candidate-pair
        and hot-bucket counts printed on the ``[neardup]`` line."""
        rng, n = self.rng, self.size["docs"]
        words = np.array(self.WORDS)
        n_near = round(self.NEAR_DUP_SHARE * n)
        texts = [" ".join(rng.choice(words, int(rng.integers(10, 101))))
                 for _ in range(n - n_near)]
        for i in rng.integers(0, n - n_near, n_near):
            texts.append(texts[i] if rng.random() < 1 / 30 else texts[i] + " dup")
        ids = rng.permutation(n).astype(np.int64)
        self.docs = _write(pd.DataFrame({"doc_id": ids, "text": texts}),
                           os.path.join(self.tmp, "documents.parquet"))
        self.exp_survivors, stats = ref.minhash_dedup(ids, texts, **self.DEDUP)
        print(f"[neardup] docs={n} survivors={len(self.exp_survivors)} "
              + " ".join(f"{k}={v}" for k, v in stats.items()), flush=True)

    # -- checks
    def _check_grid(self, pdf, exp, group_col):
        if pdf is None:
            return "no output"
        n_groups, n_cells = exp["xduration"].shape
        if len(pdf) != n_groups * n_cells:
            return f"{len(pdf)} rows, expected {n_groups * n_cells}"
        gi = pdf[group_col].to_numpy(np.int64) if group_col else np.zeros(len(pdf), np.int64)
        cell = (pdf["s"].to_numpy(np.int64) - (self.phase_y if group_col else 0)) // (
            self.WIDTH if group_col else self.BIN_WIDTH)
        order = np.lexsort((cell, gi))
        cell, gi = cell[order], gi[order]
        if not (np.array_equal(gi, np.repeat(np.arange(n_groups), n_cells))
                and np.array_equal(cell, np.tile(np.arange(n_cells), n_groups))):
            return "output periods differ from the y schedule"
        xd = pdf["xduration"].fillna(0).to_numpy(np.int64)[order]
        if not np.array_equal(xd, exp["xduration"].ravel()):
            return "xduration differs"
        if not np.array_equal(pdf["nobs_v"].fillna(0).to_numpy(np.int64)[order],
                              exp["xduration"].ravel()):
            return "nobs_v differs"
        covered = exp["xduration"].ravel() > 0
        for col in ("xminstart", "xmaxend"):
            got = pdf[col].to_numpy()[order][covered].astype(np.int64)
            if not np.array_equal(got, exp[col].ravel()[covered]):
                return f"{col} differs"
        if not _close(pdf["v"].to_numpy(np.float64)[order], exp["value"].ravel()):
            return "weighted mean differs beyond rtol"
        return None

    def _check_pieces(self, rows):
        got = np.array(sorted((r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows),
                       np.int64)
        if got.shape != (self.RO_GROUPS, 6):
            return f"{len(rows)} groups, expected {self.RO_GROUPS}"
        if not np.array_equal(got[:, 1:], self.exp_pieces):
            return "atomic piece counts/sums differ"
        return None

    def _check_survivors(self, pdf):
        got = np.sort(pdf["doc_id"].to_numpy(np.int64))
        if len(got) != len(self.exp_survivors):
            return f"{len(got)} survivors, expected {len(self.exp_survivors)}"
        if not np.array_equal(got, self.exp_survivors):
            return "survivor ids differ"
        return None

    def run_pass(self):
        from pyspark.sql import functions as F

        from timeperiods_spark import interval_weighted_avg, remove_overlaps
        from timeperiods_spark.operators.dedup import minhash_dedup

        rd = self.spark.read.parquet
        x, y = rd(self.x_orders), rd(self.y_orders)
        n_x, n_y = self.size["orders"], self.GROUPS * self.cells
        self.call(
            "interval_avg.grouped",
            lambda: interval_weighted_avg(
                x, y, ("s", "e"), ("v",), ("g",), 50.0, validate=False,
                assume_y_distinct=True, join_stats=(n_x, n_y, self.GROUPS),
            ).toPandas(),
            lambda pdf: self._check_grid(pdf, self.exp_orders, "g"))
        xu, yu = rd(self.x_events), rd(self.y_events)
        self.call(
            "interval_avg.bin",
            lambda: interval_weighted_avg(
                xu, yu, ("s", "e"), ("v",), None, 50.0, validate=False,
                assume_y_distinct=True, join_strategy="bin", bin_width=256,
                skew_salt=8,
            ).toPandas(),
            lambda pdf: self._check_grid(pdf, self.exp_events, None))
        xl = rd(self.x_lineitem)
        self.call(
            "overlaps.remove_overlaps",
            lambda: remove_overlaps(xl, ("s", "e"), ("g",)).groupBy("g").agg(
                F.count(F.lit(1)), F.sum("s"), F.sum("e"), F.sum("o_s"),
                F.sum("o_e")).collect(),
            self._check_pieces)
        docs = rd(self.docs)
        self.call(
            "dedup.minhash_dedup",
            lambda: minhash_dedup(
                docs, "doc_id", "text", verify_threshold=self.DEDUP["threshold"],
                hash_fn="xxhash64", max_bucket_size=self.DEDUP["max_bucket_size"])
            .select("doc_id").toPandas(),
            self._check_survivors)
        return self.items


# ------------------------------------------------------------- tier paths


def _catalog_state(root: str, catalog) -> dict:
    """Parquet data files and their bytes under the catalog root, and the
    live deltas of all tiers."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for nm in names:
            if nm.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, nm))
    return {"catalog.files": float(files), "catalog.bytes": float(size),
            "catalog.deltas": float(sum(catalog.delta_count(t) for t in catalog.tiers))}


#: (kind, tier, source id, periods) of the read queries; sources span the
#: skewed source distribution (src_10 holds about half of all docs)
QUERY_TEMPLATE = (
    ("read", "hourly", 10, 168),
    ("read", "daily", 9, 60),
    ("read", "weekly", 8, 20),
    ("read", "hourly", 7, 240),
    ("read", "daily", 5, 30),
    ("read", "hourly", 3, 48),
)


class Tiers(Workload):
    """One batch cycle of the retention-tier catalog: ingest_batch over K
    token_table batches into a fresh catalog, a seeded read mix against
    the uncompacted catalog, then compact, expire and vacuum."""

    name = "tiers"
    WIDTHS = {"hourly": 1, "daily": 24, "weekly": 168}

    def setup_inputs(self):
        k, per = self.size["batches"], self.size["batch_docs"]
        # the seed picks where in the doc_id space the batches start
        base = int(self.rng.integers(0, 1000)) * 1_000_000
        self.ranges = [(base + i * per, base + (i + 1) * per) for i in range(k)]
        xd, sp = ref.hourly_partials(base, base + k * per)
        tiers = {t: (ref.coarsen(xd, w), ref.coarsen(sp, w))
                 for t, w in self.WIDTHS.items()}
        self.exp_sums = {
            t: ref.tier_checksums(x, p, TIER_HORIZON if t == "hourly" else 0)
            for t, (x, p) in tiers.items()}
        self.exp_finished = {t: (x, ref.finished_series(x, p, self.WIDTHS[t]))
                             for t, (x, p) in tiers.items()}
        # a fixed ~80/10/10 mix of reads, gap-filled series and exports;
        # the seed orders it and places each period window, while the
        # tier, source and window length of every query stay fixed so
        # that the work does not change with the seed
        n = self.size["queries"]
        mix = [QUERY_TEMPLATE[i % len(QUERY_TEMPLATE)] for i in range(n - 2)]
        mix += [("locf", "daily", 6, 90), ("export", "hourly", 10, 336)]
        self.mix = []
        for i in self.rng.permutation(len(mix)):
            kind, tier, src, length = mix[i]
            p0 = int(self.rng.integers(0, tiers[tier][0].shape[1] - length))
            self.mix.append((kind, tier, src, p0, p0 + length - 1))
        self.passes = 0
        self.store_bytes_per_point: list[float] = []

    def corrupt(self):
        n, *rest = self.exp_sums["daily"]
        self.exp_sums["daily"] = (n, *rest[:-1], rest[-1] + 1)

    # -- write path
    def _ingest(self, catalog, job):
        from pyspark.sql import functions as F

        from timeperiods_spark.sources.tokens import token_table
        from timeperiods_spark.streaming.continuous import ingest_batch

        # the hot-path arguments of jobs/run_tiers.py
        kw = dict(
            group_encoders={"source": F.substring("source", 5, 3).cast("int")},
            algorithm="sweep",
            validate=False,
            group_dim=self.spark.range(ref.N_SOURCES).selectExpr(
                "concat('src_', id) AS source"),
            carry_hints={"span": (0, ref.HOURS_PER_YEAR + 64), "groups": ref.N_SOURCES},
        )
        n_parts = self.spark.sparkContext.defaultParallelism * 4
        for i, (lo, hi) in enumerate(self.ranges):
            batch = token_table(self.spark, hi, partitions=n_parts, doc_range=(lo, hi))
            self.call(
                "continuous.ingest_batch",
                lambda b=batch, i=i: ingest_batch(
                    catalog, b, ("start_hour", "end_hour"), job=job,
                    batch_id=f"batch{i}", **kw),
                lambda counts: None if set(counts) == set(catalog.tiers)
                else f"counts for {sorted(counts)}")

    def _maintain(self, catalog):
        for tier in catalog.tiers:
            self.call("catalog.compact",
                      lambda t=tier: catalog.compact(self.spark, t, remove_old=False),
                      lambda base: None if base.startswith("__base") else f"base {base!r}")
        n_drop = TIER_HORIZON // catalog.bucket_periods
        self.call("catalog.expire",
                  lambda: catalog.expire("hourly", TIER_HORIZON),
                  lambda dropped: None if len(dropped) == n_drop else f"dropped {dropped}")
        for tier in catalog.tiers:
            self.call("catalog.vacuum", lambda t=tier: catalog.vacuum(t),
                      lambda dropped: None if dropped and all(
                          "/batch=batch" in d for d in dropped)
                      else f"vacuumed {dropped[:3]}")

    def _check_tiers(self, catalog) -> int:
        """Merged tier contents against the reference (untimed); returns
        the number of live tier points."""
        points = 0
        for tier in catalog.tiers:
            got = tuple(int(v) for v in catalog.read_partials(self.spark, tier)
                        .selectExpr(*ref.TIER_CHECKSUM_SQL).first())
            self.attempted += 1
            if got != self.exp_sums[tier]:
                self.failed += 1
                print(f"[check] tiers {tier} checksums {got} != {self.exp_sums[tier]}",
                      file=sys.stderr, flush=True)
            points += got[0]
        return points

    # -- read path
    def _rows(self, catalog, tier, src, p0, p1):
        from pyspark.sql import functions as F

        return (catalog.read_finished(self.spark, tier)
                .filter((F.col("source") == f"src_{src}")
                        & F.col("period").between(p0, p1)))

    def _expect(self, tier, src, p0, p1):
        xd, mean = self.exp_finished[tier]
        return np.arange(p0, p1 + 1), xd[src, p0:p1 + 1], mean[src, p0:p1 + 1]

    def _check_read(self, pdf, q):
        periods, xd, mean = self._expect(*q[1:])
        pdf = pdf.sort_values("period")
        present = xd > 0
        if not np.array_equal(pdf["period"].to_numpy(np.int64), periods[present]):
            return f"{len(pdf)} periods, expected {int(present.sum())}"
        if not np.array_equal(pdf["xduration"].to_numpy(np.int64), xd[present]):
            return "xduration differs"
        if not _close(pdf["n_tok"].to_numpy(np.float64), mean[present]):
            return "finished mean differs beyond rtol"
        return None

    def _check_locf(self, pdf, q):
        periods, xd, mean = self._expect(*q[1:])
        if not xd.any():
            # the group set comes from the rows read: no rows, no series
            periods, mean = periods[:0], mean[:0]
        pdf = pdf.sort_values("period")
        if not np.array_equal(pdf["period"].to_numpy(np.int64), periods):
            return f"{len(pdf)} dense periods, expected {len(periods)}"
        if not _close(pdf["n_tok_filled"].to_numpy(np.float64), ref.locf(mean)):
            return "LOCF fill differs"
        return None

    def _query(self, catalog, q) -> float:
        """Issue one query; returns its latency (all its calls)."""
        from pyspark.sql import functions as F

        from timeperiods_spark import compress_series, decompress_series
        from timeperiods_spark.operators.rollup import gap_fill_locf

        kind, tier, src, p0, p1 = q
        w = self.WIDTHS[tier]
        if kind == "read":
            return self.call("catalog.read_finished",
                             lambda: self._rows(catalog, tier, src, p0, p1).toPandas(),
                             lambda pdf: self._check_read(pdf, q))[1]
        if kind == "locf":
            return self.call(
                "rollup.gap_fill_locf",
                lambda: gap_fill_locf(
                    self._rows(catalog, tier, src, p0, p1), ["n_tok"], ["source"],
                    width=w, span=(p0 * w, p1 * w + w - 1), group_count_hint=1,
                ).select("period", "n_tok_filled").toPandas(),
                lambda pdf: self._check_locf(pdf, q))[1]
        series = self._rows(catalog, tier, src, p0, p1).filter("n_tok IS NOT NULL") \
            .select("source", "period", F.col("n_tok").alias("value"))
        want = self._expect(*q[1:])[2]
        want_p = np.arange(p0, p1 + 1)[~np.isnan(want)]
        want = want[~np.isnan(want)]
        def compress():
            blocks = compress_series(series, ["source"]).cache()
            return blocks, blocks.count()

        out, w1 = self.call(
            "compression.compress_series", compress,
            lambda out: None if out[1] >= min(1, len(want_p)) else "no blocks",
            python=True)
        if out is None:
            return w1
        comp = out[0]
        if comp is None:
            return w1

        def check_round_trip(pdf):
            pdf = pdf.sort_values("period")
            if not np.array_equal(pdf["period"].to_numpy(np.int64), want_p):
                return f"{len(pdf)} points back, expected {len(want_p)}"
            got = pdf["value"].to_numpy(np.float64)
            # Gorilla is lossless: every bit must come back
            if not np.array_equal(got.view(np.int64), want.view(np.int64)):
                if _close(got, want):
                    return "round trip is not bit-exact"
                return "decompressed values differ"
            return None

        w2 = self.call("compression.decompress_series",
                       lambda: decompress_series(comp, ["source"]).toPandas(),
                       check_round_trip, python=True)[1]
        comp.unpersist()
        return w1 + w2

    def run_pass(self):
        from timeperiods_spark.runner import ResumableJob
        from timeperiods_spark.sources.catalog import TierCatalog

        self.passes += 1
        root = os.path.join(self.tmp, f"pass{self.passes}")
        catalog = TierCatalog(root=os.path.join(root, "cat"),
                              value_vars=("n_tok",), group_vars=("source",))
        self._ingest(catalog, ResumableJob(os.path.join(root, "manifest")))
        for q in self.mix:
            wall = self._query(catalog, q)
            if self.phase == "timed":
                self.latencies_s.append(wall)
        self._maintain(catalog)
        points = self._check_tiers(catalog)
        self.catalog_state = _catalog_state(catalog.root, catalog)
        self.store_bytes_per_point.append(self.catalog_state["catalog.bytes"] / max(points, 1))
        shutil.rmtree(root, ignore_errors=True)
        return self.ranges[-1][1] - self.ranges[0][0]


WORKLOADS = {w.name: w for w in (IntervalCore, Tiers)}
