"""NumPy reference results, derived once per seed from the generated
inputs and independent of Spark.

The small-scale cross-check against the package's own
``interval_weighted_avg_slow`` is in ``test_perfbench.py`` (and runs in
``--smoke`` mode), so these closed forms are themselves checked.
"""

from __future__ import annotations

import numpy as np

# ----------------------------------------------------- interval averages


def grid_weighted_avg(g, s, e, v, *, n_groups, phase, width, n_cells,
                      required_percentage):
    """Reference ``interval_weighted_avg`` of closed intervals ``[s, e]``
    onto the regular grid ``[phase + k*width, phase + (k+1)*width - 1]``,
    ``k < n_cells``, per group ``g`` in ``range(n_groups)``.

    Returns a dict of ``(n_groups, n_cells)`` arrays: xduration,
    sumprod, xminstart, xmaxend (the overlapping x clipped to the
    period; ``-1`` where no x overlaps) and the
    masked mean ``value`` (NaN where coverage is below the threshold)."""
    g = np.asarray(g, np.int64)
    s = np.asarray(s, np.int64)
    e = np.asarray(e, np.int64)
    v = np.asarray(v, np.float64)
    size = n_groups * n_cells
    xdur = np.zeros(size, np.int64)
    sumprod = np.zeros(size, np.float64)
    xmin = np.full(size, np.iinfo(np.int64).max)
    xmax = np.full(size, -1, np.int64)
    c1 = (s - phase) // width
    c2 = (e - phase) // width
    for off in range(int((c2 - c1).max()) + 1 if len(s) else 0):
        cell = c1 + off
        m = (cell <= c2) & (cell >= 0) & (cell < n_cells)
        cs = phase + cell[m] * width
        lo = np.maximum(s[m], cs)
        hi = np.minimum(e[m], cs + width - 1)
        idx = g[m] * n_cells + cell[m]
        np.add.at(xdur, idx, hi - lo + 1)
        np.add.at(sumprod, idx, v[m] * (hi - lo + 1))
        np.minimum.at(xmin, idx, lo)
        np.maximum.at(xmax, idx, hi)
    with np.errstate(invalid="ignore", divide="ignore"):
        value = sumprod / xdur
    value[100.0 * xdur / width < required_percentage] = np.nan
    xmin[xdur == 0] = -1
    shape = (n_groups, n_cells)
    return {
        "xduration": xdur.reshape(shape),
        "sumprod": sumprod.reshape(shape),
        "value": value.reshape(shape),
        "xminstart": xmin.reshape(shape),
        "xmaxend": xmax.reshape(shape),
    }


def atomic_piece_sums(g, s, e, *, n_groups):
    """Reference ``remove_overlaps`` summary per group: the number of
    (atomic piece, original interval) rows and the sums of piece start,
    piece end, original start and original end over those rows."""
    out = np.zeros((n_groups, 5), np.int64)
    g = np.asarray(g, np.int64)
    for k in range(n_groups):
        m = g == k
        gs, ge = np.asarray(s, np.int64)[m], np.asarray(e, np.int64)[m]
        b = np.unique(np.concatenate([gs, ge + 1]))
        # pieces of [s, e] start at every boundary in [s, e] and end one
        # before the next boundary
        lo = np.searchsorted(b, gs, "left")
        hi = np.searchsorted(b, ge, "right")
        n = hi - lo
        pre = np.concatenate([[0], np.cumsum(b)])
        starts = pre[hi] - pre[lo]
        ends = (pre[hi + 1] - pre[lo + 1]) - n
        out[k] = (n.sum(), starts.sum(), ends.sum(), (gs * n).sum(),
                  (ge * n).sum())
    return out


# ------------------------------------------------------------ tier rollups

MODULUS = 2147483647
HOURS_PER_YEAR = 365 * 24
N_SOURCES = 11


def token_docs(lo: int, hi: int):
    """(source id, start hour, end hour, n_tok) of ``token_table`` docs
    ``lo <= doc_id < hi`` — the generator's closed forms
    (``sources/tokens.py``) evaluated in int64."""
    d = np.arange(lo, hi, dtype=np.int64)
    h1 = (d * 48271 + 11) % MODULUS
    h2 = (d * 16807 + 3) % MODULUS
    n_tok = 1 + h1 % 512
    src = np.floor(np.log2(h2 % 1024 + 1)).astype(np.int64)
    start = h2 % HOURS_PER_YEAR
    end = start + 1 + n_tok // 64 - 1
    return src, start, end, n_tok


def hourly_partials(lo: int, hi: int):
    """Hourly additive partials ``(n_sources, n_hours)``: xduration (=
    nobs, every doc has a value) and sumprod of n_tok, as int64."""
    src, start, end, n_tok = token_docs(lo, hi)
    n_hours = HOURS_PER_YEAR + 64
    xdur = np.zeros(N_SOURCES * n_hours, np.int64)
    sumprod = np.zeros(N_SOURCES * n_hours, np.int64)
    for off in range(int((end - start).max()) + 1):
        m = start + off <= end
        idx = src[m] * n_hours + start[m] + off
        xdur += np.bincount(idx, minlength=xdur.size)
        sumprod += np.bincount(idx, weights=n_tok[m], minlength=xdur.size).astype(np.int64)
    return xdur.reshape(N_SOURCES, n_hours), sumprod.reshape(N_SOURCES, n_hours)


def coarsen(a: np.ndarray, factor: int) -> np.ndarray:
    """Sum hourly columns into periods of ``factor`` hours."""
    n = -(-a.shape[1] // factor) * factor
    pad = np.zeros((a.shape[0], n), a.dtype)
    pad[:, : a.shape[1]] = a
    return pad.reshape(a.shape[0], -1, factor).sum(axis=2)


def tier_checksums(xdur: np.ndarray, sumprod: np.ndarray, min_period: int = 0):
    """The five integer checksums :func:`tier_checksum_sql` computes over
    a tier's merged partials, for periods ``>= min_period``."""
    src, period = np.nonzero(xdur)
    keep = period >= min_period
    src, period = src[keep], period[keep]
    xd, sp = xdur[src, period], sumprod[src, period]
    return (
        int(len(src)),
        int(xd.sum()),
        int(sp.sum()),
        int((period * xd).sum()),
        int(((src + 1) * (period % 1000 + 1) * sp).sum()),
    )


#: Spark SQL over merged partials mirroring :func:`tier_checksums`
#: (``source`` is ``'src_<id>'``)
TIER_CHECKSUM_SQL = (
    "count(1)",
    "sum(xduration)",
    "cast(sum(sumprod_n_tok) as long)",
    "sum(period * xduration)",
    "cast(sum((cast(substr(source, 5) as long) + 1) * (period % 1000 + 1)"
    " * sumprod_n_tok) as long)",
)


def finished_series(xdur: np.ndarray, sumprod: np.ndarray, width: int):
    """Finished mean per (source, period) for a tier of ``width`` hours
    at required_percentage=100 (NaN where masked)."""
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = sumprod / xdur
    mean[100.0 * xdur / width < 100.0] = np.nan
    return mean


def locf(values: np.ndarray) -> np.ndarray:
    """Last non-NaN value carried forward (NaN before the first)."""
    idx = np.where(~np.isnan(values), np.arange(len(values)), -1)
    np.maximum.accumulate(idx, out=idx)
    out = np.where(idx >= 0, values[np.maximum(idx, 0)], np.nan)
    return out


# --------------------------------------------------------------- near-dups

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_5(b: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` (seed 42) of 5-byte strings, given as an
    ``(n, 5)`` uint8 array: XXH64 of one 4-byte word and one byte."""
    with np.errstate(over="ignore"):
        h = np.full(len(b), np.uint64(seed) + _P5 + np.uint64(5), np.uint64)
        w = b[:, :4].astype(np.uint64)
        word = w[:, 0] | w[:, 1] << np.uint64(8) | w[:, 2] << np.uint64(16) \
            | w[:, 3] << np.uint64(24)
        h ^= word * _P1
        h = _rotl(h, 23) * _P2 + _P3
        h ^= b[:, 4].astype(np.uint64) * _P5
        h = _rotl(h, 11) * _P1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Distinct ``pmod(xxhash64(shingle), 2^31 - 1)`` of the k-char
    shingles of an ASCII text (``hash_fn="xxhash64"``)."""
    b = np.frombuffer(text.encode("ascii"), np.uint8)
    win = np.lib.stride_tricks.sliding_window_view(b, k)
    return np.unique(xxhash64_5(np.ascontiguousarray(win)) % MODULUS)


def minhash_dedup(ids, texts, *, threshold: float, max_bucket_size: int,
                  n_hashes: int = 12, bands: int = 4):
    """Reference single-hop ``minhash_dedup(hash_fn="xxhash64")`` of ASCII
    texts of at least 5 characters, from the operator's documented
    semantics: MinHash signatures under the affine permutations
    ``(a*h + b) mod (2^31 - 1)``, banded; buckets holding more than
    ``max_bucket_size`` docs are dropped; docs sharing a remaining bucket
    are candidates; a candidate pair whose shingle-set Jaccard reaches
    ``threshold`` drops its larger id.

    Returns the sorted surviving ids and the counts that drive the
    operator's cost: candidate pairs, verified pairs, hot buckets and
    the band rows they held, and the largest bucket."""
    ids = np.asarray(ids, np.int64)
    hs = [shingle_hashes(t) for t in texts]
    flat = np.concatenate(hs)
    starts = np.cumsum([0] + [len(h) for h in hs[:-1]])
    # exact Jaccard of every pair from a dense doc x shingle incidence
    uniq, col = np.unique(flat, return_inverse=True)
    inc = np.zeros((len(hs), len(uniq)), np.float32)
    inc[np.repeat(np.arange(len(hs)), [len(h) for h in hs]), col] = 1.0
    inter = (inc @ inc.T).astype(np.float64)
    size = inc.sum(1, dtype=np.float64)
    jac = inter / (size[:, None] + size[None, :] - inter)
    sig = np.stack([np.minimum.reduceat((a * flat + b) % MODULUS, starts)
                    for a, b in minhash_params(n_hashes)], axis=1)
    r = n_hashes // bands
    cand = np.zeros(jac.shape, bool)
    stats = {"hot_buckets": 0, "hot_rows": 0, "max_bucket": 0}
    for band in range(bands):
        _, label, count = np.unique(sig[:, band * r:(band + 1) * r], axis=0,
                                    return_inverse=True, return_counts=True)
        label = label.ravel()
        hot = count > max_bucket_size
        stats["max_bucket"] = max(stats["max_bucket"], int(count.max()))
        stats["hot_buckets"] += int(hot.sum())
        stats["hot_rows"] += int(count[hot].sum())
        cand |= (label[:, None] == label[None, :]) & ~hot[label][:, None]
    cand &= ids[:, None] < ids[None, :]
    verified = cand & (jac >= threshold)
    stats["candidate_pairs"] = int(cand.sum())
    stats["verified_pairs"] = int(verified.sum())
    return np.sort(ids[~verified.any(axis=0)]), stats


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """The operator's documented permutation parameters ``(a, b)``."""
    return [((2 * i + 1) * 2654435761 % 131071 | 1, (i * 40503 + 17) % 65521)
            for i in range(n_hashes)]
