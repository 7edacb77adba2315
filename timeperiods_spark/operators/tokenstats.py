"""Token-level corpus statistics over pre-tokenized sequences
(``tokens array<int>`` — BASELINE.json input_hint payload).

All three operators are single-shuffle hash aggregates whose explode
stage is map-side (pipelined into the scan, partial aggregation before
the exchange), so the exchange carries at most one row per distinct
key per task — vocab-sized, not corpus-sized. No Python anywhere.

- :func:`token_histogram` — vocab frequency (the unigram distribution
  quality/filter passes read).
- :func:`token_ngram_counts` — order-n token n-gram frequencies
  (contamination / memorization scans).
- :func:`topk_per_group` — exact per-group heavy hitters via one
  aggregate + one output-domain-partitioned rank window.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..errors import RoleValidationError
from ..plans.cachectl import managed_persist


def token_histogram(
    df: DataFrame,
    tokens_col: str = "tokens",
    *,
    group_by: Optional[Sequence[str]] = None,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """(group_by…, token, count) — corpus token frequency. With
    ``weight_col`` each occurrence counts that row's weight (e.g. a
    dedup survivor multiplicity) instead of 1."""
    gcols = list(group_by or [])
    exploded = df.select(
        *gcols,
        F.explode(tokens_col).alias("token"),
        (F.col(weight_col) if weight_col else F.lit(1)).cast("long").alias("__w"),
    )
    return (
        exploded.groupBy(*gcols, "token")
        .agg(F.sum("__w").alias("count"))
    )


def token_ngram_counts(
    df: DataFrame,
    tokens_col: str = "tokens",
    *,
    n: int = 2,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """(group_by…, ngram array<int>, count) — frequencies of length-
    ``n`` token windows within each sequence (no cross-document
    n-grams; packing decides document joins, not this operator)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    gcols = list(group_by or [])
    toks = F.col(tokens_col)
    # sequences shorter than n contribute nothing: explode of the NULL
    # branch emits no rows (sequence(1, 0) would count DOWN and slice
    # would see start=0)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.slice(toks, i, n),
        ),
    )
    return (
        df.select(*gcols, F.explode(grams).alias("ngram"))
        .groupBy(*gcols, "ngram")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def ngram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    *,
    n: int = 3,
    k_smooth: float = 1.0,
    vocab_size: Optional[int] = None,
) -> DataFrame:
    """Per-document n-gram log-likelihood under the corpus's OWN
    n-gram statistics with add-k smoothing — the CCNet-style LM
    quality signal without an external model:

    ``logp(pos) = ln((c_n(gram) + k) / (c_{n-1}(prefix) + k*V))``

    averaged over the document's windows; ``ppl = exp(-avg_logp)``.
    Low-perplexity docs are corpus-typical, high-perplexity docs are
    outliers (or rich novel text — this is a SIGNAL, thresholding is
    the caller's policy). Output: ``id_col, n_scored, avg_logp, ppl``
    (6dp); documents shorter than ``n`` tokens keep NULL scores.

    Scale shape: two corpus-count aggregates (n-grams, prefixes),
    joined back to the per-doc gram explode on the gram key — three
    hash exchanges, all keyed by gram/prefix, no window, no Python.
    ``V`` defaults to the corpus's exact distinct-token count (one
    in-plan 1-row aggregate, broadcast); pass ``vocab_size`` to pin
    it (and skip that subtree) when the tokenizer vocab is known.
    """
    if n < 2:
        raise ValueError("n must be >= 2 (the prefix is n-1 tokens)")
    if k_smooth <= 0:
        raise ValueError("k_smooth must be positive (unsmoothed zero "
                         "counts cannot occur — grams come from the "
                         "corpus itself — but k also sizes V's weight)")
    toks = F.col(tokens_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(
                F.slice(toks, i, n).alias("g"),
                F.slice(toks, i, n - 1).alias("p"),
            ),
        ),
    )
    doc_grams = df.select(
        F.col(id_col).alias("__id"), F.explode(grams).alias("__gp")
    ).select("__id", F.col("__gp.g").alias("__g"), F.col("__gp.p").alias("__p"))

    cn = token_ngram_counts(df, tokens_col, n=n).select(
        F.col("ngram").alias("__g"), F.col("count").alias("__cn")
    )
    cp = token_ngram_counts(df, tokens_col, n=n - 1).select(
        F.col("ngram").alias("__p"), F.col("count").alias("__cp")
    )
    scored = doc_grams.join(cn, "__g").join(cp, "__p")
    if vocab_size is None:
        # explode then count-distinct (explode is not legal inside agg)
        vdf = (
            df.select(F.explode(toks).alias("__t"))
            .agg(F.count_distinct("__t").alias("__V"))
        )
        scored = scored.crossJoin(F.broadcast(vdf))
        V = F.col("__V").cast("double")
    else:
        V = F.lit(float(int(vocab_size)))
    k = F.lit(float(k_smooth))
    logp = F.log((F.col("__cn") + k) / (F.col("__cp") + k * V))
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.avg(logp).alias("__avg"),
    )
    ids = df.select(F.col(id_col).alias("__id"))
    return ids.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("n_scored"), F.lit(0).cast("long")).alias("n_scored"),
        F.round("__avg", 6).alias("avg_logp"),
        F.round(F.exp(-F.col("__avg")), 6).alias("ppl"),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    *,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` most characteristic tokens per document by smoothed
    TF-IDF: ``tf = count_in_doc / doc_len``,
    ``idf = ln((N + 1) / (df + 1)) + 1`` (sklearn's smooth variant —
    public formula), ranked per document (ties break by token id
    ascending, deterministic). Output: ``id_col, token, tf, idf,
    tfidf, rank`` — the keyword/summary signal for corpus exploration
    and near-dup triage.

    Scale shape: one hash agg per (doc, token), one per token (the
    document-frequency table), one 1-row N aggregate broadcast back,
    and a rank window partitioned by DOCUMENT — the output domain, so
    parallelism scales with corpus size. No Python anywhere.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    toks = F.col(tokens_col)
    base = df.select(
        F.col(id_col).alias("__id"), F.explode(toks).alias("__t")
    )
    per_doc = base.groupBy("__id", "__t").agg(
        F.count(F.lit(1)).alias("__c")
    )
    # three consumers (doc_len, dfreq, and the scored join) would each
    # re-run the corpus explode + hash aggregate; the aggregated
    # (doc, token, count) frame is the small decision table — persist
    # it once per call
    per_doc = managed_persist(
        per_doc, "tfidf_topk.per_doc", StorageLevel.DISK_ONLY
    )
    doc_len = per_doc.groupBy("__id").agg(F.sum("__c").alias("__len"))
    dfreq = per_doc.groupBy("__t").agg(
        F.count(F.lit(1)).cast("double").alias("__df")
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).cast("double").alias("__N")
    )
    scored = (
        per_doc.join(doc_len, "__id")
        .join(dfreq, "__t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__tf", F.col("__c") / F.col("__len"))
        .withColumn(
            "__idf",
            F.log((F.col("__N") + 1.0) / (F.col("__df") + 1.0)) + 1.0,
        )
        .withColumn("__tfidf", F.round(F.col("__tf") * F.col("__idf"), 6))
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__tfidf").desc(), F.col("__t")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("__id").alias(id_col),
            F.col("__t").alias("token"),
            F.round("__tf", 6).alias("tf"),
            F.round("__idf", 6).alias("idf"),
            F.col("__tfidf").alias("tfidf"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ngram_contamination(
    test: DataFrame,
    train: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    *,
    n: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Train/test overlap check (decontamination): for every test
    document, count its distinct length-``n`` token n-grams that also
    occur anywhere in the train corpus.

    Output: id_col, ``n_grams`` (distinct n-grams in the doc, always
    >= 1), ``n_hit`` (of those, how many appear in train),
    ``frac_hit``. Documents shorter than ``n`` tokens have no n-grams
    and emit NO row — there is nothing to scrub on; anti-join the
    output against the test ids to list them. A downstream filter
    like ``frac_hit >= t`` or ``n_hit > 0`` implements the usual
    eval-set scrub.

    Scale shape: the train side collapses to its DISTINCT gram set
    (one map-side-combined aggregate — at corpus scale this is the
    published n-gram-overlap decontamination join), the test side to
    distinct (doc, gram) pairs; the hit count is one equi join keyed
    by the gram plus a per-doc aggregate.

    ``hash_grams=False`` (default) joins on the exact n-int gram
    arrays — no hashing, so the SQL twin is bit-identical. At true
    corpus scale the distinct/join exchanges then carry ~10^9 8-int
    array keys; ``hash_grams=True`` is the production setting: every
    gram is reduced to ONE xxhash64 long map-side (before any
    exchange), so both the dedup and the hit join shuffle fixed 8-byte
    keys — the measured r6 join+agg phase was 21.3 s at 10x on exact
    arrays. Collision honesty: with G distinct grams corpus-wide the
    chance of ANY 64-bit collision is ~G^2/2^65 (birthday) — ~3% for
    G = 10^9, and ONE collision perturbs one document's counts by at
    most one gram; per-document the within-doc collision chance is
    ~(grams/doc)^2 / 2^65, i.e. negligible."""
    if hash_grams:
        toks = F.col(tokens_col)
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.xxhash64(F.slice(toks, i, n)),
            ),
        )
        test_grams = (
            test.select(id_col, F.explode(grams).alias("__g"))
            .dropDuplicates([id_col, "__g"])
        )
        train_grams = (
            train.select(F.explode(grams).alias("__g")).dropDuplicates()
        )
        key = ["__g"]
    else:
        test_grams = (
            token_ngram_counts(
                test.select(id_col, tokens_col), tokens_col, n=n,
                group_by=[id_col],
            )
            .select(id_col, "ngram")
        )
        train_grams = (
            token_ngram_counts(train.select(tokens_col), tokens_col, n=n)
            .select("ngram")
        )
        key = ["ngram"]
    hits = test_grams.join(
        train_grams.withColumn("__hit", F.lit(1)), key, "left"
    )
    return (
        hits.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .withColumn("frac_hit", F.col("n_hit") / F.col("n_grams"))
    )


def topk_per_group(
    df: DataFrame,
    key_cols: Sequence[str],
    measure: Column,
    *,
    group_by: Optional[Sequence[str]] = None,
    k: int = 10,
) -> DataFrame:
    """Exact top-k keys per group by an aggregate measure: one hash
    aggregate keyed (group…, key…) then a rank window partitioned by
    the group — the OUTPUT domain, so parallelism scales with groups
    and the exchange carries aggregated rows only. Ties break by the
    key columns ascending (deterministic). Output: group_by…, key…,
    ``measure`` (aliased value), ``rank``.

    The final rank runs after a per-partition pre-top-k (the global
    top-k is a subset of the union of partition top-ks under the same
    total order), so the last window sees at most k x partitions rows
    — a few-groups or ungrouped call never funnels the whole key
    domain through one window task."""
    gcols = list(group_by or [])
    kcols = list(key_cols)
    agg = df.groupBy(*gcols, *kcols).agg(measure.alias("measure"))
    order = [F.col("measure").desc(), *[F.col(c) for c in kcols]]
    wlocal = Window.partitionBy(*gcols, "__part").orderBy(*order)
    pruned = (
        agg.withColumn("__part", F.spark_partition_id())
        .withColumn("__lr", F.row_number().over(wlocal))
        .filter(F.col("__lr") <= k)
        .drop("__part", "__lr")
    )
    w = (
        Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    ).orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ngram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    *,
    text_col: Optional[str] = None,
    ns: Sequence[int] = (2, 3, 5, 10),
) -> DataFrame:
    """Gopher-style within-document repetition signals, long format:
    ``id_col, n, n_tok, top_frac, dup_frac`` — one row per (document,
    n) for every requested n-gram order.

    - ``top_frac``: token fraction claimed by ALL occurrences of the
      document's most frequent n-gram (``top_count * n / n_tok`` — the
      published filter formula; overlapping occurrences can push it
      past 1.0, which is itself a strong repetition signal).
    - ``dup_frac``: fraction of tokens COVERED by n-grams occurring
      more than once within the document — coverage is the union of
      the duplicated windows (per-(doc, n) interval merge via
      ``merge_intervals``), so heavily overlapping repeats are not
      double-counted.

    These are the repetition-quality filters of Rae et al. (Gopher,
    2021) §A1.1 — e.g. drop docs with ``dup_frac(n=3) > 0.18`` or
    ``top_frac(n=2) > 0.20`` — computed over tokens instead of
    characters (fractions, so the scale-free thresholds transfer).
    Documents shorter than ``n`` tokens emit the (doc, n) row with
    both fractions 0 (dashboard completeness).

    Scale shape: one map-side explode of (doc, n, pos, gram) — fan-out
    ``len(ns)`` × tokens — then a map-side-combined count keyed by
    (doc, n, gram); the per-document keys make the aggregate
    skew-free by construction (no corpus-wide hot grams, unlike
    corpus-level dedup). The duplicated-position join-back reuses the
    exploded frame (managed-persisted once); coverage assembly rides
    the carried interval-union sweep. Everything is JVM expressions —
    no Python in the row path."""
    from .interval_union import merge_intervals

    ns = [int(n) for n in ns]
    if not ns or any(n < 1 for n in ns) or len(set(ns)) != len(ns):
        raise ValueError("ns must be distinct integers >= 1")
    toks = (
        F.split(F.col(text_col), " ") if text_col is not None
        else F.col(tokens_col)
    )
    base = df.select(
        F.col(id_col).alias("__id"), toks.alias("__tok")
    ).withColumn("__ntok", F.size("__tok"))

    with_n = base.select(
        "__id",
        "__tok",
        "__ntok",
        F.explode(F.array(*[F.lit(n) for n in ns])).alias("__n"),
    )
    pos = (
        with_n.where(F.col("__ntok") >= F.col("__n"))
        .select(
            "__id",
            "__n",
            "__tok",
            F.explode(
                F.sequence(F.lit(0), F.col("__ntok") - F.col("__n"))
            ).alias("__pos"),
        )
        .select(
            "__id",
            "__n",
            "__pos",
            F.concat_ws(
                "\x1f",
                F.transform(
                    F.slice(F.col("__tok"), F.col("__pos") + 1, F.col("__n")),
                    lambda t: t.cast("string"),
                ),
            ).alias("__gram"),
        )
    )
    pos = managed_persist(pos, "ngram_repetition.pos")

    cnt = pos.groupBy("__id", "__n", "__gram").agg(
        F.count(F.lit(1)).alias("__c")
    )
    top = cnt.groupBy("__id", "__n").agg(F.max("__c").alias("__topc"))
    dup_pos = (
        pos.join(
            cnt.where(F.col("__c") >= 2).select("__id", "__n", "__gram"),
            ["__id", "__n", "__gram"],
        )
        .select(
            "__id",
            "__n",
            F.col("__pos").alias("__s"),
            (F.col("__pos") + F.col("__n") - 1).alias("__e"),
        )
    )
    cov = (
        merge_intervals(dup_pos, ("__s", "__e"), ["__id", "__n"])
        .groupBy("__id", "__n")
        .agg(F.sum(F.col("__e") - F.col("__s") + 1).alias("__cov"))
    )

    dims = base.select("__id", "__ntok").crossJoin(
        F.broadcast(
            df.sparkSession.createDataFrame(
                [(n,) for n in ns], "__n int"
            )
        )
    )
    return (
        dims.join(top, ["__id", "__n"], "left")
        .join(cov, ["__id", "__n"], "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__n").alias("n"),
            F.col("__ntok").alias("n_tok"),
            (
                F.coalesce(F.col("__topc"), F.lit(0)) * F.col("__n")
                / F.greatest(F.col("__ntok"), F.lit(1))
            ).alias("top_frac"),
            (
                F.coalesce(F.col("__cov"), F.lit(0))
                / F.greatest(F.col("__ntok"), F.lit(1))
            ).alias("dup_frac"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    tokens_col: str = "tokens",
    *,
    vocab_sizes: Sequence[int],
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Corpus coverage of the top-``v`` token vocabulary, for each
    ``v`` in ``vocab_sizes``: what fraction of all token occurrences a
    frequency-ranked vocabulary of that size captures — the sizing
    curve a tokenizer-training pipeline reads before fixing its vocab
    (coverage drives the OOV/byte-fallback rate).

    Output: one row per ``vocab_size`` with ``tokens_covered``,
    ``total_tokens``, ``distinct_tokens``, ``coverage`` (double in
    [0, 1]). Ranking ties break by token ascending (deterministic).

    Scale shape: one explode + hash aggregate keyed by token (the only
    data-sized shuffle, map-side combined), then the shared two-phase
    pre-top-k rank (``topk_per_group``) over AGGREGATED rows bounds the
    final window to max(vocab_sizes) x partitions rows, and the
    per-size sums collapse via one conditional aggregate — the full
    vocabulary is never globally sorted.
    """
    sizes = sorted({int(v) for v in vocab_sizes})
    if not sizes or sizes[0] <= 0:
        raise RoleValidationError("vocab_sizes must be positive")
    # counts feeds two consumers (rank + totals): persist the AGGREGATED
    # frame so the corpus-sized explode + hash agg runs once
    counts = managed_persist(
        token_histogram(df, tokens_col, weight_col=weight_col),
        "vocab_coverage.counts",
    )
    totals = counts.agg(
        F.sum("count").alias("total_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
    )
    ranked = topk_per_group(
        counts, ["token"], F.sum("count"), k=sizes[-1]
    )
    per_size = ranked.agg(
        *[
            F.sum(F.when(F.col("rank") <= v, F.col("measure"))).alias(f"__c{v}")
            for v in sizes
        ]
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(v).alias("vocab_size"),
                        F.coalesce(F.col(f"__c{v}"), F.lit(0)).alias(
                            "tokens_covered"
                        ),
                    )
                    for v in sizes
                ]
            )
        ).alias("s")
    ).select("s.vocab_size", "s.tokens_covered")
    return per_size.crossJoin(F.broadcast(totals)).select(
        "vocab_size",
        "tokens_covered",
        "total_tokens",
        "distinct_tokens",
        (F.col("tokens_covered") / F.col("total_tokens")).alias("coverage"),
    )
