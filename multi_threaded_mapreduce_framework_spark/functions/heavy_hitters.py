"""Bounded-memory heavy-hitter candidates: per-partition Misra-Gries.

The scale problem: finding items above a support threshold with a
plain ``groupBy(key).count()`` shuffles the ENTIRE key domain — for
high-cardinality keys (shingles, n-grams, URLs) the tail dominates the
shuffle even though only the head is wanted.  Misra-Gries keeps at
most ``k`` counters per partition and guarantees every item whose
partition count exceeds ``n_p / (k+1)`` survives; summed over
partitions (pigeonhole), every item with GLOBAL count > N/(k+1)
appears in at least one partition's candidate set.  The exact recount
of the (bounded, broadcastable) candidate union then removes all false
positives — so the final answer is EXACT, while only candidate keys
ever shuffle.

This runs as ``mapInPandas`` so the sketch lives inside the scan stage
(no shuffle before it); batches arrive via Arrow and are folded with
vectorized ``value_counts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def mg_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Return a DataFrame of at most ``k * numPartitions`` candidate
    values of ``df[col]`` guaranteed to include every value with global
    count > N/(k+1) (N = total rows).  Output column name == ``col``."""
    import pandas as pd  # noqa: F401 (worker-side)

    def summarize(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            # exact within the batch, then MG-prune the merged dict
            for val, c in pdf[col].value_counts().items():
                counters[val] = counters.get(val, 0) + int(c)
            counters = _mg_prune(counters, k)
        yield pd.DataFrame({col: list(counters.keys())}).astype({col: "object"})

    return df.select(col).mapInPandas(summarize, schema=f"{col} string")


def _mg_prune(counters: dict, k: int) -> dict:
    """The canonical mergeable Misra-Gries step: when more than ``k``
    counters live, subtract the (k+1)-th largest count from everything;
    items <= it drop.  Total decrement per partition stays <= n_p/(k+1),
    so every value with partition count above that bound survives."""
    if len(counters) > k:
        cut = sorted(counters.values(), reverse=True)[k]
        counters = {v: c - cut for v, c in counters.items() if c > cut}
    return counters


def bigram_mg_candidates(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """MG candidates over the TOKEN BIGRAMS of ``docs[text_col]`` —
    q135's sketch pass with the bigram construction INSIDE the Python
    kernel (r12, guide §4.1 "pass only the columns the function
    needs"): only the text column crosses the Arrow boundary, not one
    string per bigram occurrence, and the JVM-side interpreted
    transform+explode disappears for this pass.  Bigrams are built with
    the exact split law the recount uses (split on a single space,
    empty tokens preserved), so the sketch sees the same multiset; the
    same per-partition MG recall bound applies, and the exact recount
    downstream removes every false positive regardless of batching.
    Output column: ``shingle``."""

    def summarize(batches):
        import numpy as np
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            # null text has no tokens, as in the explode form
            toks = pdf[text_col].dropna().str.split(" ")
            lens = toks.map(len).to_numpy()
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in toks]
            ) if len(toks) else np.empty(0, dtype=object)
            if flat.size >= 2:
                big = np.char.add(
                    np.char.add(flat[:-1].astype(str), " "),
                    flat[1:].astype(str),
                )
                # drop cross-document seams (last token of doc i paired
                # with the first of doc i+1)
                keep = np.ones(big.size, dtype=bool)
                keep[np.cumsum(lens)[:-1] - 1] = False
                for val, c in pd.Series(big[keep]).value_counts().items():
                    counters[val] = counters.get(val, 0) + int(c)
            counters = _mg_prune(counters, k)
        yield pd.DataFrame({"shingle": list(counters.keys())}).astype(
            {"shingle": "object"}
        )

    return docs.select(text_col).mapInPandas(
        summarize, schema="shingle string"
    )
