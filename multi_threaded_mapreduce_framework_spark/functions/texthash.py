"""Portable deterministic text/sketch hash functions.

Everything here is a JVM-side column expression (whole-stage codegen —
no Python UDFs) built from arithmetic that DuckDB reproduces bit-exactly,
so every sketch-based operator (MinHash, SimHash, LSH) can be
oracle-checked: the oracle runs the *same algorithm*, not a lookalike.

Hash design notes:

- ``char_poly_hash``: polynomial rolling hash mod P over character
  codes. Spark's ``aggregate`` seeds with 0 and DuckDB's ``list_reduce``
  seeds with the first element; these coincide because
  ``(0*31 + c1) % P == c1``.
- MinHash permutations are ``h -> (a_i*h + b_i) mod P`` with small fixed
  ``a_i = 17 + 13*i``, ``b_i = 91 + 7*i`` — products stay < 2^63 for any
  ``h < P`` so int64 math never overflows in either engine.
- All "randomness" is a fixed deterministic formula: reproducibility
  across engines and across runs matters more than hash quality for a
  correctness-checked pipeline, and at 100 TB the constants would be
  drawn once and broadcast anyway.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

P = 1_000_000_007  # prime modulus shared with every oracle SQL string
BAND_MIX = 1_000_003  # polynomial base for band-key mixing


def let(bound: Column, body) -> Column:
    """Bind an expensive expression to a lambda variable: evaluate
    ``bound`` once, pass it to ``body`` as a variable reference.

    Implemented as ``transform(array(bound), x -> body(x))[1]``. Without
    this, a subexpression referenced N times is *inlined* N times into
    the Catalyst tree — for nested array expressions that multiplies
    both optimizer time (tree-size blowup) and runtime work.

    Caveat: a let-built column must not be project-collapsed into a
    Python/pandas UDF argument (Spark fails to extract/codegen the UDF
    over it). Materialize it under a name first and keep a second
    reference to that name in the same select — see q35 / the
    portability tests for the pattern.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def char_poly_hash(s: Column | str) -> Column:
    """Polynomial hash over the characters of a string column, mod P."""
    c = F.col(s) if isinstance(s, str) else s
    chars = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        chars, F.lit(0).cast("long"), lambda a, x: (a * 31 + x) % P
    )


def word_shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct hashes of word n-gram shingles (array<bigint>).

    Each word's characters are hashed once (``char_poly_hash``), then a
    shingle hash polynomially mixes its ``n`` word hashes — O(chars +
    shingles) work instead of O(shingles * shingle_len) naive re-hashing.
    Documents with fewer than ``n`` words yield an empty array (callers
    filter those out before sketching — a doc with no shingles has no
    similarity signal).
    """
    t = F.col(text) if isinstance(text, str) else text
    wh_expr = F.transform(F.split(t, " "), lambda w: char_poly_hash(w))

    def body(wh: Column) -> Column:
        def shingle_at(i: Column) -> Column:
            # element_at is 1-based (mirrors DuckDB list indexing)
            acc = F.element_at(wh, i + 1)
            for j in range(1, n):
                acc = (acc * BAND_MIX + F.element_at(wh, i + 1 + j)) % P
            return acc

        hashed = F.transform(F.sequence(F.lit(0), F.size(wh) - n), shingle_at)
        return F.when(F.size(wh) >= n, F.array_distinct(hashed)).otherwise(
            F.array().cast("array<bigint>")
        )

    # let-bind the word-hash array: it is referenced n+2 times in body
    return let(wh_expr, body)


def word_shingle_hashes_np(text: Column | str, n: int = 3) -> Column:
    """Arrow-vectorized :func:`word_shingle_hashes` — the same integer
    law step for step (pure int64, bit-equal by construction, verified
    row-for-row against the Column form on the fixtures and edge cases
    incl. empty words and non-ASCII): per word, the (a*31 + codepoint)
    % P char fold (vectorized with a LEFT-pad of zero codes, which is
    fold-neutral since the accumulator starts at 0); per shingle, the
    n-word BAND_MIX polynomial; first-occurrence distinct.  Overflow-
    free: P < 2^30, so every intermediate < 2^51.  The Column form ran
    the char fold as interpreted CodegenFallback HOFs per row — the
    q195 kernel lesson applied to the MinHash sketch family (r12)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _hs(texts):
        import numpy as np
        import pandas as pd

        out = []
        for t in texts:
            words = [] if t is None else t.split(" ")
            nw = len(words)
            if nw < n:
                out.append(np.empty(0, dtype=np.int64))
                continue
            width = max(max(len(w) for w in words), 1)
            M = np.zeros((nw, width), dtype=np.int64)
            for i, w in enumerate(words):
                if w:
                    M[i, width - len(w):] = np.frombuffer(
                        w.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
            h = np.zeros(nw, dtype=np.int64)
            for j in range(width):
                h = (h * 31 + M[:, j]) % P
            sh = h[: nw - n + 1].copy()
            for j in range(1, n):
                sh = (sh * BAND_MIX + h[j : nw - n + 1 + j]) % P
            _, idx = np.unique(sh, return_index=True)
            out.append(sh[np.sort(idx)])
        return pd.Series(out)

    return _hs(F.col(text) if isinstance(text, str) else text)


def distinct_token_hashes(text: Column | str) -> Column:
    """Distinct word-token hashes (array<bigint>) — SimHash's feature set."""
    t = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(F.split(t, " "), lambda w: char_poly_hash(w))
    )


def minhash_signature(hashes: Column, k: int = 16) -> Column:
    """K-element MinHash signature over a hash-set column.

    sig_i = min over h of ((17 + 13*i)*h + (91 + 7*i)) mod P.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                hashes, lambda h: ((F.lit(17) + F.lit(13) * i) * h + (F.lit(91) + F.lit(7) * i)) % P
            )
        ),
    )


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Banded LSH keys: array of structs {band, key} where key is a
    polynomial mix of the band's signature slice. Two docs collide in a
    band iff that slice matches exactly — the standard banding estimator
    for Jaccard > (1/bands)^(1/rows)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.aggregate(
                F.slice(sig, b * rows + 1, rows),
                F.lit(0).cast("long"),
                lambda a, x: (a * BAND_MIX + x) % P,
            ).alias("key"),
        ),
    )


def minhash_signature_np(hashes: Column, k: int = 16) -> Column:
    """Arrow-vectorized MinHash signature — same integer algorithm as
    :func:`minhash_signature` (identical outputs; pure int64 math has no
    FP divergence), ~4x faster: the 16-permutation inner loop runs as
    one numpy broadcast per document instead of 16 interpreted
    higher-order-function traversals.

    Empty input hashes yield ``[null] * k`` — the same as the Column
    form, where ``array_min`` over an empty array is null per slot."""
    @F.pandas_udf("array<bigint>")
    def _sig(hs_series):
        import numpy as np
        import pandas as pd

        a = (np.arange(k, dtype=np.int64) * 13 + 17)[:, None]
        b = (np.arange(k, dtype=np.int64) * 7 + 91)[:, None]
        out = []
        for h in hs_series:
            arr = np.asarray(h, dtype=np.int64)
            if arr.size == 0:
                out.append([None] * k)
                continue
            out.append(((a * arr[None, :] + b) % P).min(axis=1).tolist())
        return pd.Series(out)

    return _sig(hashes)


def simhash_np(hashes: Column, bits: int = 16) -> Column:
    """Arrow-vectorized SimHash — same integer algorithm as
    :func:`simhash` (identical outputs), one numpy broadcast per doc."""
    @F.pandas_udf("long")
    def _sh(hs_series):
        import numpy as np
        import pandas as pd

        j = np.arange(bits, dtype=np.int64)[:, None]
        out = []
        for h in hs_series:
            arr = np.asarray(h, dtype=np.int64)
            if arr.size == 0:
                out.append(0)
                continue
            signs = (((arr[None, :] >> j) & 1) * 2 - 1).sum(axis=1)
            out.append(int(((signs > 0).astype(np.int64) << j[:, 0]).sum()))
        return pd.Series(out)

    return _sh(hashes)


def simhash_col(hashes: Column, bits: int = 16) -> Column:
    """Deterministic pure-Column SimHash (same integer algorithm as
    :func:`simhash_np`, identical outputs), for plans where the sketch
    subtree must stay a Catalyst expression: Python UDFs never compare
    ``sameResult``, which defeats ReuseExchange under self-joins, and
    get re-evaluated by inferred not-null filters. The hash array is
    let-bound once; the ``bits`` bit-votes are unrolled with literal
    shift amounts (``F.shiftright`` needs a literal)."""

    def body(hs: Column) -> Column:
        def vote(j: int) -> Column:
            # j must close over a plain int: a defaulted lambda param
            # would be counted as a third lambda variable by PySpark
            return F.aggregate(
                hs,
                F.lit(0).cast("long"),
                lambda s, h: s
                + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            )

        acc = F.lit(0).cast("long")
        for j in range(bits):
            acc = acc + F.when(vote(j) > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            ).cast("long")
        return acc

    return let(hashes, body)


def simhash(hashes_sql: str, bits: int = 16) -> Column:
    """SimHash over a hash-array SQL expression (bits-wide, default 16).

    bit_j(simhash) = 1 iff sum over features of (+1 if bit_j(h) else -1)
    is strictly positive. Written as a SQL string because the bit-shift
    amount is a lambda variable (PySpark's ``F.shiftright`` only takes a
    literal shift).
    """
    return F.expr(
        f"""
        aggregate(
          transform(sequence(0, {bits - 1}),
            j -> IF(aggregate({hashes_sql}, 0L,
                      (s, h) -> s + IF(((h >> j) & 1) = 1, 1L, -1L)) > 0,
                    shiftleft(1L, j), 0L)),
          0L, (a, x) -> a + x)
        """
    )
