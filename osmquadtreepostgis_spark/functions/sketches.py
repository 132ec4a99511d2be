"""Similarity sketches: shingles, MinHash, SimHash — portable hashing.

Hash primitive: ``md5`` hex substrings cast to int64 — identical in
Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`cast('0x'||substr(md5(x),1,15) as bigint)`), so every sketch is
oracle-checkable. MinHash permutations are the classic
``(a*h + b) mod p`` family with fixed odd constants — integer math,
also portable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "md5_int64",
    "minhash_signature",
    "simhash64",
    "sql_md5_int64",
    "sql_word_shingles",
    "MINHASH_P",
    "MINHASH_DOM",
    "minhash_params",
]

# Mersenne prime 2^31 - 1: the permutation FIELD. The 60-bit md5 hash
# is reduced into [0, P) (MINHASH_DOM == MINHASH_P marks that
# reduction), a and b live in the field, and a*h + b < 2^62 is
# int64-safe in both Spark and DuckDB.
#
# WHY the modulus must be near the domain, not far above it: with
# h < 2^30 under the previous P = 2^61-1, a*h (< 2^61) wrapped mod P
# at most ONCE, so x -> (a*x + b) mod P was ORDER-PRESERVING in x —
# every "permutation" picked the same argmin shingle and the whole
# family produced ONE effective permutation (signature agreement
# between docs was all-or-nothing 0/98 vs 98/98, measured; LSH recall
# collapsed at any geometry). With h, a < P = 2^31-1 the product
# wraps ~a times: a genuine Carter-Wegman permutation of the field.
# Min-collision noise from the 2^31 domain (~|S|^2/2^32 per doc) is
# negligible, and every near-dup operator verifies candidates with
# exact Jaccard anyway.
MINHASH_P = (1 << 31) - 1
MINHASH_DOM = MINHASH_P


def minhash_params(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation: a pseudo-random
    multiplier in [1, P-1] and offset in [0, P), Weyl/Knuth-mixed
    from the permutation index. Distinct multipliers per permutation
    AND a modulus the products wrap richly around are BOTH required
    for independent permutations — see the field-size comment above."""
    out = []
    for i in range(n):
        mixed = (i * 2654435761 + 0x9E3779B9 + (i * i) * 40503) % (1 << 62)
        a = 1 + mixed % (MINHASH_P - 1)  # [1, P-1]
        b = (i * i * 2654435761 + i * 40503 + 1) % MINHASH_P
        out.append((a, b))
    return out


def md5_int64(c: Column) -> Column:
    """First 60 bits of md5 as non-negative int64 (portable)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_md5_int64(expr: str) -> str:
    return f"cast(concat('0x', substr(md5({expr}), 1, 15)) as bigint)"


def let_(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per
    row, reference the bound lambda variable freely in ``body``.

    HOF expression trees are interpreted (no codegen, no common-
    subexpression elimination), so an inlined subexpression such as
    ``split(text, ' ')`` is re-evaluated on EVERY reference — and a
    reference inside a per-element lambda means once per element:
    n-gram building via ``element_at(split(text), i+j)`` costs O(S·n)
    split evaluations, O(S²·n) string work per row. Materializing the
    tokens in a separate projection does NOT fix this reliably:
    Catalyst's CollapseProject re-inlines the projection into the
    consumer (measured: the r5 shingle explode cost 0.7 ms/doc —
    36 s/50k docs — because of exactly that re-inlining). A HOF lambda
    VARIABLE, by contrast, is evaluated once and bound, so
    ``transform(array(v), x -> body(x))[1]`` is an exact, pure let
    that survives every optimizer rewrite."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _word_shingles_of(toks: Column, n: int) -> Column:
    """Shingle builder over a BOUND token-array variable (callers must
    let-bind ``toks``; see :func:`let_`)."""
    k = F.size(toks)
    # guard: sequence(1, 0) DESCENDS in Spark; short texts get no shingles
    idx = F.when(k >= n, F.sequence(F.lit(1), k - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def word_shingles_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles over a token array expression. The
    token array is let-bound internally (:func:`let_`), so it is safe
    — and equally fast — to pass either a materialized column or a raw
    ``split(...)`` expression."""
    return let_(toks, lambda tk: _word_shingles_of(tk, n))


def sql_word_shingles(text: str, n: int = 3) -> str:
    """DuckDB twin of ``word_shingles_tokens(split(text, ' '), n)``
    (list of distinct n-gram strings)."""
    toks = f"string_split({text}, ' ')"
    parts = " || ' ' || ".join(f"({toks})[i + {j}]" for j in range(n))
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 0) + 1), i -> {parts}))"
    )


def minhash_signature(shingles: Column, n_hashes: int = 16) -> Column:
    """array<long> MinHash signature over a shingle array column.

    h_i(S) = min over s in S of (a_i * md5int(s) + b_i) mod P.
    Empty shingle set -> P (sentinel max).
    """
    hashed = F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    sigs = []
    reduced = F.transform(hashed, lambda h: h % MINHASH_DOM)
    for a, b in minhash_params(n_hashes):
        vals = F.transform(reduced, lambda h: (h * a + b) % MINHASH_P)
        sigs.append(
            F.coalesce(F.array_min(vals), F.lit(MINHASH_P)).alias(f"mh{len(sigs)}")
        )
    return F.array(*sigs)


def simhash64(shingles: Column) -> Column:
    """64-bit-ish SimHash (60 usable bits from the portable md5 hash):
    for each bit position, +1 if set else -1 over all shingles; bit in
    the output iff the sum is positive. JVM-only (aggregate over
    sequence), portable to SQL."""
    hashed = F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    def _vote_merge(i: int):
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return merge

    out = F.lit(0).cast("long")
    for i in range(60):  # python ints -> static shift amounts (codegen'd)
        vote = F.aggregate(hashed, F.lit(0), _vote_merge(i))
        out = out.bitwiseOR(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out
