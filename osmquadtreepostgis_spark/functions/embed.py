"""Model-free document embeddings: the feature-hashing trick, pure
Column + DuckDB twin.

Training-data pipelines need a cheap dense vector per document long
before any model exists — for embedding-space near-dup
(:func:`..operators.knn.ann_cosine_pairs_grid`), clustering, and
diversity sampling.  Feature hashing (Weinberger et al. 2009) is the
standard model-free construction: each token hashes to a bucket in
[0, dim) with a ±1 sign from a second hash; the document vector is
the signed bucket-count vector, L2-normalized.

Implementation notes:

* the portable md5-int64 hash (same as ``functions.text.fingerprint``)
  keeps Spark and DuckDB bit-identical — xxhash64 has no DuckDB twin;
* the bucket fold is ONE ``aggregate`` over ``arrays_zip(idx, sign)``
  updating an immutable dim-vector — O(dim) per token, and the token
  array expression is referenced exactly once (the nested-lambda
  re-evaluation trap documented in functions/repetition.py);
* empty documents embed to the zero vector (norm guard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import fanout_small_scan

__all__ = [
    "hash_embedding",
    "hash_embeddings_frame",
    "sql_hash_embedding",
    "hyperplane_weights",
    "hyperplane_bucket",
    "hyperplane_buckets_frame",
    "sql_hyperplane_bucket",
]


def _md5int(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash_embedding(text, dim: int = 64) -> Column:
    """array<double> L2-normalized feature-hashed embedding."""
    toks = F.split(F.col(text) if isinstance(text, str) else text, " ")
    idx = F.transform(toks, lambda t: (_md5int(t) % dim).cast("int"))
    sgn = F.transform(
        toks,
        lambda t: F.when(
            _md5int(F.concat(t, F.lit("#s"))) % 2 == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0)),
    )
    pairs = F.arrays_zip(idx.alias("i"), sgn.alias("s"))
    init = F.array_repeat(F.lit(0.0), dim)
    vec = F.aggregate(
        pairs,
        init,
        lambda acc, p: F.transform(
            acc,
            lambda v, j: v
            + F.when(j == p["i"], p["s"]).otherwise(F.lit(0.0)),
        ),
    )
    norm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return F.when(
        norm > 0, F.transform(vec, lambda v: v / norm)
    ).otherwise(vec)


def hash_embeddings_frame(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
):
    """(id_col, embedding: array<double>) — the HOT-PATH variant of
    :func:`hash_embedding`: one ``mapInPandas`` pass with numpy
    scatter-add accumulation and a per-batch unique-token hash cache.

    Catalyst evaluates higher-order-function lambdas interpreted (no
    whole-stage codegen inside ``aggregate``/``transform``), which
    prices the pure-Column fold at ~40 ms/doc; this variant is ~40x
    faster and BIT-IDENTICAL: same md5 bucket/sign hashes, and the
    accumulated values are ±1 integer sums — exact in float64 under
    any summation order — so normalization divides identical numbers
    (pinned against the Column variant in tests/test_embed.py).

    NULL text rows embed to NULL — the same semantics as the Column
    twin (``F.split`` of NULL is NULL, so the fold yields NULL).

    The Python work per batch is one ``pd.factorize`` over the flat
    token array plus two md5 calls per UNIQUE token (cached across
    batches); the accumulation itself is a single ``np.bincount``
    over linearized (doc, bucket) indices — no per-token Python."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
        ]
    )

    def embed(batches):
        cache: dict[str, tuple[int, float]] = {}

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            texts = pdf[text_col]
            null_mask = texts.isna().to_numpy()
            toks = texts.fillna("").str.split(" ")
            lens = toks.str.len().to_numpy(dtype=np.int64)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            flat = np.empty(int(lens.sum()), dtype=object)
            pos = 0
            for row in toks:
                flat[pos : pos + len(row)] = row
                pos += len(row)
            codes, uniques = pd.factorize(flat)
            buckets = np.empty(len(uniques), dtype=np.int64)
            signs = np.empty(len(uniques), dtype=np.float64)
            for k, t in enumerate(uniques):
                hit = cache.get(t)
                if hit is None:
                    b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim
                    s = (
                        1.0
                        if int(
                            hashlib.md5((t + "#s").encode()).hexdigest()[:15],
                            16,
                        )
                        % 2
                        == 0
                        else -1.0
                    )
                    hit = (b, s)
                    cache[t] = hit
                buckets[k], signs[k] = hit
            if len(flat):
                lin = doc_idx * dim + buckets[codes]
                vec = np.bincount(
                    lin, weights=signs[codes], minlength=n * dim
                ).reshape(n, dim)
            else:
                vec = np.zeros((n, dim), dtype=np.float64)
            norm = np.sqrt((vec * vec).sum(axis=1, keepdims=True))
            np.divide(vec, norm, out=vec, where=norm > 0)
            emb = list(vec)
            if null_mask.any():
                emb = [None if m else e for m, e in zip(null_mask, emb)]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "embedding": emb}
            )

    return df.select(id_col, text_col).mapInPandas(embed, out_schema)


# --- DuckDB twin (O(dim * S) per doc — oracle-only shape) ------------------


def _sql_md5int(expr: str) -> str:
    from .sketches import sql_md5_int64

    return sql_md5_int64(expr)


def sql_hash_embedding(expr: str, dim: int = 64) -> str:
    toks = f"string_split({expr}, ' ')"
    signed = _sql_md5int("t || '#s'")
    contrib = (
        f"list_transform({toks}, t -> CASE "
        f"WHEN {_sql_md5int('t')} % {dim} = j THEN "
        f"(CASE WHEN {signed} % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END) ELSE 0.0 END)"
    )
    vec = (
        f"list_transform(range(0, {dim}), "
        f"j -> coalesce(list_sum({contrib}), 0.0))"
    )
    norm = f"sqrt(list_sum(list_transform({vec}, v -> v * v)))"
    return (
        f"(CASE WHEN {norm} > 0 "
        f"THEN list_transform({vec}, v -> v / {norm}) ELSE {vec} END)"
    )


# --- Hyperplane buckets for diversity sampling -----------------------------
#
# Deterministic random-hyperplane LSH over an embedding column, exact
# across engines: embeddings are quantized to int64 (round(e * 1e6) —
# float32 widens exactly to double, one double multiply, HALF_UP ==
# away-from-zero in both engines for the same sign), hyperplane
# weights are md5-derived ints in [-1000, 1000] computed ONCE in
# Python and inlined as literals on BOTH sides, and the dot products
# are pure int64 sums (|dot| <= 64 * 1e6 * 1000 < 2^37) — no float
# accumulation order anywhere, so the sign bits are bit-identical.
# Nearby vectors (cosine-wise) share sign bits with high probability,
# so capping rows per bucket (operators/corpus.cap_per_key) yields an
# embedding-space DIVERSITY sample: no bucket — no neighborhood —
# over-contributes.


def hyperplane_weights(n_bits: int, dim: int) -> list[list[int]]:
    """md5-seeded integer hyperplanes, shared by Column and SQL."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"hp{b}_{i}".encode()).hexdigest()[:15], 16) % 2001)
            - 1000
            for i in range(dim)
        ]
        for b in range(n_bits)
    ]


def hyperplane_bucket(emb, n_bits: int = 8, dim: int = 64) -> Column:
    """int64 bucket id: ``n_bits`` sign bits of integer hyperplane
    dot products over the quantized embedding.

    NULL embeddings propagate to a NULL bucket (hash_embeddings_frame
    emits NULL for NULL text, so a corpus with null text must not
    abort here — and must not silently land in bucket 0 either).
    RAISES at runtime on a non-null dimension mismatch: ``zip_with``
    against a wrong-length weight array would null the dot products
    and silently collapse EVERY row into bucket 0 — composed with a
    per-bucket cap that would shrink a corpus to n documents with no
    error."""
    c = F.col(emb) if isinstance(emb, str) else emb
    checked = F.when(
        F.size(c) == dim, c
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"hyperplane_bucket: expected dim={dim}, got "),
                F.coalesce(F.size(c).cast("string"), F.lit("NULL")),
            )
        )
    )
    qe = F.transform(checked, lambda x: F.round(x.cast("double") * 1e6).cast("long"))
    W = hyperplane_weights(n_bits, dim)
    bucket: Column = F.lit(0).cast("long")
    for b in range(n_bits):
        w = F.array(*[F.lit(v).cast("long") for v in W[b]])
        dot = F.aggregate(
            F.zip_with(qe, w, lambda a, x: a * x),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    # CASE short-circuits per row: NULL rows never reach the dim check
    # (F.size(NULL) is NULL -> the when() would fall through to the
    # raise_error branch with a NULL message otherwise).
    return F.when(c.isNull(), F.lit(None).cast("long")).otherwise(bucket)


def hyperplane_buckets_frame(
    df: DataFrame, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id_col, bucket): :func:`hyperplane_bucket` per row. Its dot
    products are interpreted higher-order functions, the heavy per-row
    stage, so the input is fanned out first."""
    return fanout_small_scan(df).select(
        id_col, hyperplane_bucket(emb_col).alias("bucket")
    )


def sql_hyperplane_bucket(expr: str, n_bits: int = 8, dim: int = 64) -> str:
    """DuckDB twin of :func:`hyperplane_bucket` from the same weights —
    including the edge semantics: NULL in -> NULL bucket, non-null
    wrong-dim -> error() (never a silent bucket-0 collapse)."""
    W = hyperplane_weights(n_bits, dim)
    qe = (
        f"list_transform({expr}, "
        f"x -> cast(round(cast(x as double) * 1000000) as bigint))"
    )
    parts = []
    for b in range(n_bits):
        lits = ", ".join(str(v) for v in W[b])
        dot = (
            f"list_sum(list_transform(range(1, {dim} + 1), "
            f"i -> ({qe})[i] * ([{lits}])[i]))"
        )
        parts.append(f"(CASE WHEN {dot} >= 0 THEN {1 << b} ELSE 0 END)")
    bucket = "cast(" + " + ".join(parts) + " as bigint)"
    return (
        f"(CASE WHEN ({expr}) IS NULL THEN NULL "
        f"WHEN len({expr}) != {dim} "
        f"THEN error('hyperplane_bucket: expected dim={dim}, got ' "
        f"|| len({expr})) "
        f"ELSE {bucket} END)"
    )


# --- int8 symmetric quantization (embedding compression) -------------------

def quantize_embedding_int8(emb) -> Column:
    """Per-vector symmetric int8 quantization of a float embedding:
    ``q_i = round(x_i * 127 / max(|x|))``, the standard 4x shuffle /
    storage shrinker applied before ANN indexing at corpus scale (the
    signature/band stages here move ``dim`` bytes per vector instead
    of ``4*dim``). Pure-Column (whole-stage codegen); all-zero vectors
    quantize to all zeros (no division by zero, engine-dependent
    inf/NaN never reached); NULL embeddings propagate to NULL.

    Returns ``array<long>`` with every element in [-127, 127] — kept
    wide for downstream integer dot products (an int8 GEMM casts up
    anyway); cast to ``array<tinyint>`` at the storage boundary.
    """
    c = F.col(emb) if isinstance(emb, str) else emb
    xd = F.transform(c, lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    return (
        F.when(c.isNull(), F.lit(None).cast("array<long>"))
        .when(amax == 0.0, F.transform(xd, lambda x: F.lit(0).cast("long")))
        .otherwise(
            F.transform(xd, lambda x: F.round(x * 127.0 / amax).cast("long"))
        )
    )


def quantize_scale_micro(emb) -> Column:
    """``round(max(|x|) * 1e6)`` as bigint — the per-vector dequant
    scale pinned to integer micro-units so both engines agree exactly."""
    c = F.col(emb) if isinstance(emb, str) else emb
    amax = F.array_max(F.transform(c, lambda x: F.abs(x.cast("double"))))
    return F.round(amax * 1e6).cast("long")


def sql_quantize_embedding_int8(expr: str) -> str:
    """DuckDB twin of :func:`quantize_embedding_int8` — identical IEEE
    double pipeline (cast -> *127 -> /amax -> round-half-away), same
    all-zero and NULL edge semantics."""
    amax = f"list_max(list_transform({expr}, x -> abs(cast(x as double))))"
    q = (
        f"list_transform({expr}, "
        f"x -> cast(round(cast(x as double) * 127 / ({amax})) as bigint))"
    )
    zeros = f"list_transform({expr}, x -> cast(0 as bigint))"
    return (
        f"(CASE WHEN ({expr}) IS NULL THEN NULL "
        f"WHEN ({amax}) = 0 THEN {zeros} ELSE {q} END)"
    )


def sql_quantize_scale_micro(expr: str) -> str:
    amax = f"list_max(list_transform({expr}, x -> abs(cast(x as double))))"
    return f"cast(round(({amax}) * 1000000) as bigint)"
