"""Deduplication operators for the training-data pipeline.

Five strategies, exact -> sketch -> embedding (SURVEY-mandated
training-data ops; each has a ``queries()`` entry with a DuckDB
oracle):

* ``dedup_exact``       — hash-groupBy on content fingerprint.
* ``ngram_jaccard_pairs`` — exact Jaccard over word shingles via an
  inverted-index self-join (explode shingle -> equi-join -> count
  intersection). The exact baseline MinHash approximates.
* ``minhash_lsh_pairs`` — MinHash signatures banded into LSH buckets;
  candidate pairs share a band bucket; verified against true Jaccard.
* ``simhash_pairs``     — 60-bit SimHash, pairs within Hamming radius
  (bucketed by the top bits to avoid the full cross join).
* embedding cosine near-dup — :func:`..operators.knn.ann_cosine_pairs`.

Every shuffle is on a content-derived key (fingerprint / shingle /
band bucket), the distributed-dedup idiom that survives 100 TB: no
driver-side state, no cross join except within tiny buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sketches import word_shingles_tokens
from ..functions.text import fingerprint
from ..session import barrier, fanout_small_scan

__all__ = [
    "dedup_exact",
    "ngram_jaccard_pairs",
    "set_jaccard_pairs",
    "set_jaccard_join",
    "dedup_against",
    "minhash_lsh_pairs",
    "minhash_verified_pairs",
    "minhash_verified_join",
    "simhash_pairs",
    "duplicate_spans",
    "decontaminate",
]


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: keep the smallest id per identical text
    (fingerprint pre-bucket -> shuffle on 60-bit key, not full text).
    Output: (doc_id, n_dupes) for the kept representative."""
    fp = df.select(
        F.col(id_col), fingerprint(text_col).alias("__fp"), F.col(text_col)
    )
    return (
        fp.groupBy("__fp", text_col)
        .agg(
            F.min(id_col).alias(id_col),
            (F.count(F.lit(1)) - 1).alias("n_dupes"),
        )
        .select(id_col, "n_dupes")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold via prefix-filtered
    inverted-index self-join. Returns (id_a, id_b, jaccard) with
    id_a < id_b, jaccard rounded 4dp.

    Candidate generation is PREFIX-FILTERED (AllPairs/SSJoin argument):
    under any fixed global total order of shingles — here ascending
    document frequency, rarest first — two sets with J >= t must share
    the globally-smallest element of their intersection, which provably
    sits inside BOTH docs' prefixes of size |X| - ceil(t*|X|) + 1. So
    the self-join runs over prefix shingles only. The df-ascending
    order is what caps hot-shingle blowup: a stop-phrase shingle shared
    by 10^6 docs sorts LAST and lands in almost no prefix, so it can no
    longer emit df^2 join rows (VERDICT r1 what's-wrong #6).

    Exact verification happens inline: each prefix row carries the
    doc's (distinct) shingle set as a sorted array of GLOBAL RANKS
    (int64, unique and df-ascending — :func:`_rank_frame`); the
    intersection is size(array_intersect) on longs — no second join.
    A pair sharing several prefix shingles is kept only on the
    rank-smallest shared one (sliced from the two rank arrays), so
    there is no dropDuplicates shuffle.

    Shuffles: shingle-key exchange (df count), rank range exchange
    (vocab-sized; its bounds come from Spark's range sample), rank
    equi-join + doc-key aggregate, pair equi-join on prefix ranks.
    All keys are content-derived; no driver state and no collect.
    """
    return set_jaccard_pairs(_shingles(df, n, id_col, text_col), threshold)


def _shingles(
    df: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    out_id: str = "id",
    out_sh: str = "__sh",
) -> DataFrame:
    """(out_id, out_sh): each doc's word ``n``-gram shingle array over
    its whitespace tokens. The heavy per-row stage every shingling
    operator shares, so this is where their input is fanned out."""
    toks = fanout_small_scan(df).select(
        F.col(id_col).alias(out_id), F.split(F.col(text_col), " ").alias("__toks")
    )
    return toks.select(out_id, word_shingles_tokens(F.col("__toks"), n).alias(out_sh))


def _rank_frame(dfcnt: DataFrame) -> DataFrame:
    """(__s, __rk): an int64 rank of every distinct element, strictly
    increasing in the global (document-frequency asc, element asc)
    total order given by ``dfcnt`` (__s, __df). Ranks are unique but
    not dense.

    Replacing each string shingle with its rank is the r6 shuffle-
    bytes optimization (guide §2.3 "narrower types"): every downstream
    array / join key becomes an int64 instead of a ~20-byte string,
    the per-candidate array_intersect compares longs instead of
    strings, and the rank ORDER ITSELF encodes the df-ascending prefix
    order, so prefixes are plain ``slice`` calls instead of a second
    carried array. The rank is injective (elements are distinct in
    dfcnt), so set sizes and intersection sizes — and therefore every
    emitted Jaccard — are EXACTLY the string-set values.

    Global order without a single giant sort partition and without a
    driver round trip: range-repartition by the order key (per-
    partition key ranges are disjoint and ordered by partition id,
    under AQE too — coalescing merges only adjacent ranges), sort
    within each partition, and take ``monotonically_increasing_id``
    (partition id in the high bits, row position in the low bits)."""
    return (
        dfcnt.repartitionByRange("__df", "__s")
        .sortWithinPartitions("__df", "__s")
        .select("__s", F.monotonically_increasing_id().alias("__rk"))
    )


def _prefix_frame(sets: DataFrame, rankf: DataFrame, threshold: float) -> DataFrame:
    """Per-doc rank-array frame (id, __size, __shfull) of a (id, __sh)
    set frame under the shared global element order ``rankf``
    (:func:`_rank_frame`): __shfull is the doc's element RANKS sorted
    ascending, so the AllPairs prefix of length
    ``|X| - ceil(t*|X|) + 1`` is ``slice(__shfull, 1, plen)`` — no
    second array is carried through the shuffle. Shared by the
    self-join (:func:`set_jaccard_pairs`) and the bipartite
    probe/index join (:func:`set_jaccard_join`) — the order MUST come
    from the same rank frame on both sides of a join for the
    prefix-filter argument to hold."""
    sh = sets.select("id", "__sh").withColumn("__size", F.size("__sh"))
    ex = sh.select("id", "__size", F.explode("__sh").alias("__s"))
    return (
        ex.join(rankf, "__s")
        .groupBy("id", "__size")
        .agg(F.array_sort(F.collect_list("__rk")).alias("__shfull"))
    )


def _prefix_len(size_col, threshold: float):
    """AllPairs prefix length |X| - ceil(t*|X|) + 1 as a Column."""
    return size_col - F.ceil(F.lit(threshold) * size_col) + 1


def set_jaccard_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered exact set-Jaccard self-join over a frame of
    (id, __sh: array<string>) element sets — the shared core of
    :func:`ngram_jaccard_pairs` (word shingles) and
    :func:`..operators.fuzzy.similar_name_pairs` (char trigrams).
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded
    4dp. Semantics and scale shape documented on
    :func:`ngram_jaccard_pairs`. Driver cost: one lineage barrier (the
    per-doc rank-array frame) and no collect."""
    # document frequency per shingle: two-phase groupBy + equi-join
    # back, NOT Window.partitionBy("__s") — a window partition cannot
    # be AQE-split, so a stop-phrase shingle with 10^8+ occurrences
    # would land in one task at web scale. The groupBy gets map-side
    # partial aggregation and the join is AQE-skew-splittable
    # (VERDICT r2 what's-wrong #1). No barrier on dfcnt: under AQE the
    # rank frame's range sample reads the materialized df-count
    # shuffle, not the explode behind it.
    ex = sets.select("id", F.explode("__sh").alias("__s"))
    dfcnt = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    rankf = _rank_frame(dfcnt)
    # the per-doc rank-array frame is materialized ONCE (a barrier)
    # and both self-join arms read it: collect_list defeats
    # ReuseExchange, so without the barrier each arm re-runs the df
    # count, rank and rank join. With ranks instead of strings it is
    # one int64 array per doc (~8 bytes/shingle vs ~2 string arrays at
    # ~20 bytes/shingle), a few MB per million docs (guide §2.3 / §2.4).
    arr = barrier(_prefix_frame(sets, rankf, threshold))
    plen = _prefix_len(F.col("__size"), threshold)
    # AQE turns the candidate join into a broadcast hash join whose
    # probe side reads arr's partitions as they are, so the verify
    # stage (array_intersect per candidate) runs one task per partition
    # of arr: fan a few coalesced partitions out to every core first
    pref = fanout_small_scan(arr).select(
        "id", "__size", "__shfull",
        F.explode(F.slice("__shfull", F.lit(1), plen)).alias("__s"),
    )
    a = pref.select(
        F.col("id").alias("id_a"),
        F.col("__size").alias("__sa"),
        F.col("__shfull").alias("__fa"),
        "__s",
    )
    b = pref.select(
        F.col("id").alias("id_b"),
        F.col("__size").alias("__sb"),
        F.col("__shfull").alias("__fb"),
        "__s",
    )
    # exact-preserving size-ratio prune: J(A,B) <= min(|A|,|B|)/max(|A|,|B|)
    size_ok = (F.col("__sa") >= threshold * F.col("__sb")) & (
        F.col("__sb") >= threshold * F.col("__sa")
    )
    # first-shared-prefix-element dedup (no extra shuffle): keep the
    # joined row only where __s is the smallest shared prefix rank;
    # prefixes are re-sliced from the sorted rank array — same SET as
    # the old carried __pref, chosen canonical element differs only in
    # which duplicate join row survives, never in the emitted pair
    first_shared = F.array_min(
        F.array_intersect(
            F.slice("__fa", F.lit(1), _prefix_len(F.col("__sa"), threshold)),
            F.slice("__fb", F.lit(1), _prefix_len(F.col("__sb"), threshold)),
        )
    )
    cand = a.join(b, "__s").filter(
        (F.col("id_a") < F.col("id_b")) & size_ok & (F.col("__s") == first_shared)
    )
    inter = F.size(F.array_intersect("__fa", "__fb"))
    j = inter / (F.col("__sa") + F.col("__sb") - inter)
    return (
        cand.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def set_jaccard_join(
    probe: DataFrame, index: DataFrame, threshold: float
) -> DataFrame:
    """BIPARTITE prefix-filtered exact set-Jaccard join between two
    (id, __sh) frames: pairs (id_p, id_x, jaccard) with
    J(probe, index) >= threshold. The incremental-dedup primitive —
    probe is the new batch, index the existing corpus; unlike running
    :func:`set_jaccard_pairs` on the union, no index-vs-index work is
    done (at 100 TB the corpus side dwarfs the batch side by orders of
    magnitude, so union self-join cost is dominated by exactly the
    pairs nobody asked for).

    The prefix-filter global order MUST be shared by both sides, so
    document frequency is counted over the UNION of element
    occurrences; both prefix frames are then built against that one
    dfcnt. Same exactness argument as :func:`set_jaccard_pairs`; the
    first-shared-prefix-element dedup keeps each qualifying pair
    exactly once with no dropDuplicates shuffle.

    Deliberately NOT the rank-array shape of the self-join (r6): this
    path stays string-keyed and fully LAZY. The A/B at sf1.0 measured
    the two shapes equal when actually evaluated (7.5 s vs 7.7 s —
    the index side is small in every composition, so the candidate
    join never dominates), and the lazy shape keeps two properties
    the rank machinery's materialization barriers would destroy: (a)
    callers that only need the probe-side cardinality (e.g. a count
    over :func:`dedup_against`'s left join, whose right side is
    key-unique and thus join-eliminated by Catalyst) skip the whole
    pipeline; (b) per-element determinism makes the independent
    re-evaluation of the two sides consistent without any barrier."""
    exp = probe.select("id", F.explode("__sh").alias("__s"))
    exx = index.select("id", F.explode("__sh").alias("__s"))
    dfcnt = (
        exp.unionByName(exx)
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
    )

    def _pref(sets: DataFrame, out_id: str, s_col: str, p_col: str, f_col: str) -> DataFrame:
        sh = sets.select("id", "__sh").withColumn("__size", F.size("__sh"))
        ex = sh.select("id", "__size", F.explode("__sh").alias("__s"))
        exdf = ex.join(dfcnt, "__s")
        wdoc = Window.partitionBy("id").orderBy(
            F.col("__df").asc(), F.col("__s").asc()
        )
        plen = _prefix_len(F.col("__size"), threshold)
        return (
            exdf.withColumn("__rk", F.row_number().over(wdoc))
            .groupBy("id", "__size")
            .agg(
                F.collect_list(
                    F.when(F.col("__rk") <= plen, F.col("__s"))
                ).alias("__pref"),
                F.collect_list("__s").alias("__shfull"),
            )
            .select(
                F.col("id").alias(out_id),
                F.col("__size").alias(s_col),
                F.col("__pref").alias(p_col),
                F.col("__shfull").alias(f_col),
                F.explode("__pref").alias("__s"),
            )
        )

    a = _pref(probe, "id_p", "__sa", "__pa", "__fa")
    b = _pref(index, "id_x", "__sb", "__pb", "__fb")
    size_ok = (F.col("__sa") >= threshold * F.col("__sb")) & (
        F.col("__sb") >= threshold * F.col("__sa")
    )
    first_shared = F.array_min(F.array_intersect("__pa", "__pb"))
    cand = a.join(b, "__s").filter(size_ok & (F.col("__s") == first_shared))
    inter = F.size(F.array_intersect("__fa", "__fb"))
    j = inter / (F.col("__sa") + F.col("__sb") - inter)
    return (
        cand.withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("id_p", "id_x", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_verified_join(
    probe: DataFrame,
    index: DataFrame,
    threshold: float,
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BIPARTITE MinHash-banded candidate join + exact Jaccard
    verification: pairs (id_p, id_x, jaccard) with J >= threshold,
    restricted to pairs sharing at least one LSH band. The
    incremental twin of :func:`minhash_verified_pairs` — at 100 TB the
    index side's signatures are computed once (persist/compact them
    with the corpus) and each new batch pays only its own signatures
    plus the band-bucket equi-join; no index-vs-index work, no full
    inverted index. First-shared-band dedup keeps each (probe, index)
    pair once without a dropDuplicates shuffle.

    Shingle-less docs (shorter than n words) all carry the sentinel
    all-MINHASH_P signature and therefore share every band bucket;
    exact verification discards their pairs (0/0 Jaccard -> NULL
    fails the filter), matching the exact operator's no-pair
    semantics — but at web scale pre-filter empty docs BEFORE banding
    or they form one quadratic bucket."""
    rows_per_band = n_hashes // bands
    sigp = _minhash_sig_frame(probe, n_hashes, n, id_col, text_col)
    sigx = _minhash_sig_frame(index, n_hashes, n, id_col, text_col)
    bs = _band_structs(n_hashes, bands)
    bp = sigp.select("id", "__sig", F.explode(bs).alias("b")).select(
        F.col("id").alias("id_p"),
        F.col("__sig").alias("__sigp"),
        F.col("b.band").alias("band"),
        F.col("b.bucket").alias("bucket"),
    )
    bx = sigx.select("id", "__sig", F.explode(bs).alias("b")).select(
        F.col("id").alias("id_x"),
        F.col("__sig").alias("__sigx"),
        F.col("b.band").alias("band"),
        F.col("b.bucket").alias("bucket"),
    )
    j = bp.join(bx, ["band", "bucket"])
    first_shared = None
    for bi in range(bands):
        eq = F.lit(True)
        for ri in range(rows_per_band):
            k = bi * rows_per_band + ri + 1
            eq = eq & (F.element_at("__sigp", k) == F.element_at("__sigx", k))
        first_shared = (
            F.when(eq, bi) if first_shared is None else first_shared.when(eq, bi)
        )
    cand = j.filter(F.col("band") == first_shared).select("id_p", "id_x")

    ver = cand.join(
        _shingles(probe, n, id_col, text_col, "id_p", "__fp_sh"), "id_p"
    ).join(_shingles(index, n, id_col, text_col, "id_x", "__fx_sh"), "id_x")
    inter = F.size(F.array_intersect("__fp_sh", "__fx_sh"))
    jac = inter / (F.size("__fp_sh") + F.size("__fx_sh") - inter)
    return (
        ver.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_p", "id_x", F.round("jaccard", 4).alias("jaccard"))
    )


def dedup_against(
    new: DataFrame,
    seen: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "exact",
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental corpus dedup: for each NEW document, is it an
    n-gram-Jaccard near-duplicate of ANY document already in the SEEN
    corpus?  Returns one row per new doc:
    ``(doc_id, n_seen_dups, keep)`` — keep = no seen near-dup.

    New-vs-new duplicates are deliberately NOT considered (that is a
    separate self-dedup pass, :func:`ngram_jaccard_pairs` +
    :mod:`.cluster`); the incremental contract is "what does this
    batch add on top of the corpus".  Ids need not be distinct across
    the two frames — sides never mix.

    ``mode``: ``"exact"`` (default) runs the prefix-filtered bipartite
    inverted-index join; ``"minhash_verified"`` runs the band-shuffle
    candidate join + exact verification
    (:func:`minhash_verified_join`) — exact precision, probabilistic
    recall, and the index side's signatures are batch-independent
    (persist them with the corpus at scale)."""
    if mode == "minhash_verified":
        hits = minhash_verified_join(
            new, seen, threshold, n=n, n_hashes=n_hashes, bands=bands,
            id_col=id_col, text_col=text_col,
        )
    elif mode != "exact":
        raise ValueError(f"unknown mode {mode!r}")

    if mode == "exact":
        hits = set_jaccard_join(
            _shingles(new, n, id_col, text_col),
            _shingles(seen, n, id_col, text_col),
            threshold,
        )
    per_new = hits.groupBy(F.col("id_p").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_seen_dups")
    )
    return (
        new.select(id_col)
        .join(per_new, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_seen_dups", F.lit(0)).alias("n_seen_dups"),
            (F.coalesce("n_seen_dups", F.lit(0)) == 0).alias("keep"),
        )
    )


def _pos_gram_structs(toks_expr, n: int):
    """array<struct<pos,g>> of positional word n-grams, with the token
    array let-bound (:func:`..functions.sketches.let_`) so the split
    evaluates once per row regardless of optimizer inlining."""
    from ..functions.sketches import let_

    def body(toks):
        k = F.size(toks)
        idx = F.when(k >= n, F.sequence(F.lit(1), k - (n - 1))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ).alias("g"),
            ),
        )

    return let_(toks_expr, body)


def duplicate_spans(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT duplicate-substring spans — the training-data dedup op
    that removes verbatim repeated passages rather than whole
    documents: every maximal per-doc token interval covered by
    ``n``-gram substrings that occur MORE THAN ONCE in the corpus.

    Output: (doc_id, span_start, span_end, n_tokens) with 1-based
    token positions, end inclusive. Overlapping OR TOUCHING duplicated
    n-gram extents merge via interval union (a position starts a new
    span iff it begins past the previous gram's covered end + 1 — with
    sorted positions the running covered-end is lag(pos)+n-1, so a gram
    at exactly lag(pos)+n continues the span: contiguous coverage).

    Scale shape: positional n-grams via ONE higher-order transform +
    explode (no per-row Python); duplicated-gram detection via
    groupBy(gram) + left-semi join (NOT a gram-keyed window — a window
    partition cannot be AQE-split, so one stop-phrase gram would pin a
    single task at web scale; the semi-join is skew-splittable and the
    count side is map-side-combined). Span merge via an id-partitioned
    window. No driver state.
    """
    # positional grams over a LET-BOUND token array (sketches.let_):
    # a projection-materialized __toks column gets re-inlined by
    # CollapseProject, turning each element_at back into a full split
    # per reference — O(S^2·n) string work per row
    grams = _pos_gram_structs(F.split(F.col(text_col), " "), n)
    ex = fanout_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(grams).alias("t")
    ).select("id", F.col("t.pos").alias("pos"), F.col("t.g").alias("g"))
    # the row count, spelled over the id so this branch reads the same
    # scan columns as the semi-join below and both share one fan-out
    # exchange (count(1), or a count of any never-null expression,
    # lets the scan under this branch's exchange drop the id)
    dup_grams = (
        ex.groupBy("g")
        .agg((F.count("id") + F.count_if(F.col("id").isNull())).alias("__cnt"))
        .filter(F.col("__cnt") > 1)
        .select("g")
    )
    dup = ex.join(dup_grams, "g", "left_semi")
    wdoc = Window.partitionBy("id").orderBy("pos")
    # new island iff this gram starts past the previous covered end + 1
    # (prev end = lag(pos)+n-1, so touching coverage at pos = lag+n
    # CONTINUES the span — ADVICE r2 #3)
    new_island = F.when(
        F.lag("pos").over(wdoc).isNull()
        | (F.col("pos") > F.lag("pos").over(wdoc) + n),
        1,
    ).otherwise(0)
    islands = dup.withColumn(
        "__island", F.sum(new_island).over(wdoc)
    )
    return (
        islands.groupBy(F.col("id").alias(id_col), "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    max_overlap_frac: float = 0.0,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag every TRAIN document that shares
    at least one ``n``-gram (whitespace tokens) with ANY document in the
    EVAL set — the standard guard against test-set leakage into
    training corpora (GPT-3 Appendix C / PaLM use 8-13 gram overlap;
    this is the same op parameterized on ``n``).

    Output, one row per train doc:
    ``(doc_id, n_hit_grams, contaminated_tokens, total_tokens,
    contaminated_frac, keep)`` where ``n_hit_grams`` counts train-side
    gram POSITIONS whose gram occurs anywhere in the eval set,
    ``contaminated_tokens`` is the interval-union token coverage of
    those positions (same island merge as :func:`duplicate_spans`),
    ``contaminated_frac`` is coverage / doc tokens rounded to 4 dp, and
    ``keep`` = frac <= ``max_overlap_frac`` (default 0: any overlap
    drops the doc). Docs shorter than ``n`` tokens have no grams and
    are always kept.

    Scale shape: the eval side reduces to its DISTINCT gram set —
    benchmark suites are tiny next to a training corpus (thousands of
    docs vs billions), so with ``broadcast_eval=True`` (default) the
    gram set is broadcast and the probe is a map-side semi-join: the
    100 TB train side is never shuffled at all until the per-doc
    groupBy, which carries only hit positions (zero rows for clean
    docs). Set ``broadcast_eval=False`` if the eval set is itself huge
    — the probe becomes a shuffle equi-join on the gram key, still
    skew-safe (one hot stop-phrase gram splits under AQE; no windows
    keyed by gram). No per-row Python anywhere.
    """
    def _pos_grams(d: DataFrame, tcol: str, with_id: bool) -> DataFrame:
        cols = [F.col(id_col).alias("id")] if with_id else []
        grams = _pos_gram_structs(F.split(F.col(tcol), " "), n)
        out = d.select(*cols, F.explode(grams).alias("t"))
        keep_cols = (["id"] if with_id else []) + [
            F.col("t.pos").alias("pos"),
            F.col("t.g").alias("g"),
        ]
        return out.select(*keep_cols)

    eval_grams = _pos_grams(eval_df, eval_text_col, with_id=False).select(
        "g"
    ).distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    hits = _pos_grams(train, text_col, with_id=True).join(
        eval_grams, "g", "left_semi"
    )

    wdoc = Window.partitionBy("id").orderBy("pos")
    new_island = F.when(
        F.lag("pos").over(wdoc).isNull()
        | (F.col("pos") > F.lag("pos").over(wdoc) + n),
        1,
    ).otherwise(0)
    spans = (
        hits.withColumn("__island", F.sum(new_island).over(wdoc))
        .groupBy("id", "__island")
        .agg(
            F.count(F.lit(1)).alias("__nh"),
            (F.max("pos") + (n - 1) - F.min("pos") + 1).alias("__cov"),
        )
    )
    per_doc = spans.groupBy("id").agg(
        F.sum("__nh").alias("n_hit_grams"),
        F.sum("__cov").alias("contaminated_tokens"),
    )
    base = train.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("total_tokens"),
    )
    return (
        base.join(per_doc.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
            F.coalesce("contaminated_tokens", F.lit(0))
            .cast("long")
            .alias("contaminated_tokens"),
            "total_tokens",
            F.round(
                F.coalesce("contaminated_tokens", F.lit(0))
                / F.greatest("total_tokens", F.lit(1)),
                4,
            ).alias("contaminated_frac"),
        )
        .withColumn("keep", F.col("contaminated_frac") <= max_overlap_frac)
    )


from ..functions.sketches import MINHASH_DOM as _MH_DOM


def _minhash_sig_frame(
    df: DataFrame, n_hashes: int, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, __sig: array<long>) MinHash signatures via explode + ONE
    hash-aggregate pass (n_hashes codegen'd conditional mins). The
    Column-API minhash_signature is semantically identical but
    evaluates n_hashes interpreted array transforms (md5 per shingle
    re-hashed per permutation) — ~20x slower; keep it off the hot
    path (same lesson as SimHash)."""
    hashed = _shingles(df, n, id_col, text_col).select(
        "id",
        F.explode_outer(
            F.transform(
                F.col("__sh"),
                # reduced to the 30-bit permutation domain ONCE here
                # (not per permutation) — see sketches.MINHASH_DOM
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
                % _MH_DOM,
            )
        ).alias("__hv"),
    )
    from ..functions.sketches import MINHASH_DOM, MINHASH_P, minhash_params

    mins = [
        F.coalesce(F.min((F.col("__hv") * a + b) % MINHASH_P), F.lit(MINHASH_P)).alias(
            f"__mh{i}"
        )
        for i, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return (
        hashed.groupBy("id")
        .agg(*mins)
        .select(
            "id", F.array(*[F.col(f"__mh{i}") for i in range(n_hashes)]).alias("__sig")
        )
    )


def _band_structs(n_hashes: int, bands: int):
    """Per-band bucket keys. The bucket is xxhash64 over the band's
    signature rows (an int64), not a concatenated string (r6): the
    join key shrinks ~4x, and the expression tree is one hash call per
    band instead of a concat_ws of casts — with threshold-derived
    geometries (104 bands at t=0.5) the string version dominated PLAN
    COMPILATION time. Bucket collisions across different signature
    values can only ADD candidate rows, never remove one, and every
    consumer re-checks real signature equality (first-shared-band
    predicate) or exact Jaccard downstream, so outputs are unchanged."""
    rows_per_band = n_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at(F.col("__sig"), bi * rows_per_band + ri + 1)
                        for ri in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )


def minhash_geometry(
    threshold: float,
    rows_per_band: int = 3,
    target_miss: float = 1e-6,
) -> tuple[int, int]:
    """Derive an (n_hashes, bands) LSH geometry whose miss probability
    for a TRUE pair at exactly ``threshold`` Jaccard is below
    ``target_miss``: bands = ceil(ln(miss) / ln(1 - t^r)).

    A pair at Jaccard ``t`` shares a given band with probability
    ``t^r`` and is missed when it shares none: ``(1 - t^r)^b``.  Fixed
    small geometries (e.g. 16 hashes / 4 bands) look fine on
    high-Jaccard fixtures but miss a t=0.5 pair 77 % of the time —
    sizing MUST come from the configured threshold (ADVICE r4).

    ``rows_per_band`` trades LINEAR signature cost against QUADRATIC
    false-candidate cost: a background pair at Jaccard j collides per
    band with probability j^r, and total candidates scale n² × b ×
    E[j^r], so each +1 on r cuts the n² term by roughly a factor of
    the background similarity while costing one more hash per band.
    The r5 default moved 2 → 3 on measurement, not taste: a 540k-doc
    planted-corpus run at r=2 (98×49, t=0.5) exploded to 608 M
    candidate rows (160 M after pair-dedup) and did not finish in an
    hour, while at the same recall target r=3 (312×104) returned the
    IDENTICAL pair set faster than r=2 even at 60k docs (40.9 s vs
    70.8 s) and 180k (164 s vs 206 s) — see BENCH/BASELINE.md
    "Band-geometry FP scaling". At 10^12 docs the n² term is the only
    one that matters; raise r further (4-5) for corpora with heavier
    background similarity.
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    p_band = threshold ** rows_per_band
    bands = max(1, math.ceil(math.log(target_miss) / math.log(1.0 - p_band)))
    return bands * rows_per_band, bands


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH banding: signature split into ``bands`` bands of
    ``n_hashes/bands`` rows; docs sharing any full band are candidate
    pairs. Output: (id_a, id_b, est_jaccard) where est_jaccard is the
    signature agreement fraction (rounded 4dp).

    Scale shape: shuffle on (band_idx, band_hash-bucket); candidate
    generation never compares all pairs.
    """
    rows_per_band = n_hashes // bands
    sig = _minhash_sig_frame(df, n_hashes, n, id_col, text_col)
    band_structs = _band_structs(n_hashes, bands)
    banded = sig.select("id", "__sig", F.explode(band_structs).alias("b")).select(
        "id", "__sig", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("__sig").alias("__siga"), "band", "bucket"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("__sig").alias("__sigb"), "band", "bucket"
    )
    j = a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
    # first-shared-band dedup: a pair may share several bands; keep it
    # only in the FIRST one — computable from the two signatures, so
    # no dropDuplicates shuffle over the candidate pairs (the
    # aggregation-free analog of the overlay reference-point trick)
    first_shared = None
    for bi in range(bands):
        eq = F.lit(True)
        for ri in range(rows_per_band):
            k = bi * rows_per_band + ri + 1
            eq = eq & (
                F.element_at("__siga", k) == F.element_at("__sigb", k)
            )
        first_shared = (
            F.when(eq, bi) if first_shared is None else first_shared.when(eq, bi)
        )
    cand = j.filter(F.col("band") == first_shared)
    agree = F.size(
        F.filter(
            F.zip_with(F.col("__siga"), F.col("__sigb"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return cand.select(
        "id_a",
        "id_b",
        F.round(agree.cast("double") / float(n_hashes), 4).alias("est_jaccard"),
    )


def minhash_verified_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    n_hashes: int | None = None,
    bands: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH candidate generation + EXACT Jaccard verification —
    the 100 TB near-dup shape: the band shuffle proposes candidate
    pairs (never all pairs, never the full inverted index), then the
    true shingle-set Jaccard is computed on candidates only and pairs
    below ``threshold`` are discarded.

    Output matches :func:`ngram_jaccard_pairs` — (id_a, id_b, jaccard
    rounded 4dp), id_a < id_b — restricted to pairs LSH recalled: a
    true pair sharing NO band is missed (probability (1-t^r)^b for
    Jaccard t, r rows/band). Verification makes precision exact; only
    recall is probabilistic.  When ``n_hashes``/``bands`` are left
    None the geometry is DERIVED from ``threshold`` via
    :func:`minhash_geometry` so that miss probability at the
    configured threshold is < 1e-6 (a fixed 16/4 geometry misses a
    t=0.5 pair 77 % of the time — ADVICE r4).

    Scale shape vs the exact operator: the inverted-index self-join's
    prefix explode is O(corpus × prefix); the LSH path's heavy stage
    is one signature aggregate (O(corpus) rows through a groupBy) plus
    a band-bucket equi-join whose left/right sides are bounded by
    bucket occupancy. Verification joins the candidate pairs (tiny at
    web-scale dup rates) back to the shingle arrays twice.
    """
    if n_hashes is None or bands is None:
        derived_hashes, derived_bands = minhash_geometry(threshold)
        n_hashes = derived_hashes if n_hashes is None else n_hashes
        bands = derived_bands if bands is None else bands
    # LEAN candidate generation (vs minhash_lsh_pairs, which carries
    # both full signatures through the band join for its est_jaccard /
    # first-shared-band logic): verification recomputes the EXACT
    # jaccard anyway, so candidates only need distinct (id_a, id_b).
    # The banded frame here is (id, band, bucket) — ~30 bytes/row
    # instead of ~8 * n_hashes — which matters once the geometry is
    # threshold-derived (48 bands at t=0.5); the dropDuplicates
    # shuffle runs over candidate PAIRS, tiny at real-world dup rates.
    sig = _minhash_sig_frame(df, n_hashes, n, id_col, text_col)
    banded = sig.select(
        "id", F.explode(_band_structs(n_hashes, bands)).alias("b")
    ).select(
        "id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    ca = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    cb = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        ca.join(cb, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = _shingles(df, n, id_col, text_col)
    a = sh.select(F.col("id").alias("id_a"), F.col("__sh").alias("__fa"))
    b = sh.select(F.col("id").alias("id_b"), F.col("__sh").alias("__fb"))
    inter = F.size(F.array_intersect("__fa", "__fb"))
    j = inter / (F.size("__fa") + F.size("__fb") - inter)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", j)
        # NULL jaccard (both shingle sets empty -> 0/0) fails the
        # filter, matching ngram_jaccard_pairs (empty sets never join)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits.

    Bucketing: the 60-bit hash split into 4 x 15-bit segments; by
    pigeonhole any pair within Hamming distance <= max_hamming (< 4
    segment-flips... exactness only when max_hamming <= 3 per the
    4-segment pigeonhole; for larger radii this is the standard
    recall-bounded approximation) shares at least one exact segment.
    Join per segment, dedupe, verify exact Hamming distance.
    """
    # SimHash via explode + ONE hash-aggregate pass (60 conditional
    # sums, whole-stage codegen'd). The scalar simhash64 Column is
    # semantically identical but evaluates 60 interpreted array
    # aggregates per row — ~50x slower; never use it on the hot path.
    hashed = _shingles(df, n, id_col, text_col).select(
        "id",
        F.explode_outer(
            F.transform(
                F.col("__sh"),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            )
        ).alias("__hv"),
    )
    # LANE-PACKED vote counting: bit i's set-count rides in a 16-bit
    # lane (4 lanes per int64, 15 packed sums instead of 60 conditional
    # sums — measured ~2x on the aggregate). votes_i = 2*count_set - n,
    # so bit i of the simhash is count_set_i*2 > n. Bound: exact while
    # every doc has < 65536 distinct shingles (lane carry otherwise) —
    # comfortably true for page text; shingle sets are distinct arrays.
    packs = [
        F.sum(
            sum(
                F.shiftleft(
                    F.shiftright("__hv", 4 * j + i).bitwiseAND(F.lit(1)).cast(
                        "long"
                    ),
                    16 * i,
                )
                for i in range(4)
            )
        ).alias(f"p{j}")
        for j in range(15)
    ]
    votes = hashed.groupBy("id").agg(
        F.count("__hv").alias("__n"), *packs
    )
    sim = F.lit(0).cast("long")
    for j in range(15):
        for i in range(4):
            cnt = F.shiftright(F.col(f"p{j}"), 16 * i).bitwiseAND(F.lit(0xFFFF))
            sim = sim.bitwiseOR(
                F.when(
                    cnt * 2 > F.col("__n"),
                    F.shiftleft(F.lit(1).cast("long"), 4 * j + i),
                ).otherwise(F.lit(0).cast("long"))
            )
    sh = votes.select("id", sim.alias("__h"))
    segs = F.array(
        *[
            F.struct(
                F.lit(si).alias("seg"),
                F.shiftright(F.col("__h"), si * 15)
                .bitwiseAND(F.lit((1 << 15) - 1))
                .alias("key"),
            )
            for si in range(4)
        ]
    )
    ex = sh.select("id", "__h", F.explode(segs).alias("s")).select(
        "id", "__h", F.col("s.seg").alias("seg"), F.col("s.key").alias("key")
    )
    a = ex.select(F.col("id").alias("id_a"), F.col("__h").alias("__ha"), "seg", "key")
    b = ex.select(F.col("id").alias("id_b"), F.col("__h").alias("__hb"), "seg", "key")
    # first-shared-segment dedup: a pair sharing several segments is
    # kept only in the LOWEST matching one — computable from the two
    # hashes, so no dropDuplicates shuffle over the candidate pairs
    # (same trick as MinHash above)
    seg_eq = [
        (
            F.shiftright(F.col("__ha"), si * 15).bitwiseAND(F.lit((1 << 15) - 1))
            == F.shiftright(F.col("__hb"), si * 15).bitwiseAND(F.lit((1 << 15) - 1))
        )
        for si in range(4)
    ]
    first_shared = None
    for si in range(4):
        first_shared = (
            F.when(seg_eq[si], si)
            if first_shared is None
            else first_shared.when(seg_eq[si], si)
        )
    cand = (
        a.join(b, ["seg", "key"])
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("seg") == first_shared))
        .select("id_a", "id_b", "__ha", "__hb")
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
