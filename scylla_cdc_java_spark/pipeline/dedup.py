"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for the 100 TB posture:

* exact dedup — hash-groupBy (partial-aggregatable, one shuffle);
* n-gram Jaccard — inverted-index self-join on shingles (shuffle on the
  shingle key; hot shingles are the skew risk → AQE skew join / frequency
  cap at scale);
* MinHash + LSH — the scale path: k-permutation signatures via one
  groupBy-min, banding, candidate pairs only within equal band buckets;
  cost is O(docs x k) not O(docs^2);
* SimHash — 32-bit sign-aggregated token hashes.

Everything is native expressions (no UDF). Hash function shared with the
SQL oracles: ``h31(s) = int(md5(s)[:15 hex]) % (2^31 - 1)`` — identical in
Spark (``conv``) and DuckDB (``'0x'||substr``).

Cache-lifetime convention: every cache goes through
``pipeline/cache.py``. Operators whose RETURNED frame reads a shared
intermediate from several plan branches (``sh``/``fp``/``sig``) cache
it with :func:`~.cache.cache` and do not release it themselves: the
caller's action is what populates and consumes it, so the caller's
:func:`~.cache.cache_scope` (one per ``foreachBatch`` body, as in
:func:`stream_incremental_dedup`) is the release point; called outside
any scope, the cache lives until ``spark.catalog.clearCache()``. These
caches are narrow projections (hashes + ids, not text), MEMORY_AND_DISK
and LRU-evictable. Training-style operators whose internal consumers
are all EAGER (pq_codebooks, kmeans_train) cache inside their own
scope, which releases it before they return; eager one-shot
intermediates use ``localCheckpoint``, whose blocks free with the RDD.
Measured r11: eagerly materializing the lazy-return caches
(count()/localCheckpoint) was 1.1-2x SLOWER at sf0.1 — see
ngram_jaccard_pairs.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import cache, cache_scope
from .text import shingles, tokens_col

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime


def h31(c: Column) -> Column:
    """31-bit integer hash of a string, portable across engines."""
    return (F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long") % F.lit(MERSENNE31))


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one group per distinct content hash with
    the canonical (min) id and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def hashed_shingle_index(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """The inverted-index input ``(id_col, sh = xxhash64(shingle))`` over
    per-doc DISTINCT word n-grams — the ONE definition of the grain that
    :func:`ngram_jaccard_pairs` consumes. Callers that share it across a
    truth and detector chain (the containment quality gate) build it here
    too, so the two chains cannot silently drift onto different grains.
    Un-cached: the caller owns its cache lifetime."""
    return shingles(df.select(id_col, "text"), n=n).select(
        id_col, F.xxhash64("shingle").alias("sh")
    )


def _signature_band_side(
    sig: DataFrame, k: int, band_rows: int, out: str, pfx: str, id_col: str
) -> DataFrame:
    """One side of the banded-signature self/probe join (r12 pattern,
    shared by :func:`minhash_lsh_pairs` and :func:`incremental_dedup`):
    band rows ``(out, band_key, pfx_0..pfx_{k-1})`` carrying the WHOLE
    signature cast to int — every minhash is mod 2³¹−1, so the cast is
    exact at half the long's bytes. The bucket key is
    ``xxhash64(band, its row minhashes)``: an 8-byte join key; a 64-bit
    collision can only ADD a candidate pair whose estimate is still
    computed from the true signatures, so the threshold filter bounds the
    damage at ~n²/2⁶⁴."""
    n_bands = k // band_rows
    band_keys = [
        F.xxhash64(
            F.lit(b), *[F.col(f"mh_{i}") for i in range(b * band_rows, (b + 1) * band_rows)]
        )
        for b in range(n_bands)
    ]
    return sig.select(
        F.col(id_col).alias(out),
        F.explode(F.array(*band_keys)).alias("band_key"),
        *[F.col(f"mh_{i}").cast("int").alias(f"{pfx}_{i}") for i in range(k)],
    )


def _n_equal_minhashes(k: int):
    """Equal-minhash count between the a_*/b_* casted signature columns."""
    return sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(k))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    max_df: int | None = None,
    n_salts: int | None = None,
    hashed_shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard via inverted index.

    jaccard = |A∩B| / (|A| + |B| - |A∩B|) over distinct word n-grams.

    ``hashed_shingles`` lets a caller that ALREADY built the
    ``(id_col, sh = xxhash64(shingle))`` inverted-index input share it
    (the caller owns its cache lifetime) instead of this function scanning
    and exploding the documents again — the quality harnesses run this
    truth chain next to a detector chain over the *same grain*, and
    sharing saves one full documents scan + shingle explode per call
    (guide §2.4 / VERDICT r11 #3). The frame must be per-(doc, shingle)
    distinct, exactly what this function builds when the param is None.

    Measured dead end, kept out on purpose (r12): carrying the per-doc
    distinct count on the index rows (size of the deduped array at
    explode time) to delete the ``sizes`` aggregation + joins is 2.3-2.7x
    SLOWER at sf0.1 — post-explode ``size(__arr)`` makes the array a
    Generate pass-through that every exploded row deep-copies (O(len²)
    bytes/doc), and projecting the array as an attribute makes
    InferFiltersFromGenerate add a ``size(e)>0`` filter that filter
    pushdown INLINES below the projection, recomputing the whole gram
    transform per doc (the inline-generator form skips the inference
    precisely because the input is expensive). The sizes aggregation this
    would remove partial-aggregates to one row per doc before its
    exchange — node count fell but byte count rose. Interleaved A/B:
    `plans/r12/ab2_{sized_shingles,sizes_agg}_*.json`.

    ``max_df`` is the skew guard for the self-join: shingles appearing in
    more than ``max_df`` documents are dropped from the inverted index
    before pairing (a shingle in d docs produces d² candidate rows — one
    boilerplate shingle across 1% of a 100 TB corpus would dominate the
    shuffle). Sizes are still computed over ALL shingles, so the estimate
    only loses the capped shingles' intersection contribution — the
    standard recall/cost trade; ``None`` keeps exact semantics.

    ``n_salts`` salts the exact-mode self-join (probe side salted, build
    side replicated) so a hot shingle's d² candidate rows spread over
    ``n_salts`` reducers instead of one — row-identical results; use it
    when exact semantics are required AND the corpus has boilerplate
    shingles too hot for a single reducer.
    """
    # the shingle set feeds three plan branches (a-side, b-side, sizes);
    # cache it so the split/explode work runs once. The inverted index
    # joins on xxhash64(shingle) — an 8-byte key instead of the ~n-word
    # string halves the self-join shuffle (measured 2x at sf0.1); the
    # per-(doc, shingle) distinct already ran on the strings, so sizes are
    # exact and pair counts differ only under a 64-bit collision *within
    # one candidate pair* (~n²/2⁶⁴ — below any real corpus' noise floor).
    # plain cache, no eager materialization — measured against both
    # cache+count and localCheckpoint (r11 interleaved A/B at sf0.1):
    # lazy cache was best-or-tied on every consumer (the feared
    # concurrent-branch recompute does not manifest; the branches'
    # stages serialize on the first exchange), and localCheckpoint's
    # materialization job cost 1.1-2x extra
    if hashed_shingles is not None:
        sh = hashed_shingles
    else:
        sh = cache(hashed_shingle_index(df, n=n, id_col=id_col))
    if max_df is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("sh")
        )
        sh_join = sh.join(F.broadcast(hot), "sh", "left_anti")
    else:
        sh_join = sh
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh_join.select(F.col(id_col).alias("doc_a"), "sh")
    b = sh_join.select(F.col(id_col).alias("doc_b"), "sh")
    if n_salts:
        # hot-shingle hardening for the EXACT mode (max_df=None keeps
        # every shingle, so a d-doc shingle is d² rows on ONE reducer):
        # salt the probe side, replicate the build side n_salts-fold —
        # row-identical result, the hot key spread over n_salts reducers
        # (operators/salted.py). The capped primary mode drops hot
        # shingles outright, which is the cheaper answer when the
        # recall trade is acceptable; AQE skew-join split (pinned on in
        # session.py) remains the runtime backstop for both.
        from ..operators.salted import salted_join

        joined = salted_join(a, b, ["sh"], n_salts=n_salts, salt_cols=["doc_a"])
    else:
        joined = a.join(b, "sh")
    common = (
        joined.where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    # NO broadcast hint on the size tables: they are corpus-cardinality
    # (one row per document), so a forced broadcast OOMs the driver at
    # billions of docs and overrides AQE's size check. Left unhinted, AQE
    # still broadcasts them when they fit and falls back to a shuffle
    # join (|pairs| + |docs| rows) when they don't.
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
                6,
            ),
        )
    )
    return j.where(F.col("jaccard") >= F.lit(threshold)).select(
        "doc_a", "doc_b", "common", "jaccard"
    )


def minhash_signatures(
    df: DataFrame, k: int = 32, n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """k-permutation MinHash signatures in WIDE form: one row per doc with
    columns ``mh_0..mh_{k-1}`` = min over the doc's shingles of
    ``(2i+1) * h31(shingle) + 7919 i  mod  2^31-1``.

    All k permutations aggregate in ONE pass over the shingle stream (k
    parallel ``min`` aggregates with map-side partial aggregation) — no
    per-permutation explode, no k-fold shuffle blowup, and no distinct
    pre-shuffle (min is duplicate-insensitive, so repeated shingles cannot
    change the signature). At 100 TB this is ONE shuffle of the partially
    aggregated per-doc rows.

    Measured dead end, kept out on purpose: a shuffle-FREE per-row form
    (``array_min`` over k ``transform``s of the doc's own shingle array)
    is 2-4x SLOWER at sf0.1 — Spark evaluates higher-order functions
    interpreted, outside whole-stage codegen, while the explode feeds
    codegen'd min aggregates; the exchange it saves is tiny (partially
    aggregated k-long rows) next to that constant factor.
    """
    # distinct is per-doc map-side (array_distinct in shingles()) — free of
    # shuffle, and it prunes duplicate shingles BEFORE the md5-based h31,
    # which dominates signature cost. min() is duplicate-insensitive, so
    # semantics are unchanged either way.
    sh = shingles(df.select(id_col, "text"), n=n, distinct=True).withColumn(
        "h", h31(F.col("shingle"))
    )
    aggs = [
        F.min(
            ((F.lit(2 * i + 1) * F.col("h") + F.lit(7919 * i)) % F.lit(MERSENNE31))
        ).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 32,
    band_rows: int = 4,
    n: int = 3,
    threshold: float = 0.25,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard.

    Bands the wide signature (k/band_rows bands), buckets docs by
    identical band values, and carries the WHOLE signature on each band
    row (k ints — every minhash is mod 2^31-1, so an int holds it
    exactly at half the long's bytes), the ``dedup_simhash_hamming``
    pattern where the carried signature is one long. The estimate is
    then computable straight off the band join's output, so:

    * the threshold filter runs BEFORE the pair-dedup exchange — the
      distinct carries only threshold survivors instead of every band
      collision (§2.3 shuffle fewer bytes; row-identical because the
      estimate is a pure function of the pair, so filter-then-dedup ==
      dedup-then-filter);
    * the two signature re-joins (an extra shuffle of the candidate set
      by doc_a and again by doc_b, plus two exchanges of the signature
      table) disappear from the plan (§2.4 remove shuffles outright) —
      measured r12: 7 Exchange → 3, 3 SortMergeJoin → 1.

    The trade is a wider band-join exchange (k ints per band row instead
    of one id+key); it buys the removal of every post-collision shuffle,
    which is the side that explodes when buckets are hot.
    """
    # the signature table feeds both sides of the banded self-join; cache
    # it AND materialize it now — inside a single downstream action the two
    # branches would race ahead of cache population and each recompute the
    # shingle scan + k-min aggregation. At scale this is the table you'd
    # checkpoint: |docs| rows x k values, tiny next to the corpus.
    sig = cache(minhash_signatures(df, k=k, n=n, id_col=id_col))
    sig.count()
    n_equal = _n_equal_minhashes(k)
    return (
        _signature_band_side(sig, k, band_rows, "doc_a", "a", id_col)
        .join(_signature_band_side(sig, k, band_rows, "doc_b", "b", id_col), ["band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("est_jaccard", F.round(n_equal.cast("double") / F.lit(float(k)), 6))
        .where(F.col("est_jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "est_jaccard")
        .distinct()
    )


def stream_exact_dedup(
    df: DataFrame,
    content_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup of a (streaming) document feed by content hash.

    Works on batch and streaming DataFrames alike. On a stream with an
    event-time column the state is watermark-bounded
    (``dropDuplicatesWithinWatermark``): a duplicate arriving within the
    watermark is dropped, one arriving later is the caller's documented
    loss/dup bound — the same trade the CDC confidence window makes (T2/T8).
    Without an event time, plain ``dropDuplicates`` keeps O(|unique|) state:
    fine for availableNow backfills, not for unbounded feeds.
    """
    out = df.withColumn("content_hash", F.md5(F.col(content_col)))
    if event_time_col is not None:
        out = out.withWatermark(f"`{event_time_col}`", watermark)
        return out.dropDuplicatesWithinWatermark(["content_hash"])
    return out.dropDuplicates(["content_hash"])


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate *clusters*: connected components over a pair list,
    labeling every document with the smallest doc id reachable through
    near-duplicate edges (singletons label themselves). This is the step
    that turns pairwise dedup output into keep-one-per-cluster decisions.

    Implementation: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each round
    rewires every node's larger neighbors (large-star) then its smaller
    neighbors (small-star) to the locally-known minimum, collapsing every
    component to a star around its min id in **O(log n) rounds** regardless
    of diameter (min-label propagation needs diameter rounds — long
    near-duplicate chains at 100 TB would dominate). Each round is two
    join+aggregate stages over the edge list plus one tiny agg on the
    localCheckpointed result that doubles as the convergence check (edge-
    multiset signature), so there is no separate compare-join job. A
    component of 2^20 nodes converges well within the default ``max_iter``;
    non-convergence raises instead of silently emitting split clusters.
    """
    edges = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    prev_sig = None
    for _ in range(max_iter):
        # large-star: for every node u (seen from both edge directions)
        # connect each neighbor v > u to m(u) = min(N(u) ∪ {u})
        und = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )
        large = (
            und.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: edges now point child(u) -> smaller(v); connect each
        # smaller neighbor (and u itself) to the min smaller neighbor
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(smins.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        edges = small.localCheckpoint()
        row = edges.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),  # overflow-free set signature
        ).first()
        sig = (row["c"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"dedup_clusters: star contraction did not converge in {max_iter} rounds"
        )

    # at the fixpoint every component is a star around its min id; a node's
    # label is its smallest neighbor (the root labels itself)
    und = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lab = (
        und.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"), F.least(F.col("mn"), F.col("u")).alias("label")
        )
    )
    return (
        docs.select(F.col(id_col).alias("node"))
        .join(lab, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def simhash(df: DataFrame, bits: int = 32, id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash over distinct tokens: bit j of the output is the sign
    of the sum over tokens of ±1 according to bit j of the token hash.

    Wide single-pass form: all ``bits`` sign-sums aggregate in one groupBy
    over the (doc, distinct token) rows — no bits-fold row explosion.
    """
    # per-doc set semantics via map-side array_distinct — no dedup shuffle
    toks = df.select(
        id_col, F.explode(F.array_distinct(tokens_col("text"))).alias("tok")
    ).withColumn("h", h31(F.col("tok")))
    # shift+mask bit extraction (h is a nonnegative 31-bit long, so this
    # equals the floor-division form bit-for-bit) — all-integer codegen,
    # no double round-trip per (token, bit)
    aggs = [
        F.sum(
            F.lit(2) * F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) - F.lit(1)
        ).alias(f"s_{j}")
        for j in range(bits)
    ]
    wide = toks.groupBy(id_col).agg(*aggs)
    sim = sum(
        F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(bits)
    )
    return wide.select(id_col, sim.cast("long").alias("simhash"))


def line_dedup(
    df: DataFrame,
    block: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level exact dedup (the line/three-sentence-span dedup of C4,
    Raffel et al. 2020 §2.2): split every document into consecutive
    ``block``-token spans, keep each distinct span only at its first
    corpus occurrence (min ``(doc_id, pos)``), and rebuild documents
    without the duplicated spans — boilerplate removal, not whole-doc
    drop.

    Scale posture: posexplode -> one ``row_number`` window shuffled on
    the span text (same key distribution as exact dedup; hot boilerplate
    spans are exactly what it removes) -> per-doc re-aggregation. Two
    shuffles total, both partial-aggregation-friendly.
    """
    from pyspark.sql import Window

    toks = F.col("__toks")  # projected once — see text.shingles() for why
    nblk = F.ceil(F.size(toks) / F.lit(block)).cast("int")
    # Guard: sequence(0, nblk-1) steps DOWNWARD for empty docs (nblk = 0).
    spans = F.when(
        nblk > 0,
        F.transform(
            F.sequence(F.lit(0), nblk - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i * block + F.lit(1), block)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = df.withColumn("__toks", tokens_col(text_col)).select(
        F.col(id_col), F.posexplode(spans).alias("pos", "blk")
    )
    w = Window.partitionBy("blk").orderBy(id_col, "pos")
    r = ex.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(F.col("__rn") == 1, F.struct(F.col("pos"), F.col("blk")))
    return r.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["blk"]
            ),
        ).alias("clean_text"),
        F.sum((F.col("__rn") > 1).cast("int")).cast("int").alias("n_spans_removed"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    algorithm): hash every ``k``-char gram, slide a ``w``-hash window and
    keep each window's minimum — a guaranteed-density fingerprint set
    robust to local edits (any match of length >= k+w-1 shares a
    fingerprint). The local-similarity complement to whole-doc md5
    (edit-fragile) and MinHash (global, not positional).

    One output row per distinct (doc, fingerprint). Documents shorter
    than ``k+w-1`` chars emit nothing. Map-only + explode — the shuffle
    belongs to whatever joins fingerprints downstream. Every intermediate
    array is projected as a REAL column before the lambda that consumes
    it (no CSE through higher-order functions — an inline array would be
    recomputed per element, turning O(n·w) into O(n²·w)).

    The gram hashes are computed in ONE transform (hash the substr
    directly) instead of materializing an ``array<string>`` of grams and
    hashing it in a second pass: per document that skips an n_grams-sized
    UTF8 string-array allocation (~k bytes per gram — roughly k× the text
    itself) that existed only to feed md5. Row-set proven identical;
    local wall is a wash, the win is allocation/GC pressure at scale.
    """
    t = F.col(text_col)
    n_grams = F.length(t) - F.lit(k - 1)
    hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams), lambda i: h31(t.substr(i, F.lit(k)))
        ),
    ).otherwise(F.array().cast("array<long>"))
    d = df.select(F.col(id_col), hashes.alias("__hs"))
    m = F.size(F.col("__hs"))
    if w <= 16:
        # least(element_at...) instead of array_min(slice(...)): the
        # slice allocates a w-element array PER WINDOW position; w
        # direct element reads skip the copy (measured ~12% off the
        # fingerprint pass at sf0.1, identical values — least over
        # non-null longs == array_min of the same window)
        def win_min(j):
            return F.least(
                *[
                    F.element_at(F.col("__hs"), (j + F.lit(i + 1)).cast("int"))
                    for i in range(w)
                ]
            )
    else:
        # wide windows: a w-ary least expression grows linearly in the
        # plan; keep the slice form there
        def win_min(j):
            return F.array_min(F.slice(F.col("__hs"), j + F.lit(1), w))

    mins = F.when(
        m >= w,
        F.transform(F.sequence(F.lit(0), m - F.lit(w)), win_min),
    ).otherwise(F.array().cast("array<long>"))
    return d.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fp")
    )


def winnow_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_df: int | None = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS passage-pair candidates: documents sharing >= ``min_shared``
    winnowing fingerprints (the match step over
    :func:`winnow_fingerprints`).

    ``max_df`` is the same skew guard as :func:`ngram_jaccard_pairs`'s —
    and here it is NOT optional hygiene but the difference between a
    plan that scales and one that dies: a fingerprint present in d docs
    emits d² candidate rows, and boilerplate k-grams are UBIQUITOUS (at
    sf0.1 the hottest fingerprint sits in 77% of all docs — the uncapped
    self-join measured 70 s where the capped one is ~2 s, and at 100 TB
    one such key is a single-reducer death). Ubiquitous fingerprints
    carry no discriminative signal (every MOSS deployment drops them —
    Schleimer et al. §5 "too common to be interesting"), so the cap
    loses only pairs whose ONLY evidence was boilerplate. ``None`` keeps
    exact semantics for bounded corpora."""
    # plain cache on purpose — see ngram_jaccard_pairs for the r11
    # cache/count/checkpoint measurement
    fp = cache(winnow_fingerprints(df, k=k, w=w, id_col=id_col))
    fpj = fp
    if max_df is not None:
        hot = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("fp")
        )
        fpj = fp.join(F.broadcast(hot), "fp", "left_anti")
    a = fpj.select(F.col(id_col).alias("doc_a"), "fp")
    b = fpj.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def simhash_expr(df: DataFrame, bits: int = 32, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """Per-ROW SimHash as a pure column expression — bit-identical to the
    groupBy form in :func:`simhash` (same h31 token hash, same distinct-token
    set, same sign rule; ``tests/test_sketches.py`` pins the equality), but
    computed without any shuffle: the token array folds in place. This is
    the form a streaming stage needs (no blocking aggregation) and the
    cheaper batch form when the row already carries its text.

    The token-hash array is projected ONCE before the per-bit folds —
    Catalyst does not CSE through higher-order-function lambdas, so folding
    over ``h31(token)`` directly would recompute the md5 per bit.
    """
    with_h = df.withColumn(
        "__sh_h", F.transform(F.array_distinct(tokens_col(text_col)), lambda t: h31(t))
    )
    def bit_sum(j: int) -> Column:
        # same shift+mask form as the groupBy simhash — bit-identical,
        # all-integer (see simhash() for why)
        return F.aggregate(
            F.col("__sh_h"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.lit(2) * F.shiftright(h, j).bitwiseAND(F.lit(1))
            - F.lit(1),
        )
    sim = sum(
        F.when(bit_sum(j) > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(bits)
    )
    return with_h.withColumn(out_col, sim.cast("long")).drop("__sh_h")


def stream_simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "1 hour",
    bits: int = 32,
) -> DataFrame:
    """NEAR-duplicate dedup of a (streaming) document feed: documents that
    collapse to the same SimHash value (identical sign pattern across all
    ``bits`` token-hash sums — token-multiset near-identity) keep only the
    first arrival. The streaming analog of the batch ``simhash`` operator,
    composed exactly like :func:`stream_exact_dedup`: per-row signature
    (``simhash_expr`` — no aggregation, so it runs inside a streaming
    stage) + ``dropDuplicatesWithinWatermark`` bounding state to the
    watermark horizon.

    Sensitivity trade, documented: radius-0 matching — two docs are
    near-dups iff ALL simhash bits agree. Hamming-neighbor matching
    (radius>0) needs banded keys with OR-semantics across bands, which a
    single drop-duplicates stage cannot express; at scale that variant is
    the batch LSH path (``minhash_lsh_pairs``) run per micro-batch via
    ``foreachBatch``.
    """
    out = simhash_expr(df, bits=bits, text_col=text_col)
    if event_time_col is not None:
        out = out.withWatermark(f"`{event_time_col}`", watermark)
        return out.dropDuplicatesWithinWatermark(["simhash"])
    return out.dropDuplicates(["simhash"])


def incremental_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    k: int = 32,
    band_rows: int = 4,
    n: int = 3,
    threshold: float = 0.25,
    id_col: str = "doc_id",
    corpus_signatures: DataFrame | None = None,
) -> DataFrame:
    """Admission-control near-dup check for CONTINUOUS ingest: each
    incoming document is tested against an already-indexed corpus (not
    against its own batch) via the same banded-MinHash machinery as
    :func:`minhash_lsh_pairs`. The shape every production training-data
    pipeline runs daily: the corpus signature/band index is computed once
    and persisted; each new batch only signs itself and probes the index.

    Returns one row per incoming doc: ``(doc_id, is_dup, match_id,
    est_jaccard)`` with the best corpus match (max estimate, ties to the
    smaller corpus id; nulls when no band collision clears the
    threshold). Plan: batch-side signatures (one shingle pass), band join
    against the corpus band table (shuffle keyed on the 8-byte band
    hash — at scale the corpus side is bucketed/persisted so only the
    small batch shuffles), estimate join on the two signature tables,
    max_by aggregate, left join back to the batch. Candidates are
    band-bounded — never |batch| x |corpus|.
    """
    # a real deployment signs the corpus ONCE and persists the signature
    # table next to the index; pass it via corpus_signatures so only the
    # (small) batch is signed per call. Without a pre-signed index both
    # sides sign in ONE union pass (per-doc signatures are independent,
    # so tagging and splitting changes no value) instead of two serial
    # jobs over the same shingle machinery — measured ~0.7s off the
    # in-call gate shape at sf0.1
    if corpus_signatures is None:
        both = corpus.select(F.lit(0).alias("__side"), id_col, "text").unionByName(
            incoming.select(F.lit(1).alias("__side"), id_col, "text")
        )
        sig_all = cache(
            minhash_signatures(
                both.withColumn(
                    "__sid", F.struct(F.col("__side"), F.col(id_col)).alias("__sid")
                ).select(F.col("__sid").alias("__sid"), "text"),
                k=k, n=n, id_col="__sid",
            )
        )
        sig_c = sig_all.where(F.col("__sid.__side") == 0).select(
            F.col(f"__sid.{id_col}").alias(id_col),
            *[F.col(f"mh_{i}") for i in range(k)],
        )
        sig_i = sig_all.where(F.col("__sid.__side") == 1).select(
            F.col(f"__sid.{id_col}").alias(id_col),
            *[F.col(f"mh_{i}") for i in range(k)],
        )
        sig_all.count()
    else:
        sig_c = corpus_signatures
        sig_i = cache(minhash_signatures(incoming, k=k, n=n, id_col=id_col))
        sig_i.count()
    # carry the signature ON the band rows (_signature_band_side — the
    # minhash_lsh_pairs / simhash-hamming pattern, k ints per row): the
    # estimate computes straight off the band join, the threshold filters
    # immediately, and the candidate-pair distinct + both signature
    # re-joins disappear — the distinct is not even replaced: the min_by
    # aggregate below is duplicate-insensitive (a pair surfacing from
    # several bands carries the identical (est, match_id) struct), so
    # deduping first was pure shuffle overhead (r12; 7 Exchange → 3 in
    # the gate plan).
    n_equal = _n_equal_minhashes(k)
    est = (
        _signature_band_side(sig_i, k, band_rows, "doc_id", "a", id_col)
        .join(
            _signature_band_side(sig_c, k, band_rows, "match_id", "b", id_col),
            ["band_key"],
        )
        .withColumn("est_jaccard", F.round(n_equal.cast("double") / F.lit(float(k)), 6))
        .where(F.col("est_jaccard") >= F.lit(threshold))
    )
    # best match = (est desc, match_id asc) via min_by over (-est, id):
    # no arithmetic on the id itself, so string doc ids order correctly
    # too (struct comparison is field-lexicographic); still a single
    # partial-aggregatable agg, no window sort
    best = est.groupBy("doc_id").agg(
        F.min_by(
            F.struct(F.col("est_jaccard"), F.col("match_id")),
            F.struct((-F.col("est_jaccard")).alias("neg_est"), F.col("match_id")),
        ).alias("bm")
    )
    return (
        incoming.select(id_col)
        .join(best, [id_col], "left")
        .select(
            id_col,
            F.col("bm").isNotNull().alias("is_dup"),
            F.col("bm.match_id").alias("match_id"),
            F.col("bm.est_jaccard").alias("est_jaccard"),
        )
    )


def stream_incremental_dedup(
    spark,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    k: int = 32,
    band_rows: int = 4,
    n: int = 3,
    threshold: float = 0.25,
    id_col: str = "doc_id",
    available_now: bool = True,
    sig_dir: str | None = None,
):
    """Streaming ingest admission: a file stream of document batches is
    near-dup-checked against a PERSISTED, growing corpus index and only
    admitted (novel) documents are appended to it — the production shape
    of continuous training-data collection.

    Per micro-batch (``foreachBatch`` — the cross-batch state here is the
    index itself, which Spark's per-key state stores cannot hold, exactly
    the case foreachBatch exists for):

    1. batch-internal near-dups collapse first (banded-MinHash pairs
       within the batch, keep the smallest id — twins arriving together
       must not both pass);
    2. survivors run :func:`incremental_dedup` against the current index
       parquet, with the index side's signatures AND content hashes
       coming from a PERSISTED signature store (``sig_dir``, default
       ``{index_dir}__sigs``; one row per indexed doc — sub-n-token docs
       get a sentinel row with null ``mh_*``, so nothing is ever
       re-shingled batch after batch, and the exact stage probes the
       stored ``__ch`` hashes without rescanning index text): at batch
       start any index rows missing a store row (a crash-torn tail only
       — steady-state batches sign themselves in step 3) are signed and
       appended — per-batch signing work is O(batch), never O(corpus),
       and the store self-heals under partial writes (the anti-join
       recomputes what is missing from disk each batch, so replays
       cannot duplicate signature rows);
    3. admitted docs append to ``index_dir`` and their signatures to the
       store (index first — a crash between the writes leaves unsigned
       rows for (2) to re-sign, never orphan signatures).

    Restart safety: the checkpoint replays an in-flight batch after a
    crash *before* its append was recorded... append-then-checkpoint
    would double-admit, so admission re-runs against the index including
    any rows the half-finished attempt appended — re-admitted twins are
    then caught by the index check itself (their first copy is already
    indexed), making the batch idempotent. Sub-n-token documents never
    produce shingles/band keys, so the banded check alone could not see
    their replayed twins; the exact content-hash stages (within-batch
    collapse + index anti-join) close that hole.

    Returns the StreamingQuery (caller awaits). The admitted corpus is
    ``spark.read.parquet(index_dir)``.
    """
    import os

    os.makedirs(index_dir, exist_ok=True)
    if sig_dir is None:
        sig_dir = index_dir.rstrip("/") + "__sigs"

    def sign_with_hash(df: DataFrame) -> DataFrame:
        """One store row PER DOC: the content hash always, ``mh_*`` null
        for sub-n-token docs (they yield no shingles, hence no signature
        row from minhash_signatures). The sentinel rows matter twice:
        the store's ``__ch`` column serves the exact stage without ever
        rescanning index text, and the reconcile anti-join sees every
        indexed doc as signed — without them, short admitted docs would
        be "unsigned" forever and re-shingled on every batch."""
        sigs = minhash_signatures(df, k=k, n=n, id_col=id_col)
        return df.select(
            F.col(id_col), F.xxhash64(F.col("text")).alias("__ch")
        ).join(sigs, [id_col], "left")

    def admit(batch: DataFrame, batch_id: int) -> None:
        # one scope per micro-batch: it also releases the signature
        # caches that minhash_lsh_pairs and incremental_dedup take
        with cache_scope():
            b = cache(batch)
            if b.isEmpty():
                return
            ch = F.xxhash64(F.col("text"))
            # (0) exact stage, within batch: collapse identical texts to
            # the smallest id. Documents with fewer than n tokens produce
            # NO shingles, hence no signature and no band keys — the
            # banded stages below are structurally blind to them, so
            # without an exact stage a replayed half-appended batch would
            # re-admit short twins (replay idempotency would not hold)
            keep = b.groupBy(ch.alias("__ch")).agg(F.min(F.col(id_col)).alias("__keep"))
            b_exact = (
                b.withColumn("__ch", ch)
                .join(keep, ["__ch"])
                .where(F.col(id_col) == F.col("__keep"))
                .drop("__keep")
            )
            # (1) within-batch: drop any doc near-dup of a smaller-id doc
            pairs = minhash_lsh_pairs(
                b_exact.drop("__ch"),
                k=k, band_rows=band_rows, n=n, threshold=threshold, id_col=id_col,
            )
            losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
            survivors = b_exact.join(losers, [id_col], "left_anti")
            # (2) vs the persisted index (idempotent under batch replay).
            # Only a missing or empty index or store reads as absent
            # (AnalysisException); any other read failure (a corrupt part
            # file) fails the batch so the checkpoint retries it, instead
            # of admitting every survivor or re-signing the whole index
            spark_l = b.sparkSession
            try:
                index = spark_l.read.parquet(index_dir).select(id_col, "text")
                have_index = index.limit(1).count() > 0
            except AnalysisException:
                have_index = False
            if have_index:
                # (2b) reconcile the persisted signature store FIRST:
                # sign only index rows missing a store row (a crash-torn
                # tail — steady-state batches write their own signatures
                # in (3), so this is usually empty). Per-batch signing is
                # O(batch), never O(corpus); a legacy store without the
                # __ch column triggers a one-time overwrite migration.
                try:
                    stored = spark_l.read.parquet(sig_dir)
                    have_sigs = stored.limit(1).count() > 0
                    migrate = have_sigs and "__ch" not in stored.columns
                except AnalysisException:
                    have_sigs, migrate = False, False
                if have_sigs and not migrate:
                    unsigned = index.join(
                        stored.select(id_col), [id_col], "left_anti"
                    )
                else:
                    unsigned = index
                if not unsigned.isEmpty():  # no empty part-file appends
                    sign_with_hash(unsigned).write.mode(
                        "overwrite" if migrate else "append"
                    ).parquet(sig_dir)
                store = spark_l.read.parquet(sig_dir)
                # (2a) exact stage against the store's PERSISTED content
                # hashes — the index text is never rescanned (catches the
                # sub-n-token exact dups the banded path can never see)
                survivors = survivors.join(
                    store.select("__ch"), ["__ch"], "left_anti"
                )
                # (2c) banded near-dup check against stored signatures;
                # sentinel rows (short docs, null mh_*) must not reach
                # the band keys — xxhash64 over nulls would still
                # produce a key and bogusly collide all short docs
                corpus_sigs = store.where(F.col("mh_0").isNotNull())
                verdict = incremental_dedup(
                    index, survivors.drop("__ch"), k=k, band_rows=band_rows, n=n,
                    threshold=threshold, id_col=id_col,
                    corpus_signatures=corpus_sigs,
                )
                admitted = survivors.drop("__ch").join(
                    verdict.where(~F.col("is_dup")).select(id_col), [id_col]
                )
            else:
                admitted = survivors.drop("__ch")
            # (3) grow the index AND its signature store (index first: a
            # crash between the writes leaves unsigned index rows, which
            # the (2b) reconcile re-signs next batch; the reverse order
            # would leave signatures whose documents were never admitted)
            admitted = cache(admitted)
            if not admitted.isEmpty():
                admitted.write.mode("append").parquet(index_dir)
                sign_with_hash(admitted).write.mode("append").parquet(sig_dir)

    stream = spark.readStream.schema(schema).parquet(source_dir)
    writer = stream.writeStream.foreachBatch(admit).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
