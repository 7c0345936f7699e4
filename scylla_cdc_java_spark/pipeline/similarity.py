"""Similarity search over embedding columns.

The portable metric is the **integer-quantized dot product**:
``q(x) = round(x * 1000)`` per component, ``sim = Σ q(a)q(b)``. On the
unit-norm fixture embeddings this is ~1e6 x cosine, but computed in exact
integer arithmetic — bit-identical across engines and immune to
float-summation-order differences (the standard trick for reproducible
vector pipelines).

* ``cosine_topk_bruteforce`` — baseline exact top-k: query-set crossed with
  the corpus; broadcast the (small) query side so the corpus never shuffles.
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane signs bucket
  the corpus; candidates only within the query's bucket (probing adjacent
  buckets raises recall). Corpus pass is one projection + one shuffle on
  the bucket key.
* A float cosine column (``cosine_col``) is provided for in-engine use.

Everything is native (``zip_with``/``aggregate``); no UDF.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import cache, cache_scope


def quantize_embedding(c: Column | str, scale: int = 1000) -> Column:
    """float32 embeddings quantize through an EXPLICIT double promotion:
    Spark already widens ``float * int`` to double, but DuckDB multiplies
    in float32 — a stored 0.3195f (= 0.31949999928…) times 1000 is
    319.5f in float arithmetic (rounds 320) versus 319.49999… in double
    (rounds 319). Both engines carry the matching CAST so the convention
    is double everywhere, not an implicit-coercion coincidence (found by
    the only sf0.1 vector sitting on such a boundary, via ann_knn_graph
    which exposes EVERY vector's quantization, not just 5 queries')."""
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(
        c, lambda x: F.round(x.cast("double") * F.lit(scale)).cast("long")
    )


# Deterministic seed-selection hash: a multiplicative mix mod a 31-bit
# prime, exact int64 arithmetic at every step (the pmod keeps the product
# under 1.1e18, far from int64 overflow for ANY input id). Chosen over
# xxhash64 because the SQL oracles must replay it verbatim — DuckDB has
# no Spark-compatible xxhash64, but (id % P * A + B) % P is dialect-free.
_SEED_P = 1_000_000_007
_SEED_A = 1_103_515_245
_SEED_B = 12_345


def validate_embeddings(
    df: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Input-quality screen for an embedding column — the validation a
    large-scale pipeline runs BEFORE any index build or similarity job
    (every ANN operator here assumes clean input; this op makes that
    contract checkable): per vector, its dimensionality, the count of
    NULL elements, NaN/Inf presence, and the zero-vector flag (undefined
    cosine). Pure column expressions over the array — one scan, no
    shuffle, no Python. NULL embeddings report NULL dim (not Spark's
    size()=-1 sentinel) with all flags NULL, so a missing vector is
    distinguishable from a malformed one."""
    e = F.col(emb_col)
    x_dbl = lambda x: x.cast("double")  # noqa: E731
    dim = F.when(e.isNull(), F.lit(None).cast("int")).otherwise(F.size(e))
    n_null = F.when(e.isNull(), F.lit(None).cast("int")).otherwise(
        F.size(F.filter(e, lambda x: x.isNull()))
    )
    # predicates are null-guarded so exists() never goes three-valued
    # over a NULL element (a NULL element is counted, not NaN/Inf)
    has_nan = F.when(e.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.exists(e, lambda x: x.isNotNull() & F.isnan(x_dbl(x)))
    )
    has_inf = F.when(e.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.exists(e, lambda x: x.isNotNull() & (F.abs(x_dbl(x)) == F.lit(float("inf"))))
    )
    is_zero = F.when(e.isNull(), F.lit(None).cast("boolean")).otherwise(
        (F.size(e) > 0)
        & ~F.exists(e, lambda x: x.isNotNull() & (x_dbl(x) != 0.0))
    )
    return df.select(
        id_col,
        dim.alias("dim"),
        n_null.alias("n_null_elems"),
        has_nan.alias("has_nan"),
        has_inf.alias("has_inf"),
        is_zero.alias("is_zero"),
    )


def screen_embeddings(
    df: DataFrame,
    mode: str | None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Enforcement arm of :func:`validate_embeddings` — the ``validate=``
    mode every ANN entry point accepts (the screen existed since r09;
    this wires it into the operators whose clean-input assumption it
    checks).

    * ``None``/``"off"`` — returned unchanged: plan-identical, the
      default (preserves every gate hash).
    * ``"quarantine"`` — lazily filter to clean vectors (non-NULL, no
      NULL elements, no NaN/Inf, and ``dim`` when given): one extra
      predicate on the existing scan — no shuffle, no action.
    * ``"reject"`` — run one bounded aggregate over the validation flags
      and raise ``ValueError`` with per-flag counts if ANY vector is
      bad (an eager action by design: an index build over poisoned
      input should fail loudly before burning the cluster).

    Zero vectors are flagged by ``validate_embeddings`` but NOT screened
    here — the integer-dot metric is well-defined on them; callers that
    need unit norms filter ``is_zero`` themselves.

    Scope: the ANN entry points screen the CORPUS side only (the side an
    index build persists); a dirty QUERY vector is the caller's to
    validate — pass the queries frame through this function first when
    the query feed is untrusted."""
    if mode is None or mode == "off":
        return df
    if mode not in ("reject", "quarantine"):
        raise ValueError(
            f"validate must be None, 'off', 'reject' or 'quarantine'; got {mode!r}"
        )
    if mode == "quarantine":
        e = F.col(emb_col)
        clean = (
            e.isNotNull()
            & ~F.exists(e, lambda x: x.isNull())
            & ~F.exists(e, lambda x: F.isnan(x.cast("double")))
            & ~F.exists(e, lambda x: F.abs(x.cast("double")) == F.lit(float("inf")))
        )
        if dim is not None:
            clean = clean & (F.size(e) == int(dim))
        # the filter alone is NOT enough under ANSI: InferFiltersFromGenerate
        # derives size(transform(emb, <cast to long>)) > 0 from a downstream
        # posexplode and PushDownPredicates folds it into THIS filter node,
        # where subexpression elimination evaluates the quantizing cast on
        # pre-filter rows — a NaN element then throws CAST_OVERFLOW before
        # the clean predicate can drop the row. Rewriting the column to an
        # empty array on dirty rows makes any such hoisted expression a
        # no-op (transform/exists over [] never evaluates the lambda).
        return df.where(clean).withColumn(
            emb_col, F.when(clean, e).otherwise(F.slice(e, 1, 0))
        )
    v = validate_embeddings(df, id_col=id_col, emb_col=emb_col)
    bad_dim = (
        F.col("dim").isNull()
        if dim is None
        else (F.col("dim").isNull() | (F.col("dim") != int(dim)))
    )
    counts = (
        v.agg(
            F.sum(F.when(bad_dim, 1).otherwise(0)).alias("n_bad_dim"),
            F.sum(F.when(F.col("n_null_elems") > 0, 1).otherwise(0)).alias("n_null_elem"),
            F.sum(F.when(F.col("has_nan"), 1).otherwise(0)).alias("n_nan"),
            F.sum(F.when(F.col("has_inf"), 1).otherwise(0)).alias("n_inf"),
        )
        .first()
    )
    n_bad = sum(counts[k] or 0 for k in ("n_bad_dim", "n_null_elem", "n_nan", "n_inf"))
    if n_bad:
        raise ValueError(
            "embedding validation failed: "
            f"bad_dim={counts['n_bad_dim'] or 0}, "
            f"null_elem={counts['n_null_elem'] or 0}, "
            f"nan={counts['n_nan'] or 0}, inf={counts['n_inf'] or 0}"
        )
    return df


def seed_hash(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.pmod(
        F.pmod(c, F.lit(_SEED_P)) * F.lit(_SEED_A) + F.lit(_SEED_B), F.lit(_SEED_P)
    )


def select_seeds(df: DataFrame, n: int, id_col: str) -> DataFrame:
    """The ``n`` rows with the smallest ``(seed_hash(id), id)`` — the
    fixed-k deterministic seed/centroid selector behind every ANN default.

    k is a constant, NOT a function of corpus size: at 100x the data the
    driver-collected centroid/codebook state and the broadcast to every
    task stay exactly the same bytes, and per-row assignment stays O(k)
    (the r05-flagged failure of ``id % mod == 0`` selection, whose k grew
    with n). ``orderBy().limit(n)`` compiles to TakeOrderedAndProject —
    a per-partition top-n with an O(n x partitions) driver merge, no
    global sort. Pure function of the id set, so the DuckDB oracles
    replay it as ``ORDER BY hash, id LIMIT n``.
    """
    return df.orderBy(seed_hash(F.col(id_col)), F.col(id_col)).limit(int(n))


def quantized_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Float cosine (assumes unit-norm inputs). For in-engine ranking only —
    not bit-portable across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate: str | None = None,
) -> DataFrame:
    """Exact top-k by quantized dot; broadcast the query side.

    Output: (query_id, neighbor_id, rank, dot_q) — deterministic tie-break
    on neighbor id.
    """
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize_embedding(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize_embedding(vec_col).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_q", quantized_dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_q").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q")
    )


def quantized_pairs_gemm(
    emb: DataFrame,
    threshold: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n_shards: int = 8,
) -> DataFrame:
    """All-pairs similarity above ``threshold`` via *sharded* blocked
    integer GEMM — nothing is collected on the driver.

    The corpus is hash-sharded into ``n_shards`` groups; every unordered
    shard pair ``(i, j)`` with ``i <= j`` becomes one task whose rows are
    co-located by a single shuffle (each vector is replicated to the
    ``n_shards + 1`` blocks it participates in), and the task computes the
    ``|shard| x |shard|`` int64 matrix product in numpy — the same exact
    integers as per-pair expressions, hundreds of times faster. Task
    memory is bounded by two shards, never the corpus, so the operator
    scales by raising ``n_shards`` (communication O(n * n_shards), compute
    O(n^2 d / p) spread over ``n_shards^2 / 2`` tasks). Emits
    ``(vec_a, vec_b, dot_q)`` with ``vec_a < vec_b``, each pair exactly
    once (off-diagonal blocks see the pair in one role split; diagonal
    blocks enforce the id order). For near-dup mining at extreme scale
    prefer LSH bucketing (``lsh_bucketed_topk``/MinHash banding) to prune
    candidates first and keep GEMM for intra-bucket scoring.
    """
    thr = int(threshold)
    q = emb.select(
        F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
    ).withColumn("shard", F.pmod(F.xxhash64(F.col("vid")), F.lit(n_shards)))
    # A-role in blocks (s, j) for j >= s; B-role in blocks (i, s) for i < s
    a_blocks = F.transform(
        F.sequence(F.col("shard"), F.lit(n_shards - 1)),
        lambda j: F.struct(
            F.col("shard").alias("bi"), j.alias("bj"), F.lit(0).alias("role")
        ),
    )
    b_blocks = F.when(
        F.col("shard") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("shard") - 1),
            lambda i: F.struct(
                i.alias("bi"), F.col("shard").alias("bj"), F.lit(1).alias("role")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bi:long,bj:long,role:int>>"))
    exploded = q.select(
        "vid", "qv", F.explode(F.concat(a_blocks, b_blocks)).alias("blk")
    ).select("vid", "qv", F.col("blk.bi"), F.col("blk.bj"), F.col("blk.role"))

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "dot_q": []}, dtype="int64")
        a = pdf[pdf["role"] == 0]
        diagonal = bool((pdf["bi"] == pdf["bj"]).iloc[0])
        b = a if diagonal else pdf[pdf["role"] == 1]
        if len(a) == 0 or len(b) == 0:
            return empty
        a_ids = a["vid"].to_numpy(dtype=np.int64)
        b_ids = b["vid"].to_numpy(dtype=np.int64)
        a_mat = np.stack([np.asarray(v, dtype=np.int64) for v in a["qv"]])
        b_mat = np.stack([np.asarray(v, dtype=np.int64) for v in b["qv"]])
        dots = a_mat @ b_mat.T
        ai, bj = np.nonzero((dots >= thr) & (a_ids[:, None] < b_ids[None, :]))
        if not diagonal:
            # ids of disjoint shards are unordered: also keep a > b hits,
            # canonicalized below — each unordered pair appears once
            ai2, bj2 = np.nonzero((dots >= thr) & (a_ids[:, None] > b_ids[None, :]))
            return pd.DataFrame(
                {
                    "vec_a": np.concatenate([a_ids[ai], b_ids[bj2]]),
                    "vec_b": np.concatenate([b_ids[bj], a_ids[ai2]]),
                    "dot_q": np.concatenate([dots[ai, bj], dots[ai2, bj2]]),
                }
            )
        return pd.DataFrame(
            {"vec_a": a_ids[ai], "vec_b": b_ids[bj], "dot_q": dots[ai, bj]}
        )

    return exploded.groupBy("bi", "bj").applyInPandas(
        kernel, schema="vec_a long, vec_b long, dot_q long"
    )



def knn_graph(
    emb: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    n_shards: int = 8,
) -> DataFrame:
    """EXACT directional kNN graph (every vector's top-k neighbors by
    integer dot) via the same sharded blocked GEMM as
    :func:`quantized_pairs_gemm` — the embedding-graph building block
    (semantic clustering, graph dedup, hard-negative mining) that a
    training pipeline materializes once per corpus snapshot.

    Correctness of the two-phase top-k: each (block-pair) task emits only
    its BLOCK-LOCAL top-k per row (ties broken toward the smaller
    neighbor id — the B side is pre-sorted by id so a stable argsort on
    −dot inherits that order), and the global per-vid window merge of
    ≤ n_shards·k candidates is then exactly the global top-k, because a
    row's true i-th neighbor is necessarily within the local top-k of
    whatever block holds it. Communication O(n·n_shards) rows, compute
    O(n²d) spread over n_shards²/2 GEMM tasks, merge input O(n·n_shards·k)
    — never an n² shuffle. Integer-exact ⇒ hash-gated oracle."""
    q = emb.select(
        F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
    ).withColumn("shard", F.pmod(F.xxhash64(F.col("vid")), F.lit(n_shards)))
    a_blocks = F.transform(
        F.sequence(F.col("shard"), F.lit(n_shards - 1)),
        lambda j: F.struct(
            F.col("shard").alias("bi"), j.alias("bj"), F.lit(0).alias("role")
        ),
    )
    b_blocks = F.when(
        F.col("shard") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("shard") - 1),
            lambda i: F.struct(
                i.alias("bi"), F.col("shard").alias("bj"), F.lit(1).alias("role")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<bi:long,bj:long,role:int>>"))
    exploded = q.select(
        "vid", "qv", F.explode(F.concat(a_blocks, b_blocks)).alias("blk")
    ).select("vid", "qv", F.col("blk.bi"), F.col("blk.bj"), F.col("blk.role"))
    kk = int(k)

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"vid": [], "neighbor_id": [], "dot_q": []}, dtype="int64"
        )
        a = pdf[pdf["role"] == 0]
        diagonal = bool((pdf["bi"] == pdf["bj"]).iloc[0])
        b = a if diagonal else pdf[pdf["role"] == 1]
        if len(a) == 0 or len(b) == 0:
            return empty

        def block_topk(x_ids, x_mat, y_ids, y_mat):
            # y pre-sorted ascending by id: stable argsort on -dots then
            # breaks dot-ties toward the smaller neighbor id
            order = np.argsort(y_ids, kind="stable")
            y_ids, y_mat = y_ids[order], y_mat[order]
            dots = x_mat @ y_mat.T
            self_mask = x_ids[:, None] == y_ids[None, :]
            # push self-pairs to the very end of the ranking; min+1, NOT
            # min: −int64.min overflows back to itself and would sort
            # self FIRST under the −masked argsort
            masked = np.where(self_mask, np.iinfo(np.int64).min + 1, dots)
            top = np.argsort(-masked, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(x_ids, top.shape[1])
            cols = y_ids[top.reshape(-1)]
            vals = np.take_along_axis(dots, top, axis=1).reshape(-1)
            # a self pair can only reach the top-k when the block holds
            # fewer than k non-self rows (it was masked to rank last), in
            # which case every non-self row is already emitted
            sel = cols != rows
            return rows[sel], cols[sel], vals[sel]

        a_ids = a["vid"].to_numpy(dtype=np.int64)
        b_ids = b["vid"].to_numpy(dtype=np.int64)
        a_mat = np.stack([np.asarray(v, dtype=np.int64) for v in a["qv"]])
        b_mat = np.stack([np.asarray(v, dtype=np.int64) for v in b["qv"]])
        r1, c1, v1 = block_topk(a_ids, a_mat, b_ids, b_mat)
        if diagonal:
            return pd.DataFrame({"vid": r1, "neighbor_id": c1, "dot_q": v1})
        r2, c2, v2 = block_topk(b_ids, b_mat, a_ids, a_mat)
        return pd.DataFrame(
            {
                "vid": np.concatenate([r1, r2]),
                "neighbor_id": np.concatenate([c1, c2]),
                "dot_q": np.concatenate([v1, v2]),
            }
        )

    cands = exploded.groupBy("bi", "bj").applyInPandas(
        kernel, schema="vid long, neighbor_id long, dot_q long"
    )
    w = Window.partitionBy("vid").orderBy(F.col("dot_q").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(F.col("vid").alias(id_col), "neighbor_id", "rank", "dot_q")
    )


def _coarse_probe_kernel(cent_ids, cent_mat, n_out: int):
    """mapInPandas kernel assigning each (vid, qv) row its ``n_out``
    nearest coarse centroids by integer dot (one blocked numpy GEMM per
    Arrow batch; stable argsort so ties break toward the smaller cid,
    matching the SQL oracles). Shared by ``ivf_topk`` (n_out=1 corpus
    assignment, n_out=nprobe query probes) and ``ivf_pq_topk``."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        # zero centroids (empty corpus / no seeds): nothing can be
        # assigned or probed — consume the input and emit nothing (a
        # (0,)-shaped centroid matrix would otherwise fail the matmul)
        if len(cent_ids) == 0 or n_out <= 0:
            for _ in batches:
                pass
            return

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vids = pdf["vid"].to_numpy(dtype=np.int64)
            block = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            dots = block @ cent_mat.T
            order = np.argsort(-dots, axis=1, kind="stable")[:, :n_out]
            n, p = order.shape
            yield pd.DataFrame(
                {
                    "vid": np.repeat(vids, p),
                    "qv": [v for v in pdf["qv"] for _ in range(p)],
                    "cid": cent_ids[order].reshape(-1),
                }
            )

    return kernel


def _collect_centroid_rows(
    q: DataFrame,
    n_centroids: int,
    centroid_mod: int | None,
):
    """Collect the coarse-centroid table from a ``(cid, cv)`` frame,
    sorted by cid. Default: fixed-k :func:`select_seeds` — the collected
    state is O(n_centroids) regardless of corpus size. ``centroid_mod``
    is the legacy modulus escape hatch; if it selects NOTHING on a
    non-empty corpus (sparse/non-contiguous id spaces — r05 advisory),
    fall back to fixed-k instead of silently building an empty index.
    """
    if centroid_mod is not None:
        rows = q.where(F.col("cid") % centroid_mod == 0).collect()
        if rows:
            return sorted(rows, key=lambda r: r["cid"])
    return sorted(
        select_seeds(q, n_centroids, "cid").collect(), key=lambda r: r["cid"]
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    centroids: DataFrame | None = None,
    centroid_mod: int | None = None,
    validate: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the partitioned scale path.

    Coarse quantizer: a fixed-size deterministic subset of the corpus acts
    as the centroid table (the ``n_centroids`` smallest ``(seed_hash(id),
    id)`` rows — k NEVER grows with the corpus, see :func:`select_seeds`;
    pass ``centroids=`` a ``kmeans_train`` output ``(cid, cv)`` frame to
    use trained centroids instead — the plumbing is identical;
    ``centroid_mod=`` keeps the legacy modulus selection). Every corpus
    vector is assigned to its nearest centroid in ONE pass (blocked numpy
    GEMM against the broadcast centroid matrix, no shuffle); queries probe
    their ``nprobe`` nearest centroids; candidates are only the probed
    buckets' members, so the expensive exact scoring touches ~nprobe/C of
    the corpus. Tie-breaks everywhere: (dot desc, id asc) — bit-stable vs
    the SQL oracle. At 100 TB the corpus pass stays embarrassingly
    parallel; only the (small) candidate set shuffles on the bucket key.
    """
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    import numpy as np

    cent_q = (
        centroids.select("cid", "cv")
        if centroids is not None
        else corpus.select(
            F.col(id_col).alias("cid"), quantize_embedding(vec_col, scale).alias("cv")
        )
    )
    if centroids is not None:
        cent_rows = sorted(cent_q.collect(), key=lambda r: r["cid"])
    else:
        cent_rows = _collect_centroid_rows(cent_q, n_centroids, centroid_mod)
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.array([r["cv"] for r in cent_rows], dtype=np.int64)

    def probe_kernel(n_out: int):
        return _coarse_probe_kernel(cent_ids, cent_mat, n_out)

    def quantized(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
        )

    assign_schema = "vid long, qv array<long>, cid long"
    corpus_assigned = quantized(corpus).mapInPandas(probe_kernel(1), schema=assign_schema)
    query_probes = quantized(queries).mapInPandas(
        probe_kernel(min(nprobe, len(cent_rows))), schema=assign_schema
    )
    scored = (
        corpus_assigned.withColumnsRenamed({"vid": "neighbor_id", "qv": "cv"})
        .join(
            F.broadcast(query_probes.withColumnRenamed("vid", "query_id")),
            "cid",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_q", quantized_dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_q").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q")
    )


def kmeans_train(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    centroid_mod: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means over the quantized corpus — the real
    trainer behind ``ivf_topk``'s coarse quantizer (whose docstring promises
    exactly this). Fully deterministic, so the DuckDB oracle can replay it:

    * init: seeds are the ``n_centroids`` corpus vectors with the smallest
      ``(seed_hash(id), id)`` (:func:`select_seeds` — fixed k, decoupled
      from corpus size; ``centroid_mod=`` keeps the legacy modulus
      selection whose k grew ∝ n);
    * assign: nearest centroid by **max quantized dot** (== min L2 on the
      unit-norm fixture vectors), ties to the smaller centroid id. The k
      centroids collapse to ONE broadcast row holding an array of
      ``(cid, cv)`` structs, and the argmax is a per-row ``array_max``
      over that array — a pure map pass: the corpus is never shuffled
      (nor row-multiplied k-fold) for assignment;
    * update: element-wise **floor-division integer mean** of member
      vectors (``(s - pmod(s, n)) div n`` — exact integer arithmetic, no
      float summation order anywhere), via posexplode → (cid, pos) partial
      agg → array reassembly.

    Per iteration: one broadcast-argmax map pass + one (cid, pos)-keyed
    shuffle that map-side partial-aggregation collapses to k x dim rows
    per task, not the corpus. Returns
    ``(cid, cv, n_members)`` with ``cv`` the final integer centroid;
    feed it to ``ivf_topk(centroids=...)``.
    """
    # cache the quantized projection for the Lloyd rounds (each round's
    # localCheckpoint is an eager pass over q; without the cache every
    # round re-runs the scan+quantize lineage) — the scope releases it
    # before the lazy members pass, which recomputes once: net n_iter-1
    # scans saved with no cache outliving the call (the pq_codebooks pattern)
    with cache_scope():
        q = cache(
            emb.select(
                F.col(id_col).alias("vid"),
                quantize_embedding(vec_col, scale).alias("qv"),
            )
        )
        if centroid_mod is not None:
            cent = q.where(F.col("vid") % centroid_mod == 0)
        else:
            cent = select_seeds(q, n_centroids, "vid")
        cent = cent.select(F.col("vid").alias("cid"), F.col("qv").alias("cv"))
        assign = None
        for _ in range(n_iter):
            cents = cent.agg(
                F.collect_list(F.struct(F.col("cid"), F.col("cv"))).alias("cents")
            )
            best = F.array_max(
                F.transform(
                    F.col("cents"),
                    lambda c: F.struct(
                        quantized_dot(F.col("qv"), c["cv"]).alias("dot"),
                        (-c["cid"]).alias("neg"),
                    ),
                )
            )
            assign = (
                q.join(F.broadcast(cents), how="cross")
                .select("vid", "qv", (-best["neg"]).alias("cid"))
            )
            comps = (
                assign.select("cid", F.posexplode("qv").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .withColumn("comp", F.expr("(s - pmod(s, n)) div n"))
            )
            # Materialize the k-row centroid table each round: Lloyd's is
            # inherently iterative, and without this the assign subtree nests
            # the whole previous iteration TWICE (update + membership), i.e.
            # 2^n_iter corpus scans in one lazy plan.
            cent = (
                comps.groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "comp"))),
                        lambda x: x["comp"],
                    ).alias("cv")
                )
                .localCheckpoint()
            )
    members = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return cent.join(members, "cid", "left").withColumn(
        "n_members", F.coalesce("n_members", F.lit(0))
    )


def lsh_planes(dim: int, n: int, seed: int = 0xC0FFEE) -> list[list[int]]:
    """``n`` deterministic integer hyperplanes in ``[-1000, 1000]^dim``.

    Integer components (seeded numpy) keep every sign decision exact
    int64 arithmetic against the quantized embeddings, so Spark and the
    SQL oracle (which embeds the same literals) agree bit-for-bit —
    no float-summation-order hazard in the bucketing itself.
    """
    import numpy as np

    rs = np.random.RandomState(seed)
    return rs.randint(-1000, 1001, size=(n, dim)).tolist()


def quantized_pairs_lsh(
    emb: DataFrame,
    threshold: int,
    n_tables: int = 16,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: int = 0xC0FFEE,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs above ``threshold`` via **banded hyperplane-LSH
    candidates + intra-bucket GEMM rescoring** — the subquadratic scale
    path (`quantized_pairs_gemm` stays as the exact opt-in for small n).

    ``n_tables`` independent hash tables each bucket the corpus by
    ``n_planes`` sign bits; candidate pairs exist only *within* a
    (table, bucket) group, where a numpy int64 GEMM rescoring computes the
    exact quantized dot. Pairs surviving in several tables dedupe on one
    final (vec_a, vec_b) aggregate. Compute is
    ``n_tables x Σ_b |bucket_b|²`` — linear in the corpus at fixed bucket
    occupancy — vs the exact path's ``n²``; grow ``n_planes`` with the
    corpus so occupancy (~n / 2^n_planes) stays bounded, and raise
    ``n_tables`` to buy recall (misses only pairs that collide in no
    table; recall falls with the similarity threshold — at cos ≥ 0.9 a
    handful of tables is near-exhaustive, at the fixture's cos ≈ 0.45
    the default 16x4 still finds 15/15 planted pairs).

    One corpus scan (the table fan-out is an in-row explode), one shuffle
    on (table, bucket), one pair-dedup shuffle. Reference semantics:
    scylla-cdc-java has no embedding ops; this is pipeline-extension
    surface.
    """
    if dim is None:  # one-row metadata probe; pass dim= to skip the job
        dim = len(emb.select(vec_col).head()[0])
    planes = lsh_planes(dim, n_tables * n_planes, seed)
    thr = int(threshold)
    q = emb.select(
        F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
    )

    # All n_tables*n_planes sign bits in ONE Arrow pass: a blocked int64
    # GEMM against the closure-captured plane matrix. The equivalent
    # native form (a literal array per plane) builds a ~(tables*planes*dim)-
    # literal expression tree whose codegen/compile cost dwarfs the data
    # work at any scale — measured 5x the whole query's time. Bucket math
    # is bit-identical: sign of the integer dot, bit i of table t from
    # plane t*n_planes+i.
    import numpy as np

    plane_mat = np.array(planes, dtype=np.int64)  # (tables*planes, dim)
    bit_w = np.array([1 << i for i in range(n_planes)], dtype=np.int64)

    def fan_kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vid"].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            signs = (mat @ plane_mat.T) >= 0  # (n, tables*planes)
            bkts = (
                signs.reshape(len(ids), n_tables, n_planes) * bit_w
            ).sum(axis=2)  # (n, tables)
            # one output frame PER TABLE, reusing the batch's qv column
            # as-is: building the n·tables replicated python list was the
            # fan's hot spot (~19% of the whole pair job at sf0.1 warm —
            # r08 profiling); the shuffle payload is identical either way
            qvl = list(pdf["qv"])
            for t in range(n_tables):
                yield pd.DataFrame(
                    {
                        "vid": ids,
                        "qv": qvl,
                        "tbl": np.full(len(ids), t, dtype=np.int32),
                        "bkt": bkts[:, t],
                    }
                )

    fanned = q.mapInPandas(
        fan_kernel, schema="vid long, qv array<long>, tbl int, bkt long"
    )

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "dot_q": []}, dtype="int64")
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
        dots = mat @ mat.T
        ai, bj = np.nonzero((dots >= thr) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"vec_a": ids[ai], "vec_b": ids[bj], "dot_q": dots[ai, bj]})

    pairs = fanned.groupBy("tbl", "bkt").applyInPandas(
        kernel, schema="vec_a long, vec_b long, dot_q long"
    )
    # same pair may surface from several tables; dot_q is identical, so a
    # max-agg dedupe (partial-aggregatable) collapses them
    return pairs.groupBy("vec_a", "vec_b").agg(F.max("dot_q").alias("dot_q"))


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane."""
    bucket = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(
            F.zip_with(vec, arr, lambda x, y: (x * y).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's hyperplane
    bucket. Recall < 1 by construction; scale path for 100 TB corpora."""
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_embedding(vec_col).alias("cv"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_embedding(vec_col).alias("qv"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_q", quantized_dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_q").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q")
    )


def _pq_argmin_kernel(cb_map):
    """mapInPandas kernel assigning each (vid, sub, sv) row the nearest
    codeword of its subspace by min integer L2, ties to the smaller code
    (one blocked numpy GEMM per (batch, sub); ``L2 = |a|² − 2a·b + |b|²``
    in exact int64). ``cb_map`` is ``{sub: (codes_asc, mat)}`` — codes
    sorted ascending so argmin's first-hit IS the smallest code, matching
    the SQL oracles. Subspaces absent from the map emit nothing (same as
    the inner join they replace). The native expression-tree argmin this
    replaces put |codebook| nested fold expressions through codegen —
    measured ~30x this kernel's time at 64 codes."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            subs = pdf["sub"].to_numpy()
            for s in np.unique(subs):
                ent = cb_map.get(int(s))
                if ent is None:
                    continue
                codes, mat = ent
                sel = pdf[subs == s]
                block = np.stack(
                    [np.asarray(v, dtype=np.int64) for v in sel["sv"]]
                )
                d = (
                    (block * block).sum(axis=1)[:, None]
                    - 2 * (block @ mat.T)
                    + (mat * mat).sum(axis=1)[None, :]
                )
                idx = np.argmin(d, axis=1)  # first hit = smallest code
                yield pd.DataFrame(
                    {
                        "vid": sel["vid"].to_numpy(),
                        "sub": sel["sub"].to_numpy(),
                        "sv": list(sel["sv"]),
                        "code": codes[idx],
                    }
                )

    return kernel


def _collect_codebooks(cb: DataFrame):
    """Collect a (sub, code, cw) codebook table into the kernel's
    ``{sub: (codes_asc, mat)}`` map. Codebooks are k×m rows by design
    (the PQ artifact a deployment persists), so this is a metadata-plane
    collect, same discipline as ivf's centroid matrix."""
    import numpy as np

    by_sub: dict[int, list] = {}
    for r in cb.collect():
        by_sub.setdefault(int(r["sub"]), []).append((int(r["code"]), r["cw"]))
    out = {}
    for s, rows in by_sub.items():
        rows.sort(key=lambda x: x[0])
        codes = np.array([c for c, _ in rows], dtype=np.int64)
        mat = np.array([w for _, w in rows], dtype=np.int64)
        out[s] = (codes, mat)
    return out


_PQ_ASSIGN_SCHEMA = "vid long, sub int, sv array<long>, code long"

_INDEX_ROW_SCHEMA = "vid long, cid long, sub int, code long"

_ENCODE_ROW_SCHEMA = "vid long, sub int, code long"


def _encode_rows_kernel(cb_map, m: int):
    """(vid, qv) → (vid, sub, code): the standalone-encode sibling of
    :func:`_assign_encode_kernel` (same slicing, same L2 argmin, same
    tie-breaks — see there for the equivalence argument). Two wastes of
    the explode+`_pq_argmin_kernel` shape it replaces: the m-fold
    explode materialized m SQL subarray slices per vector just to carry
    them across the Arrow boundary, and `_PQ_ASSIGN_SCHEMA` shipped the
    subvector back OUT of Python only for ``pq_encode`` to drop it on
    the next line (the sv return exists for the TRAINING loop's
    centroid update, `pq_codebooks`, which still uses it).

    Implemented by DELEGATING to :func:`_assign_encode_kernel` in
    pre-assigned mode (a dummy cid rides in and is dropped from each
    output batch) so the tie-break-sensitive per-subspace argmin exists
    in exactly one place (ADVICE r11)."""
    inner = _assign_encode_kernel(cb_map, m)

    def kernel(batches):
        def with_dummy_cid(bs):
            for pdf in bs:
                yield pdf.assign(cid=0)

        for out in inner(with_dummy_cid(batches)):
            yield out.drop(columns=["cid"])

    return kernel


def _assign_encode_kernel(cb_map, m: int, cent_ids=None, cent_mat=None):
    """Fused index-build kernel: coarse-assign AND PQ-encode each vector
    in ONE pass, emitting the long-form index rows ``(vid, cid, sub,
    code)`` directly — m rows per vector.

    Two modes:

    * raw (``cent_ids``/``cent_mat`` given): input ``(vid, qv)``; cid is
      the argmax integer dot against the centroid matrix (numpy argmax
      first-hit = the smallest cid on ties, exactly
      ``_coarse_probe_kernel(n_out=1)``'s stable argsort head), and the
      PQ subvectors are numpy slices of qv (exactly ``pq_encode``'s SQL
      ``F.slice``: sw = dim // m, subspace s covers [s·sw, (s+1)·sw));
    * pre-assigned (``cent_ids`` None): input ``(vid, cid, qv)`` — the
      residual path, where cid rode along with the residual out of the
      coarse pass and needs no recomputation.

    This replaces the ``codes.join(assigned, "vid")`` the index builders
    carried: both frames are ROW-WISE functions of the same vector row,
    so joining them re-shuffles the whole encoded index (m·N ⋈ N rows)
    to reunite values that never had to separate. Under the declared
    unique vector id the join-then-project rows are exactly the rows
    emitted here; the raw mode additionally folds the second corpus map
    pass and the m-fold explode+slice subvector materialization into
    this one. Subspaces absent from ``cb_map`` emit nothing (the
    inner-join semantics of ``_pq_argmin_kernel``); an empty centroid
    table emits nothing in raw mode (matching the empty ``assigned``
    the join would have produced). L2 argmin and tie-breaks are the
    exact expressions of ``_pq_argmin_kernel`` (codes ascending, first
    hit = smallest code)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        if cent_ids is not None and len(cent_ids) == 0:
            for _ in batches:
                pass
            return

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vids = pdf["vid"].to_numpy(dtype=np.int64)
            block = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            if cent_ids is not None:
                dots = block @ cent_mat.T
                cids = cent_ids[np.argmax(dots, axis=1)]
            else:
                cids = pdf["cid"].to_numpy(dtype=np.int64)
            sw = block.shape[1] // m
            for s in range(m):
                ent = cb_map.get(s)
                if ent is None:
                    continue
                codes, mat = ent
                sv = block[:, s * sw : (s + 1) * sw]
                d = (
                    (sv * sv).sum(axis=1)[:, None]
                    - 2 * (sv @ mat.T)
                    + (mat * mat).sum(axis=1)[None, :]
                )
                idx = np.argmin(d, axis=1)  # first hit = smallest code
                yield pd.DataFrame(
                    {
                        "vid": vids,
                        "cid": cids,
                        "sub": np.full(len(vids), s, dtype=np.int32),
                        "code": codes[idx],
                    }
                )

    return kernel


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 32,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed_mod: int | None = None,
    pre_quantized: bool = False,
) -> DataFrame:
    """Train per-subspace product-quantization codebooks (Jégou et al.
    2011): the embedding splits into ``m`` contiguous subvectors and each
    subspace gets its own small k-means codebook. Returns
    ``(sub, code, cw)`` — subspace index, code id, integer codeword.

    Fully deterministic (same discipline as :func:`kmeans_train`): seeds
    are the subvectors of the ``n_codes`` corpus rows with the smallest
    ``(seed_hash(id), id)`` (:func:`select_seeds` — the codebook is
    k = n_codes codewords per subspace NO MATTER the corpus size, so the
    driver-collected ``cb_map`` and the per-row argmin stay O(k·m) at
    100x the data; ``seed_mod=`` keeps the legacy modulus selection, with
    a fixed-k fallback when it matches nothing on a non-empty corpus);
    Lloyd rounds assign by **min integer L2** (ties to the smaller code
    id) and update with the floor-division integer mean. All m subspaces
    train in ONE set of jobs — the subspace index is just another grouping
    key, so adding subspaces widens no shuffle. Per round: one Arrow GEMM
    argmin map pass over |corpus| x m rows against the collected
    (k×m-row) codebook — the corpus never shuffles for assignment — plus
    one (sub, code, pos)-keyed partial aggregation of k x m x (dim/m)
    rows.
    """
    qexpr = (
        F.col(vec_col) if pre_quantized else quantize_embedding(vec_col, scale)
    )
    sub_w = F.floor(F.size(qexpr) / F.lit(m))
    # EVERY training action below re-reads this frame: the seed collect,
    # then one Arrow argmin assign pass per Lloyd round — 1 + n_iter + 1
    # full recomputations of the upstream lineage without a cache. For the
    # raw-corpus path that lineage is a scan+quantize; for the residual
    # tier it is the coarse-assign mapInPandas over the whole corpus, so
    # the recompute storm dominated the tier's wall-clock (measured ~6x
    # at sf0.1). Cache the narrow quantized projection for the TRAINING
    # passes only: every consumer inside the scope is eager (driver
    # collects) and the returned codebook is driver literals with no
    # lineage into q, so the scope releases it before returning and no
    # cache outlives the call (the ranked_frames/ntile discipline).
    with cache_scope():
        q = cache(
            corpus.select(
                F.col(id_col).alias("vid"),
                qexpr.alias("qv"),
                sub_w.alias("sw"),
            )
        )
        # (vid, sub, sv): m rows per vector, sv the subvector
        subs = q.select(
            "vid",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("qv"),
            "sw",
        ).select(
            "vid",
            "sub",
            F.slice(
                F.col("qv"),
                (F.col("sub") * F.col("sw") + 1).cast("int"),
                F.col("sw").cast("int"),
            ).alias("sv"),
        )
        # the codebook itself is k×m rows of driver-size metadata: carry it as
        # the collected map between rounds (one job per round — the corpus-
        # sized assign+update pipeline — instead of checkpoint+collect pairs)
        if seed_mod is not None:
            seed_ids = q.select("vid").where(F.col("vid") % seed_mod == 0)
        else:
            seed_ids = select_seeds(q.select("vid"), n_codes, "vid")
        cb_map = _collect_codebooks(
            subs.join(F.broadcast(seed_ids), "vid").select(
                "sub", F.col("vid").alias("code"), F.col("sv").alias("cw")
            )
        )
        if not cb_map and seed_mod is not None:
            # legacy modulus matched no id (sparse/non-contiguous id space):
            # fall back to fixed-k instead of training an empty codebook
            seed_ids = select_seeds(q.select("vid"), n_codes, "vid")
            cb_map = _collect_codebooks(
                subs.join(F.broadcast(seed_ids), "vid").select(
                    "sub", F.col("vid").alias("code"), F.col("sv").alias("cw")
                )
            )
        for _ in range(n_iter):
            assign = subs.mapInPandas(
                _pq_argmin_kernel(cb_map), schema=_PQ_ASSIGN_SCHEMA
            )
            comps = (
                assign.select("sub", "code", F.posexplode("sv").alias("pos", "val"))
                .groupBy("sub", "code", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .withColumn("comp", F.expr("(s - pmod(s, n)) div n"))
            )
            cb_map = _collect_codebooks(
                comps.groupBy("sub", "code").agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "comp"))),
                        lambda x: x["comp"],
                    ).alias("cw")
                )
            )
    spark = corpus.sparkSession
    rows = [
        (int(s), int(c), [int(x) for x in cw])
        for s, (codes, mat) in sorted(cb_map.items())
        for c, cw in zip(codes, mat)
    ]
    return spark.createDataFrame(rows, "sub int, code long, cw array<long>")


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    pre_quantized: bool = False,
) -> DataFrame:
    """Encode every corpus vector as ``m`` small code ids (nearest codeword
    per subspace, min integer L2, ties to the smaller code). Output
    ``(vid, sub, code)`` — the 100 TB-resident representation: m bytes-ish
    per vector instead of dim floats. One Arrow GEMM argmin map pass
    against the collected codebook, no corpus shuffle."""
    qexpr = (
        F.col(vec_col) if pre_quantized else quantize_embedding(vec_col, scale)
    )
    return corpus.select(F.col(id_col).alias("vid"), qexpr.alias("qv")).mapInPandas(
        _encode_rows_kernel(_collect_codebooks(codebooks), m),
        schema=_ENCODE_ROW_SCHEMA,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed_mod: int | None = None,
    validate: str | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k by inner product: corpus vectors live only
    as code ids; each query builds an m x |codebook| lookup table of
    ``dot(query_sub, codeword)`` partial scores (asymmetric distance
    computation) and every corpus score is the sum of m table lookups —
    never a full-dimension dot against raw vectors.

    Plan: codes (vid, sub, code) join the broadcast per-query LUT on
    (sub, code) → partial scores, one (query_id, vid) sum-aggregate
    (partial-agg collapses map-side), one per-query window for top-k. At
    100 TB this exact shape runs inside IVF buckets (encode once, probe
    per query) — the full-corpus scan here is the dense variant of the
    same ADC loop. Approximate by construction: gate rows bound recall
    against the exact scan instead of value-matching ranks.
    """
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    cb = pq_codebooks(corpus, m=m, n_codes=n_codes, seed_mod=seed_mod,
                      id_col=id_col, vec_col=vec_col, scale=scale)
    codes = pq_encode(corpus, cb, m=m, id_col=id_col, vec_col=vec_col, scale=scale)
    sub_w = F.floor(F.size(quantize_embedding(vec_col, scale)) / F.lit(m))
    qsubs = (
        queries.select(
            F.col(id_col).alias("query_id"),
            quantize_embedding(vec_col, scale).alias("qv"),
            sub_w.alias("sw"),
        )
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("qv"),
            "sw",
        )
        .select(
            "query_id",
            "sub",
            F.slice(
                F.col("qv"),
                (F.col("sub") * F.col("sw") + 1).cast("int"),
                F.col("sw").cast("int"),
            ).alias("sv"),
        )
    )
    lut = qsubs.join(cb, "sub").select(
        "query_id",
        "sub",
        F.col("code"),
        quantized_dot(F.col("sv"), F.col("cw")).alias("part"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("query_id") != F.col("vid"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("part").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def sq8_stats(
    corpus: DataFrame, vec_col: str = "embedding", scale: int = 1000
) -> DataFrame:
    """Per-dimension scalar-quantization (SQ8) stats over the quantized
    corpus: ``(pos, lo, step)`` with ``step = max(1, ceil((hi−lo)/255))``
    so codes always fit one byte. One posexplode + partial-aggregating
    min/max — output is dim rows no matter the corpus size, the SQ
    analogue of the fixed-k discipline (the collected state an encoder
    broadcasts is O(dim), not O(n)). All integer arithmetic, so the SQL
    oracle replays it exactly."""
    q = corpus.select(quantize_embedding(vec_col, scale).alias("qv"))
    return (
        q.select(F.posexplode("qv").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
        .withColumn(
            "step",
            F.greatest(F.lit(1).cast("long"), F.expr("((hi - lo) + 254) div 255")),
        )
        .select("pos", "lo", "step")
    )


def sq8_encode(
    corpus: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """SQ8-encode every vector: ``code_i = (x_i − lo_i) div step_i`` ∈
    [0, 255] — the 4x-smaller storage representation (one byte per
    dimension instead of a float). The dim-row stats table collects to
    the driver and rides into the row expression as literal arrays: the
    encode pass is a pure map (no join, no shuffle), exactly what a 100 TB
    re-encode wants."""
    lo_arr, step_arr = _sq8_literal_arrays(stats)
    # (x−lo) − pmod(x−lo, step) is an exact multiple of step ≤ 255·step,
    # so the double division below is exact (quotient ≤ 255 is exactly
    # representable and IEEE division is correctly rounded)
    enc = F.transform(
        quantize_embedding(vec_col, scale),
        lambda x, i: (
            (
                (x - F.element_at(lo_arr, i + 1))
                - F.pmod(
                    x - F.element_at(lo_arr, i + 1), F.element_at(step_arr, i + 1)
                )
            )
            / F.element_at(step_arr, i + 1)
        ).cast("int"),
    )
    return corpus.select(F.col(id_col).alias("vid"), enc.alias("codes"))


def _sq8_literal_arrays(stats: DataFrame):
    rows = sorted(stats.collect(), key=lambda r: r["pos"])
    lo_arr = F.array(*[F.lit(int(r["lo"])).cast("long") for r in rows])
    step_arr = F.array(*[F.lit(int(r["step"])).cast("long") for r in rows])
    return lo_arr, step_arr


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    validate: str | None = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) brute-force top-k by inner product: corpus
    vectors are scored through their DEQUANTIZED form ``lo + code·step``
    (= ``x − pmod(x − lo, step)``, exact integer arithmetic — the encode/
    decode round-trip is fused into one map expression so no codes
    materialize), queries stay full-precision — the standard asymmetric
    SQ search. Same plan shape as :func:`cosine_topk_bruteforce`: the
    query side broadcasts, the corpus never shuffles, one window top-k.
    SQ8 is the cheapest index tier (4x smaller scans, no training); at
    100 TB it composes with IVF exactly like PQ does. Everything is
    integer, so the DuckDB oracle replays scores bit-for-bit (hash gate,
    not just a recall bound)."""
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    lo_arr, step_arr = _sq8_literal_arrays(sq8_stats(corpus, vec_col, scale))
    dq = F.transform(
        quantize_embedding(vec_col, scale),
        lambda x, i: x
        - F.pmod(x - F.element_at(lo_arr, i + 1), F.element_at(step_arr, i + 1)),
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), dq.alias("dv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize_embedding(vec_col, scale).alias("qv")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("adc", quantized_dot(F.col("qv"), F.col("dv")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    validate: str | None = None,
) -> DataFrame:
    """IVF + SQ8: inverted-file candidate restriction (fixed-k coarse
    centroids, nprobe cells per query) with SQ8-dequantized scoring
    inside the probed cells — the middle index tier between IVF-exact
    (full-precision scans, 4x the bytes) and IVF-PQ (m-byte codes,
    codebook training). Stats are GLOBAL per-dimension (one dim-row
    table for the whole index, the common production layout); the
    dequant fuses into the scoring map expression so no codes
    materialize. Everything integer ⇒ the oracle replays scores exactly.
    Plan: one coarse-assign GEMM pass over the corpus (no shuffle), a
    broadcast (query, probed-cell) table, per-pair integer dot, one
    window top-k."""
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    import numpy as np

    cent_q = corpus.select(
        F.col(id_col).alias("cid"), quantize_embedding(vec_col, scale).alias("cv")
    )
    cent_rows = _collect_centroid_rows(cent_q, n_centroids, None)
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.array([r["cv"] for r in cent_rows], dtype=np.int64)

    def quantized(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
        )

    probe_schema = "vid long, qv array<long>, cid long"
    assigned = quantized(corpus).mapInPandas(
        _coarse_probe_kernel(cent_ids, cent_mat, 1), schema=probe_schema
    )
    probes = (
        quantized(queries)
        .mapInPandas(
            _coarse_probe_kernel(cent_ids, cent_mat, min(nprobe, len(cent_rows))),
            schema=probe_schema,
        )
        .select(F.col("vid").alias("query_id"), F.col("qv").alias("qqv"), "cid")
    )
    lo_arr, step_arr = _sq8_literal_arrays(sq8_stats(corpus, vec_col, scale))
    dv = F.transform(
        F.col("qv"),
        lambda x, i: x
        - F.pmod(x - F.element_at(lo_arr, i + 1), F.element_at(step_arr, i + 1)),
    )
    scored = (
        assigned.withColumn("dv", dv)
        .join(F.broadcast(probes), "cid")
        .where(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            quantized_dot(F.col("qqv"), F.col("dv")).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def ivf_sq8_cell_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """IVF + PER-CELL SQ8: like :func:`ivf_sq8_topk` but the scalar-
    quantization stats are computed per coarse CELL rather than globally
    — each cell's residents span a narrower value range, so the same one
    byte per dimension quantizes finer (the locally-adaptive SQ layout,
    the scalar analogue of residual PQ). Stats are (n_centroids × dim)
    rows — still corpus-size-independent, but they stay ENGINE-SIDE: the
    per-cell (lo, step) arrays assemble with a sort-by-pos collect_list
    and broadcast-join to the residents on cid (no literal expression
    tree, no driver round-trip). Everything integer ⇒ the oracle replays
    scores exactly. Plan: one coarse-assign GEMM pass (no corpus
    shuffle), one bounded stats aggregate, broadcast stats + probes,
    window top-k."""
    import numpy as np

    cent_q = corpus.select(
        F.col(id_col).alias("cid"), quantize_embedding(vec_col, scale).alias("cv")
    )
    cent_rows = _collect_centroid_rows(cent_q, n_centroids, None)
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.array([r["cv"] for r in cent_rows], dtype=np.int64)

    def quantized(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
        )

    probe_schema = "vid long, qv array<long>, cid long"
    assigned = quantized(corpus).mapInPandas(
        _coarse_probe_kernel(cent_ids, cent_mat, 1), schema=probe_schema
    )
    probes = (
        quantized(queries)
        .mapInPandas(
            _coarse_probe_kernel(cent_ids, cent_mat, min(nprobe, len(cent_rows))),
            schema=probe_schema,
        )
        .select(F.col("vid").alias("query_id"), F.col("qv").alias("qqv"), "cid")
    )
    st = (
        assigned.select("cid", F.posexplode("qv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.min("val").alias("lo"), F.max("val").alias("hi"))
        .withColumn(
            "step",
            F.greatest(F.lit(1).cast("long"), F.expr("((hi - lo) + 254) div 255")),
        )
    )
    st_arr = st.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))), lambda s: s["lo"]
        ).alias("lo_a"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "step"))), lambda s: s["step"]
        ).alias("step_a"),
    )
    dv = F.transform(
        F.col("qv"),
        lambda x, i: x
        - F.pmod(
            x - F.element_at(F.col("lo_a"), i + 1),
            F.element_at(F.col("step_a"), i + 1),
        ),
    )
    scored = (
        assigned.join(F.broadcast(st_arr), "cid")
        .withColumn("dv", dv)
        .join(F.broadcast(probes), "cid")
        .where(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            quantized_dot(F.col("qqv"), F.col("dv")).alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def signed_permutation(dim: int, seed: int = 0x0FA7A7E) -> tuple[list[int], list[float]]:
    """Deterministic signed permutation of ``dim`` coordinates — an
    ORTHOGONAL, integer-exact rotation (permute dims, flip signs): the
    cheap decorrelating transform the OPQ literature uses as its
    random-rotation baseline (Ge et al. 2013 §RR; a signed permutation
    is the subgroup of rotations that keeps quantized integer dots
    exact, so the whole rotated-PQ chain stays hash-gateable). Generated
    by a seeded LCG Fisher-Yates — a pure function of (dim, seed), so
    the permutation/sign literals bake identically into the Spark
    expression and the SQL oracle, like the LSH planes."""
    state = seed & ((1 << 64) - 1)

    def nxt() -> int:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return state

    idx = list(range(dim))
    for i in range(dim - 1, 0, -1):
        j = nxt() % (i + 1)
        idx[i], idx[j] = idx[j], idx[i]
    signs = [1.0 if nxt() % 2 == 0 else -1.0 for _ in range(dim)]
    return idx, signs


def rotate_embedding(vec_col: str, perm: list[int], signs: list[float]):
    """The signed-permutation rotation as a column expression:
    ``out[i] = vec[perm[i]] * signs[i]`` (sign flip is exact in IEEE,
    so rotation commutes with quantization bit-for-bit)."""
    return F.array(
        *[
            F.element_at(F.col(vec_col), int(p) + 1) * F.lit(float(s))
            for p, s in zip(perm, signs)
        ]
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_centroids: int = 16,
    m: int = 4,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    centroid_mod: int | None = None,
    seed_mod: int | None = None,
    validate: str | None = None,
) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN architecture (coarse inverted file
    restricts candidates, product-quantization ADC scores them) — exactly
    how billion-vector indexes are actually laid out.

    * build (once, persisted in a real deployment): coarse assignment of
      every corpus vector to its nearest centroid + PQ codes per vector
      (m small ids), both in ONE fused broadcast-GEMM map pass
      (``_assign_encode_kernel``; ``_coarse_probe_kernel`` serves only
      the query side here); the raw vectors are never touched again;
    * query: probe ``nprobe`` nearest centroids, build the per-query
      (sub, code)->partial-dot LUT, ADC-score ONLY vectors in probed
      buckets, one (query_id, vid) partial-agg sum, per-query top-k.

    Compute per query is ~``nprobe/C`` of the corpus at m LUT lookups per
    candidate. Approximate twice over (coarse pruning + quantized
    scoring), so the gate treatment matches ``ann_pq_topk`` (rows-only;
    clustered-data recall pinned in tests).
    """
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    import numpy as np

    cent_q = corpus.select(
        F.col(id_col).alias("cid"), quantize_embedding(vec_col, scale).alias("cv")
    )
    cent_rows = _collect_centroid_rows(cent_q, n_centroids, centroid_mod)
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.array([r["cv"] for r in cent_rows], dtype=np.int64)

    def quantized(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out), quantize_embedding(vec_col, scale).alias("qv")
        )

    assign_schema = "vid long, qv array<long>, cid long"
    cb = pq_codebooks(
        corpus, m=m, n_codes=n_codes, seed_mod=seed_mod,
        id_col=id_col, vec_col=vec_col, scale=scale,
    )
    # fused coarse-assign + PQ-encode: ONE corpus map pass emitting the
    # long-form index rows, instead of two passes re-joined on vid
    # (_assign_encode_kernel docstring has the equivalence argument)
    indexed = quantized(corpus, "vid").mapInPandas(
        _assign_encode_kernel(_collect_codebooks(cb), m, cent_ids, cent_mat),
        schema=_INDEX_ROW_SCHEMA,
    )

    probes = (
        quantized(queries, "vid")
        .mapInPandas(
            _coarse_probe_kernel(cent_ids, cent_mat, min(nprobe, len(cent_rows))),
            schema=assign_schema,
        )
        .select(F.col("vid").alias("query_id"), "cid")
    )
    sub_w = F.floor(F.size(quantize_embedding(vec_col, scale)) / F.lit(m))
    qsubs = (
        queries.select(
            F.col(id_col).alias("query_id"),
            quantize_embedding(vec_col, scale).alias("qv"),
            sub_w.alias("sw"),
        )
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("qv"),
            "sw",
        )
        .select(
            "query_id",
            "sub",
            F.slice(
                F.col("qv"),
                (F.col("sub") * F.col("sw") + 1).cast("int"),
                F.col("sw").cast("int"),
            ).alias("sv"),
        )
    )
    lut = qsubs.join(cb, "sub").select(
        "query_id", "sub", "code", quantized_dot(F.col("sv"), F.col("cw")).alias("part")
    )
    scored = (
        indexed.join(F.broadcast(probes), "cid")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .where(F.col("query_id") != F.col("vid"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("part").alias("adc"), F.count(F.lit(1)).alias("__nsub"))
        # a vector in two probed buckets would double-join; cid is unique
        # per vector so __nsub == m exactly — guard against plan drift
        .where(F.col("__nsub") == m)
        .drop("__nsub")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def build_embedding_index(
    corpus: DataFrame,
    threshold: int = 450_000,
    n_tables: int = 16,
    n_planes: int = 4,
    dim: int = 64,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int | None = None,
    seed_mod: int | None = None,
    validate: str | None = None,
) -> DataFrame:
    """The composed ANN **index build** end-to-end: LSH-bucketed near-dup
    pairs → large/small-star connected components → keep one vector per
    cluster (smallest id) → IVF coarse assignment + PQ codes over the
    SURVIVORS. Returns the persisted-index artifact long-form
    ``(vec_id, cid, sub, code)``.

    Every stage is the at-scale default path — banded LSH candidates,
    O(log n) star contraction, Arrow GEMM coarse/codebook assignment;
    nothing all-pairs, nothing single-task. An empty corpus yields an
    empty index.
    """
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    import numpy as np

    from .dedup import dedup_clusters

    pairs = quantized_pairs_lsh(
        corpus, threshold=threshold, n_tables=n_tables, n_planes=n_planes,
        dim=dim, id_col=id_col, vec_col=vec_col,
    )
    clusters = dedup_clusters(
        corpus.select(id_col), pairs, id_col=id_col, a_col="vec_a", b_col="vec_b"
    )
    # Checkpoint the survivors: downstream they feed the centroid-seed
    # collect, the codebook trainer's cached projection, the encode pass
    # and the assignment table — four executions of the corpus⋈clusters
    # join without a cache. r10 measured a cache()+count() here ~18%
    # SLOWER (the trainer then re-read its own lineage 3x anyway, so the
    # materialization job was pure overhead); after r11's codebook-
    # internal cache the balance flipped: interleaved A/B at sf0.1 shows
    # the checkpoint ~20% faster (8.06/6.52 s -> 6.08/5.20 s), and at
    # scale it is one survivors join instead of four.
    surv = corpus.join(
        clusters.where(F.col(id_col) == F.col("cluster_id")).select(id_col), id_col
    ).localCheckpoint()
    cent_rows = _collect_centroid_rows(
        surv.select(
            F.col(id_col).alias("cid"), quantize_embedding(vec_col).alias("cv")
        ),
        n_centroids,
        centroid_mod,
    )
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cent_mat = (
        np.array([r["cv"] for r in cent_rows], dtype=np.int64)
        if cent_rows
        else np.zeros((0, dim), dtype=np.int64)
    )
    cb = pq_codebooks(
        surv, m=m, n_codes=n_codes, seed_mod=seed_mod, id_col=id_col, vec_col=vec_col
    )
    # fused coarse-assign + PQ-encode over the survivors: ONE map pass
    # emitting (vid, cid, sub, code) directly, instead of the coarse pass
    # and the encode pass re-joined on vid (_assign_encode_kernel)
    indexed = surv.select(
        F.col(id_col).alias("vid"), quantize_embedding(vec_col).alias("qv")
    ).mapInPandas(
        _assign_encode_kernel(_collect_codebooks(cb), m, cent_ids, cent_mat),
        schema=_INDEX_ROW_SCHEMA,
    )
    return indexed.select(F.col("vid").alias(id_col), "cid", "sub", "code")


def _coarse_residual_kernel(cent_ids, cent_mat, n_out: int):
    """mapInPandas kernel: for each (vid, qv) row, its ``n_out`` nearest
    coarse centroids by integer dot (stable ties to the smaller cid),
    emitting per assignment the RESIDUAL ``qv − centroid`` and the coarse
    dot ``qv · centroid`` — the building block of residual IVF-PQ (the
    corpus pass uses n_out=1; queries use n_out=nprobe). One blocked
    int64 GEMM per Arrow batch; the residual subtraction is exact integer
    arithmetic, so the SQL oracle mirrors it element-wise."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        if len(cent_ids) == 0 or n_out <= 0:
            for _ in batches:
                pass
            return

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vids = pdf["vid"].to_numpy(dtype=np.int64)
            block = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            dots = block @ cent_mat.T
            order = np.argsort(-dots, axis=1, kind="stable")[:, :n_out]
            n, p = order.shape
            res = block[:, None, :] - cent_mat[order]  # (n, p, dim)
            yield pd.DataFrame(
                {
                    "vid": np.repeat(vids, p),
                    "rv": list(res.reshape(n * p, -1)),
                    "cid": cent_ids[order].reshape(-1),
                    "cdot": np.take_along_axis(dots, order, axis=1).reshape(-1),
                }
            )

    return kernel


_RESIDUAL_SCHEMA = "vid long, rv array<long>, cid long, cdot long"


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_centroids: int = 16,
    m: int = 4,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    validate: str | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the textbook IVF-ADC layout (Jégou
    et al. 2011 §III): PQ codebooks train on ``x − centroid(x)`` instead
    of raw vectors, which concentrates the quantizer's budget on the
    within-cell distribution (plain-PQ codewords waste precision
    re-describing the coarse structure the IVF already captured).

    Under the integer-dot metric the decomposition is EXACT:
    ``dot(q, x) = dot(q, c_x) + dot(q, r_x)`` — the score is the coarse
    dot (computed exactly per probed cell) plus the ADC approximation of
    ``dot(q, r_x)``, so the only approximation left is the residual
    quantization itself. Crucially the ADC lookup table is built from the
    RAW quantized query (``part = dot(q_sub, codeword)``), NOT from the
    per-cell query residual: subtracting the probed centroid from the
    query is only valid for L2 ADC, and under inner product it injects a
    per-neighbor bias ``−c·r_x`` that distorts within-cell ranking (when
    residual quantization is exact the score below equals the exact
    integer dot — pinned by a test). A bonus of the correct math: the LUT
    is per-query instead of per-(query, probed-cell), shrinking the
    broadcast by ``nprobe×``. Plan shape matches :func:`ivf_pq_topk`: one
    residual-assign GEMM map pass over the corpus (no shuffle), PQ train/
    encode over residuals (``pre_quantized`` path — residuals are already
    integer), per-query LUT broadcast, candidates only from probed cells,
    one (query, vid) partial-agg sum. Everything is deterministic integer
    arithmetic, so the DuckDB oracle replays the whole build bit-for-bit.
    """
    corpus = screen_embeddings(corpus, validate, id_col=id_col, emb_col=vec_col)
    import numpy as np

    cent_q = corpus.select(
        F.col(id_col).alias("cid"), quantize_embedding(vec_col, scale).alias("cv")
    )
    cent_rows = _collect_centroid_rows(cent_q, n_centroids, None)
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.array([r["cv"] for r in cent_rows], dtype=np.int64)

    def quantized(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
        )

    # corpus: nearest cell + residual, one map pass. Checkpoint it: the
    # residual frame feeds the codebook trainer (eager collects), the
    # encode pass AND the assigned table — without a cache the coarse
    # GEMM kernel re-runs over the whole corpus once per consumer
    # (measured ~6x the tier's wall at sf0.1 — the "one map pass" the
    # docstring promises was running five times). localCheckpoint
    # rather than cache: the returned frame still reads it lazily, and
    # checkpoint blocks release with the RDD instead of pinning the
    # cache registry for the session (the bounded-lifetime convention,
    # same as dedup_clusters' contraction rounds).
    res = quantized(corpus).mapInPandas(
        _coarse_residual_kernel(cent_ids, cent_mat, 1), schema=_RESIDUAL_SCHEMA
    ).localCheckpoint()
    cb = pq_codebooks(
        res, m=m, n_codes=n_codes, id_col="vid", vec_col="rv", pre_quantized=True
    )
    # encode with cid riding along (pre-assigned mode): cid and the PQ
    # codes are row-wise functions of the same checkpointed residual row,
    # so the former codes⋈assigned join on vid only re-shuffled the
    # encoded index to reunite them (_assign_encode_kernel)
    indexed = res.select("vid", "cid", F.col("rv").alias("qv")).mapInPandas(
        _assign_encode_kernel(_collect_codebooks(cb), m),
        schema=_INDEX_ROW_SCHEMA,
    )

    # queries: nprobe cells with the exact coarse dot per probe; the ADC
    # LUT comes from the RAW quantized query (per-query, not per-probe)
    qres = quantized(queries).mapInPandas(
        _coarse_residual_kernel(cent_ids, cent_mat, min(nprobe, len(cent_rows))),
        schema=_RESIDUAL_SCHEMA,
    ).withColumnRenamed("vid", "query_id")
    qv_df = quantized(queries).withColumnRenamed("vid", "query_id")
    sub_w = F.floor(F.size(F.col("qv")) / F.lit(m))
    qsubs = (
        qv_df.select("query_id", "qv", sub_w.alias("sw"))
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("qv"),
            "sw",
        )
        .select(
            "query_id",
            "sub",
            F.slice(
                F.col("qv"),
                (F.col("sub") * F.col("sw") + 1).cast("int"),
                F.col("sw").cast("int"),
            ).alias("sv"),
        )
    )
    lut = qsubs.join(cb, "sub").select(
        "query_id", "sub", "code",
        quantized_dot(F.col("sv"), F.col("cw")).alias("part"),
    )
    probes = qres.select("query_id", "cid", "cdot")
    scored = (
        indexed
        .join(F.broadcast(probes.select("query_id", "cid")), "cid")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .where(F.col("query_id") != F.col("vid"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"), "cid")
        .agg(F.sum("part").alias("radc"), F.count(F.lit(1)).alias("__nsub"))
        .where(F.col("__nsub") == m)
        .join(F.broadcast(probes), ["query_id", "cid"])
        .select(
            "query_id", "neighbor_id", (F.col("cdot") + F.col("radc")).alias("adc")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def pq_index_artifacts(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Train the persistable IVF-PQ index artifacts on a corpus snapshot:
    ``(centroids (cid, cv), codebooks (sub, code, cw))`` — the two small
    tables a deployment writes next to the encoded index. Fixed-k
    everything (:func:`select_seeds`), so artifact size is independent of
    corpus size."""
    cent = select_seeds(
        corpus.select(
            F.col(id_col).alias("cid"), quantize_embedding(vec_col, scale).alias("cv")
        ),
        n_centroids,
        "cid",
    )
    cb = pq_codebooks(
        corpus, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col, scale=scale
    )
    return cent, cb


def pq_index_encode(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Encode vectors against FROZEN index artifacts — the incremental
    ingest path: new data arriving after the index build gets its coarse
    cell + PQ codes from the persisted centroid/codebook tables, with NO
    retraining and no touch of the already-encoded corpus. Returns
    ``(vec_id, cid, sub, code)``, long-form like
    :func:`build_embedding_index`.

    Determinism matters here twice: encode(new | artifacts) must equal
    what a full rebuild would have produced for those rows given the same
    artifacts (replayable ingest), and both halves are exact integer
    arithmetic, so the SQL oracle can replay train-on-snapshot +
    encode-all bit-for-bit. One GEMM map pass per stage; the only
    collected state is the O(k) artifacts themselves.
    """
    import numpy as np

    cent_rows = sorted(centroids.select("cid", "cv").collect(), key=lambda r: r["cid"])
    cent_ids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.array([r["cv"] for r in cent_rows], dtype=np.int64)
    q = vectors.select(
        F.col(id_col).alias("vid"), quantize_embedding(vec_col, scale).alias("qv")
    )
    # fused coarse-assign + PQ-encode against the frozen artifacts: ONE
    # map pass over the new vectors instead of two passes re-joined on
    # vid (_assign_encode_kernel; the artifacts are collected either way)
    indexed = q.mapInPandas(
        _assign_encode_kernel(_collect_codebooks(codebooks), m, cent_ids, cent_mat),
        schema=_INDEX_ROW_SCHEMA,
    )
    return indexed.select(F.col("vid").alias(id_col), "cid", "sub", "code")


def stream_index_encode(
    spark,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    schema: str = "vec_id long, embedding array<float>",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    available_now: bool = True,
):
    """Streaming ingest into a frozen-artifact PQ index: a file stream of
    vector batches is coarse-assigned + PQ-encoded against the PERSISTED
    centroid/codebook artifacts (``foreachBatch``; no retraining ever)
    and appended to the index parquet — the continuous counterpart of
    :func:`pq_index_encode`, completing the same batch/streaming pairing
    the dedup side has (``incremental_dedup`` / ``stream_incremental_dedup``).

    Restart safety: the checkpoint replays an in-flight batch after a
    crash landed some rows; encoding is a pure function of (vector,
    artifacts), so a replay would append byte-identical rows — the
    anti-join on ``vec_id`` against the existing index makes the append
    idempotent instead of duplicated. Per batch: one O(k) artifact
    collect, one fused assign+encode GEMM map pass over the batch
    (``pq_index_encode``), one id anti-join against the index's id
    column (columnar scan of ids only).
    """
    import os

    os.makedirs(index_dir, exist_ok=True)

    def encode_batch(batch: DataFrame, batch_id: int) -> None:
        with cache_scope():
            b = cache(batch)
            if b.isEmpty():
                return
            spark_l = b.sparkSession
            enc = pq_index_encode(
                b, centroids, codebooks, m=m,
                id_col=id_col, vec_col=vec_col, scale=scale,
            )
            # Only a missing/not-yet-created index may skip the anti-join
            # (AnalysisException: path absent or no parquet files to infer
            # a schema from). Any OTHER read failure — corrupt footer,
            # permissions, FS hiccup — must fail the batch so the
            # checkpoint retries it; swallowing those would silently
            # disable dedup exactly during crash replay.
            try:
                existing = spark_l.read.parquet(index_dir).select(id_col).distinct()
            except AnalysisException:
                existing = None
            if existing is not None:
                enc = enc.join(existing, [id_col], "left_anti")
            enc = cache(enc)
            if not enc.isEmpty():
                enc.write.mode("append").parquet(index_dir)

    stream = spark.readStream.schema(schema).parquet(source_dir)
    writer = stream.writeStream.foreachBatch(encode_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
