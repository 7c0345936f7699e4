"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure native column expressions (whole-stage codegen, no
Python on the hot path): token stats, quality scoring, stopword-based
language id, canonical fingerprinting, and word n-gram shingling.

Determinism contract: each operator has an exactly-equivalent ANSI-SQL
formulation (see queries.py oracles) — integer counts and single-expression
double arithmetic only, so results are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import cache

# Tiny per-language stopword inventories for the n-gram/stopword heuristic.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "das", "und", "ist"],
}
EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


# GPT-2-style pre-tokenizer classes, restricted to the regex subset that
# Java (Spark) and RE2-ish engines (DuckDB) evaluate identically: letter
# runs, digit runs, single non-alnum-non-space marks. No lookarounds, no
# \p classes — dialect-portable by construction, so the oracle can count
# the same matches.
PRETOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def add_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = tokens_col(text_col)
    return df.withColumns(
        {
            "n_tokens": F.size(toks),
            "n_chars_calc": F.length(F.col(text_col)),
            # BPE-ish subword estimate: ~1 token per 4 chars, floor at word count
            "n_tokens_bpe": F.greatest(
                F.size(toks), (F.length(F.col(text_col)) / F.lit(4)).cast("int")
            ),
            # regex pre-tokenizer count (the BPE front-end's unit): letter
            # runs / digit runs / punctuation marks, before subword merges
            "n_pretokens": F.size(
                F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_RE), F.lit(0))
            ),
        }
    )


def _count_in(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def add_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality score: stopword ratio + length saturation (deterministic)."""
    # token array projected once (see add_repetition_stats for why)
    d = df.withColumn("__toks", tokens_col(text_col))
    toks = F.col("__toks")
    n = F.size(toks)
    n_stop = _count_in(toks, EN_STOPWORDS)
    ratio = n_stop.cast("double") / n.cast("double")
    length_sat = F.least(n, F.lit(100)).cast("double") / F.lit(200.0)
    return d.withColumns(
        {
            "n_tokens": n,
            "n_stopwords": n_stop,
            "stop_ratio": F.round(ratio, 6),
            "quality": F.round(ratio * F.lit(0.5) + length_sat, 6),
        }
    ).drop("__toks")


def add_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language id with deterministic tie order en>es>fr>de."""
    # token array projected once: each score is referenced ~3x (greatest +
    # when-chain) and Catalyst won't CSE the split through filter lambdas
    toks = F.col("__toks")
    scores = {lang: _count_in(toks, words) for lang, words in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in ["en", "es", "fr", "de"]:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return (
        df.withColumn("__toks", tokens_col(text_col))
        .withColumn("lang_pred", pred)
        .drop("__toks")
    )


def add_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 of lower/trim/space-collapsed text."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), " +", " ")))
    return df.withColumn("fingerprint", F.md5(norm))


def vocabulary(
    df: DataFrame, top_k: int = 100, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by total occurrence count.

    One explode + one partial-aggregatable groupBy; the top-k is a single
    driver-side limit over the (tiny) aggregated table — at 100 TB the
    aggregate output is |vocab|, not |corpus|. Deterministic tie-break on
    the token string.
    """
    toks = df.select(F.explode(tokens_col(text_col)).alias("token"))
    counts = (
        toks.where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("token"))
        .limit(top_k)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("token"))),
        )
        .select("rank", "token", "n")
    )


def add_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1 —
    repetitious documents are low-quality training data):

    * ``top_token_frac`` — occurrences of the most frequent token / total
      tokens (boilerplate and keyword-stuffed docs score high);
    * ``dup_bigram_frac`` — 1 - distinct/total word bigrams (internal
      phrase repetition).

    Pure array expressions per document — no explode, no shuffle, stays in
    whole-stage codegen; at 100 TB this is a map-only pass.
    """
    # Project the token array once: Catalyst does not common-subexpression
    # eliminate an inline split through higher-order-function lambdas, so
    # every reference (and every downstream filter that collapses onto
    # these columns) would re-split the text.
    d = df.withColumn("__toks", tokens_col(text_col))
    toks = F.col("__toks")
    n = F.size(toks)
    # most-frequent-token count = longest equal run of the SORTED token
    # array (sort + one linear aggregate scan, O(n log n) per doc). The
    # naive distinct x filter form is O(distinct x n) with an array
    # allocation per distinct token — measured 16x slower at sf0.1, and
    # Catalyst's projection collapse duplicates whichever expression the
    # downstream filter chain references, multiplying the cost again.
    sorted_toks = F.array_sort(toks)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _step(acc, x):
        nrun = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            nrun.alias("run"),
            F.greatest(acc["best"], nrun).alias("best"),
        )

    top_cnt = F.aggregate(sorted_toks, acc0, _step, lambda acc: acc["best"])
    # bigram pairs via ONE arrays_zip of two slices — building "a b"
    # strings inside a transform lambda re-evaluates the token split per
    # element (O(n^2) splits/doc; measured 3-4x slower at sf0.1). Pair
    # distinctness == string-bigram distinctness because tokens cannot
    # contain the separator. Distinct count = runs of the sorted pairs,
    # again in one aggregate pass.
    bi = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("a"), F.slice(toks, 2, n - 1).alias("b")
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    n_bi = F.size(bi)
    bacc0 = F.struct(
        F.lit(None).cast("string").alias("pa"),
        F.lit(None).cast("string").alias("pb"),
        F.lit(0).alias("cnt"),
    )

    def _bstep(acc, x):
        same = (x["a"] == acc["pa"]) & (x["b"] == acc["pb"])
        return F.struct(
            x["a"].alias("pa"),
            x["b"].alias("pb"),
            (acc["cnt"] + F.when(same, 0).otherwise(1)).alias("cnt"),
        )

    n_distinct_bi = F.aggregate(
        F.array_sort(bi), bacc0, _bstep, lambda acc: acc["cnt"]
    )
    return d.withColumns(
        {
            "n_tokens": n,
            "top_token_frac": F.round(top_cnt.cast("double") / n.cast("double"), 6),
            "dup_bigram_frac": F.when(
                n_bi > 0,
                F.round(
                    F.lit(1.0)
                    - n_distinct_bi.cast("double") / n_bi.cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        }
    ).drop("__toks")


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    min_common: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_common`` distinct word ``n``-grams with a benchmark document —
    the standard train/test-overlap check run before training (the same
    inverted-index join shape as n-gram Jaccard, so the scale posture is
    identical: shuffle on the shingle key, hot shingles capped upstream).

    Returns ``(doc_id, bench_id, n_common)`` per contaminated pair.
    """
    c = shingles(corpus.select(id_col, "text"), n=n)
    b = shingles(benchmark.select(id_col, "text"), n=n).withColumnRenamed(
        id_col, "bench_id"
    )
    return (
        c.join(b, "shingle")
        .where(F.col(id_col) != F.col("bench_id"))
        .groupBy(id_col, "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    denom: int = 10_000,
) -> DataFrame:
    """Deterministic stratified down-sampling for dataset mixing: keep a
    document iff ``h31(id) % denom < rate(stratum) * denom`` — the
    hash-based Bernoulli sample every mixture pipeline uses so reruns,
    engines and partitionings agree row-for-row (no RNG state). Map-only.
    """
    from .dedup import h31

    rate = F.lit(float(default_rate))
    for k, v in rates.items():
        rate = F.when(F.col(stratum_col) == k, F.lit(float(v))).otherwise(rate)
    keep = (h31(F.col(id_col).cast("string")) % F.lit(denom)).cast("double") < (
        rate * F.lit(float(denom))
    )
    return df.where(keep)


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Sequence packing for training-example assembly: assign documents to
    fixed token-budget bins by *contiguous cumulative-sum packing* — docs
    in id order pack into a bin until the running token total crosses the
    budget (a bin may overflow by its last doc, the standard streaming
    packer trade). Deterministic and order-stable, so reruns and engines
    agree.

    The global running sum is a **two-pass distributed prefix sum**, not a
    partition-less window (which funnels the whole corpus through one
    WindowExec task):

    1. bucket docs by deterministic id-range boundaries (approxQuantile of
       the id — fixed literals, so retries/recomputes agree), then one
       map-side-combinable aggregate yields per-bucket token totals;
    2. the tiny totals (``n_buckets`` rows) are prefix-summed on the
       driver and rejoined as a literal map, while the per-bucket cumsum
       runs as a ``Window.partitionBy(bucket)`` — every bucket is an
       independent task, so the plan scales with the cluster.

    Non-numeric id columns (no quantile support) take the same two-pass
    shape with boundaries from a deterministic hash-thinned sample of the
    ids (keep ids where ``xxhash64(id) % p == 0`` — a pure function of
    the value, so retries/recomputes agree; ~32 candidates per bucket
    reach the driver, every k-th becomes a boundary). Boundary *balance*
    is approximate but bucket order is exact for any boundary choice:
    ``bucket(id) = |{b : b <= id}|`` is monotone in the engine's own
    ordering. Only an (effectively empty) input still uses the single
    global window.

    Output: ``(doc_id, n_tokens, bin_id, bin_offset)`` where bin_offset is
    the token offset of the doc inside its bin.
    """
    spark = df.sparkSession
    toks = F.size(tokens_col(text_col))
    # Materialize the tiny (id, n_tokens) projection ONCE: the boundary
    # quantiles, the per-bucket totals, and the final plan each execute
    # their input, so without this the caller's upstream (possibly a whole
    # quality->dedup->sample pipeline) runs three times — measured 2x the
    # composed pipeline's wall clock. localCheckpoint truncates the
    # lineage to the 16-byte-per-doc projection.
    base = df.select(id_col, toks.alias("n_tokens")).localCheckpoint()

    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32") or 32)
    bkt = None
    if n_buckets > 1:
        try:
            qs = [i / n_buckets for i in range(1, n_buckets)]
            bounds = sorted(set(base.stat.approxQuantile(id_col, qs, 0.001)))
            if bounds:
                barr = F.array(*[F.lit(float(b)) for b in bounds])
                idd = F.col(id_col).cast("double")
                # cast→double is monotone in the id, so bucket order == id
                # order; ties at a boundary land in one bucket and sort by
                # id inside it.
                bkt = F.size(F.filter(barr, lambda b: b <= idd))
        except Exception:
            # non-numeric id: boundaries from a deterministic hash-thinned
            # sample (pure function of the value — no RNG state, retries
            # agree), every k-th candidate becomes a boundary. Any
            # boundary choice keeps bucket order exact (see docstring).
            n = base.count()
            if n > n_buckets:
                p = max(1, n // (n_buckets * 32))
                cand = sorted(
                    r[0]
                    for r in base.where(
                        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(p)) == 0
                    )
                    .select(id_col)
                    .collect()
                )
                step = max(1, len(cand) // n_buckets)
                gbounds = sorted(set(cand[step::step]))[: n_buckets - 1]
                if gbounds:
                    garr = F.array(*[F.lit(b) for b in gbounds])
                    bkt = F.size(F.filter(garr, lambda b: b <= F.col(id_col)))

    if bkt is None:
        w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
        prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        bucketed = base
    else:
        bucketed = base.withColumn("__bkt", bkt)

        # pass 1: per-bucket totals (partial-agg shuffle of n_buckets rows)
        totals = bucketed.groupBy("__bkt").agg(F.sum("n_tokens").alias("__tot")).collect()
        offs: dict[int, int] = {}
        acc = 0
        for r in sorted(totals, key=lambda r: r["__bkt"]):
            offs[int(r["__bkt"])] = acc
            acc += int(r["__tot"] or 0)

        # pass 2: per-bucket cumsum + driver-computed bucket offset
        wloc = (
            Window.partitionBy("__bkt")
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prev = F.coalesce(F.sum("n_tokens").over(wloc), F.lit(0))
        if offs:
            om = F.create_map(*[F.lit(x) for kv in offs.items() for x in kv])
            prev = prev + F.coalesce(om[F.col("__bkt")], F.lit(0))

    return (
        bucketed.withColumn("__prev", prev)
        .select(
            id_col,
            "n_tokens",
            F.floor(F.col("__prev") / F.lit(budget)).cast("long").alias("bin_id"),
            (F.col("__prev") % F.lit(budget)).cast("long").alias("bin_offset"),
        )
    )


def stratified_take(
    df: DataFrame,
    targets: dict[str, int],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    denom: int = 10_000,
    safety: int = 4,
    exact: bool = False,
) -> DataFrame:
    """Exact per-stratum target-COUNT sampling (the companion to the
    rate-based ``stratified_sample``): keep exactly ``targets[stratum]``
    documents per stratum, chosen deterministically by the portable id
    hash so reruns and engines agree row-for-row.

    The rank key is ``(b, id)`` with ``b = h31(id) % denom``. Two paths:

    * ``exact=True`` — one ``row_number`` window per full stratum. Correct
      anywhere, but the per-stratum sort funnels each stratum through one
      reducer: fine to ~1e8 rows/stratum, a skew wall at 100 TB.
    * default (scale path) — a tiny per-stratum count aggregate derives a
      hash cutoff ``ceil(denom * safety * target / n)``; the corpus is
      pre-filtered map-only to ``b < cutoff`` (~``safety x target`` rows
      per stratum survive) and only the survivors are ranked. The window
      input is O(targets), not O(corpus). Because the rank key's primary
      component IS ``b``, the pre-filter is rank-aligned: it can only
      undershoot if the stratum's kept-hash density is ``safety`` x below
      uniform (vanishing for ``safety >= 4`` and targets >= ~20); the
      algorithm (including any undershoot) is deterministic either way.
    """
    from .dedup import h31

    tgt = F.lit(0)
    for k, v in targets.items():
        tgt = F.when(F.col(stratum_col) == k, F.lit(int(v))).otherwise(tgt)
    b = (h31(F.col(id_col).cast("string")) % F.lit(denom)).alias("__b")
    d = df.withColumn("__b", b).withColumn("__tgt", tgt).where(F.col("__tgt") > 0)
    if not exact:
        counts = d.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
        d = d.join(F.broadcast(counts), stratum_col)
        cutoff = F.least(
            F.lit(denom).cast("long"),
            ((F.lit(denom * safety) * F.col("__tgt") + F.col("__n") - 1) / F.col("__n"))
            .cast("long"),
        )
        d = d.where(F.col("__b") < cutoff).drop("__n")
    w = Window.partitionBy(stratum_col).orderBy("__b", id_col)
    return (
        d.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= F.col("__tgt"))
        .drop("__b", "__tgt", "__rk")
    )


def apply_quality_filters(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 15,
    max_tokens: int = 90,
    min_stop_ratio: float = 0.01,
    max_top_token_frac: float = 0.18,
    max_dup_bigram_frac: float = 0.15,
) -> DataFrame:
    """C4/Gopher-style quality filter chain (Raffel et al. 2020 §2.2,
    Rae et al. 2021 §A1.1): length bounds, stopword floor, repetition
    ceilings. Adds ``keep`` (boolean) and ``reject_reason`` (first failing
    rule, null when kept) so drop-rate dashboards get per-rule attribution.

    All signals are the deterministic ``round(..., 6)`` columns from
    ``add_quality``/``add_repetition_stats`` — comparisons are bit-stable
    across engines. Map-only pass; at 100 TB this fuses into the scan.
    """
    d = add_repetition_stats(add_quality(df, text_col), text_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("n_tokens") > max_tokens, F.lit("too_long"))
        .when(F.col("stop_ratio") < min_stop_ratio, F.lit("low_stopword"))
        .when(F.col("top_token_frac") > max_top_token_frac, F.lit("repetitive_token"))
        .when(F.col("dup_bigram_frac") > max_dup_bigram_frac, F.lit("repetitive_bigram"))
    )
    return d.withColumn("reject_reason", reason).withColumn(
        "keep", F.col("reject_reason").isNull()
    )


def mixture_weights(
    df: DataFrame,
    target_shares: dict[str, float],
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture reweighting: per-source token mass vs a target share
    gives the sampling weight ``target_share / actual_share`` a mixing
    pipeline feeds into ``stratified_sample`` rates (sources absent from
    ``target_shares`` get weight 0 — dropped from the mix).

    One partial-aggregatable groupBy over the corpus; the share/weight
    arithmetic runs on the |sources|-row aggregate, so the window below is
    driver-cheap at any scale.
    """
    tgt = F.lit(0.0)
    for k, v in target_shares.items():
        tgt = F.when(F.col(stratum_col) == k, F.lit(float(v))).otherwise(tgt)
    agg = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col(text_col))).alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    share = F.col("n_tokens").cast("double") / total.cast("double")
    return (
        agg.withColumn("actual_share", F.round(share, 6))
        .withColumn("target_share", tgt)
        .withColumn(
            "weight",
            F.when(F.col("actual_share") > 0, F.round(tgt / F.col("actual_share"), 6))
            .otherwise(F.lit(0.0)),
        )
    )


def exact_substring_pairs(
    df: DataFrame,
    k: int = 20,
    stride: int = 5,
    min_common: int = 2,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring near-dup pairs (the detection half of Lee et al.
    2021's ExactSubstr dedup): two documents are flagged when they share at
    least ``min_common`` distinct ``k``-character grams sampled every
    ``stride`` chars. Character-level, so it catches copy-paste overlap
    that word-shingle Jaccard dilutes.

    Same inverted-index shape (and scale posture) as ``ngram_jaccard_pairs``:
    explode grams, self-join on the gram key, count per pair. ``max_df``
    drops grams appearing in more than that many documents — boilerplate
    grams are d^2 candidate explosions at 100 TB, so cap them in any
    at-scale run (the cap drops only pairs whose every shared gram is
    boilerplate, the standard trade).
    """
    t = F.col(text_col)
    pos = F.when(
        F.length(t) >= F.lit(k),
        F.sequence(F.lit(1), F.length(t) - F.lit(k - 1), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(pos, lambda i: t.substr(i, F.lit(k)))
    # per-doc set semantics map-side (array_distinct) — no dedup shuffle
    g = df.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("gram"))
    if max_df is not None:
        freq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
        g = g.join(freq.where(F.col("__df") <= max_df).select("gram"), "gram")
    a = g.select(F.col(id_col).alias("doc_a"), "gram")
    bd = g.select(F.col(id_col).alias("doc_b"), "gram")
    return (
        a.join(bd, "gram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


# (label, pattern, replacement) triples. Patterns are deliberately within
# the common subset of Java regex (Spark) and RE2 (DuckDB/ripgrep) — no
# backrefs, no lookaround — so oracles and engines agree byte-for-byte.
DEFAULT_REDACTIONS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("number", "[0-9]+", "<NUM>"),
)


def redact_patterns(
    df: DataFrame,
    patterns: tuple[tuple[str, str, str], ...] = DEFAULT_REDACTIONS,
    text_col: str = "text",
    out_col: str = "redacted",
) -> DataFrame:
    """PII / pattern scrubbing: apply each ``(label, regex, token)`` rule in
    order with a global ``regexp_replace``, and record ``n_<label>`` match
    counts (pre-replacement) for scrub-rate reporting. Earlier rules mask
    later ones exactly as in a sequential scrubber (an email's digits are
    already ``<EMAIL>`` when the number rule runs).

    Pure native expressions — map-only, whole-stage codegen, no shuffle.
    """
    out = F.col(text_col)
    counts: dict[str, Column] = {}
    for label, pat, repl in patterns:
        counts[f"n_{label}"] = F.size(F.regexp_extract_all(out, F.lit(pat), F.lit(0)))
        out = F.regexp_replace(out, pat, repl)
    return df.withColumns({**counts, out_col: out})


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent id
    hash — the standard leakage-safe dataset split: stable across runs,
    engines and partitionings (portable md5-based hash, no RNG state).
    """
    from .dedup import h31

    bucket = h31(F.col(id_col).cast("string")) % F.lit(100)
    split = (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)



def shingle_array(toks: Column, n: int) -> Column:
    """Word n-gram shingle ARRAY of a (projected) token-array column.
    Guard short documents: sequence(0, size-n) steps DOWNWARD when
    size < n (negative slice indices abort the job); a doc with fewer
    than n tokens has no n-shingles, so emit the empty array."""
    return F.when(
        F.size(toks) >= F.lit(n),
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    out: str = "shingle",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles, exploded to one row per (doc, shingle).

    Native: split + sequence + transform + explode — no UDF.
    ``distinct=True`` dedups per (doc, shingle) — REQUIRED for set-semantic
    consumers (Jaccard). The dedup is *per document*, so it runs map-side
    as ``array_distinct`` on the shingle array BEFORE the explode — zero
    shuffle, unlike a post-explode dropDuplicates which exchanges the
    whole (doc, shingle) stream. Duplicate-insensitive consumers
    (min-aggregation in MinHash) pass ``distinct=False`` and skip even
    the in-array pass.
    """
    # Project the token array as a REAL column before the per-element
    # lambda: an inline split expression is re-evaluated for every
    # sequence element (Catalyst does not CSE through higher-order
    # functions) — O(n^2) splits per doc, measured 4x slower at sf0.1.
    toks = F.col("__toks")
    sh = shingle_array(toks, n)
    return (
        df.withColumn("__toks", tokens_col(text_col))
        .withColumn(out, F.explode(F.array_distinct(sh) if distinct else sh))
        .drop(text_col, "__toks")
    )


def bpe_pair_counts(
    df: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """One round of BPE merge-candidate counting: adjacent character-pair
    frequencies across the corpus, weighted by word frequency.

    The classic tokenizer-training shape: the corpus first collapses to a
    (word, count) table — pair counting then touches |vocab| rows instead
    of |corpus| tokens (at 100 TB the vocabulary is millions of rows while
    the token stream is trillions). Both steps are native: groupBy word,
    explode char bigrams via sequence+transform, sum counts. Returns the
    ``top_k`` merge candidates by count (pair ascending on ties) — the
    iterative merge loop applies this operator once per merge with the
    winning pair folded into the symbol table (driver-side loop, one tiny
    job per round; the per-round cost is this query's plan).
    """
    w = F.col("w")
    wc = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # substr is 1-based; pair i = (char i, char i+1)
    bigrams = F.when(
        F.length(w) >= F.lit(2),
        F.transform(
            F.sequence(F.lit(1), F.length(w) - F.lit(1)),
            lambda i: F.struct(
                w.substr(i, F.lit(1)).alias("a"), w.substr(i + F.lit(1), F.lit(1)).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        wc.select("cnt", F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(top_k)
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranking of documents against a fixed query-term list — fully
    native: per-doc term frequencies via ``size(filter(tokens))``, corpus
    stats (N, avgdl, per-term document frequency) in one tiny aggregate
    broadcast back, Robertson/Sparck-Jones idf ``ln(1 + (N-df+.5)/(df+.5))``.

    Every tf is computed in-row (no explode, no per-term shuffle); the
    stats frame is a single row — the join is a broadcast nested loop of
    width 1. The tokenized projection feeds two plan branches (the stats
    aggregate and the scoring scan), so without materialization the
    corpus would be tokenized twice; ``base`` is therefore cached
    (:func:`~.cache.cache`) — it is the NARROW projection (id, doc
    length, one int per query term; the token array is dropped before
    caching), so the cached footprint is bytes per doc, spilling to disk
    past memory. Scale: O(|corpus|) map work + one 1-row agg, corpus
    tokenized once.
    """
    toks = F.col("__toks")
    tf_cols = {
        f"__tf_{i}": F.size(F.filter(toks, lambda x: x == F.lit(t)))
        for i, t in enumerate(query_terms)
    }
    base = cache(
        df.select(id_col, tokens_col(text_col).alias("__toks"))
        .withColumn("__dl", F.size(toks))
        .withColumns(tf_cols)
        .drop("__toks")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        dfreq = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        term = idf * (
            tf
            * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")))
        )
        score = term if score is None else score + term
    return (
        scored.select(id_col, F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), id_col)
        .limit(top_k)
    )


def train_order(
    df: DataFrame,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every document a
    ``(bucket, rk)`` position from the portable id hash. Training readers
    consume buckets 0..n-1 in order, rows within a bucket by ``rk`` — a
    reproducible pseudo-random permutation with no RNG state, identical
    across engines, partitionings, and reruns.

    Scale posture: bucketing is map-only; the ``row_number`` window sorts
    WITHIN each bucket only (corpus/n_buckets rows per reducer — pick
    n_buckets so a bucket fits one task), never a global single-reducer
    sort. A global ordinal, if needed, is ``rk``-within-bucket plus the
    (tiny, broadcastable) per-bucket count prefix sum.
    """
    from .dedup import h31

    h = h31(F.col(id_col).cast("string"))
    d = df.withColumn("__h", h).withColumn(
        "bucket", (F.col("__h") % F.lit(n_buckets)).cast("int")
    )
    w = Window.partitionBy("bucket").orderBy("__h", id_col)
    return d.withColumn("rk", F.row_number().over(w)).drop("__h")


def length_quantiles(
    df: DataFrame,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum token-length distribution: exact interpolated quantiles
    (Spark ``percentile`` == ANSI ``percentile_cont`` == DuckDB
    ``quantile_cont``: linear interpolation at index ``p*(n-1)``), plus doc
    count and mean — the corpus-profiling step that drives sequence-length
    budgeting and truncation policy.

    One shuffle (groupBy stratum); exact percentile keeps per-group values
    in the reducer — fine to ~1e8 docs/stratum. At 100 TB swap in
    ``percentile_approx`` (t-digest sketch, map-side combinable) — kept
    exact here because the oracle must match bit-for-bit.
    """
    n = F.size(tokens_col(text_col)).cast("double")
    d = df.select(F.col(stratum_col), n.alias("__n"))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("__n"), 6).alias("mean_tokens"),
    ]
    for p in probs:
        aggs.append(
            F.round(F.expr(f"percentile(__n, {p!r})"), 6).alias(
                f"p{str(p).replace('0.', '').ljust(2, '0')}"
            )
        )
    return d.groupBy(stratum_col).agg(*aggs)


def ngram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram corpus-frequency scoring (the integer-exact core of an
    n-gram LM quality signal): each document's bigrams are scored by
    their corpus-wide counts; low mean frequency marks novel-or-noisy
    text, high marks templated text. Counts stay integers end-to-end
    (one rounded division at the very end), so the result is
    bit-portable — no float log-prob summation-order hazards.

    Shape: one bigram count aggregation over the corpus (map-side
    combinable), one join of doc bigrams to counts (hot boilerplate
    bigrams are the skew; cap or salt at scale), one per-doc sum.
    """
    toks = F.col("__toks")  # projected once — see shingles() for why
    bi = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(2)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = df.withColumn("__toks", tokens_col(text_col)).select(
        F.col(id_col), F.explode(bi).alias("bigram")
    )
    counts = ex.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        ex.join(counts, "bigram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("sum_freq"),
        )
    )
    return per_doc.withColumn(
        "mean_freq",
        F.round(F.col("sum_freq").cast("double") / F.col("n_bigrams"), 6),
    )


def length_histogram(
    df: DataFrame,
    bucket_width: int = 10,
    n_buckets: int = 10,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum token-length histogram with fixed-width buckets
    (``bucket = min(n_tokens div width, n_buckets-1)``, i.e. the last
    bucket absorbs the tail) — the fixed-cardinality companion to
    :func:`length_quantiles` for dashboard-shaped profiling.

    One map pass + one groupBy whose key space is |strata| x n_buckets;
    partial aggregation collapses each task to at most that many rows, so
    the plan is corpus-size-independent after the scan.
    """
    n = F.size(tokens_col(text_col))
    b = F.least(n / F.lit(bucket_width), F.lit(n_buckets - 1)).cast("long")
    return (
        df.select(F.col(stratum_col), b.alias("bucket"))
        .groupBy(stratum_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k terms by smoothed TF-IDF
    (``tf * (ln((N+1)/(df+1)) + 1)``, the scikit-learn smoothing) —
    the classic keyword-extraction / relevance-feature step.

    Plan: (doc, term) count (tf) in one explode+partial-agg pass;
    document frequency is declared as ``tf.groupBy(term).count`` —
    Catalyst plans it as a second partial-agg-collapsed pass over the
    token stream rather than reusing the tf exchange, which is the
    intended trade: both passes combine map-side and stay SKEW-SAFE,
    whereas the one-pass alternative (``count over Window.partitionBy
    (term)``) funnels every occurrence of a hot stopword through one
    task. The per-doc table then joins the |vocab|-row df table (AQE
    broadcasts it when it fits; at trillion-token scale it becomes a
    shuffle join on the term key, which is the right plan), and a
    per-doc window takes the top-k (WindowGroupLimit prunes map-side).
    Ties break (score desc, term asc) — bit-stable against the SQL
    oracle since the score is rounded after a fixed expression tree.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_corpus"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_corpus") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score")
    )



def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping substitution of the adjacent pair
    ``(a, b)`` by the merged symbol ``a+b`` — the BPE application step as
    one native fold: merge when the accumulator tail is ``a`` AND that
    tail was not itself just produced by a merge this pass (tracked in
    ``m``). Shared by the trainer (one fold per round over the vocab) and
    the encoder (one fold per learned merge over each word)."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(False).alias("m"),
        ),
        lambda st, s: F.when(
            (F.size(st["acc"]) > 0)
            & ~st["m"]
            & (F.element_at(st["acc"], -1) == la)
            & (s == lb),
            F.struct(
                F.concat(
                    F.slice(st["acc"], 1, F.size(st["acc"]) - 1),
                    F.array(F.concat(la, lb)),
                ).alias("acc"),
                F.lit(True).alias("m"),
            ),
        ).otherwise(
            F.struct(
                F.concat(st["acc"], F.array(s)).alias("acc"),
                F.lit(False).alias("m"),
            )
        ),
        lambda st: st["acc"],
    )


def _bpe_fold_local(syms: list[str], a: str, b: str) -> list[str]:
    """Driver-side mirror of :func:`_merge_fold` — left-to-right
    non-overlapping substitution of adjacent ``(a, b)`` by ``a+b``.
    Semantics must stay bit-identical to the Spark fold (the ``m`` flag
    blocks a merge whose left symbol was itself just produced)."""
    acc: list[str] = []
    m = False
    ab = a + b
    for s in syms:
        if acc and not m and acc[-1] == a and s == b:
            acc[-1] = ab
            m = True
        else:
            acc.append(s)
            m = False
    return acc


def _bpe_train_local(
    vocab: list[tuple[list[str], int]], n_merges: int, batch: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side mirror of the distributed merge loop: same pair
    counting (every adjacent occurrence, weighted by word count), same
    argmax order (n desc, a asc, b asc — Python str comparison equals
    Spark's UTF8 binary order for valid Unicode: UTF-8 byte order
    preserves code-point order), same batch>1 greedy compatibility
    selection INCLUDING the 4*want+8 candidate truncation, same fold."""
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        top = sorted(
            ((n, a, b) for (a, b), n in counts.items()),
            key=lambda t: (-t[0], t[1], t[2]),
        )[: 1 if want == 1 else 4 * want + 8]
        selected: list[tuple[str, str, int]] = []
        used_syms: set[str] = set()
        created: set[str] = set()
        for n, a, b in top:
            if len(selected) >= want:
                break
            if {a, b} & (used_syms | created) or (a + b) in used_syms:
                continue
            selected.append((a, b, n))
            used_syms |= {a, b}
            created.add(a + b)
        if not selected:
            break
        for a, b, n in selected:
            merges.append((len(merges), a, b, n))
            vocab = [(_bpe_fold_local(s, a, b), c) for s, c in vocab]
    return merges


def bpe_train(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    batch: int = 1,
    local_max_vocab: int | None = 1 << 17,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus — the REAL iterative
    tokenizer-training loop whose single round :func:`bpe_pair_counts`
    exposes. Returns the learned merge table ``(step, a, b, n)`` in merge
    order (the artifact a tokenizer ships).

    Shape (mirrors how production BPE trainers distribute): the corpus
    collapses ONCE to a ``(word, count)`` vocabulary — all further rounds
    touch |vocab| rows, never the corpus. Each round is (1) a pair-count
    aggregate over the symbolized vocab, (2) a 1-row argmax collect
    (count desc, pair asc — the deterministic tiebreak), (3) a native
    left-to-right fold (``F.aggregate``) that replaces non-overlapping
    ``(a,b)`` adjacencies with the merged symbol, (4) ``localCheckpoint``
    so the lazy plan doesn't nest rounds exponentially. The driver loop
    is metadata-plane: one tiny job per merge, exactly like the
    reference-scale trainers' "count, pick, substitute" rounds.

    ``local_max_vocab``: when the collapsed vocabulary has at most this
    many rows, the merge rounds run on the DRIVER over the collected
    (syms, cnt) table — zero per-round Spark jobs, bit-identical results
    (the counting/argmax/fold are exact mirrors, differential-tested).
    This is the production trainer shape: count distributed, merge
    locally. ``None`` forces the distributed rounds at any size.

    ``batch`` is the standard distributed-BPE scale knob: per driver
    round, the top-``batch`` mutually NON-INTERACTING pairs (no shared
    symbol, and no symbol equal to another selection's merged string) are
    selected from ONE aggregate and applied as chained folds in ONE job —
    cutting driver round-trips and full pair-table recomputes by ~batch×
    (the fix for the at-scale cost shape: a 32k-merge vocab at batch=32
    is 1k Spark jobs, not 32k). ``batch=1`` (the default and the gate
    path) is exactly sequential BPE. For ``batch>1`` the merge LIST can
    deviate from strict sequential BPE in one bounded way: a pair created
    by an earlier same-round merge could, under strict BPE, have
    outranked a later same-round selection; recorded ``n`` values are the
    pre-round counts. First-selection-per-round is always the strict
    argmax.

    The gate oracle unrolls the fixed merge count as chained SQL CTEs
    (queries._bpe_cte_chain), so the row is hash-gated;
    ``tests/test_text.py`` pins a hand-computed example.
    """
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    wc = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("syms", F.split(F.col("w"), ""))
        .select("syms", "cnt")
        .localCheckpoint()
    )
    # size the vocab layout to the vocab, not to the corpus shuffle
    # setting: every round re-reads this frame twice, and a 32-partition
    # layout around a few-thousand-row vocab makes each round pay 2x32
    # task launches of scheduler overhead (measured ~4x the trainer's
    # wall-clock at gate sizes). ~64k rows per partition keeps a
    # million-word vocab parallel while tiny vocabs run single-task.
    n_vocab = wc.count()
    spark = df.sparkSession
    if local_max_vocab is not None and n_vocab <= local_max_vocab:
        # LOCAL merge loop (r12): the corpus has already collapsed to the
        # bounded (word, count) vocabulary — the artifact every production
        # BPE trainer builds distributed and then merges over LOCALLY
        # (HF tokenizers / SentencePiece shape). Collecting it once costs
        # one job over ≤ local_max_vocab narrow rows (the per-round argmax
        # collects the old loop did 8x were the same data plane, sliced
        # thinner); the merge rounds then run with ZERO per-round Spark
        # jobs instead of one aggregate + periodic checkpoint each
        # (measured r12: text_bpe_train 2.74 → ~1.3 s at sf0.1, ~14 jobs
        # → 4). Results are bit-identical (same counting, same argmax
        # tiebreak, same fold; differential-tested both paths + the
        # oracle's unrolled CTE chain). Above the threshold the
        # distributed rounds below remain the at-scale path.
        vocab_rows = [(list(r["syms"]), r["cnt"]) for r in wc.collect()]
        merges_local = _bpe_train_local(vocab_rows, n_merges, batch)
        return spark.createDataFrame(merges_local, "step int, a string, b string, n long")
    target = max(1, min(wc.rdd.getNumPartitions(), int(n_vocab // 65536) + 1))
    if target < wc.rdd.getNumPartitions():
        wc = wc.coalesce(target)
    merges: list[tuple[int, str, str, int]] = []
    folds_pending = 0
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        pairs = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - F.lit(1)),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("a"),
                    F.element_at("syms", i + F.lit(1)).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        # one aggregate serves the whole round; oversample so the greedy
        # compatibility filter below can still fill the batch
        pair_counts = (
            wc.select("cnt", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
        )
        if want == 1:
            # the argmax under (n desc, a, b) is min(struct(-n, a, b)) —
            # one partial-aggregatable agg to a single row instead of a
            # sort-limit stage (same tiebreak, ~half the per-round time)
            row = pair_counts.select(
                F.min(F.struct((-F.col("n")).alias("negn"), "a", "b")).alias("m")
            ).collect()[0]["m"]
            top = (
                [{"a": row["a"], "b": row["b"], "n": -row["negn"]}]
                if row is not None
                else []
            )
        else:
            top = (
                pair_counts.orderBy(F.col("n").desc(), "a", "b")
                .limit(4 * want + 8)
                .collect()
            )
        if not top:
            break
        # greedy selection in (n desc, a, b) order: a candidate joins the
        # round only if it cannot interact with an earlier selection —
        # shares no symbol with one (the earlier fold would change its
        # adjacency counts) and neither side equals an earlier merged
        # string (the earlier fold CREATES those symbols mid-round)
        selected: list[tuple[str, str, int]] = []
        used_syms: set[str] = set()
        created: set[str] = set()
        for r in top:
            if len(selected) >= want:
                break
            a, b, n = r["a"], r["b"], r["n"]
            if {a, b} & (used_syms | created) or (a + b) in used_syms:
                continue
            selected.append((a, b, n))
            used_syms |= {a, b}
            created.add(a + b)
        if not selected:
            break
        syms = F.col("syms")
        for a, b, n in selected:
            merges.append((len(merges), a, b, n))
            syms = _merge_fold(syms, a, b)
        wc = wc.select(syms.alias("syms"), "cnt")
        # checkpoint every few rounds, not every round: the fold layers
        # between checkpoints are a bounded-depth lazy chain (each argmax
        # re-runs at most 3 of them over the tiny vocab), which halves the
        # per-round job count; unbounded nesting would instead grow the
        # expression tree linearly with the merge count
        folds_pending += len(selected)
        if folds_pending >= 4:
            wc = wc.localCheckpoint()
            folds_pending = 0
    return spark.createDataFrame(merges, "step int, a string, b string, n long")


def temperature_weights(
    df: DataFrame,
    tau: float = 0.7,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture sampling weights: the multilingual/
    multi-domain standard ``p_i ∝ f_i^tau`` (tau<1 upsamples small
    domains, tau=1 is proportional, tau→0 is uniform). The companion to
    :func:`mixture_weights` when no explicit target shares exist.

    Returns per stratum the token mass, its natural share, the
    temperature-annealed share, and the resampling weight
    ``p_i / f_i``. One partial-aggregatable groupBy; all arithmetic runs
    on the |strata|-row aggregate.
    """
    agg = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col(text_col))).alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    f = F.col("n_tokens").cast("double") / total.cast("double")
    # tau=0.5 routes through sqrt, NOT pow: IEEE-754 requires sqrt to be
    # correctly rounded, so the JVM and any C libm produce bit-identical
    # doubles — pow(x, 0.5) carries no such guarantee, and a last-ulp
    # disagreement can straddle a 6-decimal rounding boundary that even a
    # DECIMAL cast cannot repair (observed cross-engine on real fixtures).
    # General tau keeps pow; cross-engine byte-exact gates should pin 0.5.
    if float(tau) == 0.5:
        pw = F.sqrt(f)
    else:
        pw = F.pow(f, F.lit(float(tau)))
    # z = Σ pw over DOUBLES is the one order-dependent step in this
    # pipeline: float addition is not associative, and Spark's partial
    # aggregation order varies with the input's partitioning (and differs
    # from any other engine's scan order), so a plain SUM(pw) can drift a
    # last ulp between two runs of the SAME data — enough to straddle a
    # 6-decimal boundary in the final cast (the r04-r07 driver-red root
    # cause: local runs green, driver's partitioning red). Canonicalize
    # the order instead: fold the SORTED pw values left-to-right. The
    # sorted multiset of bit-identical doubles is unique regardless of
    # partitioning, so the fold is bit-reproducible on any engine and any
    # parallelism. |strata| is small (the groupBy output), so the
    # collect_list rides the existing single-row window.
    zarr = F.array_sort(F.collect_list(pw).over(Window.partitionBy()))
    z = F.aggregate(zarr, F.lit(0.0), lambda acc, x: acc + x)
    p = pw / z
    # DECIMAL(18,6) THEN back to DOUBLE: the decimal cast canonicalizes
    # both engines to the identical 6-digit value (pow()'s last-ulp
    # cross-engine drift means round(x, 6) alone can re-emit doubles that
    # differ bit-for-bit), and the outer double cast fixes the RENDER —
    # a decimal OUTPUT column is typed-fetch poison: Spark's toPandas
    # keeps object Decimal('0.945490') (scale-6 trailing zeros) while
    # DuckDB's fetch_df converts DECIMAL to float64 0.94549, so equal
    # values hash differently. Gate convention for any float-emitting
    # share/ratio column: decimal fixes the value, double fixes the type.
    def _share(col):
        return col.cast("decimal(18,6)").cast("double")

    return agg.select(
        stratum_col,
        "n_docs",
        "n_tokens",
        _share(f).alias("natural_share"),
        _share(p).alias("annealed_share"),
        _share(p / f).alias("weight"),
    )


def chunk_windows(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG/pretraining splitter:
    each document's whitespace tokens cut into windows of ``window``
    tokens advancing by ``stride`` (overlap = window − stride), the last
    window shorter, every token covered. Chunk count is the closed form
    ``ceil(max(n − window, 0) / stride) + 1`` in pure integer arithmetic,
    so chunking is one map + in-row explode — NO shuffle, the ideal
    100 TB shape (each scan task chunks its own documents).

    Output: ``(doc_id, chunk_id, chunk_start, chunk_len, chunk_md5)``
    with 1-based token offsets and the md5 of the space-rejoined window
    (the content canary a downstream exact-dedup or index keys on).
    NULL text yields no chunks (no tokens to cover).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = tokens_col(text_col)
    # integer-exact chunk count: `div` (not float `/` + cast, whose
    # correctness is only coincidental — double division is exact for
    # realistic token counts but not by construction; the DuckDB oracle
    # uses integer `//`, so the engine must too)
    n_chunks = F.expr(
        f"((greatest(size(__toks) - {int(window)}, 0) + {int(stride) - 1})"
        f" div {int(stride)}) + 1"
    ).cast("long")
    start = F.col("chunk_id") * stride + 1
    piece = F.slice(F.col("__toks"), start, window)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(id_col, toks.alias("__toks"))
        .select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            id_col,
            "chunk_id",
            start.alias("chunk_start"),
            F.size(piece).alias("chunk_len"),
            F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
        )
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge list to every document: each word starts
    as characters and the merges replay IN TRAINING ORDER (the defining
    BPE-encode contract), producing the subword token array plus its
    length — the real token counter for budget/packing decisions once a
    tokenizer exists (``add_token_stats``'s chars/4 column is the
    pre-tokenizer estimate).

    Pure per-row expression work: one fold per merge nested over each
    word's symbol array — no shuffle, no Python, whole-stage codegen;
    expression depth grows linearly with |merges| (fine for the classic
    merge-list sizes; checkpoint the intermediate column if you ever
    chain thousands).
    """
    words = tokens_col(text_col)
    per_word = F.transform(words, lambda w: F.split(w, ""))

    def encode_word(syms):
        for a, b in merges:
            syms = _merge_fold(syms, a, b)
        return syms

    enc = F.flatten(F.transform(per_word, encode_word))
    return df.withColumn(out_col, enc).withColumn(
        f"n_{out_col}", F.size(F.col(out_col))
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    equal to its per-row ``weight_col`` (clamped to [0, 1]) — the
    quality-weighted curation step (keep good documents with high
    probability, long-tail junk with low) every data-mixing pipeline
    runs after scoring.

    Same discipline as :func:`stratified_sample`: the coin is
    ``h31(id) % denom``, a pure function of the row id — reruns, engines
    and partitionings agree row-for-row, and changing one row's weight
    cannot flip any other row's outcome (unlike RNG-stream sampling).
    Map-only, no shuffle.
    """
    from .dedup import h31

    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    keep = (h31(F.col(id_col).cast("string")) % F.lit(denom)).cast("double") < (
        w * F.lit(float(denom))
    )
    return df.where(keep)


def nfc_normalize(c: Column | str) -> Column:
    """Unicode NFC normalization as an Arrow-batched pandas UDF — the
    canonical-equivalence step a text pipeline runs BEFORE hashing/dedup
    so composed ('é' U+00E9) and decomposed ('e'+U+0301) spellings of
    the same text collapse to one form (exact dedup is otherwise blind
    to them; Spark has no built-in normalizer). Python's unicodedata and
    DuckDB's nfc_normalize implement the same Unicode standard, so the
    SQL oracle verifies the normalization byte-for-byte."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # type: ignore[no-untyped-def]
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return _nfc(F.col(c) if isinstance(c, str) else c)


def nfc_exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups under NFC canonical equivalence: documents
    whose NFC forms are byte-identical share a group; smallest id is the
    keeper. One Arrow map pass for the normalization, one partial-agg
    groupBy on the 16-byte md5 — the same plan as plain exact dedup."""
    h = F.md5(nfc_normalize(text_col))
    return (
        docs.where(F.col(text_col).isNotNull())
        .groupBy(h.alias("nfc_md5"))
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
