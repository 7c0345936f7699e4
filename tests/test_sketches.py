"""Sketch operators (count-min, HLL gate) and the round-4 text/relational
additions: BPE merge training, TF-IDF, length histogram, PQ codebooks.

The sketch rows' driver gate only pins booleans; these tests check the
underlying guarantees directly on controlled inputs where the exact
answer is hand-computable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from scylla_cdc_java_spark.pipeline.sketches import (
    approx_distinct_report,
    countmin_estimate,
    countmin_probe_report,
    countmin_sketch,
)
from scylla_cdc_java_spark.pipeline.similarity import (
    cosine_topk_bruteforce,
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from scylla_cdc_java_spark.pipeline.text import bpe_train, length_histogram, tfidf_topk


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "src0") for i, t in enumerate(rows)], "doc_id long, text string, source string"
    )


class TestCountMin:
    def test_never_underestimates_and_exact_when_wide(self, spark):
        docs = _docs(spark, ["a a a b", "b c", "a d"])
        sk = countmin_sketch(docs, depth=4, width=4096)
        terms = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "term string")
        est = {
            r["term"]: r["est"]
            for r in countmin_estimate(sk, terms, depth=4, width=4096).collect()
        }
        # width 4096 >> 5 distinct tokens: collisions are virtually
        # impossible across 4 hash rows, so the min equals the exact count
        assert est == {"a": 4, "b": 2, "c": 1, "zz": 0}

    def test_sketch_size_is_bounded(self, spark):
        docs = _docs(spark, ["a b c d e f g h"] * 50)
        sk = countmin_sketch(docs, depth=3, width=8)
        assert sk.count() <= 3 * 8

    def test_probe_report_guarantees(self, spark):
        docs = _docs(spark, ["x y x", "y z", "x q"])
        rep = countmin_probe_report(docs, ["x", "z", "absent"], depth=4, width=512)
        rows = {r["term"]: r for r in rep.collect()}
        assert rows["x"]["exact_cnt"] == 3 and rows["absent"]["exact_cnt"] == 0
        for r in rows.values():
            assert r["never_under"] and r["within_bound"]


class TestApproxDistinct:
    def test_exact_and_bound(self, spark):
        docs = _docs(spark, ["a b c", "c d", "e"])
        rows = approx_distinct_report(docs).collect()
        assert len(rows) == 1
        assert rows[0]["n_distinct"] == 5 and rows[0]["hll_ok"]


class TestBpeTrain:
    def test_hand_computed_merges(self, spark):
        # corpus: "low low lower" -> word counts: low:2, lower:1
        # pair counts r1: (l,o):3 (o,w):3 (w,e):1 (e,r):1 -> tie (l,o) wins (asc)
        # after merge "lo": words [lo,w]x2, [lo,w,e,r]
        # r2: (lo,w):3 (w,e):1 (e,r):1 -> "low"
        # r3: words [low]x2 [low,e,r]: (low,e):1 (e,r):1 -> (e,r) vs (low,e):
        #   tie on n=1, asc order: ("e","r") < ("low","e")? "e" < "low" -> (e,r)
        docs = _docs(spark, ["low low lower"])
        merges = [(r["a"], r["b"], r["n"]) for r in bpe_train(docs, n_merges=3).collect()]
        assert merges == [("l", "o", 3), ("lo", "w", 3), ("e", "r", 1)]

    def test_overlapping_pairs_merge_left_to_right(self, spark):
        # "aaaa": pairs (a,a) x3; after merging left-to-right: [aa, aa]
        docs = _docs(spark, ["aaaa"])
        out = bpe_train(docs, n_merges=2).collect()
        assert (out[0]["a"], out[0]["b"], out[0]["n"]) == ("a", "a", 3)
        # round 2 sees [aa, aa] -> pair (aa, aa) count 1
        assert (out[1]["a"], out[1]["b"], out[1]["n"]) == ("aa", "aa", 1)


class TestTfidf:
    def test_rare_term_outranks_common(self, spark):
        docs = _docs(spark, ["rare common", "common", "common x"])
        top = tfidf_topk(docs, k=1).where(F.col("doc_id") == 0).collect()
        assert top[0]["term"] == "rare"

    def test_k_rows_per_doc(self, spark):
        docs = _docs(spark, ["a b c d", "b c d e"])
        out = tfidf_topk(docs, k=2)
        counts = out.groupBy("doc_id").count().collect()
        assert all(r["count"] == 2 for r in counts)


class TestLengthHistogram:
    def test_buckets_and_tail(self, spark):
        docs = _docs(spark, ["a " * 5, "b " * 25, "c " * 500])
        # trailing space -> split yields an extra empty token; compute the
        # same way the operator does (n = size of raw split)
        rows = {r["bucket"]: r["n_docs"] for r in length_histogram(docs).collect()}
        assert rows.get(0) == 1 and rows.get(2) == 1 and rows.get(9) == 1


class TestPq:
    @pytest.fixture(scope="class")
    def clustered(self, spark):
        # 4 tight clusters in 16 dims: cluster center +/- small deterministic
        # jitter. PQ must recover same-cluster vectors as top neighbors.
        import numpy as np

        rng = np.random.RandomState(7)
        centers = rng.randn(4, 16) * 10
        rows = []
        for i in range(48):
            c = i % 4
            v = centers[c] + rng.randn(16) * 0.01
            v = v / np.linalg.norm(v)
            rows.append((i, [float(x) for x in v], c))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    def test_recovers_cluster_neighbors(self, clustered, spark):
        qs = clustered.where(F.col("vec_id") < 4)
        got = pq_topk(clustered, qs, k=3, m=4, seed_mod=8).collect()
        labels = {r["vec_id"]: r["label"] for r in clustered.collect()}
        assert len(got) == 12
        for r in got:
            assert labels[r["neighbor_id"]] == labels[r["query_id"]], (
                "PQ neighbor crossed clusters on tightly-clustered data"
            )

    def test_score_quality_vs_exact(self, clustered, spark):
        # within a tight cluster every member quantizes to the same codes,
        # so ADC ties collapse and exact-rank overlap is not the contract;
        # the PQ guarantee is SCORE quality: each PQ pick's true similarity
        # must be within a small epsilon of the exact k-th best.
        import numpy as np

        vecs = {r["vec_id"]: np.array(r["embedding"]) for r in clustered.collect()}
        qs = clustered.where(F.col("vec_id") < 4)
        exact = cosine_topk_bruteforce(clustered, qs, k=3).collect()
        kth_best = {}
        for r in exact:
            kth_best[r["query_id"]] = min(
                kth_best.get(r["query_id"], 1e18), r["dot_q"]
            )
        pq = pq_topk(clustered, qs, k=3, m=4, seed_mod=8).collect()
        for r in pq:
            true_dot = float(
                np.round(vecs[r["query_id"]] * 1000)
                @ np.round(vecs[r["neighbor_id"]] * 1000)
            )
            # quantized dots are ~1e6-scale; 1% slack covers the jitter
            assert true_dot >= kth_best[r["query_id"]] - 0.01 * 1e6

    def test_encode_one_code_per_subspace(self, clustered, spark):
        cb = pq_codebooks(clustered, m=4, seed_mod=8)
        codes = pq_encode(clustered, cb, m=4)
        per = codes.groupBy("vid").count().collect()
        assert all(r["count"] == 4 for r in per)


class TestSimhashExpr:
    def test_matches_groupby_simhash(self, spark):
        from scylla_cdc_java_spark.pipeline.dedup import simhash, simhash_expr
        from scylla_cdc_java_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(100)
        batch = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
        perrow = {
            r["doc_id"]: r["simhash"]
            for r in simhash_expr(docs).select("doc_id", "simhash").collect()
        }
        assert batch == perrow

    # full: streaming twin of the batch simhash dedup (oracle-gated).
    @pytest.mark.full
    def test_stream_simhash_dedup(self, spark, tmp_path):
        import os

        from scylla_cdc_java_spark.pipeline.dedup import stream_simhash_dedup

        src = str(tmp_path / "src")
        os.makedirs(src)
        # doc 3 is a token-permuted near-dup of doc 1 (same token multiset,
        # same simhash); doc 4 differs
        rows1 = [(1, "alpha beta gamma")]
        rows2 = [(3, "beta gamma alpha"), (4, "delta epsilon zeta")]
        for rows in (rows1, rows2):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            stream_simhash_dedup(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("docs_simdedup")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ids = sorted(
            r["doc_id"] for r in spark.sql("select doc_id from docs_simdedup").collect()
        )
        assert len(ids) == 2 and 4 in ids


class TestIncrementalDedup:
    def test_flags_near_dup_of_corpus_only(self, spark):
        from scylla_cdc_java_spark.pipeline.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        incoming = spark.createDataFrame(
            [
                # near-dup of corpus doc 0 (one token changed)
                (1, "the quick brown fox jumps over the lazy cat today"),
                # no relation to the corpus
                (3, "completely different words about spark engines and parquet"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in incremental_dedup(corpus, incoming, threshold=0.2).collect()
        }
        assert rows[1]["is_dup"] and rows[1]["match_id"] == 0
        assert not rows[3]["is_dup"] and rows[3]["match_id"] is None

    def test_batch_internal_dups_are_admitted(self, spark):
        """Two identical docs in the SAME batch are both admitted — the
        operator tests against the index only (batch-internal dedup is the
        job of the batch-mode operators)."""
        from scylla_cdc_java_spark.pipeline.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
        )
        twin = "one two three four five six seven eight"
        incoming = spark.createDataFrame(
            [(1, twin), (2, twin)], "doc_id long, text string"
        )
        rows = incremental_dedup(corpus, incoming, threshold=0.2).collect()
        assert all(not r["is_dup"] for r in rows)


class TestChunkWindows:
    def test_boundary_math_and_coverage(self, spark):
        """Closed-form chunk count across the boundary cases: n < window
        (one chunk), n == window (one), n == window+1 (two, short last),
        exact stride multiples; every token covered exactly by the union
        of windows; overlap == window − stride."""
        import pytest

        from scylla_cdc_java_spark.pipeline.text import chunk_windows

        def doc(n):
            return " ".join(f"t{i}" for i in range(n))

        rows = [(n, doc(n)) for n in (1, 7, 8, 9, 16, 17, 24, 25)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in chunk_windows(df, window=8, stride=4).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_id"], r["chunk_start"], r["chunk_len"])
            )
        # expected count: ceil(max(n-8,0)/4) + 1
        for n in (1, 7, 8, 9, 16, 17, 24, 25):
            exp = (max(n - 8, 0) + 3) // 4 + 1
            chunks = sorted(got[n])
            assert len(chunks) == exp, (n, chunks)
            # coverage: last chunk reaches token n; starts advance by 4
            last_id, last_start, last_len = chunks[-1]
            assert last_start + last_len - 1 == n
            assert all(s == cid * 4 + 1 for cid, s, _ in chunks)
            # all but the last are full windows
            assert all(ln == 8 for _, _, ln in chunks[:-1])

        with pytest.raises(ValueError):
            chunk_windows(df, window=0, stride=4)
        # NULL text yields no chunks
        nul = spark.createDataFrame([(99, None)], "doc_id long, text string")
        assert chunk_windows(nul).count() == 0


class TestTemperatureWeights:
    def test_tau_one_is_proportional(self, spark):
        from scylla_cdc_java_spark.pipeline.text import temperature_weights

        docs = _docs(spark, ["a b c d", "a b", "x"])
        rows = temperature_weights(docs, tau=1.0).collect()
        for r in rows:
            # shares are DECIMAL(18,6) (cross-engine hash canonicalization)
            assert abs(float(r["annealed_share"]) - float(r["natural_share"])) < 1e-6
            assert abs(float(r["weight"]) - 1.0) < 1e-6

    def test_small_domain_upsampled(self, spark):
        from scylla_cdc_java_spark.pipeline.text import temperature_weights

        docs = spark.createDataFrame(
            [(0, "w " * 99 + "w", "big"), (1, "w", "small")],
            "doc_id long, text string, source string",
        )
        rows = {r["source"]: r for r in temperature_weights(docs, tau=0.5).collect()}
        assert rows["small"]["weight"] > 1.0 > rows["big"]["weight"]

    def test_partitioning_invariant(self, spark):
        """The normalizer z folds SORTED pw doubles, so the result must be
        byte-identical under ANY input partitioning — plain SUM(pw) is not
        (partial-aggregation order changes the last ulp, which can flip a
        DECIMAL(18,6) boundary: the r04-r07 driver-red root cause)."""
        from scylla_cdc_java_spark.pipeline.text import temperature_weights
        from scylla_cdc_java_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        baseline = None
        for n in (1, 3, 7, 32):
            rows = sorted(
                (
                    r["source"],
                    str(r["natural_share"]),
                    str(r["annealed_share"]),
                    str(r["weight"]),
                )
                for r in temperature_weights(docs.repartition(n), tau=0.5).collect()
            )
            if baseline is None:
                baseline = rows
            assert rows == baseline, f"diverged at repartition({n})"


class TestStreamIncrementalDedup:
    # full: cross-batch admission; restart-idempotency (kept) exercises the
    # same store through the harder path, and the composed gate covers it.
    @pytest.mark.full
    def test_admission_across_batches(self, spark, tmp_path):
        import os

        from scylla_cdc_java_spark.pipeline.dedup import stream_incremental_dedup

        src = str(tmp_path / "src")
        idx = str(tmp_path / "index")
        os.makedirs(src)
        base = "the quick brown fox jumps over the lazy dog today again"
        rows1 = [(1, base), (2, "completely different words about spark engines here")]
        rows2 = [
            (3, base.replace("dog", "cat")),  # near-dup of indexed doc 1
            (4, "novel content that matches nothing in the corpus index"),
            (5, "novel content that matches nothing in the corpus index"),  # twin of 4
        ]
        for rows in (rows1, rows2):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        q = stream_incremental_dedup(
            spark, src, idx, str(tmp_path / "ckpt"), threshold=0.2
        )
        q.awaitTermination()
        admitted = sorted(
            r["doc_id"] for r in spark.read.parquet(idx).select("doc_id").collect()
        )
        # 1,2 seed the index; 3 rejected (near-dup of 1); one of the twins
        # 4/5 admitted (within-batch smallest id wins)
        assert admitted == [1, 2, 4]

    def test_restart_is_idempotent(self, spark, tmp_path):
        """Replaying the same input with a FRESH checkpoint (worst-case
        re-delivery: every batch re-runs after its append) admits nothing
        new — each doc now matches its own indexed copy."""
        import os

        from scylla_cdc_java_spark.pipeline.dedup import stream_incremental_dedup

        src = str(tmp_path / "src")
        idx = str(tmp_path / "index")
        os.makedirs(src)
        rows = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        for attempt in range(2):
            q = stream_incremental_dedup(
                spark, src, idx, str(tmp_path / f"ckpt{attempt}"), threshold=0.2
            )
            q.awaitTermination()
        admitted = [r["doc_id"] for r in spark.read.parquet(idx).collect()]
        assert admitted == [1]

    def test_no_cache_outlives_a_micro_batch(self, spark, tmp_path):
        """Each micro-batch runs in one cache_scope: after three
        AvailableNow runs, one new source file each, the session caches
        nothing — not the batch and admitted frames, nor the signature
        caches that minhash_lsh_pairs and incremental_dedup take."""
        import os
        import time

        from scylla_cdc_java_spark.pipeline.dedup import stream_incremental_dedup

        src = str(tmp_path / "src")
        idx = str(tmp_path / "index")
        os.makedirs(src)
        base = "the quick brown fox jumps over the lazy dog today again"
        novel = "novel content that matches nothing in the corpus index"
        batches = [
            [(1, base), (2, "completely different words about spark engines here")],
            [(3, base.replace("dog", "cat")), (4, novel)],
            [(5, novel), (6, "a third batch brings one more unrelated document")],
        ]
        spark.catalog.clearCache()
        for rows in batches:
            time.sleep(0.05)  # distinct source-file mtimes
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
            stream_incremental_dedup(
                spark, src, idx, str(tmp_path / "ckpt"), threshold=0.2
            ).awaitTermination()
        admitted = sorted(
            r["doc_id"] for r in spark.read.parquet(idx).select("doc_id").collect()
        )
        assert admitted == [1, 2, 4, 6]
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_corrupt_index_fails_the_batch(self, spark, tmp_path):
        """Only a missing or empty index reads as "no index". A corrupt
        part file must fail the micro-batch (the checkpoint retries it)
        instead of admitting every survivor, a copy of an indexed
        document included."""
        import glob
        import os
        import time

        from pyspark.errors import StreamingQueryException

        from scylla_cdc_java_spark.pipeline.dedup import stream_incremental_dedup

        src = str(tmp_path / "src")
        idx = str(tmp_path / "index")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        text = "alpha beta gamma delta epsilon zeta eta theta"

        def ingest(doc_id):
            spark.createDataFrame([(doc_id, text)], "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
            return stream_incremental_dedup(spark, src, idx, ckpt, threshold=0.2)

        ingest(1).awaitTermination()
        for part in glob.glob(os.path.join(idx, "part-*.parquet")):
            with open(part, "wb") as f:
                f.write(b"not a parquet file")
            crc = os.path.join(idx, f".{os.path.basename(part)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        parts = sorted(os.listdir(idx))
        time.sleep(0.05)  # distinct source-file mtimes
        q = ingest(2)  # doc 2 repeats doc 1's text
        with pytest.raises(StreamingQueryException):
            q.awaitTermination()
        assert sorted(os.listdir(idx)) == parts  # nothing appended


# ---- differential property test: native BPE fold vs pure-Python ------------

def _py_bpe(words: list[str], n_merges: int):
    """Independent pure-Python BPE trainer (count, argmax with (n desc,
    pair asc) tie-break, left-to-right non-overlapping substitution)."""
    from collections import Counter

    wc = Counter(words)
    vocab = {w: list(w) for w in wc}
    merges = []
    for step in range(n_merges):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_train_matches_python_reference(spark):
    from hypothesis import given, settings, strategies as st

    from scylla_cdc_java_spark.pipeline.text import bpe_train

    word = st.text(alphabet="abcd", min_size=1, max_size=6)
    corpus = st.lists(word, min_size=1, max_size=12)

    @settings(max_examples=10, deadline=None)
    @given(corpus)
    def check(words):
        docs = spark.createDataFrame(
            [(0, " ".join(words), "src0")], "doc_id long, text string, source string"
        )
        got = [
            (r["step"], r["a"], r["b"], r["n"])
            for r in bpe_train(docs, n_merges=4).collect()
        ]
        assert got == _py_bpe(words, 4)

    check()


class TestIvfPq:
    def test_clustered_recall_and_bucket_restriction(self, spark):
        import numpy as np

        from scylla_cdc_java_spark.pipeline.similarity import ivf_pq_topk

        rng = np.random.RandomState(11)
        centers = rng.randn(4, 16) * 10
        rows = []
        for i in range(64):
            c = i % 4
            v = centers[c] + rng.randn(16) * 0.01
            v = v / np.linalg.norm(v)
            rows.append((i, [float(x) for x in v], c))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        qs = emb.where(F.col("vec_id") < 4)
        got = ivf_pq_topk(emb, qs, k=3, nprobe=2, centroid_mod=8, m=4, seed_mod=8).collect()
        labels = {r["vec_id"]: r["label"] for r in emb.collect()}
        assert len(got) == 12  # k rows per query — probing found the bucket
        for r in got:
            assert labels[r["neighbor_id"]] == labels[r["query_id"]]


class TestIntervalJoin:
    def _mk(self, spark):
        pts = spark.createDataFrame(
            [(1, 50), (2, 100), (3, 250), (4, 999)], "pid long, ts long"
        )
        ivs = spark.createDataFrame(
            [(10, 0, 100), (20, 90, 300), (30, 200, 260)],
            "iv_id long, start long, end long",
        )
        return pts, ivs

    def test_containment_and_boundaries(self, spark):
        from scylla_cdc_java_spark.operators.interval import interval_join

        pts, ivs = self._mk(spark)
        got = {
            (r["pid"], r["iv_id"])
            for r in interval_join(pts, ivs, "ts", bucket_width=64).collect()
        }
        # ts=50 in [0,100); ts=100 NOT in [0,100) (half-open) but in [90,300);
        # ts=250 in [90,300) and [200,260); ts=999 uncovered
        assert got == {(1, 10), (2, 20), (3, 20), (3, 30)}

    def test_left_keeps_uncovered(self, spark):
        from scylla_cdc_java_spark.operators.interval import interval_join

        pts, ivs = self._mk(spark)
        rows = interval_join(pts, ivs, "ts", bucket_width=64, how="left").collect()
        uncovered = [r for r in rows if r["iv_id"] is None]
        assert [r["pid"] for r in uncovered] == [4]
        assert len(rows) == 5

    def test_bucket_width_invariance(self, spark):
        from scylla_cdc_java_spark.operators.interval import interval_join

        pts, ivs = self._mk(spark)
        for w in (1, 7, 100, 10_000):
            got = {
                (r["pid"], r["iv_id"])
                for r in interval_join(pts, ivs, "ts", bucket_width=w).collect()
            }
            assert got == {(1, 10), (2, 20), (3, 20), (3, 30)}, f"width {w}"


class TestBpeEncode:
    def test_matches_python_encoder(self, spark):
        from scylla_cdc_java_spark.pipeline.text import bpe_encode, bpe_train

        corpus = ["low low lower lowest", "newer new newest lower"]
        docs = _docs(spark, corpus)
        merges = [(r["a"], r["b"]) for r in bpe_train(docs, n_merges=5).collect()]

        def py_encode(text):
            out = []
            for w in text.split(" "):
                syms = list(w)
                for a, b in merges:
                    res, i = [], 0
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(syms[i])
                            i += 1
                    syms = res
                out.extend(syms)
            return out

        got = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_encode(docs, merges).select("doc_id", "bpe_tokens").collect()
        }
        for i, text in enumerate(corpus):
            assert got[i] == py_encode(text), text

    def test_token_count_shrinks_with_merges(self, spark):
        from scylla_cdc_java_spark.pipeline.text import bpe_encode, bpe_train

        docs = _docs(spark, ["banana bandana banana"])
        merges = [(r["a"], r["b"]) for r in bpe_train(docs, n_merges=4).collect()]
        n0 = bpe_encode(docs, []).head()["n_bpe_tokens"]
        n4 = bpe_encode(docs, merges).head()["n_bpe_tokens"]
        assert n4 < n0


class TestExportCorpus:
    def test_partitioned_layout_and_roundtrip(self, spark, tmp_path):
        import glob
        import os

        from scylla_cdc_java_spark.pipeline.export import export_corpus, load_corpus

        docs = spark.createDataFrame(
            [(i, f"text {i}", "train" if i % 4 else "val", f"src{i % 2}")
             for i in range(40)],
            "doc_id long, text string, split string, source string",
        )
        out = str(tmp_path / "corpus")
        export_corpus(docs, out, partition_by=["split", "source"])
        # hive-style directories per (split, source)
        assert os.path.isdir(os.path.join(out, "split=train", "source=src0"))
        # bounded files per directory: 1 salt bucket -> 1 data file
        files = glob.glob(os.path.join(out, "split=train", "source=src0", "*.parquet"))
        assert len(files) == 1
        back = load_corpus(spark, out)
        assert back.count() == 40
        assert {r["doc_id"] for r in back.where(F.col("split") == "val").collect()} == {
            0, 4, 8, 12, 16, 20, 24, 28, 32, 36
        }

    def test_partition_pruning_on_readback(self, spark, tmp_path):
        from scylla_cdc_java_spark.pipeline.export import export_corpus, load_corpus

        docs = spark.createDataFrame(
            [(i, "t", "train" if i % 2 else "val") for i in range(10)],
            "doc_id long, text string, split string",
        )
        out = str(tmp_path / "corpus2")
        export_corpus(docs, out, partition_by=["split"])
        plan = (
            load_corpus(spark, out)
            .where(F.col("split") == "train")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "split" in m.group(1), (
            "split filter must prune at the directory level, not post-scan"
        )

    def test_max_records_per_file(self, spark, tmp_path):
        import glob
        import os

        from scylla_cdc_java_spark.pipeline.export import export_corpus

        docs = spark.createDataFrame(
            [(i, "x", "train") for i in range(100)], "doc_id long, text string, split string"
        )
        out = str(tmp_path / "corpus3")
        export_corpus(docs, out, partition_by=["split"], max_records_per_file=30)
        files = glob.glob(os.path.join(out, "split=train", "*.parquet"))
        assert len(files) >= 4  # 100 rows / 30-cap


def test_incremental_dedup_accepts_presigned_index(spark):
    """A deployment signs the corpus once; passing the persisted signature
    table must give identical verdicts to signing in-call."""
    from scylla_cdc_java_spark.pipeline.dedup import (
        incremental_dedup,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy cat today"),
         (3, "completely different words about spark engines and parquet")],
        "doc_id long, text string",
    )
    inline = {
        r["doc_id"]: (r["is_dup"], r["match_id"])
        for r in incremental_dedup(corpus, incoming, threshold=0.2).collect()
    }
    sig = minhash_signatures(corpus)
    presigned = {
        r["doc_id"]: (r["is_dup"], r["match_id"])
        for r in incremental_dedup(
            corpus, incoming, threshold=0.2, corpus_signatures=sig
        ).collect()
    }
    assert inline == presigned


class TestEmptyInputEdges:
    """Every round-4 operator must degrade to an empty (or
    correctly-null-filled) result on empty input — the kernels' empty-
    batch guards and the left-join null paths are load-bearing at scale
    where empty partitions and empty buckets are routine."""

    @pytest.fixture(scope="class")
    def empties(self, spark):
        return (
            spark.createDataFrame([], "doc_id long, text string, source string"),
            spark.createDataFrame([], "vec_id long, embedding array<float>, label int"),
        )

    def test_text_ops_empty(self, spark, empties):
        from scylla_cdc_java_spark.pipeline.text import (
            bpe_encode,
            bpe_train,
            length_histogram,
            pack_sequences,
            temperature_weights,
            tfidf_topk,
        )

        docs, _ = empties
        assert bpe_train(docs, 2).count() == 0
        assert bpe_encode(docs, [("a", "b")]).count() == 0
        assert tfidf_topk(docs).count() == 0
        assert length_histogram(docs).count() == 0
        assert pack_sequences(docs).count() == 0  # quantile fallback path
        assert temperature_weights(docs).count() == 0

    def test_dedup_and_sketches_empty(self, spark, empties):
        from scylla_cdc_java_spark.pipeline.dedup import (
            incremental_dedup,
            minhash_lsh_pairs,
        )
        from scylla_cdc_java_spark.pipeline.sketches import (
            approx_distinct_report,
            countmin_probe_report,
        )

        docs, _ = empties
        assert minhash_lsh_pairs(docs).count() == 0
        assert approx_distinct_report(docs).count() == 0
        # CMS still answers the probes (exact 0, bounds hold)
        rows = countmin_probe_report(docs, ["x"]).collect()
        assert len(rows) == 1 and rows[0]["exact_cnt"] == 0 and rows[0]["never_under"]
        one = spark.createDataFrame(
            [(1, "a b c d e f", "s")], "doc_id long, text string, source string"
        )
        # empty corpus: the incoming doc is admitted (is_dup False)
        verdict = incremental_dedup(docs, one).collect()
        assert len(verdict) == 1 and not verdict[0]["is_dup"]
        assert incremental_dedup(one, docs).count() == 0

    def test_ann_and_interval_empty(self, spark, empties):
        from scylla_cdc_java_spark.operators.interval import interval_join
        from scylla_cdc_java_spark.pipeline.similarity import ivf_pq_topk, pq_topk

        _, emb = empties
        one = spark.createDataFrame(
            [(0, [1.0] * 16, 0)], "vec_id long, embedding array<float>, label int"
        )
        assert pq_topk(emb, one).count() == 0
        assert pq_topk(one, one, seed_mod=1).count() == 0  # no non-self neighbor
        assert ivf_pq_topk(emb, one).count() == 0
        pts = spark.createDataFrame([(1, 5)], "pid long, ts long")
        eiv = spark.createDataFrame([], "iv long, start long, end long")
        assert interval_join(pts, eiv, "ts", bucket_width=10).count() == 0
        left = interval_join(pts, eiv, "ts", bucket_width=10, how="left").collect()
        assert len(left) == 1 and left[0]["iv"] is None


# ---- round-5 additions: batched BPE, advisory-fix regression tests ---------


class TestBpeBatchedTraining:
    def test_batch_one_is_strict_sequential(self, spark):
        docs = _docs(spark, ["low low lower"])
        m1 = [tuple(r) for r in bpe_train(docs, n_merges=3, batch=1).collect()]
        assert m1 == [(0, "l", "o", 3), (1, "lo", "w", 3), (2, "e", "r", 1)]

    def test_batched_rounds_select_non_interacting_pairs(self, spark):
        # round-1 counts sorted (n desc, a, b): (l,o):3 (o,w):3 (e,r):1
        # (w,e):1 -> greedy takes (l,o) [uses l,o], skips (o,w) [o used],
        # takes (e,r); round 2 takes (lo,w); round 3 (low,er)
        docs = _docs(spark, ["low low lower"])
        m8 = [tuple(r) for r in bpe_train(docs, n_merges=4, batch=8).collect()]
        assert m8 == [
            (0, "l", "o", 3),
            (1, "e", "r", 1),
            (2, "lo", "w", 3),
            (3, "low", "er", 1),
        ]

    def test_first_selection_per_round_is_strict_argmax(self, spark):
        docs = _docs(spark, ["pq pq rs rs rs tu"])
        m1 = bpe_train(docs, n_merges=1, batch=1).collect()[0]
        m8 = bpe_train(docs, n_merges=4, batch=8).collect()[0]
        assert (m8["a"], m8["b"], m8["n"]) == (m1["a"], m1["b"], m1["n"])

    def test_batch_rejects_nonpositive(self, spark):
        import pytest as _pytest

        docs = _docs(spark, ["ab"])
        with _pytest.raises(ValueError):
            bpe_train(docs, n_merges=1, batch=0)


class TestCountMinNonDefaultDepth:
    def test_probe_report_forwards_depth(self, spark):
        # regression (r04 advisory): probe_report built the sketch with
        # `depth` but estimated at the default 4 — depth<4 probed
        # nonexistent hash rows and min() returned 0, violating the
        # never-under guarantee
        from scylla_cdc_java_spark.pipeline.sketches import countmin_probe_report

        docs = _docs(spark, ["a a a b", "b c", "a d"] * 5)
        for depth in (1, 2, 6):
            rows = {
                r["term"]: r
                for r in countmin_probe_report(docs, ["a", "b", "zz"], depth=depth).collect()
            }
            assert rows["a"]["exact_cnt"] == 20 and rows["a"]["never_under"]
            assert rows["b"]["exact_cnt"] == 10 and rows["b"]["never_under"]
            assert rows["zz"]["exact_cnt"] == 0 and rows["zz"]["never_under"]


class TestIntervalJoinDegenerate:
    def test_inverted_and_empty_intervals_emit_nothing(self, spark):
        # regression (r04 advisory): F.sequence steps DOWNWARD when
        # stop < start, so an inverted interval row used to emit spurious
        # buckets (and a huge inverted gap could abort on the
        # sequence-length cap)
        from scylla_cdc_java_spark.operators.interval import interval_join

        pts = spark.createDataFrame([(1, 50), (2, 150)], "pid long, ts long")
        ivs = spark.createDataFrame(
            [(10, 0, 100), (11, 100, 100), (12, 10_000_000_000, 0)],
            "iv long, start long, end long",
        )
        out = interval_join(pts, ivs, "ts", bucket_width=10).collect()
        assert [(r["pid"], r["iv"]) for r in out] == [(1, 10)]
        left = interval_join(pts, ivs, "ts", bucket_width=10, how="left")
        got = sorted((r["pid"], r["iv"]) for r in left.collect())
        assert got == [(1, 10), (2, None)]


class TestIncrementalDedupStringIds:
    def test_string_doc_ids_tiebreak_ascending(self, spark):
        # regression (r04 advisory): the old tie-break negated match_id
        # arithmetically, failing analysis on string ids
        from scylla_cdc_java_spark.pipeline.dedup import incremental_dedup

        base = "the quick brown fox jumps over the lazy dog today again"
        corpus = spark.createDataFrame(
            [("c-b", base), ("c-a", base)], "doc_id string, text string"
        )
        incoming = spark.createDataFrame(
            [("i-1", base), ("i-2", "totally unrelated novel words here now")],
            "doc_id string, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in incremental_dedup(corpus, incoming, threshold=0.2).collect()
        }
        # both corpus twins tie at est 1.0 -> smallest id string wins
        assert rows["i-1"]["is_dup"] and rows["i-1"]["match_id"] == "c-a"
        assert not rows["i-2"]["is_dup"]


class TestStreamShortDocAdmission:
    # full: short-doc admission edge of the incremental-dedup store (kept
    # restart test + stream gate cover the store).
    @pytest.mark.full
    def test_short_exact_dups_rejected_on_replay_and_within_batch(self, spark, tmp_path):
        # sub-n-token docs produce no shingles -> the banded path cannot
        # see them; the exact content-hash stages must catch them
        import os

        from scylla_cdc_java_spark.pipeline.dedup import stream_incremental_dedup

        src = str(tmp_path / "src")
        idx = str(tmp_path / "index")
        os.makedirs(src)
        rows1 = [(1, "hi"), (2, "the quick brown fox jumps over the lazy dog")]
        rows2 = [(3, "hi"), (4, "ok go"), (5, "ok go"), (6, "fresh new words")]
        for rows in (rows1, rows2):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        q = stream_incremental_dedup(spark, src, idx, str(tmp_path / "ckpt"))
        q.awaitTermination()
        admitted = sorted(
            r["doc_id"] for r in spark.read.parquet(idx).select("doc_id").collect()
        )
        # 3 is a short exact dup of indexed 1 (rejected); 5 is a short
        # within-batch twin of 4 (rejected); 4 and 6 admitted
        assert admitted == [1, 2, 4, 6]


class TestExportSaltParallelism:
    def test_salt_not_constant_when_first_column_is_partition_key(self, spark, tmp_path):
        # regression (r04 advisory): the salt used to hash df.columns[0];
        # with that column AS the partition key the salt was constant per
        # directory and files_per_partition silently degraded to 1
        import glob

        from scylla_cdc_java_spark.pipeline.export import export_corpus

        df = spark.createDataFrame(
            [("s%d" % (i % 2), i, "text %d" % i) for i in range(200)],
            "source string, doc_id long, text string",
        )
        out = str(tmp_path / "corpus")
        export_corpus(df, out, partition_by=["source"], files_per_partition=4)
        for d in ("source=s0", "source=s1"):
            files = glob.glob(f"{out}/{d}/*.parquet")
            assert len(files) > 1, f"{d}: salt collapsed to one writer file"


class TestPackSequencesStringIds:
    def test_string_id_path_is_distributed_and_correct(self, spark):
        # round-5: non-numeric ids now bucket via deterministic
        # hash-thinned boundary sampling instead of the single global
        # window fallback
        from scylla_cdc_java_spark.pipeline.text import pack_sequences

        rows = [("d%03d" % i, "w " * (i % 7 + 1)) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = pack_sequences(df, budget=16, n_buckets=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, "string-id pack fell back to global window"
        got = sorted(
            (r["doc_id"], r["n_tokens"], r["bin_id"], r["bin_offset"])
            for r in out.collect()
        )
        acc = 0
        for _did, nt, b, off in got:
            assert b == acc // 16 and off == acc % 16
            acc += nt


def test_pack_sequences_string_ids_match_python_reference(spark):
    """Differential property test: the hash-thinned-boundary string-id
    path must equal a sequential python cumsum packer for ANY id set
    (boundary choice may be unbalanced but never reorders buckets)."""
    from hypothesis import given, settings, strategies as st

    from scylla_cdc_java_spark.pipeline.text import pack_sequences

    ids = st.lists(
        st.text(alphabet="abcxyz0189-", min_size=1, max_size=8),
        min_size=1, max_size=40, unique=True,
    )

    @settings(max_examples=8, deadline=None)
    @given(ids)
    def check(idlist):
        rows = [(i, "w " * ((len(i) * 7) % 5 + 1)) for i in idlist]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = {
            r["doc_id"]: (r["n_tokens"], r["bin_id"], r["bin_offset"])
            for r in pack_sequences(df, budget=8, n_buckets=4).collect()
        }
        acc = 0
        for did in sorted(idlist):
            nt, b, off = out[did]
            assert b == acc // 8 and off == acc % 8, (did, nt, b, off, acc)
            acc += nt

    check()


class TestBuildEmbeddingIndex:
    def test_empty_and_singleton(self, spark):
        from scylla_cdc_java_spark.pipeline.similarity import build_embedding_index

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
        assert build_embedding_index(empty).count() == 0
        one = spark.createDataFrame(
            [(0, [1.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
        )
        rows = build_embedding_index(one).collect()
        # one survivor x m=8 subspaces; it is its own centroid and codeword
        assert len(rows) == 8
        assert all(r["vec_id"] == 0 and r["cid"] == 0 and r["code"] == 0 for r in rows)

    def test_near_dups_collapse_before_indexing(self, spark):
        from scylla_cdc_java_spark.pipeline.similarity import build_embedding_index

        base = [1.0] * 32 + [0.0] * 32
        other = [0.0] * 32 + [1.0] * 32
        rows = [(0, base, 0), (7, base, 0), (40, other, 1)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        out = build_embedding_index(df, seed_mod=1)
        surv = {r["vec_id"] for r in out.select("vec_id").distinct().collect()}
        # 0 and 7 are exact twins -> only the smaller id survives; 40 is
        # orthogonal (dot 0 < threshold) and survives independently
        assert surv == {0, 40}


class TestStreamSignatureStore:
    # full: store-growth bookkeeping variant (kept restart test covers).
    @pytest.mark.full
    def test_signature_store_grows_with_index(self, spark, tmp_path):
        """The persisted signature store must cover every signable index
        row after the stream drains (per-batch signing is O(batch), and
        the anti-join reconcile never duplicates rows)."""
        import os

        from scylla_cdc_java_spark.pipeline.dedup import (
            minhash_signatures,
            stream_incremental_dedup,
        )

        src = str(tmp_path / "src")
        idx = str(tmp_path / "index")
        os.makedirs(src)
        batches = [
            [(1, "the quick brown fox jumps over the lazy dog today")],
            [(2, "completely different words about spark engines here now")],
            [(3, "a third novel document with yet more unique content")],
        ]
        for rows in batches:
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        q = stream_incremental_dedup(spark, src, idx, str(tmp_path / "ckpt"))
        q.awaitTermination()
        index = spark.read.parquet(idx)
        assert index.count() == 3
        sigs = spark.read.parquet(idx + "__sigs")
        # store holds exactly one signature row per signable index doc
        signed_ids = sorted(r["doc_id"] for r in sigs.select("doc_id").collect())
        assert signed_ids == [1, 2, 3]
        # stored signatures equal freshly-computed ones (no staleness)
        fresh = {
            r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(32))
            for r in minhash_signatures(index).collect()
        }
        for r in sigs.collect():
            assert tuple(r[f"mh_{i}"] for i in range(32)) == fresh[r["doc_id"]]


def test_bpe_batched_first_merge_is_strict_argmax_property(spark):
    """Property: for ANY corpus, the batched trainer's FIRST selection per
    round equals strict sequential BPE's next merge on the same state —
    checked on round one (the only round the two traversals provably share
    state for arbitrary input), plus structural invariants of the batched
    list: within a round selections share no symbol and never reuse a
    symbol equal to an earlier same-round merge's concatenation."""
    from hypothesis import given, settings, strategies as st

    from scylla_cdc_java_spark.pipeline.text import bpe_train

    word = st.text(alphabet="abc", min_size=1, max_size=5)
    corpus = st.lists(word, min_size=1, max_size=10)

    @settings(max_examples=6, deadline=None)
    @given(corpus)
    def check(words):
        docs = spark.createDataFrame(
            [(0, " ".join(words), "s")], "doc_id long, text string, source string"
        )
        m1 = [(r["a"], r["b"], r["n"]) for r in bpe_train(docs, n_merges=1, batch=1).collect()]
        m8 = [(r["a"], r["b"], r["n"]) for r in bpe_train(docs, n_merges=6, batch=8).collect()]
        if not m1:
            assert not m8
            return
        assert m8[0] == m1[0], "round-1 first selection must be the strict argmax"
        # structural invariant within the first round's batch: greedy
        # non-interaction (prefix of m8 selected from the same count table)
        used: set[str] = set()
        created: set[str] = set()
        for a, b, _n in m8:
            if {a, b} & (used | created):
                break  # next round began (round boundaries aren't recorded)
            used |= {a, b}
            created.add(a + b)

    check()


class TestResidualIvfPq:
    """Residual IVF-PQ (textbook IVF-ADC): score = exact coarse dot +
    ADC over the residual quantization."""

    @pytest.fixture()
    def clustered(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        centers = rng.randn(4, 16) * 10
        rows = []
        for i in range(48):
            c = i % 4
            v = centers[c] + rng.randn(16) * 0.01
            v = v / np.linalg.norm(v)
            rows.append((i, [float(x) for x in v], c))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    def test_recovers_cluster_neighbors(self, clustered, spark):
        from scylla_cdc_java_spark.pipeline.similarity import ivf_pq_residual_topk

        qs = clustered.where(F.col("vec_id") < 4)
        got = ivf_pq_residual_topk(
            clustered, qs, k=3, nprobe=2, n_centroids=4, m=4, n_codes=8
        ).collect()
        labels = {r["vec_id"]: r["label"] for r in clustered.collect()}
        assert len(got) == 12
        for r in got:
            assert labels[r["neighbor_id"]] == labels[r["query_id"]], (
                "residual IVF-PQ neighbor crossed clusters"
            )

    def test_score_decomposition_bound_vs_exact(self, clustered, spark):
        """Each pick's TRUE similarity must be within a small epsilon of
        the exact k-th best — the same score-quality contract as plain
        PQ, which residual encoding should only tighten."""
        import numpy as np

        from scylla_cdc_java_spark.pipeline.similarity import ivf_pq_residual_topk

        vecs = {r["vec_id"]: np.array(r["embedding"]) for r in clustered.collect()}
        qs = clustered.where(F.col("vec_id") < 4)
        exact = cosine_topk_bruteforce(clustered, qs, k=3).collect()
        kth_best = {}
        for r in exact:
            kth_best[r["query_id"]] = min(
                kth_best.get(r["query_id"], 1e18), r["dot_q"]
            )
        got = ivf_pq_residual_topk(
            clustered, qs, k=3, nprobe=4, n_centroids=4, m=4, n_codes=8
        ).collect()
        for r in got:
            true_dot = float(
                np.round(vecs[r["query_id"]] * 1000)
                @ np.round(vecs[r["neighbor_id"]] * 1000)
            )
            assert true_dot >= kth_best[r["query_id"]] - 0.01 * 1e6

    def test_empty_and_single(self, spark):
        from scylla_cdc_java_spark.pipeline.similarity import ivf_pq_residual_topk

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        one = spark.createDataFrame(
            [(0, [1.0] * 8)], "vec_id long, embedding array<float>"
        )
        assert ivf_pq_residual_topk(empty, one).count() == 0
        assert ivf_pq_residual_topk(one, one).count() == 0  # no non-self

    def test_adc_equals_exact_dot_when_quantization_exact(self, spark):
        """With n_codes >= corpus size every residual subvector becomes
        its own codeword (min-L2 assignment hits distance 0; singleton
        integer means are exact), so residual quantization is EXACT — and
        then q·x = q·c_x + q·r_x means adc must EQUAL the exact integer
        dot for every candidate, and the per-query ranking must match the
        exact scan. The round-6 defect (ADC LUT built from the per-cell
        query residual q−c, an L2-only trick) scores q·x − c_x·r_x
        instead — a per-neighbor bias this test catches on any
        non-degenerate data."""
        import numpy as np

        from scylla_cdc_java_spark.pipeline.similarity import ivf_pq_residual_topk

        rng = np.random.RandomState(23)
        rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(12)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qs = emb.where(F.col("vec_id") < 3)
        got = ivf_pq_residual_topk(
            emb, qs, k=12, nprobe=3, n_centroids=3, m=2, n_codes=16
        ).collect()
        qv = {
            r["vec_id"]: np.round(
                np.asarray(r["embedding"], dtype=np.float64) * 1000
            ).astype(np.int64)
            for r in emb.collect()
        }
        assert len(got) == 3 * 11  # all cells probed -> all non-self pairs
        for r in got:
            exact = int(qv[r["query_id"]] @ qv[r["neighbor_id"]])
            assert r["adc"] == exact, (r, exact)
        # rank order equals the exact integer-dot order (ties by id)
        for q in range(3):
            mine = [
                r["neighbor_id"]
                for r in sorted(
                    (r for r in got if r["query_id"] == q),
                    key=lambda r: r["rank"],
                )
            ]
            want = sorted(
                (v for v in qv if v != q),
                key=lambda v: (-(qv[q] @ qv[v]), v),
            )
            assert mine == want


class TestFrozenIndexEncode:
    """pq_index_artifacts / pq_index_encode: the index-maintenance path —
    new vectors encode against persisted artifacts without retraining."""

    def test_incremental_equals_rebuild_encode(self, spark):
        """encode(base) ∪ encode(new) against frozen artifacts must equal
        encode(base ∪ new) — ingest is replayable and order-free."""
        import numpy as np

        from scylla_cdc_java_spark.pipeline.similarity import (
            pq_index_artifacts,
            pq_index_encode,
        )

        rng = np.random.RandomState(11)
        rows = [
            (i, [float(x) for x in rng.randn(16)]) for i in range(60)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        base = emb.where(F.col("vec_id") % 2 == 0)
        new = emb.where(F.col("vec_id") % 2 == 1)
        cent, cb = pq_index_artifacts(base, n_centroids=4, m=4, n_codes=8)

        def rows_of(df):
            return sorted(tuple(r) for r in df.collect())

        together = rows_of(pq_index_encode(emb, cent, cb, m=4))
        split = rows_of(
            pq_index_encode(base, cent, cb, m=4).unionByName(
                pq_index_encode(new, cent, cb, m=4)
            )
        )
        assert together == split
        # every vector got m codes and a coarse cell from the artifact set
        cent_ids = {r["cid"] for r in cent.collect()}
        per = {}
        for vec_id, cid, sub, code in together:
            assert cid in cent_ids
            per.setdefault(vec_id, set()).add(sub)
        assert all(subs == {0, 1, 2, 3} for subs in per.values())
        assert len(per) == 60


class TestStreamIndexEncode:
    """stream_index_encode: continuous ingest into a frozen-artifact PQ
    index — restart-spanning, replay-idempotent."""

    def test_two_batches_restart_and_replay(self, spark, tmp_path):
        import numpy as np

        from scylla_cdc_java_spark.pipeline.similarity import (
            pq_index_artifacts,
            pq_index_encode,
            stream_index_encode,
        )

        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(40)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cent, cb = pq_index_artifacts(
            emb.where(F.col("vec_id") < 20), n_centroids=4, m=4, n_codes=8
        )
        cent, cb = cent.cache(), cb.cache()

        src = str(tmp_path / "src")
        idx = str(tmp_path / "idx")
        ckpt = str(tmp_path / "ckpt")
        b1 = emb.where(F.col("vec_id") < 20)
        b2 = emb.where(F.col("vec_id") >= 20)
        b1.write.parquet(src)
        stream_index_encode(spark, src, idx, ckpt, cent, cb, m=4).awaitTermination()
        import time

        time.sleep(0.05)
        b2.write.mode("append").parquet(src)
        # restart: run 2 resumes from the checkpoint, sees only batch 2
        stream_index_encode(spark, src, idx, ckpt, cent, cb, m=4).awaitTermination()

        def rows_of(df):
            return sorted(tuple(r) for r in df.collect())

        want = rows_of(pq_index_encode(emb, cent, cb, m=4))
        assert rows_of(spark.read.parquet(idx)) == want

        # crash-replay: a FRESH checkpoint re-processes every file; the
        # id anti-join must keep the index exactly unique
        stream_index_encode(
            spark, src, idx, str(tmp_path / "ckpt2"), cent, cb, m=4
        ).awaitTermination()
        assert rows_of(spark.read.parquet(idx)) == want

    def test_unreadable_index_fails_batch_instead_of_duplicating(
        self, spark, tmp_path
    ):
        """Regression (round-6 advisory): if the existing index can't be
        READ (corrupt footer etc.), the batch must FAIL so the checkpoint
        retries — the old bare ``except Exception`` silently skipped the
        idempotency anti-join, which is exactly the crash-replay moment
        dedup exists for. Only 'index missing/empty' may skip it."""
        import numpy as np
        import pytest
        from pyspark.errors.exceptions.captured import StreamingQueryException

        from scylla_cdc_java_spark.pipeline.similarity import (
            pq_index_artifacts,
            stream_index_encode,
        )

        rng = np.random.RandomState(5)
        rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(10)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cent, cb = pq_index_artifacts(emb, n_centroids=2, m=4, n_codes=4)
        cent, cb = cent.cache(), cb.cache()

        src = str(tmp_path / "src")
        idx = str(tmp_path / "idx")
        emb.write.parquet(src)
        # an index directory that EXISTS but whose sole file has a garbage
        # parquet footer — reads must raise, not be treated as "no index"
        import os

        os.makedirs(idx)
        with open(os.path.join(idx, "part-corrupt.parquet"), "wb") as f:
            f.write(b"PAR1 this is not a parquet file")
        with pytest.raises(StreamingQueryException):
            stream_index_encode(
                spark, src, idx, str(tmp_path / "ckpt"), cent, cb, m=4
            ).awaitTermination()


def test_bpe_train_local_path_matches_distributed(spark):
    """r12: bpe_train runs its merge rounds on the driver when the
    collapsed vocab fits (local_max_vocab); the local loop must be
    bit-identical to the distributed rounds — same counting, argmax
    tiebreak (n desc, a, b), 4*want+8 candidate truncation, and fold —
    for both strict-sequential (batch=1) and batched selection."""
    from scylla_cdc_java_spark.pipeline.text import bpe_train

    texts = [
        "abab abab banana bandana",
        "cabbage abacus ba ba ba",
        "aa aa aa ab ab b a",
        "xyzzy xyz zzy zy zy",
    ]
    docs = spark.createDataFrame(
        [(i, t, "src0") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    for batch in (1, 3):
        local = [
            (r["step"], r["a"], r["b"], r["n"])
            for r in bpe_train(docs, n_merges=6, batch=batch).collect()
        ]
        dist = [
            (r["step"], r["a"], r["b"], r["n"])
            for r in bpe_train(
                docs, n_merges=6, batch=batch, local_max_vocab=None
            ).collect()
        ]
        assert local == dist, f"batch={batch}: local={local} dist={dist}"


def test_cache_scope_unpersists_on_exit(spark):
    """cache() records a frame in the innermost cache_scope() open on the
    calling thread; leaving the scope, by return or by exception,
    unpersists exactly the frames recorded in it, while a frame cached
    outside every scope stays cached for the session."""
    import threading

    from scylla_cdc_java_spark.pipeline.cache import cache, cache_scope
    from scylla_cdc_java_spark.pipeline.dedup import winnow_fingerprints, winnow_pairs

    def cached(df):
        lvl = df.storageLevel  # looked up by plan in the cache manager
        return lvl.useMemory or lvl.useDisk

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, ("abcdefgh" * 4) + str(i % 3)) for i in range(20)],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs)  # the plan winnow_pairs caches inside
    with cache_scope():
        winnow_pairs(docs).count()
        assert cached(fp), "winnow_pairs should cache its fingerprint frame"
    assert not cached(fp)

    with pytest.raises(RuntimeError):
        with cache_scope():
            winnow_pairs(docs).count()
            assert cached(fp)
            raise RuntimeError("batch failed")
    assert not cached(fp)

    with cache_scope():
        outer = cache(docs.select("doc_id"))
        with cache_scope():
            inner = cache(docs.select("text"))
            assert cached(outer) and cached(inner)
        assert cached(outer) and not cached(inner)
    assert not cached(outer)

    # outside every scope, on this thread or on another one while this
    # thread has a scope open (scopes are per thread), a cache stays
    kept = cache(docs.select("doc_id", "text"))
    with cache_scope():
        cache(docs.select("doc_id"))
        other = threading.Thread(target=lambda: cache(docs.select("text")))
        other.start()
        other.join(timeout=120)
        assert not other.is_alive()
    assert cached(kept) and cached(docs.select("text"))
    assert not cached(docs.select("doc_id"))
    spark.catalog.clearCache()


def test_cache_scope_tolerates_a_stopped_session():
    """Leaving a scope whose frames belong to a stopped session raises
    nothing, and every frame's unpersist is still tried (a stopped
    session's unpersist raises Py4JJavaError, a Py4JError)."""
    from py4j.protocol import Py4JError

    from scylla_cdc_java_spark.pipeline.cache import cache, cache_scope

    class StoppedFrame:
        tried = False

        def cache(self):
            return self

        def unpersist(self, blocking):
            self.tried = True
            raise Py4JError("session stopped")

    frames = [StoppedFrame(), StoppedFrame()]
    with cache_scope():
        for frame in frames:
            cache(frame)
    assert all(frame.tried for frame in frames)
