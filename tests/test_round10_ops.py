"""Round-10 operator tests: BPE trainer steps (pair counts + greedy
merge semantics), duplicated-substring spans, bigram-LM perplexity
and SQ8 ADC — each against a hand-computed or numpy
reimplementation, independent of the DuckDB oracles. (Residual
IVFADC's numpy reimplementation lives in tests/test_pq.py.)"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sales_data_pipeline_spark.operators import similarity
from sales_data_pipeline_spark.queries.base import load_all

SF_DIR = "/root/testdata/sf0.001"


def _registry():
    return load_all()


def _docs_dir(spark, tmp_path, rows):
    """Materialize a crafted documents table shaped like the testdata
    so query fns can run against it as an sf_dir."""
    df = spark.createDataFrame(
        [(i, t, "en", "crafted", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    return str(tmp_path)


class TestBpeTrainerSteps:
    def test_pair_counts_weighted_by_word_freq(self, spark, tmp_path):
        # "ab" appears 3x, "bc" 1x -> pair (a,b) weight 3, (b,c) 1
        sf = _docs_dir(spark, tmp_path, [(1, "ab ab bc"), (2, "ab")])
        out = _registry()["bpe_pair_counts"].fn(spark, sf).collect()
        counts = {(r.a, r.b): r.pair_count for r in out}
        assert counts[("a", "b")] == 3
        assert counts[("b", "c")] == 1

    def test_merge_greedy_run_semantics(self, spark, tmp_path):
        # top pair is (a,a) with count 3 (positions 1,2,3 of "aaaa");
        # greedy left-to-right merges every OTHER position of the run:
        # "aaaa" -> "aa","aa" = 2 merges, NOT 3
        sf = _docs_dir(spark, tmp_path, [(1, "aaaa bb")])
        row = _registry()["bpe_merge_step"].fn(spark, sf).collect()[0]
        assert (row.a, row.b) == ("a", "a")
        assert row.pair_count == 3
        assert row.merge_occurrences == 2
        assert row.symbols_before == 6  # 4 + 2
        assert row.symbols_after == 4

    def test_merge_disjoint_pairs_all_apply(self, spark, tmp_path):
        # pair (a,b): "abab" has two non-overlapping occurrences (both
        # merge), "abxy" one; ties at (x,y)=2 lose to (a,b)=3
        sf = _docs_dir(spark, tmp_path, [(1, "abab xy abxy")])
        row = _registry()["bpe_merge_step"].fn(spark, sf).collect()[0]
        assert (row.a, row.b) == ("a", "b")
        assert row.pair_count == 3
        assert row.merge_occurrences == 3
        assert row.symbols_before == 10
        assert row.symbols_after == 7

    def test_merge_weighted_by_word_frequency(self, spark, tmp_path):
        # the same word repeated weights its merges by its count
        sf = _docs_dir(spark, tmp_path, [(1, "aaa aaa aaa bb")])
        row = _registry()["bpe_merge_step"].fn(spark, sf).collect()[0]
        assert (row.a, row.b) == ("a", "a")
        assert row.pair_count == 6  # 2 positions x weight 3
        assert row.merge_occurrences == 3  # floor(3/2)=1 merge x 3


class TestBpeMergeProperty:
    """Randomized cross-check of the gaps-and-islands merge count
    against a DIRECT greedy left-to-right merger — the strongest pin
    on the ceil(C/2)-per-chain reasoning, over the adversarial
    two-letter alphabet where runs and overlaps dominate."""

    @staticmethod
    def _greedy_merges(word: str, a: str, b: str) -> int:
        i, n, cnt = 0, len(word), 0
        while i < n - 1:
            if word[i] == a and word[i + 1] == b:
                cnt += 1
                i += 2
            else:
                i += 1
        return cnt

    @classmethod
    def _reference(cls, words: list[str]):
        vocab: dict[str, int] = {}
        for w in words:
            vocab[w] = vocab.get(w, 0) + 1
        pairs: dict[tuple[str, str], int] = {}
        for w, wf in vocab.items():
            for x, y in zip(w, w[1:]):
                pairs[(x, y)] = pairs.get((x, y), 0) + wf
        if not pairs:
            return None
        (a, b), pc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges = sum(
            cls._greedy_merges(w, a, b) * wf for w, wf in vocab.items()
        )
        before = sum(len(w) * wf for w, wf in vocab.items())
        return (a, b, pc, merges, before, before - merges)

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=7),
            min_size=1,
            max_size=5,
        ).filter(lambda ws: any(len(w) >= 2 for w in ws))
    )
    def test_matches_direct_greedy(self, spark, tmp_path, words):
        sf = _docs_dir(spark, tmp_path, [(1, " ".join(words))])
        row = _registry()["bpe_merge_step"].fn(spark, sf).collect()[0]
        got = (
            row.a,
            row.b,
            row.pair_count,
            row.merge_occurrences,
            row.symbols_before,
            row.symbols_after,
        )
        assert got == self._reference(words)


class TestSubstringSpans:
    def test_detects_cross_doc_span(self, spark, tmp_path):
        span = "q1 q2 q3 q4 q5 q6 q7 q8"
        sf = _docs_dir(
            spark,
            tmp_path,
            [
                (1, span + " tail1 tail2"),
                (2, "head1 " + span),
                (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
            ],
        )
        out = _registry()["dedup_substring_spans"].fn(spark, sf).collect()
        grams = {r.gram: r for r in out}
        assert span in grams
        assert grams[span].n_docs == 2
        assert grams[span].n_occurrences == 2
        assert grams[span].min_doc_id == 1
        # the unrelated doc contributes no shared span
        assert all(r.n_docs >= 2 for r in out)
        assert not any(g.startswith("u1") for g in grams)

    def test_short_docs_excluded_no_partial_grams(self, spark, tmp_path):
        # 7-word docs can't form an 8-gram even when identical
        sf = _docs_dir(
            spark,
            tmp_path,
            [(1, "s1 s2 s3 s4 s5 s6 s7"), (2, "s1 s2 s3 s4 s5 s6 s7")],
        )
        out = _registry()["dedup_substring_spans"].fn(spark, sf).collect()
        assert out == []


class TestBigramPerplexity:
    def test_matches_hand_model(self, spark, tmp_path):
        rows = [(1, "a b a b"), (2, "a b c")]
        sf = _docs_dir(spark, tmp_path, rows)
        # train the same add-0.5 bigram LM in plain python
        toks = [t.split() for _i, t in rows]
        uni: dict[str, int] = {}
        big: dict[tuple[str, str], int] = {}
        for ws in toks:
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for x, y in zip(ws, ws[1:]):
                big[(x, y)] = big.get((x, y), 0) + 1
        v = float(len(uni))
        expected = {}
        for i, t in rows:
            ws = t.split()
            terms = [
                math.floor(
                    -math.log2(
                        (big[(x, y)] + 0.5) / (uni[x] + 0.5 * v)
                    )
                    * 1_000_000
                    + 0.5
                )
                for x, y in zip(ws, ws[1:])
            ]
            n = len(terms)
            expected[i] = (
                math.floor(sum(terms) / 1e6 / n * 10000 + 0.5) / 10000.0,
                n,
            )
        out = _registry()["bigram_perplexity_scores"].fn(spark, sf).collect()
        got = {r.doc_id: (r.cond_bits_per_token, r.n_bigrams) for r in out}
        assert got == {
            i: (bits, n) for i, (bits, n) in expected.items()
        }


class TestQualityClassifier:
    def test_matches_hand_model(self, spark, tmp_path):
        import hashlib

        from sales_data_pipeline_spark.queries.llm import (
            _QC_NBUCKETS,
            _qc_weight_micro,
        )

        rows = [(1, "alpha beta gamma"), (2, "delta alpha")]
        sf = _docs_dir(spark, tmp_path, rows)
        expected = {}
        for i, t in rows:
            ws = t.split()
            s = 0
            for w in ws:
                b = (
                    int(hashlib.md5(w.encode()).hexdigest()[:6], 16)
                    % _QC_NBUCKETS
                )
                s += _qc_weight_micro(b)
            logit = s / 1e6 / len(ws)
            prob = 1.0 / (1.0 + math.exp(-logit))
            expected[i] = (
                len(ws),
                math.floor(logit * 10000 + 0.5) / 10000.0,
                math.floor(prob * 10000 + 0.5) / 10000.0,
                prob >= 0.5,
            )
        out = (
            _registry()["quality_classifier_scores"].fn(spark, sf).collect()
        )
        got = {
            r.doc_id: (r.n_tokens, r.logit, r.prob, r.keep) for r in out
        }
        assert got == expected


class TestSq8Adc:
    def test_matches_numpy_reimplementation(self, spark):
        e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
        ids = np.array([r.vec_id for r in e])
        vecs = np.array([list(r.embedding) for r in e], dtype=np.float64)
        q = np.array(similarity.query_vector())
        lo, hi = vecs.min(axis=0), vecs.max(axis=0)
        code = np.clip(
            np.floor((vecs - lo) / (hi - lo) * 255 + 0.5), 0, 255
        )
        recon = lo + code * (hi - lo) / 255
        dist = ((q - recon) ** 2).sum(axis=1)
        scored = sorted(
            (math.floor(d * 1e6 + 0.5) / 1e6, int(i))
            for d, i in zip(dist, ids)
        )
        expected = [(i, d) for d, i in scored[:10]]
        got = [
            (r.vec_id, r.sq8_dist)
            for r in _registry()["knn_sq8_adc"].fn(spark, SF_DIR).collect()
        ]
        assert got == expected

    def test_sq8_tracks_exact_neighbors(self, spark):
        """8-bit scalar quantization is near-exact: its top-10 must
        share most members with the exact L2 top-10 (sanity that the
        quantizer is a refinement, not noise)."""
        e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
        ids = np.array([r.vec_id for r in e])
        vecs = np.array([list(r.embedding) for r in e], dtype=np.float64)
        q = np.array(similarity.query_vector())
        exact = ((vecs - q) ** 2).sum(axis=1)
        top_exact = {
            int(i)
            for _d, i in sorted(zip(exact, ids), key=lambda t: (t[0], t[1]))[
                :10
            ]
        }
        got = {
            r.vec_id
            for r in _registry()["knn_sq8_adc"].fn(spark, SF_DIR).collect()
        }
        assert len(got & top_exact) >= 8
