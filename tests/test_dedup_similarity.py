"""textstats operator tests."""

import pytest
from pyspark.sql import Row

from opentelemetry_collector_contrib_spark.operators import textstats as ts


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=0, tokens=[1, 2, 3, 4, 5, 6, 7, 8], text="the cat sat on the mat"),
        Row(doc_id=1, tokens=[1, 2, 3, 4, 5, 6, 7, 8], text="the cat sat on the mat"),   # exact dup of 0
        Row(doc_id=2, tokens=[1, 2, 3, 4, 5, 6, 7, 9], text="the cat sat on the hat"),   # near dup
        Row(doc_id=3, tokens=[50, 60, 70, 80, 90, 100, 110, 120], text="der hund und die katze"),
        Row(doc_id=4, tokens=[51, 61, 71, 81, 91, 101, 111, 121], text="le chien est dans la maison"),
    ]
    return spark.createDataFrame(rows, "doc_id long, tokens array<int>, text string")


class TestTextStats:
    def test_token_count_and_quality(self, docs):
        out = ts.quality_score(ts.token_count(docs), "text").collect()
        by_id = {r.doc_id: r for r in out}
        assert by_id[0].n_words == 6
        assert 0 < by_id[0].quality <= 1.0

    def test_language_id(self, docs):
        out = ts.language_id(docs, "text")
        by_id = {r.doc_id: r.lang_pred for r in out.collect()}
        assert by_id[0] == "en"
        assert by_id[3] == "de"
        assert by_id[4] == "fr"

    def test_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, tokens=[1, 2, 3]), Row(doc_id=1, tokens=[3, 2, 1])],
            "doc_id long, tokens array<int>",
        )
        out = {r.doc_id: r.fp for r in ts.fingerprint(df).collect()}
        assert out[0] != out[1]


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        """Sort+fold repetition counters match hand-derived n-gram
        multiplicities, including short/empty docs."""
        df = spark.createDataFrame(
            [
                (0, [5, 5, 5, 7, 5, 5]),
                (1, [1, 2, 1, 2, 1]),
                (2, [9]),
                (3, []),
            ],
            "doc_id long, tokens array<int>",
        )
        got = {
            r.doc_id: (r.npos_2, r.top_2, r.dup_2, r.npos_3, r.top_3, r.dup_3)
            for r in ts.repetition_stats(df, "tokens").collect()
        }
        assert got == {
            0: (5, 3, 3, 4, 1, 0),
            1: (4, 2, 4, 3, 2, 2),
            2: (0, 0, 0, 0, 0, 0),
            3: (0, 0, 0, 0, 0, 0),
        }


class TestTokenFrequencies:
    def test_counts_and_rank_tiebreak(self, spark):
        df = spark.createDataFrame(
            [(0, [3, 1, 3]), (1, [1, 2, 3])], "doc_id long, tokens array<int>"
        )
        rows = ts.token_frequencies(df, "tokens", top_k=2).collect()
        got = sorted((r.rank, r.token, r.cnt) for r in rows)
        # counts: 3→3, 1→2, 2→1; rank ties break token-asc
        assert got == [(1, 3, 3), (2, 1, 2)]
        full = {r.token: r.cnt for r in ts.token_frequencies(df, "tokens").collect()}
        assert full == {1: 2, 2: 1, 3: 3}


class TestNewOpsBruteForce:
    """Seeded random corpus vs pure-Python brute force — one Spark job per
    operator, exhaustive value equality."""

    def _corpus(self):
        import random

        rng = random.Random(1234)
        return [
            (i, [rng.randrange(0, 30) for _ in range(rng.randrange(0, 40))])
            for i in range(30)
        ]

    def test_repetition_stats_matches_brute_force(self, spark):
        from collections import Counter

        rows = self._corpus()
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        got = {
            r.doc_id: (r.npos_2, r.top_2, r.dup_2, r.npos_3, r.top_3, r.dup_3)
            for r in ts.repetition_stats(df, "tokens").collect()
        }
        for doc_id, toks in rows:
            exp = []
            for n in (2, 3):
                grams = [tuple(toks[i : i + n]) for i in range(max(0, len(toks) - n + 1))]
                c = Counter(grams)
                exp += [
                    len(grams),
                    max(c.values()) if c else 0,
                    sum(v for v in c.values() if v > 1),
                ]
            assert got[doc_id] == tuple(exp), doc_id
