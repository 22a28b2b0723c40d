"""Dedup / similarity / textstats operator tests."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from opentelemetry_collector_contrib_spark.operators import dedup as dd
from opentelemetry_collector_contrib_spark.operators import similarity as sim
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


class TestDedup:
    def test_exact(self, docs):
        kept = dd.exact_dedup(docs, ["text"], "doc_id")
        ids = {r.doc_id for r in kept.collect()}
        assert 0 in ids and 1 not in ids  # min-id representative kept
        assert ids == {0, 2, 3, 4}
        # fast-hash method agrees
        ids2 = {r.doc_id for r in dd.exact_dedup(docs, ["text"], "doc_id", method="xxhash128").collect()}
        assert ids2 == ids

    def test_minhash_lsh(self, docs):
        deduped = dd.minhash_dedup(docs, "tokens", "doc_id", num_perms=8, rows_per_band=4)
        ids = {r.doc_id for r in deduped.collect()}
        assert 0 in ids and 1 not in ids  # identical tokens always collide
        assert 3 in ids and 4 in ids  # dissimilar docs survive

    def test_lsh_pairs_and_components(self, docs):
        sig = dd.minhash_signature(docs, "tokens", 8)
        pairs = dd.lsh_candidate_pairs(sig, "doc_id", 8, rows_per_band=4)
        p = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        assert (0, 1) in p
        comp = dd.connected_components(pairs)
        c = {r.node: r.component for r in comp.collect()}
        assert c[1] == 0

    def test_simhash(self, docs):
        out = dd.simhash(docs, "tokens", bits=16)
        vals = {r.doc_id: r.simhash for r in out.collect()}
        assert vals[0] == vals[1]  # identical docs → identical fingerprint
        assert 0 <= vals[0] < (1 << 16)
        pairs = dd.simhash_dup_pairs(out, "doc_id")
        assert (0, 1) in {(r.doc_a, r.doc_b) for r in pairs.collect()}

    def test_ngram_jaccard(self, docs):
        pairs = dd.jaccard_pairs(docs, "doc_id", "tokens", n=3, threshold=0.4)
        got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
        assert got[(0, 1)] == 1.0
        assert 0.4 <= got[(0, 2)] < 1.0  # shares 5 of 6+6-5 shingles... ≥ threshold
        assert (0, 3) not in got

    def test_simhash_near_pairs_matches_brute_force(self, spark):
        """Pigeonhole banding finds EXACTLY the hamming≤k pairs a naive
        all-pairs compare finds (pigeonhole: ≤k flipped bits can't touch
        all k+1 slices), at any slice alignment."""
        import itertools, random

        rng = random.Random(7)
        fps = [rng.getrandbits(16) for _ in range(40)] + [0b1010101010101010]
        fps.append(0b1010101010101011)  # hamming 1 from the previous
        rows = [Row(doc_id=i, simhash=v) for i, v in enumerate(fps)]
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        for k in (1, 2, 3):
            got = {(r.doc_a, r.doc_b, r.hamming)
                   for r in dd.simhash_near_pairs(df, "doc_id", bits=16, k=k).collect()}
            want = {(i, j, bin(a ^ b).count("1"))
                    for (i, a), (j, b) in itertools.combinations(enumerate(fps), 2)
                    if bin(a ^ b).count("1") <= k}
            assert got == want, k
        assert (40, 41, 1) in got

    def test_shingles_short_doc(self, spark):
        df = spark.createDataFrame([Row(doc_id=0, tokens=[1, 2])], "doc_id long, tokens array<int>")
        out = dd.ngram_shingles(df, "tokens", 3).collect()[0]
        assert out.shingles == []


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.standard_normal(8)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # 40 and 41: near-duplicates of 0
    base = rows[0].embedding
    rows.append(Row(vec_id=40, embedding=[x * 1.001 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class TestSimilarity:
    def test_brute_force_topk(self, emb):
        queries = emb.filter("vec_id = 0")
        out = sim.brute_force_topk(emb, queries, k=5, vec_col="embedding")
        rows = sorted(out.collect(), key=lambda r: r.rank)
        assert len(rows) == 5
        assert rows[0].vec_id == 40  # the planted near-dup ranks first
        assert rows[0].score > 0.999
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]

    def test_lsh_topk_finds_neardup(self, emb):
        queries = emb.filter("vec_id = 0")
        out = sim.lsh_topk(emb, queries, k=5, dim=8, num_planes=4)
        rows = sorted(out.collect(), key=lambda r: r.rank)
        assert rows and rows[0].vec_id == 40  # same bucket by construction

    def test_embedding_near_dups(self, emb):
        pairs = sim.embedding_near_dups(emb, dim=8, threshold=0.999, num_planes=4)
        assert (0, 40) in {(r.doc_a, r.doc_b) for r in pairs.collect()}


class TestQuantizedNearDup:
    def test_bucket_join_subset_of_all_pairs(self, emb):
        """The quantized bucketed near-dup returns pairs whose quantized
        cosine clears the threshold AND that share a hyperplane bucket —
        verified against an explicit recompute, and the qdot values are
        integer-exact."""
        from opentelemetry_collector_contrib_spark.operators import similarity as sim

        out = sim.embedding_near_dups_quantized(
            emb, "vec_id", "embedding", dim=8, num_planes=2, seed=1,
            threshold_num=9, threshold_den=10,
        ).collect()

        rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
        planes = sim.quantized_hyperplanes(8, 2, seed=1)
        def bucket(v):
            q = np.round(v * 1000).astype(np.int64)
            return sum((1 << p) for p, pl in enumerate(planes) if int(q @ np.array(pl)) >= 0)
        for r in out:
            qa = np.round(rows[r.vec_a] * 1000).astype(np.int64)
            qb = np.round(rows[r.vec_b] * 1000).astype(np.int64)
            assert bucket(rows[r.vec_a]) == bucket(rows[r.vec_b])
            assert int(qa @ qb) == r.qdot
            assert 100 * r.qdot * r.qdot >= 81 * int(qa @ qa) * int(qb @ qb)
        # the planted near-identical pair must be found (same bucket by construction)
        assert any({r.vec_a, r.vec_b} == {0, 40} for r in out)


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


def test_jaccard_hot_shingle_cap(spark):
    """max_shingle_freq drops stop-shingles from the inverted index: pairs
    sharing only hot shingles disappear, everything else is a lower bound
    with exact set sizes."""
    rows = []
    # 20 docs all share the hot shingle prefix (1,2,3); docs 0/1 also share
    # a rare tail
    for i in range(20):
        tail = [100 + i, 200 + i, 300 + i]
        if i in (0, 1):
            tail = [7, 8, 9]
        rows.append(Row(doc_id=i, tokens=[1, 2, 3] + tail))
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")

    exact = dd.jaccard_pairs(df, "doc_id", "tokens", n=3, threshold=0.0)
    capped = dd.jaccard_pairs(df, "doc_id", "tokens", n=3, threshold=0.0,
                              max_shingle_freq=5)
    e = {(r.doc_a, r.doc_b): r.common for r in exact.collect()}
    c = {(r.doc_a, r.doc_b): r.common for r in capped.collect()}
    # every pair owes its existence to the hot (1,2,3..) shingles except 0-1
    assert len(e) == 20 * 19 // 2
    assert set(c) == {(0, 1)}
    assert c[(0, 1)] < e[(0, 1)]  # hot shingles removed from |∩|


class TestIVF:
    def test_ivf_full_probe_equals_brute_force(self, emb):
        """n_probe = #cells probes every inverted list → IVF must reproduce
        the exact top-k; with a small probe the planted near-dup is still
        found (shared nearest centroid by construction)."""
        cents = sim.train_ivf_centroids(emb, k=4, sample_rows=100, iters=5, seed=3)
        queries = emb.filter("vec_id = 0")

        full = sim.ivf_topk(emb, queries, cents, k=5, n_probe=4)
        brute = sim.brute_force_topk(emb, queries, k=5)
        got = [r.vec_id for r in sorted(full.collect(), key=lambda r: r.rank)]
        want = [r.vec_id for r in sorted(brute.collect(), key=lambda r: r.rank)]
        assert got == want

        probe1 = sim.ivf_topk(emb, queries, cents, k=5, n_probe=1)
        rows = sorted(probe1.collect(), key=lambda r: r.rank)
        assert rows and rows[0].vec_id == 40  # planted near-dup of 0
        assert rows[0].score > 0.999


class TestBloomDecontaminate:
    def test_mix32_python_replica_matches_column(self, spark):
        from pyspark.sql import functions as F

        from opentelemetry_collector_contrib_spark.functions.hashing import mix32_col, mix32_py

        keys = [0, 1, 97, 65535, 65536, 4294967295, 1234567890]
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        got = {r.k: r.m for r in df.select("k", mix32_col(F.col("k"), seed=3).alias("m")).collect()}
        assert got == {k: mix32_py(k % (1 << 32), 3) for k in keys}

    def test_bloom_exact_counts_match_plain_decontaminate(self, spark):
        from pyspark.sql import functions as F

        corpus = spark.createDataFrame(
            [(i, [i % 7, (i * 3) % 11, i % 5, (i + 1) % 7, i % 11, (i * 2) % 9])
             for i in range(60)],
            "doc_id long, tokens array<int>",
        )
        bench = corpus.filter(F.col("doc_id") % 9 == 0)
        plain = {r.doc_id: r.contaminated_ngrams
                 for r in dd.decontaminate(corpus, bench, "doc_id", "tokens", n=3).collect()}
        bloom = {r.doc_id: (r.bloom_ngrams, r.contaminated_ngrams)
                 for r in dd.decontaminate_bloom(corpus, bench, "doc_id", "tokens", n=3).collect()}
        # exact hit counts identical; bloom candidates are a superset
        assert {d: c for d, (_, c) in bloom.items() if c > 0} == plain
        assert all(b >= c for b, c in bloom.values())

    def test_bloom_prefilter_plan_has_no_extra_join(self, spark):
        """The membership test must be pure scan-side arithmetic: the only
        join in the plan is the exact broadcast verify, and the bitmap rides
        as a literal (no shuffle before the final per-doc aggregate)."""
        from pyspark.sql import functions as F

        corpus = spark.createDataFrame(
            [(i, [1, 2, 3, 4, 5]) for i in range(10)], "doc_id long, tokens array<int>"
        )
        bench = corpus.filter(F.col("doc_id") == 0)
        plan = (
            dd.decontaminate_bloom(corpus, bench, "doc_id", "tokens", n=3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in plan


class TestIVFPQ:
    def _np_adc(self, E, cents, books, qid, n_probe, k):
        """Independent numpy replay of the full IVFADC chain."""
        q = {i: np.round(np.asarray(v, dtype=np.float64) * 1000).astype(np.int64)
             for i, v in E.items()}
        C = np.array(cents, dtype=np.int64)
        B = np.array(books, dtype=np.int64)
        m, ksub, dsub = B.shape

        def order(v):
            s = (v @ C.T).astype(np.float64) / np.sqrt((C * C).sum(axis=1))
            return sorted(range(len(C)), key=lambda c: (-s[c], c))

        assign = {i: order(v)[0] for i, v in q.items()}
        codes = {
            i: [int(np.argmin((((q[i] - C[assign[i]])[j * dsub:(j + 1) * dsub]
                                - B[j]) ** 2).sum(axis=1)))
               for j in range(m)]
            for i in q
        }
        scored = []
        for cell in order(q[qid])[:n_probe]:
            qr = q[qid] - C[cell]
            dtab = [[int((((qr[j * dsub:(j + 1) * dsub] - B[j][c]) ** 2).sum()))
                     for c in range(ksub)] for j in range(m)]
            for i, cl in assign.items():
                if cl == cell and i != qid:
                    scored.append(
                        (sum(dtab[j][codes[i][j]] for j in range(m)), i, cell)
                    )
        scored.sort()
        return scored[:k]

    def test_ivfpq_matches_numpy_replay(self, emb):
        cents = sim.quantized_pq_codebooks(8, 1, 4, seed=5, scale=800)[0]
        books = sim.quantized_pq_codebooks(8, 4, 8, seed=9, scale=700)
        queries = emb.filter("vec_id = 0")
        out = sim.ivfpq_topk(emb, queries, cents, books, k=5, n_probe=2)
        got = [(r.adist, r.vec_id, r.cell)
               for r in sorted(out.collect(), key=lambda r: r.rank)]
        E = {r.vec_id: r.embedding for r in emb.collect()}
        assert got == self._np_adc(E, cents, books, 0, n_probe=2, k=5)

    def test_trained_codebooks_beat_seeded_on_adc_error(self, emb):
        """k-means training is the quality path: average quantization error
        (true residual vs codebook reconstruction) must drop vs seeded
        random books at the same (m, ksub)."""
        E = np.vstack([np.asarray(r.embedding, dtype=np.float64)
                       for r in emb.collect()])
        trained = sim.pq_train_codebooks(emb, m=4, ksub=8, sample_rows=100,
                                         iters=8, seed=3)
        seeded = np.array(sim.quantized_pq_codebooks(8, 4, 8, seed=9, scale=700),
                          dtype=np.float64) / 1000.0

        def err(B):
            tot = 0.0
            for j in range(4):
                S = E[:, j * 2:(j + 1) * 2]
                d2 = ((S[:, None, :] - B[j][None]) ** 2).sum(axis=2)
                tot += d2.min(axis=1).sum()
            return tot

        assert err(trained) < err(seeded)

    def test_ivfpq_code_payload_is_m_ints(self, emb):
        cents = sim.quantized_pq_codebooks(8, 1, 4, seed=5, scale=800)[0]
        books = sim.quantized_pq_codebooks(8, 4, 8, seed=9, scale=700)
        enc = sim.pq_encode_quantized(
            emb.withColumn("cell", F.lit(0)), books, vec_col="embedding",
            residual_of=cents, cell_col="cell",
        )
        row = enc.select("code").first()
        assert len(row.code) == 4
        assert all(0 <= c < 8 for c in row.code)


def test_lsh_multi_table_recall(spark, emb):
    """Multi-table LSH unions independent plane sets: recall vs brute force
    is monotonically ≥ the single-table run, and the planted near-dup is
    always found; no duplicate (query, candidate) rows leak from the table
    explosion."""
    queries = emb.filter("vec_id in (0, 5, 9)")
    brute = {
        (r.query_id, r.vec_id)
        for r in sim.brute_force_topk(emb, queries, k=5).collect()
    }

    def result(n_tables):
        got = sim.lsh_topk(
            emb, queries, k=5, dim=8, num_planes=4, num_tables=n_tables
        ).collect()
        pairs = [(r.query_id, r.vec_id) for r in got]
        assert len(pairs) == len(set(pairs))  # dedup across tables held
        return set(pairs)

    p1, p4 = result(1), result(4)
    r1 = len(p1 & brute) / len(brute)
    r4 = len(p4 & brute) / len(brute)
    assert r4 >= r1  # more tables never hurt recall
    assert r4 >= 0.4  # consistent with 1-(1-p^4)^4 for random 8-d vectors
    # the planted near-dup (cos≈1 ⇒ collides in every table) is always found
    assert (0, 40) in p4


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


class TestMixtureSample:
    def test_rates_and_caps(self, spark):
        from opentelemetry_collector_contrib_spark.operators.sampler import (
            mixture_sample,
        )

        rows = (
            [(i, "a") for i in range(4)]
            + [(100 + i, "b") for i in range(4)]
            + [(200 + i, "c") for i in range(4)]
        )
        df = spark.createDataFrame(rows, "id long, dom string")
        # both weighted domains want 2× their size → rate caps at 100%;
        # unweighted domain c drops entirely
        full = mixture_sample(df, "dom", F.col("id"), {"a": 0.5, "b": 0.5}, 16)
        got = {(r.dom, r.id) for r in full.collect()}
        assert got == {(d, i) for i, d in rows if d in ("a", "b")}
        # fractional rate: deterministic subset of the right domain
        part1 = mixture_sample(df, "dom", F.col("id"), {"a": 0.25}, 4, seed=9)
        part2 = mixture_sample(df, "dom", F.col("id"), {"a": 0.25}, 4, seed=9)
        s1 = {(r.dom, r.id) for r in part1.collect()}
        assert s1 == {(r.dom, r.id) for r in part2.collect()}  # deterministic
        assert all(d == "a" for d, _ in s1) and len(s1) <= 4


class TestDeterministicShuffle:
    def test_shards_positions_determinism(self, spark):
        from opentelemetry_collector_contrib_spark.operators.packing import (
            deterministic_shuffle,
        )

        df = spark.createDataFrame([(i,) for i in range(100)], "id long")
        out1 = deterministic_shuffle(df, F.col("id"), 4, seed=5).collect()
        out2 = deterministic_shuffle(df, F.col("id"), 4, seed=5).collect()
        assert sorted((r.id, r.shard_id, r.pos) for r in out1) == sorted(
            (r.id, r.shard_id, r.pos) for r in out2
        )
        assert sorted(r.id for r in out1) == list(range(100))
        by_shard: dict[int, list[int]] = {}
        for r in out1:
            by_shard.setdefault(r.shard_id, []).append(r.pos)
        assert len(by_shard) > 1  # hash actually spreads
        for poss in by_shard.values():
            assert sorted(poss) == list(range(len(poss)))  # contiguous 0..k-1
        # a different seed permutes
        out3 = deterministic_shuffle(df, F.col("id"), 4, seed=6).collect()
        assert {(r.id, r.shard_id) for r in out3} != {
            (r.id, r.shard_id) for r in out1
        }


class TestDecontaminate:
    def test_flag_and_drop(self, spark):
        """Docs sharing >= min_hits distinct n-grams with the benchmark are
        flagged with the exact overlapping-shingle count; drop mode anti-joins
        them away."""
        corpus = spark.createDataFrame(
            [
                (0, [1, 2, 3, 4, 5]),      # contains bench 3-grams (1,2,3) (2,3,4) (3,4,5)
                (1, [9, 9, 9, 1, 2, 3]),   # one overlapping 3-gram: (1,2,3)
                (2, [7, 8, 9, 10]),        # clean
            ],
            "doc_id long, tokens array<int>",
        )
        bench = spark.createDataFrame(
            [(100, [1, 2, 3, 4, 5])], "doc_id long, tokens array<int>"
        )
        flags = {
            r.doc_id: r.contaminated_ngrams
            for r in dd.decontaminate(corpus, bench, "doc_id", "tokens", n=3).collect()
        }
        assert flags == {0: 3, 1: 1}
        clean = dd.decontaminate(
            corpus, bench, "doc_id", "tokens", n=3, mode="drop"
        )
        assert {r.doc_id for r in clean.collect()} == {2}
        # min_hits raises the bar: doc 1's single shared 3-gram survives
        sel = dd.decontaminate(
            corpus, bench, "doc_id", "tokens", n=3, min_hits=2, mode="drop"
        )
        assert {r.doc_id for r in sel.collect()} == {1, 2}


class TestPacking:
    def test_pack_sequences_exact(self, spark):
        """Packed chunks = the concatenated per-shard stream cut every L
        tokens, documents spanning boundaries, trailing partial kept (or
        dropped with drop_last)."""
        from pyspark.sql import types as T

        from opentelemetry_collector_contrib_spark.operators.packing import (
            pack_sequences,
        )

        sch = T.StructType([
            T.StructField("shard", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ])
        rows = [
            ("a", 0, [1, 2, 3]),
            ("a", 1, []),           # empty doc vanishes from the stream
            ("a", 2, [4, 5, 6, 7]),
            ("a", 3, [8]),
            ("b", 0, [9, 10]),
        ]
        df = spark.createDataFrame(rows, sch)
        out = pack_sequences(df, "shard", "doc_id", "tokens", seq_len=4)
        got = {(r.shard, r.chunk_id): (r.n_tokens, list(r.tokens))
               for r in out.collect()}
        assert got == {
            ("a", 0): (4, [1, 2, 3, 4]),
            ("a", 1): (4, [5, 6, 7, 8]),
            ("b", 0): (2, [9, 10]),
        }
        full = pack_sequences(df, "shard", "doc_id", "tokens", seq_len=4,
                              drop_last=True)
        assert {(r.shard, r.chunk_id) for r in full.collect()} == {
            ("a", 0), ("a", 1)
        }


class TestLineDedup:
    def test_corpus_first_occurrence_wins(self, spark):
        """Duplicate lines keep only their (id, pos)-first occurrence;
        short exempt lines always survive; docs reassemble in order."""
        df = spark.createDataFrame(
            [
                (0, "alpha beta\nshared line\nx"),
                (1, "shared line\ngamma\nx"),
                (2, "shared line\nshared line\ndelta"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: (r.dedup_text, r.n_lines, r.n_kept)
            for r in dd.line_dedup(df, "doc_id", "text", min_line_len=2).collect()
        }
        # 'shared line' first occurs at (0,1); 'x' (len 1) is exempt twice
        assert out[0] == ("alpha beta\nshared line\nx", 3, 3)
        assert out[1] == ("gamma\nx", 3, 2)
        assert out[2] == ("delta", 3, 1)

    def test_within_doc_duplicates_also_collapse(self, spark):
        df = spark.createDataFrame(
            [(7, "same\nsame\nsame")], "doc_id long, text string"
        )
        row = dd.line_dedup(df, "doc_id", "text").collect()[0]
        assert (row.dedup_text, row.n_lines, row.n_kept) == ("same", 3, 1)


class TestDuplicatedSpans:
    def test_cross_doc_span_counts(self, spark):
        """4-gram [1,2,3,4] occurs in docs 0,1 (dup); doc 2 shares nothing;
        doc 0's repeated internal gram counts every position."""
        df = spark.createDataFrame(
            [
                (0, [1, 2, 3, 4, 9, 1, 2, 3, 4]),  # two windows of 1234
                (1, [5, 1, 2, 3, 4, 6]),           # one window of 1234
                (2, [7, 8, 9, 10, 11]),            # unique grams only
                (3, [1, 2, 3]),                    # too short for n=4
            ],
            "doc_id long, tokens array<int>",
        )
        got = {
            r.doc_id: (r.npos, r.dup_pos)
            for r in dd.duplicated_spans(df, "doc_id", "tokens", n=4).collect()
        }
        assert got == {0: (6, 2), 1: (3, 1), 2: (2, 0), 3: (0, 0)}

    def test_n_over_4_rejected(self, spark):
        df = spark.createDataFrame([(0, [1])], "doc_id long, tokens array<int>")
        with pytest.raises(ValueError, match="n <= 4"):
            dd.duplicated_spans(df, "doc_id", "tokens", n=5)

    def test_passes_invariance(self, spark):
        # the scratch-bounding hash-range iteration must be a pure
        # execution strategy: identical values at every pass count
        rows = [
            (i, [(i * 7 + j) % 13 for j in range(10)]) for i in range(30)
        ] + [(100 + i, [1, 2, 3, 4, 5, 6]) for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        expect = {
            r.doc_id: (r.npos, r.dup_pos)
            for r in dd.duplicated_spans(df, "doc_id", "tokens", n=4).collect()
        }
        assert any(v[1] > 0 for v in expect.values())  # non-trivial fixture
        for p in (2, 3, 7):
            got = {
                r.doc_id: (r.npos, r.dup_pos)
                for r in dd.duplicated_spans(
                    df, "doc_id", "tokens", n=4, passes=p
                ).collect()
            }
            assert got == expect, f"passes={p}"

    def test_removal_passes_invariance(self, spark):
        rows = [
            (i, [(i * 7 + j) % 13 for j in range(10)]) for i in range(30)
        ] + [(100 + i, [1, 2, 3, 4, 5, 6]) for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        expect = {
            r.doc_id: (tuple(r.tokens_clean), r.n_removed)
            for r in dd.remove_dup_spans(df, "doc_id", "tokens", n=4).collect()
        }
        got = {
            r.doc_id: (tuple(r.tokens_clean), r.n_removed)
            for r in dd.remove_dup_spans(
                df, "doc_id", "tokens", n=4, passes=3
            ).collect()
        }
        assert got == expect


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

    def test_duplicated_spans_matches_brute_force(self, spark):
        rows = self._corpus()
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        got = {
            r.doc_id: (r.npos, r.dup_pos)
            for r in dd.duplicated_spans(df, "doc_id", "tokens", n=3).collect()
        }
        gram_docs: dict[tuple, set] = {}
        for doc_id, toks in rows:
            for i in range(max(0, len(toks) - 2)):
                gram_docs.setdefault(tuple(toks[i : i + 3]), set()).add(doc_id)
        for doc_id, toks in rows:
            grams = [tuple(toks[i : i + 3]) for i in range(max(0, len(toks) - 2))]
            dup = sum(1 for g in grams if len(gram_docs[g]) >= 2)
            assert got[doc_id] == (len(grams), dup), doc_id

    def test_line_dedup_matches_brute_force(self, spark):
        import random

        rng = random.Random(99)
        vocab = ["aa", "bb", "cc"]
        docs = [
            (i, "\n".join(
                " ".join(rng.choices(vocab, k=2)) for _ in range(rng.randrange(1, 6))
            ))
            for i in range(20)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.dedup_text, r.n_lines, r.n_kept)
            for r in dd.line_dedup(df, "doc_id", "text").collect()
        }
        seen: set[str] = set()
        for doc_id, text in docs:  # already in (doc_id, pos) order
            kept = []
            lines = text.split("\n")
            for ln in lines:
                if ln not in seen:
                    seen.add(ln)
                    kept.append(ln)
            assert got[doc_id] == ("\n".join(kept), len(lines), len(kept)), doc_id


class TestRemoveDupSpans:
    def test_cut_semantics(self, spark):
        """Doc 0/1 share gram [1,2,3,4]; covered positions are cut, the
        rest reassemble in order; short docs pass through untouched."""
        df = spark.createDataFrame(
            [
                (0, [9, 1, 2, 3, 4, 9, 8]),   # window at pos 1 → cut 1..4
                (1, [1, 2, 3, 4]),            # whole doc duplicated
                (2, [7, 8, 9, 10, 11]),       # unique grams
                (3, [1, 2, 3]),               # too short for n=4
            ],
            "doc_id long, tokens array<int>",
        )
        got = {
            r.doc_id: (list(r.tokens_clean), r.n_tok, r.n_removed)
            for r in dd.remove_dup_spans(df, "doc_id", "tokens", n=4).collect()
        }
        assert got == {
            0: ([9, 9, 8], 7, 4),
            1: ([], 4, 4),
            2: ([7, 8, 9, 10, 11], 5, 0),
            3: ([1, 2, 3], 3, 0),
        }

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(4321)
        rows = [
            (i, [rng.randrange(0, 25) for _ in range(rng.randrange(0, 30))])
            for i in range(25)
        ]
        n = 3
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        got = {
            r.doc_id: (list(r.tokens_clean), r.n_removed)
            for r in dd.remove_dup_spans(df, "doc_id", "tokens", n=n).collect()
        }
        gram_docs: dict[tuple, set] = {}
        for doc_id, toks in rows:
            for i in range(max(0, len(toks) - n + 1)):
                gram_docs.setdefault(tuple(toks[i : i + n]), set()).add(doc_id)
        for doc_id, toks in rows:
            covered = set()
            for i in range(max(0, len(toks) - n + 1)):
                if len(gram_docs[tuple(toks[i : i + n])]) >= 2:
                    covered.update(range(i, i + n))
            kept = [t for p, t in enumerate(toks) if p not in covered]
            assert got[doc_id] == (kept, len(toks) - len(kept)), doc_id


class TestSemDedup:
    def _vecs(self, n=60, dim=8, seed=5):
        rng = np.random.default_rng(seed)
        base = rng.normal(size=(6, dim))
        out = []
        for i in range(n):
            v = base[i % 6] + rng.normal(scale=0.05 if i % 3 else 2.0, size=dim)
            out.append((i, [float(x) for x in v / np.linalg.norm(v)]))
        return out

    def test_matches_brute_force(self, spark):
        from opentelemetry_collector_contrib_spark.operators.similarity import (
            quantized_hyperplanes,
            semdedup_quantized,
        )

        dim, cells = 8, 4
        rows = self._vecs(dim=dim)
        cents = quantized_hyperplanes(dim, cells, seed=3)
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {
            r.vec_id: (r.cell, r.n_dups, r.kept)
            for r in semdedup_quantized(
                df, cents, threshold_num=4, threshold_den=5
            ).collect()
        }
        # brute-force replay with the same integer math
        import math

        # F.round is HALF_UP (away from zero), not Python's banker's rounding
        half_up = lambda d: int(math.floor(abs(d) * 1000 + 0.5)) * (1 if d >= 0 else -1)  # noqa: E731
        q = {i: [half_up(np.float32(x).item()) for x in v] for i, v in rows}
        norms = [math.sqrt(sum(c * c for c in row)) for row in cents]
        def cell_of(qe):
            scores = [
                (sum(a * b for a, b in zip(qe, row)) / norms[c], -c)
                for c, row in enumerate(cents)
            ]
            return -max(scores)[1]
        assign = {i: cell_of(qe) for i, qe in q.items()}
        for i, qe in q.items():
            nd = 0
            for j, qj in q.items():
                if j >= i or assign[j] != assign[i]:
                    continue
                qd = sum(a * b for a, b in zip(qe, qj))
                na = sum(a * a for a in qe)
                nb = sum(a * a for a in qj)
                if qd >= 0 and qd * qd * 25 >= na * nb * 16:
                    nd += 1
            assert got[i] == (assign[i], nd, nd == 0), i
        # the clustered corpus must actually produce drops
        assert any(not k for _, _, k in got.values())


class TestBM25:
    def test_matches_brute_force(self, spark):
        import math
        import random

        from opentelemetry_collector_contrib_spark.operators.search import (
            BD, BN, K1D, K1N, SCORE_SCALE, bm25_topk,
        )

        rng = random.Random(77)
        rows = [
            (i, [rng.randrange(0, 12) for _ in range(rng.randrange(3, 25))])
            for i in range(40)
        ]
        terms = [1, 4, 7]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        got = [(r.doc_id, r.score_q, r.n_terms, r.rank)
               for r in bm25_topk(df, terms, k=5).orderBy("rank").collect()]

        n_docs = len(rows)
        total = sum(len(t) for _, t in rows)
        dfreq = {
            t: sum(1 for _, toks in rows if t in toks) for t in terms
        }
        scores = {}
        for doc_id, toks in rows:
            s, m = 0, 0
            for t in terms:
                tf = toks.count(t)
                if not tf:
                    continue
                m += 1
                idf = (2 * (n_docs - dfreq[t]) + 1) / (2 * dfreq[t] + 1)
                num = tf * (K1N + K1D) * BD * total
                den = tf * K1D * BD * total + K1N * (BD - BN) * total + K1N * BN * len(toks) * n_docs
                s += math.floor(idf * (num / den) * float(SCORE_SCALE))
            if m:
                scores[doc_id] = (s, m)
        exp = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:5]
        assert got == [
            (doc, s, m, r + 1) for r, (doc, (s, m)) in enumerate(exp)
        ]


class TestCuratePipeline:
    def test_chain_semantics(self, spark):
        """Dedup keeps min-id per token array; quality gate drops short and
        repetitive docs with reasons; full-rate mixture + shuffle keeps the
        rest with contiguous per-shard positions."""
        from opentelemetry_collector_contrib_spark.plans.curate import (
            curate_corpus,
            quality_gate,
        )

        rows = [
            (0, [1, 2, 3, 4], "a"),
            (1, [1, 2, 3, 4], "a"),    # exact dup of 0 → dropped
            (2, [5, 5, 5, 5, 5], "a"), # top bigram covers 100% → repetitive
            (3, [7, 8], "a"),          # too short (<3)
            (4, [9, 10, 11, 12], "b"), # unweighted domain → mixture drops
            (5, [13, 14, 15], "a"),
        ]
        df = spark.createDataFrame(rows, "id long, tokens array<int>, dom string")

        g = {
            r.id: (r.keep, r.drop_reason)
            for r in quality_gate(df, "tokens").collect()
        }
        assert g[2] == (False, "repetitive")
        assert g[3] == (False, "too_short")
        assert g[0] == (True, None) and g[5] == (True, None)

        out = curate_corpus(
            df, "id", "tokens", "dom", {"a": 1.0}, 100, 2, seed=3
        ).collect()
        kept = {r.id for r in out}
        assert kept == {0, 5} or kept == {1, 5}  # min-id dedup → {0, 5}
        assert kept == {0, 5}
        by_shard: dict[int, list[int]] = {}
        for r in out:
            by_shard.setdefault(r.shard_id, []).append(r.pos)
        for poss in by_shard.values():
            assert sorted(poss) == list(range(len(poss)))


class TestKMeans:
    """Distributed Lloyd k-means (kmeans_train_quantized): engine-exact
    integer semantics, partition invariance, cluster sanity."""

    def _mkdf(self, spark, nper=20):
        # three tight groups around orthogonal-ish directions in dim 4
        base = {0: [0.9, 0.1, 0.0, 0.0], 1: [0.0, 0.9, 0.1, 0.0], 2: [0.0, 0.0, 0.1, 0.9]}
        rows = []
        for g in range(3):
            for i in range(nper):
                jit = [(v + ((i * 7 + d) % 5 - 2) * 0.01) for d, v in enumerate(base[g])]
                rows.append((g * nper + i, jit))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_replica_parity_and_cluster_sanity(self, spark):
        import math

        df = self._mkdf(spark)
        got, cents = sim.kmeans_train_quantized(df, k=3, iters=2, dim=4, seed=7)
        got = {r.vec_id: r.cell for r in got.collect()}

        # independent python replica with the documented semantics
        KNUTH, M32, M16 = 2654435761, 1 << 32, 1 << 16

        def mix32(key, seed=7):
            h = (key + seed) % M32
            return ((h % M16) * KNUTH + ((h // M16) * KNUTH % M16) * M16) % M32

        qe = {
            r.vec_id: [int(np.round(np.float64(np.float32(x)) * 1000)) for x in r.embedding]
            for r in df.collect()
        }
        cents_r = [list(qe[v]) for v in sorted(qe, key=lambda v: (mix32(v), v))[:3]]

        def assign(cs):
            out = {}
            for vid, x in qe.items():
                best = None
                for c, cv in enumerate(cs):
                    s = sum(a * b for a, b in zip(x, cv)) / math.sqrt(
                        max(sum(v * v for v in cv), 1)
                    )
                    if best is None or s > best[0]:
                        best = (s, c)
                out[vid] = best[1]
            return out

        for _ in range(2):
            a = assign(cents_r)
            for c in range(3):
                vids = [v for v, cc in a.items() if cc == c]
                if vids:
                    cents_r[c] = [
                        sum(qe[v][d] for v in vids) // len(vids) for d in range(4)
                    ]
        assert cents == cents_r
        assert got == assign(cents_r)
        # tight groups must not be split across cells
        for g in range(3):
            cells = {got[g * 20 + i] for i in range(20)}
            assert len(cells) == 1, (g, cells)

    def test_partition_invariance(self, spark):
        df = self._mkdf(spark)
        a1, c1 = sim.kmeans_train_quantized(df.repartition(1), k=3, iters=2, dim=4)
        a7, c7 = sim.kmeans_train_quantized(df.repartition(7), k=3, iters=2, dim=4)
        assert c1 == c7
        assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a7.collect()))

    def test_k1_single_cell(self, spark):
        df = self._mkdf(spark, nper=5)
        a, cents = sim.kmeans_train_quantized(df, k=1, iters=1, dim=4)
        assert len(cents) == 1
        assert {r.cell for r in a.collect()} == {0}


class TestSourceOverlap:
    def test_exact_counts(self, spark):
        rows = [
            # srcA and srcB share exactly the shingle (1,2,3); srcC disjoint
            Row(doc_id=0, source="srcA", tokens=[1, 2, 3, 4]),   # sh: (1,2,3),(2,3,4)
            Row(doc_id=1, source="srcB", tokens=[1, 2, 3]),      # sh: (1,2,3)
            Row(doc_id=2, source="srcB", tokens=[9, 9, 9]),      # sh: (9,9,9)
            Row(doc_id=3, source="srcC", tokens=[7, 8]),         # too short: none
            Row(doc_id=4, source="srcC", tokens=[5, 6, 7]),      # sh: (5,6,7)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, tokens array<int>")
        out = {(r.src_a, r.src_b): r for r in dd.source_overlap(df, "source", "tokens", 3).collect()}
        assert set(out) == {("srcA", "srcB")}  # C never co-occurs on a shingle
        r = out[("srcA", "srcB")]
        assert r.inter_size == 1 and r.size_a == 2 and r.size_b == 2
        assert r.union_size == 3

    def test_within_source_dups_do_not_inflate(self, spark):
        # the same shingle in many docs of one source counts once per source
        rows = [Row(doc_id=i, source="s0", tokens=[1, 2, 3]) for i in range(5)]
        rows += [Row(doc_id=10, source="s1", tokens=[1, 2, 3])]
        df = spark.createDataFrame(rows, "doc_id long, source string, tokens array<int>")
        [r] = dd.source_overlap(df, "source", "tokens", 3).collect()
        assert (r.inter_size, r.union_size, r.size_a, r.size_b) == (1, 1, 1, 1)


class TestWinnow:
    def test_coverage_guarantee_and_short_docs(self, spark):
        # Winnowing guarantee: a shared substring of length >= n+w-1 (=6)
        # must contribute at least one shared fingerprint.
        common = [11, 12, 13, 14, 15, 16]
        rows = [
            Row(doc_id=0, tokens=[1, 2] + common + [3, 4]),
            Row(doc_id=1, tokens=[9, 8, 7] + common),
            Row(doc_id=2, tokens=[40, 41, 42, 43, 44, 45, 46, 47]),  # disjoint
            Row(doc_id=3, tokens=[1, 2, 3]),  # shorter than n+w-1: no fps
        ]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        fp = {r.doc_id: r.fps for r in dd.winnow_fingerprints(df, "tokens", 3, 4).select("doc_id", "fps").collect()}
        assert fp[3] == []
        assert set(fp[0]) & set(fp[1]), (fp[0], fp[1])
        pairs = {(r.doc_a, r.doc_b): r.shared_fp for r in dd.winnow_pairs(df, "doc_id", "tokens", 3, 4).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] >= 1
        assert not any(2 in p or 3 in p for p in pairs)

    def test_density(self, spark):
        # expected fingerprint density ~ 2/(w+1) of the n-gram count
        rows = [Row(doc_id=0, tokens=[(i * 37 + 11) % 1000 for i in range(500)])]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        [r] = dd.winnow_fingerprints(df, "tokens", 3, 4).select(F.size("fps").alias("s")).collect()
        n_grams = 500 - 2
        assert 0.2 * n_grams < r.s < 0.6 * n_grams  # 2/(w+1)=0.4 ± slack


class TestBoilerplate:
    def test_strips_frequent_lines_per_source(self, spark):
        # "FOOTER" appears in 3/4 docs of srcA (>= 1/2) -> boilerplate there;
        # it also appears once in srcB (1/2 docs = exactly 1 doc < min_docs=2)
        rows = [
            Row(doc_id=0, source="srcA", text="alpha\nFOOTER"),
            Row(doc_id=1, source="srcA", text="beta\nFOOTER"),
            Row(doc_id=2, source="srcA", text="FOOTER\ngamma"),
            Row(doc_id=3, source="srcA", text="delta"),
            Row(doc_id=4, source="srcB", text="FOOTER\nepsilon"),
            Row(doc_id=5, source="srcB", text="zeta"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {r.doc_id: r for r in dd.boilerplate_strip(
            df, "doc_id", "text", "source", frac_num=1, frac_den=2, min_docs=2
        ).collect()}
        assert out[0].clean_text == "alpha" and out[0].n_kept == 1 and out[0].n_lines == 2
        assert out[2].clean_text == "gamma"
        assert out[3].clean_text == "delta"
        # srcB: FOOTER in only 1 doc -> kept (min_docs / frequency is per source)
        assert out[4].clean_text == "FOOTER\nepsilon" and out[4].n_kept == 2

    def test_all_boilerplate_doc_becomes_empty(self, spark):
        rows = [Row(doc_id=i, source="s", text="SAME") for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = dd.boilerplate_strip(df, "doc_id", "text", "source",
                                   frac_num=1, frac_den=2, min_docs=2).collect()
        assert all(r.clean_text == "" and r.n_kept == 0 and r.n_lines == 1 for r in out)


class TestTemperatureMixture:
    def test_upweights_small_domains_exactly(self, spark):
        from opentelemetry_collector_contrib_spark.operators.sampler import (
            temperature_mixture_sample,
        )
        from opentelemetry_collector_contrib_spark.functions.hashing import (
            SAMPLER_BUCKETS, sampler_bucket_col,
        )
        import math

        # big domain 400 docs, small domain 25: α=1/2 gives the small domain
        # sqrt(25)/ (sqrt(400)+sqrt(25)) = 5/25 = 20% of the target
        rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(25)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = temperature_mixture_sample(df, "source", F.col("doc_id"), 100, seed=9)
        got = {(r.source, r.doc_id) for r in out.collect()}

        # python replica: rates from integer sqrt weights + bucket keep
        import collections
        n = {"big": 400, "small": 25}
        s = {k: math.isqrt(v) for k, v in n.items()}
        S = sum(s.values())
        exp = set()
        KNUTH, M32, M16, SHIFT = 2654435761, 1 << 32, 1 << 16, 1 << 18
        for doc, src in rows:
            rate = min(100.0, float(s[src] * 100) * 100.0 / (float(S) * float(n[src])))
            h = (doc + 9) % M32
            b = ((h % M16) * KNUTH + ((h // M16) * KNUTH % M16) * M16) % M32 // SHIFT
            if b < rate * SAMPLER_BUCKETS / 100.0:
                exp.add((src, doc))
        assert got == exp
        by_src = collections.Counter(src for src, _ in got)
        # ~20 of 100 target from the small domain (α=1/2 upweight vs its
        # 25/425 ≈ 6% proportional share); exact counts fixed by the hash
        assert by_src["small"] >= 10


class TestDedupKeepBest:
    def test_keeps_longest_not_min_id(self, spark):
        rows = [
            # docs 0,1,2 identical token SETS (doc 2 longest via repeats);
            # doc 3 unrelated
            Row(doc_id=0, tokens=[1, 2, 3, 4, 5, 6, 7, 8]),
            Row(doc_id=1, tokens=[1, 2, 3, 4, 5, 6, 7, 8]),
            Row(doc_id=2, tokens=[1, 2, 3, 4, 5, 6, 7, 8, 1, 2, 3]),
            Row(doc_id=3, tokens=[50, 60, 70, 80, 90, 100, 110, 120]),
        ]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        kept = {r.doc_id for r in dd.dedup_keep_best(
            df, "tokens", "doc_id", F.size("tokens"), num_perms=8, rows_per_band=4
        ).collect()}
        # MinHash over token SETS: 0,1,2 collide; policy keeps the longest (2)
        assert kept == {2, 3}
        # contrast: min-id policy keeps 0
        kept_minid = {r.doc_id for r in dd.minhash_dedup(
            df, "tokens", "doc_id", num_perms=8, rows_per_band=4
        ).collect()}
        assert kept_minid == {0, 3}


def test_winnow_engines_agree(spark):
    """Arrow kernel ≡ JVM expression form, including short docs, empty and
    null token arrays, and repeated values within a window."""
    from pyspark.sql import types as T

    sch = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
    ])
    rows = [
        (0, [1, 2, 3, 4, 5, 6, 7, 8, 9]),
        (1, [5, 5, 5, 5, 5, 5, 5]),          # constant: one fingerprint
        (2, [1, 2, 3]),                       # shorter than n+w-1
        (3, []),
        (4, None),
        (5, list(range(100, 160))),
        (6, [9, 8, 7, 6, 5, 4, 3, 2, 1]),
    ]
    df = spark.createDataFrame(rows, sch).repartition(3)
    a = {r.doc_id: list(r.fps) for r in
         dd.winnow_fingerprints(df, "tokens", 3, 4, engine="arrow").select("doc_id", "fps").collect()}
    j = {r.doc_id: list(r.fps) for r in
         dd.winnow_fingerprints(df, "tokens", 3, 4, engine="jvm").select("doc_id", "fps").collect()}
    assert a == j, {k: (a[k], j[k]) for k in a if a[k] != j[k]}
    assert a[2] == [] and a[3] == [] and a[4] == []
    assert len(a[1]) == 1


class TestIncrementalDedup:
    def test_within_and_against_seen(self, spark):
        batch1 = spark.createDataFrame(
            [(0, "aaa"), (1, "bbb"), (2, "aaa")], "doc_id long, text string"
        )
        kept1, seen1 = dd.incremental_dedup(batch1, None, ["text"], "doc_id")
        assert {r.doc_id for r in kept1.collect()} == {0, 1}  # within-batch min-id
        assert seen1.count() == 2

        batch2 = spark.createDataFrame(
            [(10, "bbb"), (11, "ccc"), (12, "ccc"), (13, "aaa")],
            "doc_id long, text string",
        )
        kept2, seen2 = dd.incremental_dedup(batch2, seen1, ["text"], "doc_id")
        # bbb and aaa already seen; ccc dedups within batch 2 to min-id 11
        assert {r.doc_id for r in kept2.collect()} == {11}
        assert seen2.count() == 1
        # state accumulates: a third batch of all-seen content keeps nothing
        seen_all = seen1.union(seen2)
        batch3 = spark.createDataFrame(
            [(20, "ccc"), (21, "aaa")], "doc_id long, text string"
        )
        kept3, _ = dd.incremental_dedup(batch3, seen_all, ["text"], "doc_id")
        assert kept3.count() == 0


class TestChunkDocuments:
    def test_windows_strides_and_tail(self, spark):
        from opentelemetry_collector_contrib_spark.operators.packing import (
            chunk_documents,
        )

        rows = [
            Row(doc_id=0, tokens=list(range(10))),   # w=4,s=3 → 3 chunks, tail len 4
            Row(doc_id=1, tokens=[1, 2]),            # shorter than window → 1 chunk
            Row(doc_id=2, tokens=[]),                # empty → no chunks
            Row(doc_id=3, tokens=list(range(11))),   # ceil((11-4)/3)+1 = 4 chunks
        ]
        df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
        out = {}
        for r in chunk_documents(df, "tokens", "doc_id", window=4, stride=3).collect():
            out.setdefault(r.doc_id, []).append((r.chunk_idx, list(r.chunk_tokens)))
        assert out[0] == [(0, [0, 1, 2, 3]), (1, [3, 4, 5, 6]), (2, [6, 7, 8, 9])]
        assert out[1] == [(0, [1, 2])]
        assert 2 not in out
        assert [c for _, c in out[3]][-1] == [9, 10]  # kept tail, shorter
        assert len(out[3]) == 4
        # every token of every doc is covered by at least one chunk
        for d, chs in out.items():
            toks = {t for _, c in chs for t in c}
            assert toks == set(dict(rows[d].asDict())["tokens"]) or d == 1

