"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (the collector has no dedup), these are the
standard corpus-dedup family expressed Spark-first:

- exact        : group by content hash — one shuffle of (hash, id), never of
                 the payload
- MinHash+LSH  : signature = array_min over k permutations (JVM transform);
                 banding → bucket self-join → candidate pairs; connected
                 components by iterative label propagation
- SimHash      : per-bit ±1 majority over token hashes, expression-generated
- n-gram Jaccard : shingle sets → inverted index join → |∩| / |∪|

All shuffles key on small integers/hashes; payloads stay columnar until the
final keep/drop join.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MERSENNE = (1 << 31) - 1  # 2147483647
VOCAB = 50257

# deterministic permutation constants (seeded splitmix-derived, public math)
PERM_A = [1203114875, 660373689, 1958351335, 1809982951, 1071840347, 193463927,
          891921565, 620985613, 1045869055, 1279765361, 427564471, 1520367041,
          755610139, 1925976797, 342847643, 1667892223]
PERM_B = [334205349, 1823397521, 92898311, 1375333757, 513935479, 1724586217,
          266745647, 977123729, 1455721889, 604918147, 1838531173, 120982061,
          1604650219, 441862103, 1149975929, 717367289]


def _flatten_list_batch(arr: "pa.Array"):
    """Shared Arrow-kernel prologue for list<int> batches: combine chunks,
    restrict the (possibly shared/unsliced) child values to this batch's
    span, and return ``(arr, vals, starts, lens, nulls)`` where starts/lens
    index the flattened vals per row and ``nulls`` is the boolean
    row-validity mask (None when the batch has no nulls). A null row's
    offsets may still advance — callers must mask its values out of any
    segment reduce (minhash) or zero its length (winnow)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off = arr.offsets.to_numpy().astype(np.int64)
    base, stop = off[0], off[-1]
    vals = arr.values.to_numpy(zero_copy_only=False)[base:stop]
    starts = off[:-1] - base
    lens = off[1:] - off[:-1]
    nulls = (
        arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count else None
    )
    return arr, vals, starts, lens, nulls


def _content_hash_cols(content_cols: list[str], method: str) -> list[Column]:
    """The content-hash key columns (aliased __h1[, __h2]) — shared by
    exact_dedup and incremental_dedup so the within-batch dedup and the
    cross-batch seen-hash table can never drift apart (a divergence would
    silently re-admit previously-ingested content)."""
    if method == "sha256":
        h = F.sha2(
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]), 256
        )
        return [h.alias("__h1")]
    if method == "xxhash128":
        cols = [F.col(c) for c in content_cols]
        return [
            F.xxhash64(*cols).alias("__h1"),
            F.xxhash64(F.lit(17), *cols).alias("__h2"),
        ]
    raise ValueError(f"unknown method {method!r}")


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    method: str = "sha256",
    eager: bool = True,
    broadcast_max_ids: int = 10_000_000,
) -> DataFrame:
    """Keep the min-id row per identical content. The shuffle carries only
    (content-hash, id): at 100 TB the payload never moves.

    method='sha256'    : cryptographic, adversarial-safe (string render cost)
    method='xxhash128' : two independent xxhash64 over the raw columns —
      ~30 % faster at corpus scale, collision bound n²/2¹²⁹ (≪1 even at
      10¹² rows), appropriate for non-adversarial dedup.

    Cluster caveats for eager=True: localCheckpoint blocks live only on
    executors — an executor loss after the checkpoint fails the job instead
    of recomputing (use reliable checkpoint()/a stored dup-id table for
    long multi-stage cluster runs), and the explicit broadcast puts up to
    `broadcast_max_ids` rows on the driver (~16 B/id; lower it if driver
    memory is tight — oversized dup sets degrade gracefully to the
    one-payload-shuffle sort-merge join, the floor for that regime)."""
    keys = _content_hash_cols(content_cols, method)
    key_names = ["__h1", "__h2"][: len(keys)]
    # Shuffle ONLY (hash, id): window the projected pair, rn>1 → duplicate
    # ids, anti-join those back on id. The big shuffle carries 16-24 B/row
    # instead of the payload; the anti-join's build side is the DUP id set —
    # empty-to-small for mostly-unique corpora, so AQE turns it into a
    # broadcast anti-join and the payload never moves at all. (A keeper-side
    # semi-join would build on ~N ids — always the worse side.)
    pairs = df.select(F.col(id_col), *keys)
    w = Window.partitionBy(*key_names).orderBy(id_col)
    dup_ids = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    if eager:
        # Materialize the dup-id set BEFORE planning the anti-join: planned
        # lazily, Spark submits both shuffle map stages concurrently, so AQE
        # learns the dup side is tiny only after the payload has already
        # shuffled by id (and a localCheckpoint's stats are "unknown=huge",
        # so the static planner won't broadcast either). Checkpoint, count
        # (cheap — already materialized), and broadcast explicitly when the
        # dup set is small: the payload then never moves at all. Genuinely
        # huge dup sets degrade gracefully to the one-payload-shuffle SMJ,
        # which is the floor for that regime.
        dup_ids = dup_ids.localCheckpoint(eager=True)
        if dup_ids.count() <= broadcast_max_ids:
            dup_ids = F.broadcast(dup_ids)
    return df.join(dup_ids, on=id_col, how="left_anti")


def minhash_signature(
    df: DataFrame,
    tokens_col: str,
    num_perms: int = 8,
    out_prefix: str = "mh",
    engine: str = "arrow",
) -> DataFrame:
    """k-permutation MinHash over the token set. Signature columns
    mh0..mh{k-1}; value_i = min over tokens of (x*A_i + B_i) mod 2³¹−1.

    engine='arrow' (default): one vectorized numpy kernel computes all k
    mins per Arrow batch — flatten the list column once, per-permutation
    hash, segmented min via ``np.minimum.reduceat``. Spark's higher-order
    functions (transform/aggregate) are evaluated INTERPRETED per element
    (no whole-stage codegen), which made the JVM form the single hottest
    stage of the 20M-row dedup bench (~70 s of the 94 s total). Measured
    kernel economics at 2.7B tokens on 32 cores (the path is
    memory-bandwidth-bound, so int32 beats int64 2×): int64 `(x*a+b)%M`
    578 core-s; int64 LUT gather 123 core-s; the shipped kernel uses a
    per-permutation int32 lookup table over the token vocabulary (200 KB,
    L2-resident — a (vocab,k) 2-D LUT thrashes cache and measures 5×
    slower) and falls back to the mod formula per batch when values fall
    outside [0, vocab). End to end: 71 s (JVM HOF) → 31 s (this kernel);
    Arrow transfer itself is ~8 s of that. Bit-identical to the formula
    (the LUT is the formula, precomputed) and to the DuckDB oracle.

    engine='jvm': the original transform+array_min form — no Python workers
    involved; kept as the dependency-free fallback and as the cross-engine
    equivalence witness (tests assert arrow ≡ jvm).

    Null/empty token arrays yield null signature values in both engines
    (array_min([]) is null; the kernel masks empty segments)."""
    if engine == "jvm":
        t = F.col(tokens_col)
        out = df
        for i in range(num_perms):
            a, b = PERM_A[i % len(PERM_A)], PERM_B[i % len(PERM_B)]
            out = out.withColumn(
                f"{out_prefix}{i}",
                F.array_min(F.transform(t, lambda x: (x.cast("long") * a + b) % MERSENNE)),
            )
        return out
    if engine != "arrow":
        raise ValueError(f"unknown engine {engine!r}")

    from pyspark.sql import types as T
    from pyspark.sql.functions import arrow_udf

    a_consts = [PERM_A[i % len(PERM_A)] for i in range(num_perms)]
    b_consts = [PERM_B[i % len(PERM_B)] for i in range(num_perms)]
    # MERSENNE-1 < 2^31, so hash values fit int32: L2-resident LUT + half
    # the memory traffic of the int64 path (the kernel is bandwidth-bound)
    luts = [
        ((np.arange(VOCAB, dtype=np.int64) * a + b) % MERSENNE).astype(np.int32)
        for a, b in zip(a_consts, b_consts)
    ]
    out_schema = T.StructType(
        [T.StructField(f"m{i}", T.LongType(), True) for i in range(num_perms)]
    )

    @arrow_udf(out_schema)
    def _mh(arr: pa.Array) -> pa.Array:
        arr, vals, starts, lens, nulls = _flatten_list_batch(arr)
        n = len(arr)
        valid = lens > 0
        drop = None
        if nulls is not None:
            valid &= nulls
            # a null entry with non-equal offsets would otherwise leak its
            # values into the preceding valid segment's reduce span — mark
            # them so each perm's hashes are overwritten with a sentinel
            # (> any hash) and min() ignores them
            drop = ~np.repeat(valid, lens)
        ne = np.flatnonzero(valid)
        in_vocab = len(vals) == 0 or (
            vals.dtype in (np.dtype(np.int32), np.dtype(np.int64))
            and int(vals.min()) >= 0
            and int(vals.max()) < VOCAB
        )
        if not in_vocab:
            vals = vals.astype(np.int64)
        children = []
        for i in range(num_perms):
            if in_vocab:
                h = luts[i][vals]  # one L2-hit gather per token
                sentinel = np.int32(MERSENNE)
            else:
                # np.fmod keeps the dividend's sign (C semantics) — exactly
                # Java/Spark `%` — where numpy `%` follows the divisor; the
                # fallback fires precisely when tokens may be negative, so
                # plain `%` would break the documented arrow≡jvm bit-identity
                h = np.fmod(vals * a_consts[i] + b_consts[i], MERSENNE)
                sentinel = np.int64(MERSENNE)
            if drop is not None:
                h[drop] = sentinel
            out = np.zeros(n, dtype=h.dtype)
            if len(ne):
                # list segments are contiguous, so reducing at the starts of
                # the NON-EMPTY segments spans exactly each segment
                out[ne] = np.minimum.reduceat(h, starts[ne])
            children.append(pa.array(out.astype(np.int64), mask=~valid))
        return pa.StructArray.from_arrays(
            children, names=[f"m{i}" for i in range(num_perms)]
        )

    struct_col = f"__mhsig_{tokens_col}"
    out = df.withColumn(struct_col, _mh(F.col(tokens_col)))
    for i in range(num_perms):
        out = out.withColumn(f"{out_prefix}{i}", F.col(f"{struct_col}.m{i}"))
    return out.drop(struct_col)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    num_perms: int = 8,
    rows_per_band: int = 2,
    out_prefix: str = "mh",
    dedup: bool = True,
) -> DataFrame:
    """Band the signature, bucket by (band_idx, band values), emit every
    in-bucket pair (doc_a, doc_b) with doc_a < doc_b — the classic LSH
    candidate generation.

    Physical shape (the 100 TB-critical part): ONE exchange of the exploded
    (id, band, sig) set — groupBy bucket → sorted id list → local pairwise
    explode. The earlier self-join form exchanged that set twice (both join
    sides) AND recomputed the MinHash signature per side; this form computes
    the signature once and pair generation never crosses the wire. Pair
    emission streams via a two-step posexplode/slice (peak memory O(bucket),
    not O(bucket²)), so a degenerate hot bucket cannot OOM a task.

    The bucket key carries the band's RAW signature values (a struct of
    rows_per_band ints — same shuffle width class as a hash) instead of a
    Murmur3 of them: no cross-band hash-collision false positives, and an
    external engine (the DuckDB oracle) can reproduce the exact pair set.
    Rows whose band contains a null minhash (empty token array) are dropped,
    matching the null-rejecting equi-join semantics of the SQL oracle.

    dedup=False skips the final global distinct(): a pair matching in k
    bands appears k times. Use it when the consumer re-aggregates anyway
    (``connected_components`` does) — the pair set is the largest
    intermediate in the whole dedup pipeline and should cross the wire
    exactly once."""
    bands = num_perms // rows_per_band
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"{out_prefix}{b * rows_per_band + r}").alias(f"v{r}")
            for r in range(rows_per_band)
        ]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.struct(*parts).alias("sig")))
    exploded = (
        sig_df.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk"))
        .select(id_col, "bk.band", "bk.sig")
        .filter(
            functools.reduce(
                lambda acc, r: acc & F.col(f"sig.v{r}").isNotNull(),
                range(rows_per_band),
                F.lit(True),
            )
        )
    )
    buckets = (
        exploded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = (
        buckets.select(F.col("ids"), F.posexplode("ids").alias("i", "doc_a"))
        .select(
            F.col("doc_a"),
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size(F.col("ids")))
            ).alias("doc_b"),
        )
        .select("doc_a", "doc_b")
    )
    return pairs.distinct() if dedup else pairs


def connected_components(
    pairs: DataFrame, max_iter: int = 10
) -> DataFrame:
    """Label propagation: each node converges to the min id of its component.
    Returns (node, component). Iterative joins — O(diameter) rounds; dedup
    graphs are near-cliques so 3-5 rounds suffice in practice.

    Iteration hygiene for cluster scale: the PAIR set (the largest
    intermediate in the dedup pipeline) is distinct()ed exactly once here —
    feed it ``lsh_candidate_pairs(..., dedup=False)`` so it does not pay a
    second global exchange upstream. The reversed orientation is a local
    union of the already-distinct canonical set (doc_a < doc_b, so the two
    branches cannot overlap; exchange reuse computes the distinct shuffle
    once). Edges are then repartitioned by dst and persisted ONCE: every
    label-propagation round joins on dst, and a persisted hash(dst) layout
    lets Catalyst elide the edge-side exchange in EVERY round — only the
    (small) label set shuffles per iteration. Each round's labels are
    localCheckpoint()ed, which both materializes them (one computation,
    shared by the convergence probe and the next round) and TRUNCATES
    lineage so round k does not recompute rounds 1..k-1; the superseded
    round is unpersisted eagerly.

    Input contract: pairs are canonical (doc_a < doc_b). Non-canonical input
    still yields correct components (min-aggregation is duplicate-
    insensitive) but duplicate edges waste join work."""
    from pyspark import StorageLevel

    # Persist the distinct pair set BEFORE mirroring: the union's two
    # branches otherwise each re-evaluate the full upstream pipeline
    # (signature + pair generation — the expensive part; AQE does not
    # reliably reuse the distinct's exchange across union branches, and a
    # measured 20M-row run paid the signature twice: 99 s → 177 s).
    p = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nparts = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    edges = (
        p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(int(nparts), "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_comp"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    p.unpersist()
    return labels


def minhash_dedup(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    num_perms: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Full near-dup pipeline: signature → LSH pairs → components → keep the
    min-id representative of each component."""
    sig = minhash_signature(df, tokens_col, num_perms)
    # dedup=False: connected_components owns the single global distinct of
    # the pair set — the largest intermediate crosses the wire exactly once.
    pairs = lsh_candidate_pairs(sig, id_col, num_perms, rows_per_band, dedup=False)
    comp = connected_components(pairs)
    dupes = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # comp is already localCheckpoint()ed by connected_components, so the
    # dup-id count is cheap; broadcast the anti-join build side when small
    # so the payload never shuffles (same hazard/fix as exact_dedup — a
    # lazily planned anti-join would exchange the full corpus by id).
    if dupes.count() <= 10_000_000:
        dupes = F.broadcast(dupes)
    return df.join(dupes, on=id_col, how="left_anti")


def simhash(df: DataFrame, tokens_col: str, bits: int = 16, out: str = "simhash") -> DataFrame:
    """SimHash over token hashes: bit j of each token's mixed hash votes ±1;
    sign of the per-bit sum forms the fingerprint. Expression-generated —
    bits × aggregate over the token array, all JVM."""
    t = F.col(tokens_col)
    K = 2654435761
    acc = F.lit(0).cast("long")
    for j in range(bits):
        pow2 = 1 << j
        vote = F.aggregate(
            t,
            F.lit(0).cast("long"),
            lambda a, x: a
            + F.when(((x.cast("long") * K) / pow2).cast("long") % 2 == 1, 1).otherwise(-1),
        )
        acc = acc + F.when(vote >= 0, F.lit(pow2)).otherwise(F.lit(0))
    return df.withColumn(out, acc)


def simhash_dup_pairs(df: DataFrame, id_col: str, sim_col: str = "simhash") -> DataFrame:
    """Exact-fingerprint collision pairs (hamming-0 bucket join); for
    hamming≤k see ``simhash_near_pairs``."""
    a, b = df.alias("a"), df.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{sim_col}") == F.col(f"b.{sim_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    sim_col: str = "simhash",
    bits: int = 16,
    k: int = 1,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ k, found at scale via the
    pigeonhole banding: split the fingerprint into k+1 bit-slices — two
    fingerprints within hamming k must agree EXACTLY on at least one slice,
    so candidates come from k+1 bucket equi-joins (one exploded join keyed
    on (slice_idx, slice_value) — same shuffle shape as MinHash LSH), then
    an exact popcount(xor) ≤ k verify inside the bucket. No all-pairs
    compare anywhere. Returns (doc_a, doc_b, hamming)."""
    slices = k + 1
    base_w, rem = divmod(bits, slices)
    slice_cols, off = [], 0
    for s in range(slices):
        w = base_w + (1 if s < rem else 0)
        val = F.floor(F.col(sim_col) / F.lit(1 << off)).cast("long") % F.lit(1 << w)
        slice_cols.append(F.struct(F.lit(s).alias("slice"), val.alias("v")))
        off += w
    exploded = df.select(
        F.col(id_col), F.col(sim_col).alias("__sim"),
        F.explode(F.array(*slice_cols)).alias("sk"),
    ).select(id_col, "__sim", "sk.slice", "sk.v")
    a, b = exploded.alias("a"), exploded.alias("b")
    ham = F.bit_count(
        F.col("a.__sim").cast("long").bitwiseXOR(F.col("b.__sim").cast("long"))
    )
    return (
        a.join(
            b,
            (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .distinct()
    )


def ngram_shingles(df: DataFrame, tokens_col: str, n: int = 3, out: str = "shingles") -> DataFrame:
    """Distinct n-gram shingle ids (packed into a long). Guarded for short
    docs (sequence() would reverse on negative ranges)."""
    t = F.col(tokens_col)
    ln = F.size(t)
    idx = F.sequence(F.lit(1), ln - (n - 1))
    packed = F.transform(
        idx,
        lambda i: sum(
            [F.element_at(t, i + k).cast("long") * (VOCAB ** (n - 1 - k)) for k in range(n)],
            F.lit(0).cast("long"),
        ),
    )
    return df.withColumn(
        out, F.when(ln >= n, F.array_distinct(packed)).otherwise(F.array().cast("array<bigint>"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    tokens_col: str,
    n: int = 8,
    min_hits: int = 1,
    mode: str = "flag",
) -> DataFrame:
    """Benchmark decontamination (GPT-3/The-Pile style): drop or flag
    corpus documents sharing ≥ min_hits distinct n-gram shingles with a
    held-out benchmark set — train/test overlap is the classic silent
    eval-inflation bug a 100 TB pipeline must scrub.

    Physical shape: the benchmark's DISTINCT shingle set (explode →
    distinct — small: |bench| ≪ |corpus|) joins the corpus inverted index
    on the shingle id, so the corpus shuffles by small longs once and the
    benchmark side broadcasts when it fits. mode='flag' returns
    (id, contaminated_ngrams); mode='drop' returns the clean corpus rows
    via broadcast anti-join (the contaminated-id set is the small side —
    same pattern as exact_dedup)."""
    bench_sh = (
        ngram_shingles(benchmark.select(tokens_col), tokens_col, n)
        .select(F.explode("shingles").alias("sg"))
        .distinct()
    )
    inv = ngram_shingles(corpus.select(id_col, tokens_col), tokens_col, n).select(
        F.col(id_col), F.explode("shingles").alias("sg")
    )
    hits = (
        inv.join(F.broadcast(bench_sh), on="sg")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("contaminated_ngrams"))
        .filter(F.col("contaminated_ngrams") >= min_hits)
    )
    if mode == "flag":
        return hits
    if mode != "drop":
        raise ValueError(f"unknown mode {mode!r}")
    bad = hits.select(id_col).localCheckpoint(eager=True)
    if bad.count() <= 10_000_000:
        bad = F.broadcast(bad)
    return corpus.join(bad, on=id_col, how="left_anti")


BLOOM_BITS = 1 << 15  # 32768 bits = 1024 32-bit words (KBs, independent of corpus)
BLOOM_K = 4
_BLOOM_M32 = 1 << 32


def _bloom_fold_col(key):
    """Fold a non-negative int64 key to 32 bits, overflow-free and
    engine-agnostic: high32 + low32 mod 2^32."""
    k = key.cast("long")
    return (F.floor(k / _BLOOM_M32).cast("long") + F.pmod(k, F.lit(_BLOOM_M32))) % F.lit(
        _BLOOM_M32
    )


def bloom_bitmap(keys, n_bits: int = BLOOM_BITS, k: int = BLOOM_K) -> list[int]:
    """Bloom bitmap (32-bit words) over int64 keys, built driver-side —
    the benchmark side of decontamination is small by definition, like the
    faiss-style quantizer training sample."""
    from ..functions.hashing import mix32_py

    words = [0] * (n_bits // 32)
    for key in keys:
        f = (key // _BLOOM_M32 + key % _BLOOM_M32) % _BLOOM_M32
        for i in range(1, k + 1):
            b = mix32_py(f, i) % n_bits
            words[b // 32] |= 1 << (b % 32)
    return words


def bloom_might_contain_col(key, bitmap: list[int], n_bits: int = BLOOM_BITS, k: int = BLOOM_K):
    """JVM-only membership test: k mix32 probes against a literal bitmap.
    No UDF, no join — the bitmap rides into every task as a few-KB literal
    array, so the corpus side never shuffles for the prefilter. All-integer
    arithmetic (power-of-two division via a literal table, not pow())."""
    from ..functions.hashing import mix32_col

    bm = F.array(*[F.lit(w).cast("long") for w in bitmap])
    pw = F.array(*[F.lit(1 << p).cast("long") for p in range(32)])
    fold = _bloom_fold_col(key)
    cond = F.lit(True)
    for i in range(1, k + 1):
        b = mix32_col(fold, seed=i) % F.lit(n_bits)
        word = F.element_at(bm, (b / F.lit(32)).cast("int") + 1)
        bit = F.element_at(pw, F.pmod(b, F.lit(32)).cast("int") + 1)
        cond = cond & (F.pmod((word / bit).cast("long"), F.lit(2)) == 1)
    return cond


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    tokens_col: str,
    n: int = 8,
    n_bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
    max_bench_shingles: int = 5_000_000,
) -> DataFrame:
    """Bloom-gated benchmark decontamination — the 100 TB shape of
    ``decontaminate``: instead of joining EVERY corpus shingle against the
    benchmark set, corpus shingles first pass a bits-only membership test
    against a literal bitmap (no join, no shuffle, fused into the scan);
    only the tiny surviving fraction joins the exact broadcast set. False
    positives are removed by that exact join, so the result is exact; the
    bloom only bounds how much data reaches the join. Returns
    (id, bloom_ngrams, contaminated_ngrams) per doc with ≥1 bloom hit —
    bloom_ngrams > contaminated_ngrams rows are the audited fp band.

    The bitmap stays KBs no matter how large the corpus is; its size vs
    the benchmark shingle count sets the fp rate ((1-e^{-kn/m})^k)."""
    bench_sh = (
        ngram_shingles(benchmark.select(tokens_col), tokens_col, n)
        .select(F.explode("shingles").alias("sg"))
        .distinct()
    )
    keys = [r["sg"] for r in bench_sh.limit(max_bench_shingles + 1).collect()]
    if len(keys) > max_bench_shingles:
        raise ValueError(
            f"benchmark shingle set exceeds {max_bench_shingles}; "
            "raise max_bench_shingles or use decontaminate()"
        )
    bm = bloom_bitmap(keys, n_bits, k)
    inv = ngram_shingles(corpus.select(id_col, tokens_col), tokens_col, n).select(
        F.col(id_col), F.explode("shingles").alias("sg")
    )
    survivors = inv.filter(bloom_might_contain_col(F.col("sg"), bm, n_bits, k))
    exact = bench_sh.withColumn("__hit", F.lit(1))
    return (
        survivors.join(F.broadcast(exact), on="sg", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("bloom_ngrams"),
            F.count("__hit").cast("long").alias("contaminated_ngrams"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity via inverted-index join:
    explode shingles → pair counts |∩| → |a∪b| = |a|+|b|−|∩| → filter.
    Shuffle keys are shingle ids (small longs).

    max_shingle_freq caps the quadratic blow-up on hot (stop-word-like)
    shingles: a shingle appearing in more than F docs is dropped from the
    INVERTED INDEX before the pair join, so the worst per-key fan-out is
    F², independent of corpus size — the standard stop-shingle prune of
    inverted-index dedup. Capped pairs UNDERCOUNT |∩| by the dropped hot
    shingles (a pair sharing only hot shingles is never generated), so the
    reported jaccard is a lower bound; set sizes stay exact. None = exact."""
    sh = ngram_shingles(df, tokens_col, n).select(
        F.col(id_col), F.col("shingles"), F.size("shingles").alias("set_size")
    )
    inv = sh.select(id_col, "set_size", F.explode("shingles").alias("sg"))
    if max_shingle_freq is not None:
        freq = inv.groupBy("sg").agg(F.count(F.lit(1)).alias("__df"))
        hot = freq.filter(F.col("__df") > max_shingle_freq).select("sg")
        inv = inv.join(hot, on="sg", how="left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a.sg") == F.col("b.sg")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = inter.withColumn(
        "union_size", F.col("size_a") + F.col("size_b") - F.col("common")
    ).withColumn("jaccard", F.col("common") / F.col("union_size"))
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "common", "union_size", "jaccard"
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_line_len: int = 0,
    out: str = "dedup_text",
) -> DataFrame:
    """C4-style corpus-level line deduplication (Raffel et al. 2020 §2.2:
    'we discarded all but one of any three-sentence span occurring more than
    once' — the line-granular variant used by most open pipelines): every
    exact duplicate line across the whole corpus is dropped except its first
    occurrence (ordered by (id, position)), and documents are reassembled
    with surviving lines in original order. Lines shorter than
    ``min_line_len`` characters are exempt (kept verbatim) — dropping every
    blank line as "a duplicate" would destroy formatting.

    Physical shape: split is per-row; the first-occurrence decision is one
    shuffle keyed by the line text (at 100 TB you'd key the exchange on
    xxhash64(line) and keep the text only as a payload-side tiebreak check —
    semantics identical, narrower key; spelled here as the text itself so
    any engine reproduces the result bit-for-bit), then one shuffle by id to
    reassemble. collect_list is per-doc bounded (a document's own lines).

    Returns (id, out, n_lines, n_kept) — n_lines/n_kept make the scrub
    auditable without diffing text blobs.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "line"),
    )
    exempt = F.length("line") < min_line_len
    w = Window.partitionBy("line").orderBy(id_col, "pos")
    kept = (
        lines.withColumn(
            "rk", F.when(exempt, F.lit(1)).otherwise(F.row_number().over(w))
        )
        .withColumn("keep", F.col("rk") == 1)
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line")).otherwise(
                                F.lit(None)
                            )
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
            ).alias(out),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    n: int = 4,
    min_docs: int = 2,
    passes: int = 1,
) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": their suffix-array pass
    finds verbatim token spans shared across documents; this is the
    fixed-length distributed formulation): for each document, count the
    n-token window positions whose exact n-gram also occurs in at least
    ``min_docs`` distinct documents. Downstream policy (trim the spans,
    drop the doc, weight it down) is the caller's.

    Physical shape: per-row window packing (no Python), then an inverted
    index exploded to (gram, id, pos): one shuffle to count DISTINCT docs
    per gram, the surviving duplicate-gram set joined back on the packed
    long, one shuffle by id to count. Shuffle keys are 8-byte longs —
    payloads never move. n ≤ 4 so grams pack exactly into int64
    (VOCAB^4 < 2^63); longer spans at scale chain this (a k·n-span
    duplicate implies all its n-sub-spans are duplicates) or swap the
    packing for a 128-bit hash.

    ``passes > 1`` bounds SCRATCH, not work: the index shuffle is the
    scale ceiling (round-4 measurement: 71.6 GB disk spill at 100M docs
    even with tokens capped at 16). Pass k keeps only grams with
    ``xxhash64(gm) % passes == k`` — the filter runs scan-side, BEFORE
    the exchange, so each pass shuffles ~1/passes of the index; the pass
    result (≤ one 16-byte row per doc) is localCheckpoint'd, cutting
    lineage so the previous pass's shuffle files are GC-reclaimed before
    the next pass starts. Live scratch is bounded by one hash range of
    the gram space at the cost of ``passes`` input re-scans — the right
    trade at 100 TB where scratch, not scan bandwidth, is the binding
    constraint. Correctness is pass-count-invariant: gram counts are
    computed within the gram's own hash range, and per-doc dup positions
    add across disjoint ranges.

    Returns (id, npos, dup_pos): total window positions and duplicated
    positions; dup fraction = dup_pos/npos is the Lee-et-al report metric.
    """
    if n > 4:
        raise ValueError(f"n={n}: VOCAB^{n} overflows int64; use n <= 4")
    t = F.col(tokens_col)
    ln = F.size(t)
    idx = F.sequence(F.lit(1), ln - (n - 1))
    packed = F.when(ln >= n, F.transform(
        idx,
        lambda i: sum(
            [F.element_at(t, i + k).cast("long") * (VOCAB ** (n - 1 - k)) for k in range(n)],
            F.lit(0).cast("long"),
        ),
    )).otherwise(F.array().cast("array<bigint>"))
    base = df.select(F.col(id_col), packed.alias("__grams"))
    inv = base.select(id_col, F.explode("__grams").alias("gm"))

    def _dup_counts(inv_k: DataFrame) -> DataFrame:
        dup_grams = (
            inv_k.groupBy("gm")
            .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("gm")
        )
        return (
            inv_k.join(dup_grams, on="gm")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("dup_pos"))
        )

    if passes <= 1:
        dup_counts = _dup_counts(inv)
    else:
        from pyspark.storagelevel import StorageLevel

        acc = None
        for k in range(passes):
            # pass k's index slice is persisted DISK_ONLY: that on-disk
            # slice (≈ |index|/passes — the live-scratch bound by design)
            # feeds BOTH consumers (distinct-count agg + join back), so
            # each pass scans and packs the input exactly once
            inv_k = inv.where(
                F.pmod(F.xxhash64(F.col("gm")), F.lit(passes)) == F.lit(k)
            ).persist(StorageLevel.DISK_ONLY)
            # eager + lineage-cut: pass k's doc-bounded partial counts
            # materialize now and pass k's index slice + shuffle become
            # reclaimable before pass k+1 starts
            cnt_k = _dup_counts(inv_k).localCheckpoint()
            inv_k.unpersist()
            acc = cnt_k if acc is None else acc.unionByName(cnt_k)
        dup_counts = acc.groupBy(id_col).agg(
            F.sum("dup_pos").cast("long").alias("dup_pos")
        )
    return (
        base.select(id_col, F.size("__grams").cast("long").alias("npos"))
        .join(dup_counts, on=id_col, how="left")
        .withColumn("dup_pos", F.coalesce(F.col("dup_pos"), F.lit(0).cast("long")))
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    n: int = 4,
    min_docs: int = 2,
    out: str = "tokens_clean",
    passes: int = 1,
) -> DataFrame:
    """Exact-substring duplication REMOVAL — the policy half of
    ``duplicated_spans`` (Lee et al. 2021 §4 cut the duplicated substring
    out of the corpus rather than dropping whole documents; ExactSubstr in
    their code): every token position covered by an n-token window whose
    exact n-gram occurs in ≥ ``min_docs`` distinct documents is deleted,
    and each document reassembles its surviving tokens in order.

    Physical shape on top of the ``duplicated_spans`` inverted index
    (packed-int64 grams; token payloads never enter the index shuffles):
    one shuffle to count distinct docs per gram, the surviving dup-gram set
    joined back on the packed long, ONE id-keyed shuffle that moves only
    (id, window-start positions), and a broadcast-shaped join back to the
    token rows. The cut itself is a per-row JVM expression — position p is
    covered iff ∃ start s with s ≤ p < s+n, tested against the doc's own
    (bounded) sorted start list; O(L·|starts|) per row worst case, zero
    Python.

    Returns (id, out, n_tok, n_removed).
    """
    if n > 4:
        raise ValueError(f"n={n}: VOCAB^{n} overflows int64; use n <= 4")
    t = F.col(tokens_col)
    ln = F.size(t)
    idx = F.sequence(F.lit(1), ln - (n - 1))
    packed = F.when(ln >= n, F.transform(
        idx,
        lambda i: sum(
            [F.element_at(t, i + k).cast("long") * (VOCAB ** (n - 1 - k)) for k in range(n)],
            F.lit(0).cast("long"),
        ),
    )).otherwise(F.array().cast("array<bigint>"))
    base = df.select(F.col(id_col), t.alias("__toks"), packed.alias("__grams"))
    inv = base.select(id_col, F.posexplode("__grams").alias("pos", "gm"))

    def _dup_starts(inv_k: DataFrame) -> DataFrame:
        dup_grams = (
            inv_k.groupBy("gm")
            .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("gm")
        )
        return inv_k.join(dup_grams, on="gm").select(id_col, "pos")

    if passes <= 1:
        dup_pos_rows = _dup_starts(inv)
    else:
        # same scratch-bounding hash-range iteration as duplicated_spans:
        # the persisted DISK_ONLY slice (≈ |index|/passes) feeds both
        # consumers so each pass scans once; (id, pos) partials are
        # duplicate-window-bounded and localCheckpoint'd so the previous
        # pass's slice + shuffle are reclaimed before the next pass
        from pyspark.storagelevel import StorageLevel

        acc = None
        for k in range(passes):
            inv_k = inv.where(
                F.pmod(F.xxhash64(F.col("gm")), F.lit(passes)) == F.lit(k)
            ).persist(StorageLevel.DISK_ONLY)
            part = _dup_starts(inv_k).localCheckpoint()
            inv_k.unpersist()
            acc = part if acc is None else acc.unionByName(part)
        dup_pos_rows = acc
    starts = dup_pos_rows.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("__starts")
    )
    joined = base.join(starts, on=id_col, how="left").withColumn(
        "__starts", F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    )
    # position p (0-based) covered iff some start s in [p-n+1, p]
    covered = lambda p: F.exists(  # noqa: E731
        F.col("__starts"), lambda s: (s <= p) & (p < s + n)
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - 1),
            lambda p: F.when(~covered(p), F.element_at(F.col("__toks"), p + 1)),
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        F.col(id_col),
        kept.alias(out),
        F.size("__toks").cast("long").alias("n_tok"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


def source_pair_counts(
    df: DataFrame,
    source_col: str = "source",
    tokens_col: str = "tokens",
    n: int = 3,
) -> DataFrame:
    """The heavy stage of ``source_overlap``: per ordered source pair
    (a ≤ b, diagonal included), the count of shingles both sources
    contain. Exactly TWO exchanges — the corpus-scale groupBy(shingle)
    and the |sources|²-bounded pair rollup (plan-frozen in
    test_physical_layout)."""
    sh = ngram_shingles(df, tokens_col, n)
    raw = sh.select(
        F.col(source_col).alias("src"), F.explode("shingles").alias("sg")
    )
    per_sg = raw.groupBy("sg").agg(F.array_sort(F.collect_set("src")).alias("srcs"))
    # ordered pairs with diagonal: position i (0-based) pairs with slice
    # starting at 1-based i+1 = itself and everything after it
    pairs = per_sg.select(
        F.explode(
            F.flatten(
                F.transform(
                    "srcs",
                    lambda a, i: F.transform(
                        F.slice(F.col("srcs"), i + F.lit(1), F.size("srcs")),
                        lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    tokens_col: str = "tokens",
    n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    exact n-gram shingle-set intersection/union — the source-level
    generalization of ``decontaminate`` (corpus×benchmark → source×source).
    The standard corpus-forensics question "how much does dump A leak into
    dump B / does train overlap val at the n-gram level" as one aggregate.

    Physical shape (the 100 TB audit): ONE corpus-scale exchange — the
    groupBy(shingle) that builds each shingle's distinct source set
    (map-side combine collapses per-partition duplicates first). Pair
    expansion happens per shingle against that array INCLUDING the
    diagonal (a,a), so a single tiny aggregation (≤ |sources|² rows after
    partial agg) yields both the pairwise intersections (a<b) AND the
    per-source set sizes (the diagonal: |{sg : a ∈ srcs(sg)}| = |S_a|).
    That counts table is localCheckpoint-materialized — it is consumed
    three times (inter + two size joins) and lazily each consumer would
    replay the corpus exchange. Sizes re-join by broadcast. No inverted-index
    self-join of two corpus-size sides is ever planned.

    Returns (src_a, src_b, inter_size, union_size, size_a, size_b), one
    row per unordered source pair sharing ≥1 shingle, all exact int64 —
    jaccard = inter/union left to the caller to keep the columns
    engine-exact.
    """
    # localCheckpoint (not persist): materializes once for the three
    # consumers AND leaves no session-lifetime cache entry behind — the
    # returned DataFrame holds the only reference (exact_dedup precedent)
    counts = source_pair_counts(df, source_col, tokens_col, n).localCheckpoint(
        eager=True
    )
    inter = counts.filter(F.col("src_a") < F.col("src_b")).withColumnRenamed(
        "cnt", "inter_size"
    )
    sizes = counts.filter(F.col("src_a") == F.col("src_b")).select(
        F.col("src_a").alias("src"), F.col("cnt").alias("set_size")
    )
    sa = sizes.select(F.col("src").alias("src_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("src").alias("src_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), on="src_a")
        .join(F.broadcast(sb), on="src_b")
        .select(
            "src_a", "src_b", "inter_size",
            (F.col("size_a") + F.col("size_b") - F.col("inter_size")).alias("union_size"),
            "size_a", "size_b",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    tokens_col: str = "tokens",
    n: int = 3,
    w: int = 4,
    out: str = "fps",
    engine: str = "arrow",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm, §2-3): hash every positional n-gram, then slide a
    w-wide window over the hash sequence and keep each window's MINIMUM —
    the local-minimum selection guarantees any shared substring of length
    ≥ n+w-1 contributes at least one shared fingerprint (the paper's
    coverage guarantee), at expected density 2/(w+1) of all n-grams.
    Complements MinHash (set-similarity) and exact-substring dup_spans:
    winnowing is the positional/substring-robust fingerprint family.

    engine='arrow' (default): one vectorized numpy kernel per Arrow batch —
    flat packed n-grams (shifted adds over the flattened token values),
    vectorized mix32, ``sliding_window_view(...).min(axis=1)`` for every
    window minimum at once, then a single lexsort dedup segmented back into
    lists. The JVM higher-order form evaluates ~(grams × w) INTERPRETED
    array ops per row (no codegen for transform/slice/array_min) — at a
    100M-row robustness attempt it paced to >1 h of pure selection compute;
    the kernel replaces that with ~5 numpy passes over the batch.
    Bit-identical to the JVM form (asserted in tests).

    engine='jvm': the dependency-free expression form — positional packed
    n-grams (NOT the distinct shingle set), mix32-hashed, per-window
    array_min over a slice, distinct+sort — kept as the cross-engine
    equivalence witness; the SQL oracle replays this exact shape. Docs
    shorter than n+w-1 get an empty fingerprint set in both engines.
    """
    from ..functions.hashing import mix32_col

    if engine == "jvm":
        t = F.col(tokens_col)
        ln = F.size(t)
        grams = F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: sum(
                [F.element_at(t, i + k).cast("long") * (VOCAB ** (n - 1 - k)) for k in range(n)],
                F.lit(0).cast("long"),
            ),
        )
        hashes = F.transform(grams, lambda g: mix32_col(g))
        # greatest(...,1): sequence(1, x<=0) would generate DESCENDING indices
        # (slice(start=0) raises even in the untaken when-branch under some
        # codegen paths); the outer length guard discards the clamped result
        sel = F.transform(
            F.sequence(F.lit(1), F.greatest((ln - (n - 1)) - (w - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(hashes, i, w)),
        )
        return df.withColumn(
            out,
            F.when(ln >= n + w - 1, F.array_sort(F.array_distinct(sel)))
            .otherwise(F.array().cast("array<bigint>")),
        )
    if engine != "arrow":
        raise ValueError(f"unknown engine {engine!r}")

    from pyspark.sql import types as T
    from pyspark.sql.functions import arrow_udf

    KNUTH, M32, M16 = 2654435761, 1 << 32, 1 << 16

    @arrow_udf(T.ArrayType(T.LongType(), containsNull=False))
    def _wf(arr: pa.Array) -> pa.Array:
        arr, vals, starts, lens, nulls = _flatten_list_batch(arr)
        nrows = len(arr)
        vals = vals.astype(np.int64)
        if nulls is not None:
            # null rows: offsets may still advance — treat as length 0 (the
            # JVM form yields an empty array for null tokens too)
            lens = np.where(nulls, lens, 0)
        # windows per doc; gram index space = token flat index (last n-1
        # positions of each doc hold cross-doc garbage, never selected)
        nw = np.maximum(lens - (n - 1) - (w - 1), 0)
        total = int(nw.sum())
        if total == 0 or len(vals) < n + w - 1:
            empty_off = np.zeros(nrows + 1, dtype=np.int32)
            return pa.ListArray.from_arrays(
                pa.array(empty_off), pa.array([], type=pa.int64())
            )
        p = np.zeros(len(vals) - (n - 1), dtype=np.int64)
        for k in range(n):
            p += vals[k: len(vals) - (n - 1) + k] * (VOCAB ** (n - 1 - k))
        h = p % M32  # packed grams are non-negative: pmod == %
        h = ((h % M16) * KNUTH + (h // M16 * KNUTH % M16) * M16) % M32
        m = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
        sel_starts = np.repeat(starts, nw)
        csum = np.concatenate(([0], np.cumsum(nw)))[:-1]
        idx = sel_starts + (np.arange(total) - np.repeat(csum, nw))
        sel = m[idx]
        doc = np.repeat(np.arange(nrows, dtype=np.int64), nw)
        order = np.lexsort((sel, doc))
        d2, v2 = doc[order], sel[order]
        keep = np.empty(total, dtype=bool)
        keep[0] = True
        keep[1:] = (d2[1:] != d2[:-1]) | (v2[1:] != v2[:-1])
        d3, v3 = d2[keep], v2[keep]
        counts = np.bincount(d3, minlength=nrows)
        out_off = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(out_off), pa.array(v3))

    return df.withColumn(out, _wf(F.col(tokens_col)))


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str = "tokens",
    n: int = 3,
    w: int = 4,
    min_shared: int = 1,
    max_fp_freq: int | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints — the
    MOSS matching step as an inverted-index equi-join (never all-pairs):
    explode fingerprints, join on fingerprint id, count shared per pair.
    ``max_fp_freq`` prunes stop-fingerprints from the index exactly like
    ``jaccard_pairs``' hot-shingle cap (fan-out ≤ F² per key); the shared
    count then undercounts by the dropped hot fingerprints (lower bound).
    Returns (doc_a, doc_b, shared_fp, fp_a, fp_b)."""
    fp = winnow_fingerprints(df, tokens_col, n, w, engine=engine).select(
        F.col(id_col), F.col("fps"), F.size("fps").alias("fp_size")
    )
    inv = fp.select(id_col, "fp_size", F.explode("fps").alias("fpv"))
    if max_fp_freq is not None:
        freq = inv.groupBy("fpv").agg(F.count(F.lit(1)).alias("__df"))
        hot = freq.filter(F.col("__df") > max_fp_freq).select("fpv")
        inv = inv.join(hot, on="fpv", how="left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.fpv") == F.col("b.fpv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.fp_size").alias("fp_a"),
            F.col("b.fp_size").alias("fp_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
        .select("doc_a", "doc_b", "shared_fp", "fp_a", "fp_b")
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str = "source",
    sep: str = "\n",
    frac_num: int = 1,
    frac_den: int = 10,
    min_docs: int = 2,
    out: str = "clean_text",
) -> DataFrame:
    """Per-source boilerplate line removal (the RefinedWeb §3.2 / CCNet
    line-filtering family): a line is boilerplate for a source when it
    appears in ≥ ``min_docs`` distinct documents AND in ≥ frac_num/frac_den
    of that source's documents (nav bars, cookie banners, license footers —
    high within-domain document frequency is the signature). Boilerplate
    lines are stripped from every document of that source; documents are
    reassembled with surviving lines in original order. Differs from
    ``line_dedup`` (which keeps ONE global copy): boilerplate keeps ZERO
    copies, but only within sources where the line is actually frequent.

    Physical shape: the line doc-frequency table costs two line-keyed
    exchanges (distinct (source,line,id) then groupBy(source,line)); the
    per-source doc totals broadcast back; the strip decision is a
    line-keyed join against the frequency-filtered boilerplate set; one
    final exchange by id reassembles. All exchange keys are
    (source,line)-shaped — payloads never fan out.

    Returns (id, out, n_lines, n_kept)."""
    lines = df.select(
        F.col(id_col),
        F.col(source_col).alias("__src"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("pos", "line"),
    )
    doc_freq = (
        lines.select("__src", "line", id_col)
        .distinct()
        .groupBy("__src", "line")
        .agg(F.count(F.lit(1)).alias("__df_docs"))
    )
    src_docs = df.groupBy(F.col(source_col).alias("__src")).agg(
        F.count(F.lit(1)).alias("__docs")
    )
    bl = (
        doc_freq.join(F.broadcast(src_docs), on="__src")
        .filter(
            (F.col("__df_docs") >= min_docs)
            & (F.col("__df_docs") * frac_den >= F.col("__docs") * frac_num)
        )
        .select("__src", "line", F.lit(True).alias("__bl"))
    )
    marked = lines.join(bl, on=["__src", "line"], how="left")
    keep = F.col("__bl").isNull()
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(keep.cast("long")).alias("n_kept"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("pos", "line")).otherwise(F.lit(None))
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
            ).alias(out),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    score: Column,
    num_perms: int = 8,
    rows_per_band: int = 2,
    broadcast_max_ids: int = 10_000_000,
) -> DataFrame:
    """Near-dup removal with a POLICY representative: per connected near-dup
    cluster keep the row maximizing ``score`` (ties → smaller id) instead of
    ``minhash_dedup``'s min-id. Production pipelines keep the longest or
    highest-quality member of a duplicate cluster (e.g. score =
    F.size(tokens), or a quality-classifier output) — min-id is only the
    right default when members are interchangeable.

    Same physical skeleton as ``minhash_dedup`` (signature → single-
    exchange LSH pair path → connected components); the added policy step
    joins the (dup-subset-bounded) component table to an (id, score)
    projection, window-ranks within each component by (score desc, id),
    and anti-joins the losers back — broadcast when the dup set is small,
    so the payload still never shuffles.
    """
    sig = minhash_signature(df, tokens_col, num_perms)
    pairs = lsh_candidate_pairs(sig, id_col, num_perms, rows_per_band, dedup=False)
    comp = connected_components(pairs)
    scores = df.select(F.col(id_col).alias("node"), score.alias("__score"))
    member = comp.join(scores, on="node")
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc(), F.col("node").asc()
    )
    losers = (
        member.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(F.col("node").alias(id_col))
        .localCheckpoint(eager=True)
    )
    if losers.count() <= broadcast_max_ids:
        losers = F.broadcast(losers)
    return df.join(losers, on=id_col, how="left_anti")


def incremental_dedup(
    new_df: DataFrame,
    seen_hashes: DataFrame | None,
    content_cols: list[str],
    id_col: str,
    method: str = "xxhash128",
) -> tuple[DataFrame, DataFrame]:
    """Incremental (delta) exact dedup — THE production crawl-ingest
    pattern: each new shard/dump dedups (a) within itself (min-id per
    content, `exact_dedup` semantics) and (b) against the accumulated
    hash table of everything already ingested, WITHOUT touching prior
    payloads. ``seen_hashes`` is the persisted corpus-state table of
    content-hash columns from previous batches (None/empty for the first
    batch); at 100 TB it is the only state the pipeline carries forward —
    16-32 B per historic doc instead of the docs themselves.

    Physical shape: the new batch computes hashes in-scan; the within-
    batch dedup shuffles (hash, id) only (`exact_dedup`); the against-seen
    check is an anti-join keyed on the hash columns — broadcast when the
    new batch is the small side of a daily increment, shuffle-hash
    against a same-scale backlog. Payloads never join anything.

    Returns (kept_rows, their_hash_rows) — append the second to the seen
    table after committing the first (the checkpoint-then-data ordering
    is the caller's exactly-once protocol, see plans/checkpoint.py).
    """
    keys = _content_hash_cols(content_cols, method)
    key_names = ["__h1", "__h2"][: len(keys)]
    within = exact_dedup(new_df, content_cols, id_col, method=method)
    hashed = within.select("*", *keys)
    if seen_hashes is not None:
        hashed = hashed.join(seen_hashes, on=key_names, how="left_anti")
    kept = hashed.drop(*key_names)
    return kept, hashed.select(*key_names)
