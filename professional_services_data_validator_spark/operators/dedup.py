"""Deduplication operators for training-data pipelines.

No reference analog (the validator compares two copies of one table); these
are the BASELINE "large-scale training-data pipeline" extensions. All are
pure DataFrame compositions — built-in functions only, no Python in the hot
path — and every step is engine-portable (md5-based hashing) so DuckDB
oracles can replicate results exactly.

Scale notes (10^12-row posture):
- exact_dedup: one hash-shuffle on a 16-byte digest; window ranks within
  duplicate groups only.
- minhash_lsh: shingling explodes k-grams (documents × ~n_tokens rows) but
  each stage is a hash-partitioned aggregation; candidate generation joins
  on (band_id, band_hash) buckets, so the self-join never goes quadratic —
  the classic MinHash+LSH shape (Broder '97 / MMDS ch.3).
- verification computes exact Jaccard ONLY for LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_verdicts(
    df: DataFrame,
    text_col: str,
    group_col,
    max_dup_rate: float = 0.1,
) -> DataFrame:
    """Per-group duplication-rate verdicts in the lineage-table shape
    (partition_id, metrics..., validation_status): dup_rate =
    1 - distinct(text_hash)/rows per group. Single groupBy — one shuffle."""
    from ..config import consts

    per = df.groupBy(group_col.cast("string").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_distinct"),
    )
    dup_rate = F.round(
        F.lit(1.0) - F.col("n_distinct") / F.col("n_rows"), 6
    )
    return per.select(
        "partition_id",
        "n_rows",
        "n_distinct",
        dup_rate.alias("dup_rate"),
        F.when(dup_rate <= max_dup_rate, F.lit(consts.VALIDATION_STATUS_SUCCESS))
        .otherwise(F.lit(consts.VALIDATION_STATUS_FAIL))
        .alias("validation_status"),
    )


def exact_dedup(
    df: DataFrame, text_col: str, keys: list[str]
) -> DataFrame:
    """Rows to DROP under exact-text dedup (keep first by key order).

    Output: (keys..., text_hash, keep_rank) for rows with keep_rank > 1.
    Deterministic keeper: smallest key tuple wins.
    """
    h = F.md5(F.col(text_col)).alias("text_hash")
    w = Window.partitionBy("text_hash").orderBy(*[F.col(k) for k in keys])
    return (
        df.select(*keys, h)
        .withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") > 1)
    )


def _tokens(text_col: Column) -> Column:
    return F.split(F.trim(text_col), " +")


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word k-gram shingles: one row per (id, shingle).

    Built-ins only: split -> sequence -> transform(slice+join) -> explode.

    ``distinct=False`` returns the RAW map-only stream (duplicates kept,
    zero shuffle). MinHash's min-aggregate is duplicate-insensitive, so
    the LSH pipeline consumes the raw stream and the corpus-wide
    ``.distinct()`` exchange — measured 88 s of a 278 s dedup_clusters
    pass at 1M docs — never happens; set semantics are restored by
    :func:`jaccard_verify` on the candidate-incident slice only.
    Consumers that need exact per-doc shingle SETS corpus-wide (simhash
    weighting, exact n-gram Jaccard baselines) keep the default.
    """
    # materialize the token array in a child projection: inlining the
    # split(...) into the transform lambda would re-evaluate it for EVERY
    # gram element (no CSE inside lambda bodies) — O(tokens x grams)/row
    tokenized = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
    )
    out = tokenized.select("id", F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


# MinHash linear-family modulus: h_j(x) = (a_j * x + b_j) mod P over the
# 60-bit md5 prefix reduced mod P. P prime (~2^30) keeps a_j * x < 2^60 —
# safe under ANSI overflow checking — while leaving the per-doc min-rank
# collision probability negligible for shingle-set sizes.
MINHASH_P = 1_000_000_007


def minhash_coeffs(j: int) -> tuple[int, int]:
    """Deterministic (a_j, b_j) for the j-th MinHash family member, derived
    from md5 so Spark engine and DuckDB oracle embed identical literals.
    a_j is nonzero (a universal-family requirement)."""
    import hashlib

    a = 1 + int(
        hashlib.md5(f"a|{j}".encode()).hexdigest()[:15], 16
    ) % (MINHASH_P - 1)
    b = int(hashlib.md5(f"b|{j}".encode()).hexdigest()[:15], 16) % MINHASH_P
    return a, b


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Integer MinHash: signature_j = min((a_j * h + b_j) mod P) with h =
    the 60-bit md5 prefix of the shingle reduced mod P.

    ONE engine-portable md5 per shingle (xxhash64/farm_fingerprint differ
    across engines — SURVEY.md §7) supplies the base integer; the family
    members are independent random linear functions over Z_P (pairwise
    independence is what LSH's s^r band amplification needs — a
    consecutive-multiplier double-hash family was measured to correlate
    band rows and blow candidate pairs up 51x). Versus min(md5(j ||
    shingle)) per j this removes (k-1) md5 evaluations and ALL per-hash
    hex-string allocation from the hottest aggregate in the dedup
    pipeline: the agg buffers and the shuffle carry 8-byte longs, not
    32-byte hex strings. Output: (id, mh_0..mh_{n-1}) as longs.
    """
    hx = F.md5(F.col("shingle"))
    proj = sh.select(
        "id",
        (
            F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
            % F.lit(MINHASH_P)
        ).alias("__h"),
    )
    aggs = []
    for j in range(num_hashes):
        a, b = minhash_coeffs(j)
        aggs.append(
            F.min(
                (F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)
            ).alias(f"mh_{j}")
        )
    return proj.groupBy("id").agg(*aggs)


def minhash_signatures_mapside(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MAP-ONLY MinHash: per-document array fold instead of explode +
    corpus-wide hash aggregate.

    Identical values to ``minhash_signatures(shingles(df, ...,
    distinct=False))`` — min over the raw shingle multiset equals min
    over the set — but the 10^8-row shingle explode, the V-group
    aggregate hash maps and their exchange are GONE: tokens -> shingle
    array -> 60-bit-hash array happen inside one projection, and each
    signature is an ``array_min`` over a per-row transform. The only
    remaining corpus-scale cost is the per-shingle md5 itself (evaluated
    once — the hash array is materialized in a child projection exactly
    like shingles() materializes the token array). Round-5 measurement
    at 4M docs / local[16]: signature stage 50.6 s -> 18.5 s; the
    shuffle that fed the aggregate disappears entirely.

    NULL text produces no shingle rows in the explode path, so it is
    filtered here too (a doc with NULL text has no signature).
    """
    tokenized = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    sh_arr = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
    )
    h_arr = F.transform(
        sh_arr,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )
    hs = tokenized.select("id", h_arr.alias("__hs"))
    def _lin(a: int, b: int):
        # closure factory: a defaulted lambda (x, a=a, b=b) would be read
        # by PySpark as a 3-ary higher-order-function callback
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)

    cols = []
    for j in range(num_hashes):
        a, b = minhash_coeffs(j)
        cols.append(
            F.array_min(F.transform(F.col("__hs"), _lin(a, b))).alias(
                f"mh_{j}"
            )
        )
    return hs.select("id", *cols)


def lsh_candidates(
    sig: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature, bucket-join on (band_idx, band_hash).

    Returns candidate pairs (id_a < id_b). Each band key is the 60-bit
    md5 prefix of its rows' pipe-concatenation, as a LONG (round 5: the
    band self-join is the pipeline's widest exchange — 8-byte integer
    keys shuffle 4x fewer bytes and hash/compare faster than 32-char hex
    strings; the DuckDB oracle applies the identical reduction, and a
    key collision only costs a false CANDIDATE that exact-Jaccard
    verification discards). Equi-join on the band bucket — hash
    partitioned, no cross product.
    """
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.conv(
                    F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15),
                    16, 10,
                ).cast("long").alias("band_hash"),
            )
        )
    banded = sig.select(
        "id", F.explode(F.array(*band_structs)).alias("band")
    ).select("id", "band.band_idx", "band.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    sh: DataFrame | None,
    threshold: float = 0.5,
    reliable_checkpoint: bool = False,
    sh_slicer=None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only (the LSH contract).

    |A ∩ B| via join of shingle sets restricted to candidate ids;
    |A ∪ B| = |A| + |B| - |A ∩ B|. Output: (id_a, id_b, jaccard) filtered
    to >= threshold, jaccard rounded to 6dp for cross-engine stability.

    Scale design (measured at 1M docs: this stage was 151 s of a 278 s
    dedup_clusters pass when the joins shuffled the CORPUS shingle frame):
    verification only needs the shingle sets of candidate-INCIDENT docs —
    a small fraction of the corpus by LSH construction. The candidate
    list (tip of the signature+band-join subtree, two consumers) is
    localCheckpointed once; its incident-id set semi-joins the shingle
    stream down to the candidate slice BEFORE any wide exchange (AQE sees
    the checkpointed id-set size at runtime and broadcasts the semi
    build); the set-semantics ``.distinct()`` runs on that slice, never
    corpus-wide — which is what lets callers feed the raw
    ``shingles(distinct=False)`` stream. The slice is localCheckpointed
    too, so the size aggregate and both intersection sides read it without
    re-running the semi scan; all checkpoint blocks are ContextCleaner-
    managed (no CacheManager entry to leak across executions).

    Fault tolerance: ``localCheckpoint`` stores blocks on executor-local
    storage with lineage TRUNCATED — on a multi-executor cluster an
    executor loss makes those blocks unrecoverable and fails the job
    (acceptable here: a dedup pass is idempotent and re-runnable, and the
    checkpointed state is slice-sized). For long cluster runs where a
    retry is expensive, set a checkpoint dir
    (``spark.sparkContext.setCheckpointDir``) and pass
    ``reliable_checkpoint=True`` to trade eager HDFS/object-store writes
    for executor-loss recoverability — the same guidance as
    :func:`connected_components`.

    Either ``sh`` (the shingle stream) or ``sh_slicer`` (id set -> its
    shingle slice) must be given; ``sh_slicer`` wins when both are.
    """
    if sh is None and sh_slicer is None:
        raise ValueError("provide sh or sh_slicer")
    _ckpt = (
        (lambda d: d.checkpoint())
        if reliable_checkpoint
        else (lambda d: d.localCheckpoint())
    )
    cand = _ckpt(candidates)
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # sh_slicer (round 5): derive the candidate-incident shingle slice
    # straight from the DOCUMENT slice instead of semi-filtering the
    # corpus-wide shingle stream — the 10^8-row explode over every doc
    # (the worst-scaling stage in the pipeline) then runs only over the
    # candidate-incident docs, typically a few percent of the corpus.
    if sh_slicer is not None:
        raw_slice = sh_slicer(ids)
    else:
        raw_slice = sh.join(ids, "id", "left_semi")
    shc = _ckpt(raw_slice.distinct())
    sizes = shc.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # count common shingles per candidate pair (slice-sized exchanges)
    sh_a = shc.select(F.col("id").alias("id_a"), "shingle")
    sh_b = shc.select(F.col("id").alias("id_b"), F.col("shingle"))
    common = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle -> minhash -> LSH -> verify.

    ``reliable_checkpoint=True`` routes the verify stage's eager
    checkpoints to the configured reliable checkpoint dir (executor-loss
    recoverable) instead of executor-local storage — see
    :func:`jaccard_verify`.

    Scale posture: the shingle stream is consumed RAW (``distinct=False``
    — MinHash min-aggregation is duplicate-insensitive), so the pipeline's
    only corpus-scale work is map-side explode scans; the one historical
    corpus-wide exchange (shingle ``.distinct()``, formerly persisted
    MEMORY_AND_DISK to amortize its three consumers) is gone entirely.
    Set semantics for exact-Jaccard verification are restored by
    :func:`jaccard_verify` on the candidate-incident slice, which it
    localCheckpoints for its three consumers — slice-sized state instead
    of a corpus-sized cache, and no CacheManager entry to release.
    """
    sig = minhash_signatures_mapside(df, id_col, text_col, k, num_hashes)
    cand = lsh_candidates(sig, num_hashes, bands)

    def _slice(ids: DataFrame) -> DataFrame:
        sliced = df.join(
            ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
        )
        return shingles(sliced, id_col, text_col, k, distinct=False)

    return jaccard_verify(
        cand,
        None,
        threshold,
        reliable_checkpoint=reliable_checkpoint,
        sh_slicer=_slice,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    block_col: Column | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs within a block.

    ``block_col`` bounds the pair space (e.g. same source/shard); without
    LSH this is quadratic per block — the baseline against which
    minhash_dedup_pairs is the scale path. Output (id_a, id_b, jaccard).
    """
    sh = shingles(df, id_col, text_col, k)
    if block_col is not None:
        blocks = df.select(F.col(id_col).alias("id"), block_col.alias("blk"))
        sh = sh.join(blocks, "id")
        join_keys = ["shingle", "blk"]
    else:
        sh = sh.withColumn("blk", F.lit(0))
        join_keys = ["shingle", "blk"]
    # sh feeds the size agg and both self-join sides — localCheckpoint runs
    # the tokenize+shingle scan ONCE and hands ContextCleaner-managed
    # blocks to all three consumers. (A CacheManager persist here had no
    # release point — the function returns lazily — and leaked
    # MEMORY_AND_DISK cache across executions in a long-lived session;
    # checkpoint blocks are reclaimed when the returned plan is GC'd.)
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), *join_keys)
    b = sh.select(F.col("id").alias("id_b"), *join_keys)
    common = (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Portable SimHash: bit_i = majority vote over tokens of the low bit of
    hex digit i of md5(token).

    Uses the first ``bits`` hex chars of md5 (<=32). ascii(hexchar) % 2
    gives a balanced bit per digit ('0'..'9' -> 0101.., 'a'..'f' -> 1010..
    pattern; empirically balanced over md5 output). Engine-portable: md5,
    substring, ascii are identical in Spark and DuckDB. Production variant
    with xxhash64 would be Spark-specific; this one is oracle-checkable.
    Output: (id, simhash bigint).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(F.col(text_col))).alias("t"),
    ).withColumn("h", F.md5("t"))
    bit_cols = [
        (F.ascii(F.substring("h", i + 1, 1)) % 2).alias(f"b{i}")
        for i in range(bits)
    ]
    per_tok = tok.select("id", *bit_cols)
    votes = per_tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(bits)],
    )
    sim = F.lit(0).cast("long")
    for i in range(bits):
        bit = (F.col(f"s{i}") * 2 > F.col("n")).cast("long")
        sim = sim + bit * F.lit(2**i).cast("long")
    return votes.select("id", sim.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame, max_hamming: int = 2, bits: int = 16
) -> DataFrame:
    """Near-dup pairs by Hamming distance on simhash.

    Scale path: block on simhash chunks (pigeonhole — two signatures within
    hamming d share at least one of d+1 chunks), then verify exact hamming
    via bit_count(xor). Avoids the quadratic self-join.
    """
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk_idx"),
            F.shiftright(F.col("simhash"), c * chunk_bits)
            .bitwiseAND(F.lit(mask))
            .alias("chunk_val"),
        )
        for c in range(chunks)
    ]
    # blocked is both sides of the self-join; localCheckpoint so the
    # signature computation (a full corpus tokenize+agg upstream) runs
    # once, not twice (measured 2.3x e2e at sf0.1 — ReusedExchange does
    # not fire here because the a.id < b.id predicate lands in different
    # join positions). Tiny frame: (id, int, chunk) x (d+1) rows per doc.
    # Checkpoint, not persist: the function returns lazily so a
    # CacheManager persist would have no release point and leak cache
    # across executions; checkpoint blocks are ContextCleaner-managed.
    blocked = sim.select(
        "id", "simhash", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("id", "simhash", "c.chunk_idx", "c.chunk_val").localCheckpoint()
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _loop_partitions(spark, n_edges: int, sess_parts: int) -> int:
    """Shuffle width for the iterative CC loops: sized to the EDGE list,
    but never starving the cluster's cores.

    Two regimes, both measured:
    - tiny dup graphs (hundreds of edges): corpus-sized partition counts
      schedule dozens of near-empty task waves per round — per-round fixed
      cost is the serial fraction that caps N->4N scaling (round 4).
    - mid-sized graphs (round 5, 4M-doc protocol: ~400k edges): a pure
      rows-per-partition target (100k) yields FEWER partitions than cores
      on the 4N leg, capping loop parallelism at the same width on both
      cluster sizes — the loop stops scaling entirely.
    So: grow one partition per 10k edges up to the core count (tasks stay
    >=10k rows, far from the near-empty pathology), then one per 100k
    edges beyond it, capped by the session width as before.
    """
    par = spark.sparkContext.defaultParallelism
    lo = n_edges // 100_000 + 1
    fill_cores = min(par, n_edges // 10_000 + 1)
    return max(1, min(sess_parts, max(lo, fill_cores)))


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into connected-component CLUSTERS — the
    cluster-resolution step a dedup pipeline runs between candidate-pair
    generation (LSH/simhash/SRP) and duplicate dropping.

    Algorithm: iterative min-label propagation. Every node starts labeled
    with its own id; each round every node takes the min of its own and its
    neighbors' labels; converged when no label shrinks. Rounds needed =
    component diameter, which for near-dup graphs is small by construction
    (dup groups are near-cliques — 2-4 rounds in practice). For general
    high-diameter graphs the O(log n)-round alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC '14) is the drop-in upgrade; the simple
    propagation is the right cost model for the dedup-graph shape (one
    O(E) message shuffle + one O(V) min-aggregate per round).

    Scale notes: only nodes incident to an edge enter the loop — singleton
    docs (the overwhelming majority of a 100 TB corpus) skip straight to
    the final left-join. ``localCheckpoint`` after every round cuts the
    growing lineage so round k does not replay rounds 1..k-1 (on a real
    cluster with fault-tolerance requirements, ``checkpoint`` to reliable
    storage instead). The convergence probe is a LIMIT 1 existence check,
    not a full count.

    Returns (id, cluster_id): cluster_id = min node id reachable from id;
    nodes with no near-dup edge get cluster_id = their own id. Raises if
    ``max_iter`` rounds do not converge (silently-truncated propagation
    would mislabel clusters).
    """
    from pyspark import StorageLevel

    # Symmetrize MAP-SIDE with one explode(array(struct, struct)) instead of
    # a unionByName of two selects: union branches are separate scans of the
    # pairs plan, and `pairs` is the UNPERSISTED tip of the whole
    # LSH-candidates + jaccard-verify subtree — materializing the union
    # executed that subtree TWICE (measured at 1M docs/local[16]: the
    # resolver's edge job cost ~2x the pairs job it feeds on; the explode
    # form executes it once and emits both orientations in the same task).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Size the LOOP's shuffle partitioning to the edge list, not the
    # session default: the dup graph is a tiny fraction of the corpus
    # (most docs are singletons), so iterating with the corpus-sized
    # partition count schedules dozens of near-empty tasks per round —
    # per-round fixed cost is exactly the serial fraction that caps this
    # iterative job's N->4N scaling. ~100k edge rows per partition keeps
    # tasks long enough to amortize dispatch; the session value is
    # restored before returning (the output plan is compiled after).
    spark = pairs.sparkSession
    n_edges = edges.count()  # cached — also materializes the persist
    sess_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = _loop_partitions(spark, n_edges, int(sess_parts))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    # AQE's coalescePartitions.initialPartitionNum (set session-wide to
    # 256 for corpus-scale aggregates) OVERRIDES shuffle.partitions as the
    # starting width of every AQE shuffle — without pinning it too, the
    # loop's edge-sized partitioning above never takes effect and each
    # round schedules 256-wide near-empty task waves.
    _IPN = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    sess_ipn = spark.conf.get(_IPN, None)
    spark.conf.set(_IPN, str(loop_parts))
    try:
        # round-0 fold: start from min(own id, min neighbor id) — one
        # aggregate over the (already symmetric) edge list replaces a whole
        # propagation round, so near-clique dup groups usually converge in
        # 1-2 loop rounds. least(id, min(dst)) folds the own-id term in
        # closed form instead of unioning a distinct'd self-edge frame (one
        # O(E) shuffle saved).
        labels = (
            edges.groupBy(F.col("src").alias("id"))
            .agg(F.min("dst").alias("__m"))
            .select("id", F.least(F.col("id"), F.col("__m")).alias("lbl"))
            .localCheckpoint()
        )
        converged = False
        for _ in range(max_iter):
            # ONE shuffle chain per round: the old label rides the same
            # aggregate as the neighbor messages (min(old) is exact — each
            # id has exactly one base row), so convergence is a joinless
            # filter over the checkpointed result instead of a second O(V)
            # shuffle join per round. By edge symmetry every msg id already
            # has a base row, so old is never NULL.
            msgs = edges.join(
                labels.select(F.col("id").alias("src"), "lbl"), "src"
            ).select(
                F.col("dst").alias("id"),
                "lbl",
                F.lit(None).cast(labels.schema["lbl"].dataType).alias("old"),
            )
            base = labels.select("id", "lbl", F.col("lbl").alias("old"))
            new = (
                base.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"), F.min("old").alias("old"))
                .localCheckpoint()
            )
            shrank = (
                new.filter(F.col("lbl") < F.col("old")).limit(1).count()
            )
            labels = new.select("id", "lbl")
            if shrank == 0:
                converged = True
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sess_parts)
        if sess_ipn is None:
            spark.conf.unset(_IPN)
        else:
            spark.conf.set(_IPN, sess_ipn)
        edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "component diameter exceeds the dedup-graph assumption — use a "
            "large-star/small-star pass or raise max_iter"
        )
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            "id", F.coalesce(F.col("lbl"), F.col("id")).alias("cluster_id")
        )
    )


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC '14) — the
    O(log n)-round resolver for HIGH-DIAMETER near-dup graphs, where the
    simple min-label propagation in :func:`connected_components` needs
    one round per hop of component diameter.

    When to use which: dup groups from LSH banding are near-cliques
    (diameter 2-4), so propagation wins on fixed per-round cost. Graphs
    stitched through transitive links — cross-doc span chains, entity
    resolution, templated documents sharing staggered n-gram windows —
    can have diameter O(component size); there each star round HALVES
    tree height, so convergence is O(log n) rounds regardless of shape.

    One round = two edge-rewrite steps, each a single groupBy shuffle over
    the edge list (O(E)) plus a distinct:

    - large-star: every node u connects its STRICTLY LARGER neighbors to
      m(u) = min(N(u) ∪ {u});
    - small-star: edges oriented (hi, lo); every hi connects its smaller
      neighbors and itself to the min of them.

    Both steps preserve connectivity and never raise a node's parent, so
    the edge multiset converges to a star forest: (child, component-min)
    for every non-min node. Convergence is detected from an order-free
    fingerprint of the edge set (count + XOR of xxhash64(u, v)) — two
    consecutive equal fingerprints end the loop; `localCheckpoint` after
    each round cuts the iterative lineage exactly as the propagation
    resolver does. Only edge-incident nodes enter the loop; singletons
    join straight into the final left join.

    Returns (id, cluster_id) with cluster_id = the component's min node id
    — identical contract to :func:`connected_components`, so the two are
    drop-in interchangeable (property-tested equivalent on random graphs).
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _fingerprint(e: DataFrame) -> tuple[int, int]:
        # order-free edge-set id: (n_edges, XOR of per-edge hashes) over the
        # CANONICAL undirected form (edges are distinct, so XOR-over-set is
        # exact up to hash collisions, ~2^-64 per round — and never
        # overflows under ANSI arithmetic, unlike a 64-bit SUM). A false
        # "converged" needs two colliding sets the star steps could still
        # change; the labels are then still guarded by the min-aggregate.
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(
                F.xxhash64(
                    F.least(F.col("u"), F.col("v")),
                    F.greatest(F.col("u"), F.col("v")),
                )
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = _fingerprint(edges)
    # loop shuffle partitioning sized to the edge list (same rationale and
    # restore discipline as connected_components): iterative rounds over a
    # dup graph orders of magnitude smaller than the corpus must not
    # schedule corpus-sized near-empty task waves.
    spark = pairs.sparkSession
    sess_parts = spark.conf.get("spark.sql.shuffle.partitions")
    loop_parts = _loop_partitions(spark, fp[0], int(sess_parts))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    # pin AQE's initial shuffle width to the loop size too — the session
    # initialPartitionNum=256 would otherwise override shuffle.partitions
    # for every AQE shuffle in the loop (same rationale as
    # connected_components).
    _IPN = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    sess_ipn = spark.conf.get(_IPN, None)
    spark.conf.set(_IPN, str(loop_parts))
    converged = False
    try:
        for _ in range(max_iter):
            # ---- large-star: strictly-larger neighbors hook onto min(N(u)∪{u})
            sym = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = sym.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            large = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
            # ---- small-star: orient (hi, lo); hi and its smaller neighbors
            # all hook onto the minimum of the neighborhood
            hi_lo = large.select(
                F.greatest(F.col("u"), F.col("v")).alias("u"),
                F.least(F.col("u"), F.col("v")).alias("v"),
            )
            mins2 = hi_lo.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                hi_lo.join(mins2, "u")
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                            F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        )
                    ).alias("e")
                )
                .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            new_fp = _fingerprint(small)
            edges = small
            if new_fp == fp:
                converged = True
                break
            fp = new_fp
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sess_parts)
        if sess_ipn is None:
            spark.conf.unset(_IPN)
        else:
            spark.conf.set(_IPN, sess_ipn)
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — edge fingerprint still changing"
        )
    # at convergence the edge set is a star forest oriented (child > root):
    # every non-root node appears exactly once as u with v = component min
    # at the converged star state each child carries exactly one (child,
    # root) edge; the min-aggregate is a no-op then, and a cheap guard (the
    # frame is O(non-singleton nodes)) against a fingerprint false-positive.
    # localCheckpoint, not persist: labels is consumed lazily by the
    # returned plan, so a CacheManager persist would have no release point
    # and leak across executions; checkpoint blocks are ContextCleaner-
    # managed and the frame is O(non-singleton nodes) anyway.
    labels = (
        edges.groupBy(F.col("u").alias("id"))
        .agg(F.min("v").alias("lbl"))
        .localCheckpoint()
    )
    out = (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            "id", F.coalesce(F.col("lbl"), F.col("id")).alias("cluster_id")
        )
    )
    return out


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    components: str = "propagation",
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash+LSH pairs -> connected
    components -> per-doc cluster assignment with a deterministic canonical
    representative (the min doc id of the cluster — what a training-data
    pipeline keeps; the rest are dropped as near-duplicates).

    ``components`` picks the resolver: ``"propagation"`` (min-label rounds
    = component diameter — right for the near-clique LSH dup-group shape)
    or ``"star"`` (Kiveris alternating large/small star, O(log n) rounds —
    right when transitive chains make components deep). Both return the
    identical (id, component-min) labeling, so the output contract — and
    the DuckDB oracle — is the same either way.

    Output: (doc_id, cluster_id, cluster_size, is_canonical), one row per
    input doc. cluster_size is computed with a window partitioned by
    cluster_id (clusters are small by construction, so no skewed-window
    hazard). Engine-portable md5 hashing end to end, so the whole pipeline
    — including the iterative component resolution — has an exact DuckDB
    oracle (recursive CTE).
    """
    # The LSH front-end consumes the RAW shingle stream (no corpus-wide
    # distinct, no corpus-sized persist to release — the round-4 cache-leak
    # fix is now structural): jaccard_verify localCheckpoints the candidate
    # pair list and the candidate-incident shingle slice, the resolvers
    # localCheckpoint edges/labels, so after the eager resolver call the
    # output plan reads only slice-sized checkpointed state plus the node
    # frame, all ContextCleaner-managed.
    sig = minhash_signatures_mapside(df, id_col, text_col, k, num_hashes)
    cand = lsh_candidates(sig, num_hashes, bands)

    def _slice(ids: DataFrame) -> DataFrame:
        sliced = df.join(
            ids.select(F.col("id").alias(id_col)), id_col, "left_semi"
        )
        return shingles(sliced, id_col, text_col, k, distinct=False)

    pairs = jaccard_verify(cand, None, threshold, sh_slicer=_slice)
    resolver = (
        connected_components_star
        if components == "star"
        else connected_components
    )
    comp = resolver(pairs, df.select(id_col), id_col=id_col)
    return cluster_assignments(comp, id_col)


def cluster_assignments(comp: DataFrame, id_col: str) -> DataFrame:
    """Decorate (id, cluster_id) component labels with cluster_size and the
    deterministic canonical flag (min id of the cluster is the keeper).
    The window partitions by cluster_id — clusters are small by
    construction in dedup graphs, so no skewed-window hazard."""
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("id").alias(id_col),
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    k: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share
    ``min_overlap`` or more distinct word k-gram shingles with any
    benchmark/eval document — the test-set-overlap check every training-data
    pipeline runs before training (the GPT-3 appendix-C 13-gram method;
    no reference analog — BASELINE training-pipeline extension).

    Output: one row per contaminated (doc, benchmark-doc) pair —
    (doc_id, bench_id, n_overlap, bench_ngrams, overlap_frac) where
    n_overlap counts distinct shared shingles and overlap_frac =
    n_overlap / benchmark-doc shingle count. Dropping the flagged docs is a
    left-anti join on doc_id:
    ``docs.join(hits.select(doc_id).distinct(), doc_id, "left_anti")``.

    Scale posture (100 TB corpus vs MB-scale benchmark): the benchmark
    shingle set is tiny by construction (eval sets are thousands of docs),
    so BOTH joins broadcast the benchmark side — the exploded corpus-shingle
    stream (rows ~ corpus tokens) is consumed map-side and never shuffles.
    Deliberately NOT reusing ``shingles()`` on the corpus side: its
    ``.distinct()`` would hash-shuffle the whole exploded stream; instead
    duplicates are tolerated through the broadcast join and collapsed by a
    ``countDistinct`` whose partial aggregation dedups map-side — the only
    exchanges carry matched (doc, bench, shingle) hit rows, rare by
    definition. Everything is built-in functions on md5-free plain-string
    shingles, so the pipeline has an exact DuckDB oracle.
    """
    doc_toks = docs.select(
        F.col(doc_id).alias("id"), _tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")  # materialized once; see shingles() note
    idx = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - F.lit(k), F.lit(0))
    )
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
    )
    doc_sh = doc_toks.select("id", F.explode(grams).alias("shingle"))
    bench_sh = shingles(benchmark, bench_id, bench_text, k=k).select(
        F.col("id").alias("__bench_id"), "shingle"
    )
    bench_sizes = bench_sh.groupBy("__bench_id").agg(
        F.count(F.lit(1)).alias("bench_ngrams")
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id", "__bench_id")
        .agg(F.countDistinct("shingle").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return hits.join(F.broadcast(bench_sizes), "__bench_id").select(
        F.col("id").alias(doc_id),
        F.col("__bench_id").alias(bench_id),
        "n_overlap",
        "bench_ngrams",
        F.round(
            F.col("n_overlap") / F.col("bench_ngrams"), 6
        ).alias("overlap_frac"),
    )


def cross_doc_shingle_dups(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Cross-document duplicated-span detection à la Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): a word
    ``k``-gram appearing in MORE THAN ONE document marks a shared span;
    per document we report how much of it is shared with the rest of the
    corpus. Unlike pairwise near-dup (LSH/simhash), this finds partial
    overlaps — boilerplate headers, quoted passages, templated spans — that
    whole-document similarity misses. No reference analog; BASELINE
    training-pipeline extension.

    Scale posture: the corpus-wide step is a single groupBy over shingle
    HASHES — the shuffle carries (xxhash64, 8 bytes) instead of the k-word
    string, the same width trick as the binary row-hash shuffle
    (row_compare.py). Shingle sets are per-doc distinct, so the per-key
    count is bounded by the number of documents, not occurrences; map-side
    partial aggregation applies. The doc-side rollup re-joins on the hash.
    Output columns carry no hashes, so the DuckDB oracle can group by the
    plain shingle string — identical results absent a 64-bit collision
    inside one shingle's bucket, which the oracle comparison would surface.

    Output: (id, n_shingles, n_shared, shared_frac) — ``n_shingles`` =
    distinct k-grams in the doc, ``n_shared`` = how many of those occur in
    at least one OTHER doc, ``shared_frac`` = n_shared / n_shingles
    (0.0 for docs with no k-gram).
    """
    # per-doc distinctness is ROW-LOCAL: build the k-gram array, hash each
    # gram to 8 bytes inside the row (xxhash64 under transform), then
    # array_distinct — so the only thing that ever leaves the row is a
    # deduplicated long. The previous form (shingles().distinct(), i.e. a
    # global distinct on (id, k-gram STRING)) shuffled full shingle text;
    # this plan's single O(data) exchange is the frequency groupBy over
    # longs (benched 4.2 s -> 1.4 s at sf0.1).
    tokenized = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")  # materialized once; see shingles() note
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    gram_hashes = F.when(n >= k, F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, k), " ")),
        )
    )).otherwise(F.array().cast("array<bigint>"))
    sh = tokenized.select("id", F.explode(gram_hashes).alias("h"))
    # docs-per-shingle: tiny relative to the corpus (bounded by distinct
    # shingles); broadcast back only if small — let AQE decide, the join key
    # is the same hash the aggregation shuffled on, so no extra exchange.
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        sh.join(freq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_shared").cast("double") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("shared_frac"),
        )
    )


def group_exact_dedup(
    df: DataFrame,
    group_keys: list[str],
    order_col: str,
    text_col: str,
) -> DataFrame:
    """Whole-group exact dedup: groups (conversations) to DROP because an
    identical ordered sequence of texts already exists under a smaller key
    (no reference analog -- BASELINE training-pipeline extension: dropping
    duplicated *conversations*, not duplicated turns).

    Each group folds to a (n_rows, 120-bit XOR of sha256(order, text))
    fingerprint -- the checksum operator's map-side-combined XOR fold, so
    the shuffle carries one partial row per group per partition and the
    fold is order-independent while staying order-AWARE (the order column
    is hashed into every term: two conversations match iff they have the
    same (turn_idx, text) multiset, i.e. identical ordered transcripts).
    Keep-rank then windows over the fingerprint (the exact_dedup shape):
    the smallest group key is the canonical keeper; rows with
    keep_rank > 1 are the drop list.

    Collision posture: a false merge needs two different transcripts whose
    counts match and whose 120 sha256-derived XOR bits all agree
    (~2^-120); append an equality-verify join on the candidate pairs if
    that bound ever matters.

    Output: (group_keys..., n_rows, fp_lo, fp_hi, keep_rank) filtered to
    keep_rank > 1.
    """
    from ..functions.calculated import build_row_hash

    hashed = build_row_hash(df, [order_col, text_col])
    lo = F.conv(F.substring("hash__all", 1, 15), 16, 10).cast("long")
    hi = F.conv(F.substring("hash__all", 16, 15), 16, 10).cast("long")
    from .aggregates import _bit_xor

    fp = hashed.groupBy(*group_keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        _bit_xor(lo).alias("fp_lo"),
        _bit_xor(hi).alias("fp_hi"),
    )
    w = Window.partitionBy("n_rows", "fp_lo", "fp_hi").orderBy(
        *[F.col(k) for k in group_keys]
    )
    return (
        fp.withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") > 1)
    )
