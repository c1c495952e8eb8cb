"""Deduplication suite for large-scale training-data pipelines.

All candidate generation is bucket-local (no all-pairs cross join): MinHash
LSH bands and SimHash chunks both reduce the O(n²) pair space to within-bucket
joins, which is the only strategy that survives 10^9+ documents. Exact dedup
is a single hash-groupBy (map-side combinable).

Everything is JVM-side Spark SQL (xxhash64, explode, higher-order functions) —
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash: (content_hash, canonical_id,
    dup_count). canonical = min id (deterministic survivor pick)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("dup_count"))
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct content (the min-id survivor)."""
    canon = exact_dedup(df, id_col, text_col).select(
        "content_hash", F.col("canonical_id").alias(id_col)
    )
    hashed = df.withColumn("content_hash", F.md5(F.col(text_col)))
    # canon is one row per DISTINCT document — corpus-sized, so NO broadcast
    # hint: a shuffled hash join on (content_hash, id) scales; AQE may still
    # choose broadcast when the input is genuinely small
    return hashed.join(canon, ["content_hash", id_col], "inner").drop("content_hash")


def word_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) rows: word-level k-gram shingles, lowercase. Distinct per
    doc (set semantics for Jaccard)."""
    # trim + drop empty tokens: Spark split keeps boundary empties that
    # python's str.split() (the oracle semantics) discards
    words = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: F.length(x) > 0
    )
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    return (
        df.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )


def word_shingle_keys(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, seed: int = 42,
    distinct: bool = True,
) -> DataFrame:
    """(id, sk) rows: the word-k-gram shingles of each document as their
    8-byte BASE HASH ``sk = xxhash64(shingle, seed)`` — the exact value
    :func:`minhash_signatures` derives its n hash functions from.

    Scale form of :func:`word_shingles` for the hash-keyed pipeline
    (guide §2.3 "shuffle keys instead of payloads"): the ~25-byte shingle
    string never leaves the per-task projection — it is built and hashed
    inside one array ``transform`` and dropped before the explode — so the
    distinct, the persist, and every downstream signature/Jaccard shuffle
    carry 8-byte longs instead of strings. Set semantics are identical up to
    64-bit base-hash collisions WITHIN one document (~shingles²/2^64,
    the same negligible collision bound the signature family already
    documents; verified output-identical vs the string path at every SF).
    ``distinct=False`` returns the raw exploded rows for consumers whose
    aggregation dedups anyway (min is duplicate-blind, ``collect_set``
    dedups), skipping the distinct exchange. Callers that need the string
    itself (md5 oracle twins) keep :func:`word_shingles`.
    """
    words = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: F.length(x) > 0
    )
    # word_shingles emits "" only for empty docs and joins ALL words when
    # 0 < size < k (slice truncates) — replicated by the CASE arms so the
    # only array pass is the fused build+hash transform
    keys = F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - F.lit(k)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, k)), F.lit(seed)),
        ),
    ).otherwise(
        F.when(
            F.size(words) > 0,
            F.array(F.xxhash64(F.concat_ws(" ", words), F.lit(seed))),
        ).otherwise(F.array().cast("array<bigint>"))
    )
    out = df.select(F.col(id_col), F.explode(keys).alias("sk"))
    return out.distinct() if distinct else out


def _min_mix_aggs(base: F.Column, n_hashes: int, seed: int) -> list:
    """The n seeded min-aggregates over the affine mixes of ``base``:
    ``min(a_i·base + b_i)`` with odd multipliers — bijections mod 2^64 (Java
    long arithmetic wraps, which is exactly the mod we want; ANSI mode stays
    off in session.py). Shared by :func:`minhash_signatures` and the fused
    aggregation in :func:`minhash_dedup` so the families cannot drift."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = [int(x) | 1 for x in rng.randint(1, 2**63 - 1, size=n_hashes, dtype=np.int64)]
    b = [int(x) for x in rng.randint(1, 2**63 - 1, size=n_hashes, dtype=np.int64)]
    return [
        F.min(F.lit(a[i]) * base + F.lit(b[i])).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]


def minhash_signatures(
    shingled: DataFrame,
    id_col: str,
    n_hashes: int = 64,
    seed: int = 42,
    key_col: str | None = None,
) -> DataFrame:
    """MinHash signature per id: n_hashes columns of min(h_i(shingle)).

    The shingle STRING is hashed exactly once (xxhash64); the n hash
    functions are derived by seeded odd-multiplier mixing of that base long
    (h_i = a_i·h + b_i over Z/2^64 — a universal-style family). Hashing the
    string n times was the round-1 hot spot: string hashing is O(len) per
    eval, the derived mixes are one multiply-add each, so signature cost
    drops from 64 string hashes to 1 + 64 integer ops per shingle row.
    ``key_col`` names a column already holding that base hash
    (:func:`word_shingle_keys`), skipping the string hash entirely.

    One hash-groupBy; the n min-aggregates are algebraic (map-side combined),
    so a hot document set never concentrates on one task.

    Independence caveat (standard datasketch-style tradeoff): all n functions
    mix ONE base hash, so two shingles whose 64-bit base values collide
    collide in every coordinate at once, and the affine family is weaker than
    n independent hashes — the banding recall formula holds up to the
    negligible base-collision probability (~n_shingles²/2^64).
    """
    base = (
        F.col(key_col) if key_col else F.xxhash64(F.col("shingle"), F.lit(seed))
    )
    return shingled.groupBy(id_col).agg(*_min_mix_aggs(base, n_hashes, seed))


def band_buckets(
    sigs: DataFrame, id_col: str, n_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(id, band, bh) bucket keys: r = n_hashes/bands signature rows per
    band, hashed to one 8-byte bucket id. Split out of
    :func:`lsh_candidate_pairs` so callers can persist the banded frame ONCE
    before the self-join — without that, the whole 64-min-agg signature
    lineage is evaluated for BOTH join sides (measured ~3.8 s per extra
    evaluation at the sf1.0 bench corpus; guide §2.4 exchange-sharing)."""
    r = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * r + j}") for j in range(r)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bh")))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def band_self_join(banded: DataFrame, id_col: str) -> DataFrame:
    """Bucket-local candidate pairs from a banded frame: equi-join on
    (band, bh) with id_a < id_b, distinct across bands — never all-pairs."""
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, n_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Band the signature, bucket-join within (band, band_hash): (id_a, id_b).

    Classic MinHash-LSH banding: r = n_hashes/bands rows per band; docs
    sharing any full band land in one bucket. The self-join is an equi-join on
    the bucket key — shuffle-partitioned by bucket, never all-pairs.
    """
    return band_self_join(band_buckets(sigs, id_col, n_hashes, bands), id_col)


def jaccard_pairs(
    pairs: DataFrame, shingled: DataFrame, id_col: str, threshold: float = 0.0,
    shingle_col: str = "shingle",
) -> DataFrame:
    """Exact Jaccard for candidate pairs: |A∩B| via a shingle equi-join,
    |A∪B| = |A|+|B|−|A∩B|.

    Both joins are equi-joins keyed by doc id then shingle — candidate-pair-
    sized intermediates (pairs × avg shingles), never |docs|². ``shingle_col``
    may name the 8-byte hashed-key form (:func:`word_shingle_keys`) so the
    intersection join shuffles longs, not strings.
    """
    sa = shingled.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("shingle"))
    sb = shingled.select(F.col(id_col).alias("_idb"), F.col(shingle_col).alias("shingle_b"))
    # NO broadcast hints anywhere here: on duplicate-heavy web crawls the LSH
    # candidate-pair set is O(corpus) or worse — billions of rows is not a
    # broadcast. Every hop is a shuffled hash/sort-merge equi-join; AQE still
    # promotes genuinely small sides to broadcast at runtime from measured
    # stage sizes, which is the only safe way to make that call.
    cand_a = pairs.join(sa, "id_a")
    inter = (
        cand_a.join(
            sb, (F.col("id_b") == F.col("_idb")) & (F.col("shingle") == F.col("shingle_b"))
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    base = pairs.join(inter, ["id_a", "id_b"], "left").na.fill({"n_inter": 0})
    out = base.join(
        sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a"
    )
    out = (
        out
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket-join
    → exact-Jaccard verify. Returns (id_a, id_b, jaccard) ≥ threshold.
    Recall claims assume negligible base-hash collisions (see
    :func:`minhash_signatures`); the exact-Jaccard verify stage means any
    collision can only ADD a correct pair, never emit a wrong one.

    r7 shape (guide §2.3/§2.4; measured 13.0 s → 3.7 s at the sf1.0 bench
    corpus, output verified identical at every SF):

    * the pipeline runs on 8-byte shingle KEYS (:func:`word_shingle_keys`) —
      the base xxhash64 the signature family already derives from — so no
      shuffle anywhere carries a shingle string;
    * ONE hash-groupBy builds, per document, BOTH the 64 signature mins and
      the distinct shingle-key set (``collect_set``); the separate distinct
      exchange and the row-level (id, key) verify joins disappear. Per-group
      state is one document's shingle set — bounded by document length, the
      same per-group bound as Gorilla's per-chunk ``collect_list`` pack;
    * the Jaccard verify is then a candidate-pair-sized join of the doc-
      feature frame to itself with ``array_intersect`` — exact distinct-set
      counts, identical jaccard values.

    The doc-feature and candidate frames are multi-consumer (features feed
    banding + both verify sides; pairs feed both verify joins), so each is
    persisted — without this the LSH self-join lineage is re-evaluated ~5×
    (measured 87 s → ~8 s on 500 docs); the band explode feeding both
    self-join sides re-derives from the persisted features, which is
    rollup-cheap. At cluster scale these persists become the pipeline's
    stage checkpoints. No broadcast hints anywhere: every hop is a shuffled
    equi-join on corpus-proportional frames; AQE may promote genuinely small
    sides at runtime (the repo-wide dedup rule).
    """
    from mtsad_spark.plans.scope import scoped_persist

    ex = word_shingle_keys(df, id_col, text_col, k, seed=42, distinct=False)
    feats = scoped_persist(
        ex.groupBy(id_col).agg(
            F.collect_set("sk").alias("sks"),
            *_min_mix_aggs(F.col("sk"), n_hashes, seed=42),
        )
    )
    banded = band_buckets(feats, id_col, n_hashes, bands)
    cand = scoped_persist(band_self_join(banded, id_col))
    fa = feats.select(F.col(id_col).alias("id_a"), F.col("sks").alias("_sa"))
    fb = feats.select(F.col(id_col).alias("id_b"), F.col("sks").alias("_sb"))
    out = (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.size("_sa") + F.size("_sb") - F.col("n_inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def dup_groups(
    pairs: DataFrame, id_col_a: str = "id_a", id_col_b: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """Transitive duplicate GROUPS from near-dup pairs: connected components
    by iterative min-label propagation — ``(id, group_id)`` where group_id =
    the smallest member id (the canonical survivor, matching exact_dedup's
    min-id rule).

    Near-dup pairs are only edges; real dedup keeps ONE doc per transitive
    cluster, so a components pass follows candidate verification in every
    production pipeline. Spark-first shape: each round joins current labels
    across both edge directions and takes the min — a shuffle-bounded
    fixpoint with a pointer-jump contraction each round (label-of-my-label),
    converging in O(log diameter) rounds, with the loop over
    ROUNDS on the driver, never over rows. Each round's frame is persisted
    and the previous unpersisted, so lineage stays one round deep.
    """
    edges = (
        pairs.select(F.col(id_col_a).alias("a"), F.col(id_col_b).alias("b"))
        .unionByName(pairs.select(F.col(id_col_b).alias("a"), F.col(id_col_a).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("group_id", F.col("id"))
        .persist()
    )
    # r7 (guide §2.4): fold the self-label into the neighbor aggregation by
    # adding static self-loops — min over (self ∪ neighbors) labels equals
    # the old least(own, coalesce(min-neighbor, own)) exactly, and the
    # left-join that re-attached the own label disappears from every round.
    edges2 = edges.unionByName(
        labels.select(F.col("id").alias("a"), F.col("id").alias("b"))
    ).persist()
    labels = labels.localCheckpoint()
    for _ in range(max_iter):
        merged = (
            edges2.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("group_id").alias("group_id"))
        )
        # pointer jump (label-of-my-label): contracts chains, so convergence
        # is O(log diameter) rounds instead of O(diameter) — group ids are
        # themselves member ids, so the lookup is a self-join on the id key.
        # r7 (guide §3.3/§7.3): the round output is localCheckpoint'ed, not
        # just persisted — the self-join references merged TWICE, so without
        # plan truncation the LOGICAL plan doubles every round and the
        # driver's optimizer, not the executors, becomes the bottleneck
        # (measured: round-2 convergence check alone 29 s from plan
        # re-optimization; with truncation the whole fixpoint runs in ~3 s
        # on the same input). Same blocks, same values — a checkpoint is a
        # persist whose lineage starts fresh.
        new_labels = (
            merged.alias("x")
            .join(
                merged.select(
                    F.col("id").alias("group_id"), F.col("group_id").alias("_gg")
                ).alias("y"),
                "group_id",
            )
            .select("id", F.col("_gg").alias("group_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.group_id") != F.col("o.group_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    edges2.unpersist()
    from mtsad_spark.plans.scope import register_scoped

    # labels is returned checkpoint-materialized (its blocks are already hot
    # from the convergence count) — scope it so the release hook still fires
    # at the next query boundary; intermediate rounds' checkpoint blocks are
    # reclaimed by the ContextCleaner once their round-local refs drop
    return register_scoped(labels)


def simhash(df: DataFrame, id_col: str, text_col: str, seed: int = 42) -> DataFrame:
    """64-bit SimHash per document, fully JVM-side.

    token → xxhash64 → per-bit set-counts → sign of vote sum per bit →
    assembled long. Explode + one hash-groupBy (algebraic, skew-safe).

    r7 optimization (guide §1.2 per-task work): the per-row aggregate input
    is LANE-PACKED — 32 sums of ``(h >> j) & 0x0000000100000001`` accumulate
    the set-bit counts of bits j and j+32 in the two 32-bit halves of one
    long, halving the per-token aggregate expressions from 64 branchy
    conditional sums to 32 branch-free shift-and-masks. Per-bit counts are
    unpacked AFTER the aggregate (per document, not per token). Identical
    signatures: the old ±1 vote sum satisfies votes_i = 2·c_i − n, so
    ``votes_i > 0 ⟺ 2·c_i > n``. Lane capacity: exact for documents up to
    2^31 tokens (a lane holds a count ≤ n; no carry below n = 2^32).
    """
    # empty boundary tokens are filtered INSIDE the array (one fused pass)
    # rather than as a post-explode row filter — same row set
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: F.length(x) > 0
            )
        ).alias("tok"),
    )
    h = F.xxhash64(F.col("tok"), F.lit(seed))
    lane = (1 << 32) | 1  # selects bits j (low half) and j+32 (high half)
    sums = [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(lane))).alias(f"s{j}")
        for j in range(32)
    ]
    agg = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *sums)
    n = F.col("_n")

    def c(i: int) -> F.Column:  # set-bit count of bit i, unpacked from its lane
        if i < 32:
            return F.col(f"s{i}").bitwiseAND(F.lit((1 << 32) - 1))
        return F.shiftrightunsigned(F.col(f"s{i - 32}"), 32)

    sig = None
    for i in range(64):
        majority = (F.lit(2) * c(i)) > n  # ⟺ old vote sum 2·c_i − n > 0
        if i < 63:
            term = F.when(majority, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        else:
            term = F.when(majority, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_dup_pairs(
    sigs: DataFrame, id_col: str, max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation uses the chunk pigeonhole: splitting 64 bits into
    ``max_hamming + 1`` chunks guarantees any pair within distance
    max_hamming shares at least one FULL chunk (d differing bits cannot touch
    all d+1 chunks) — bucket equi-join per chunk, then exact popcount verify.
    Chunk count therefore GROWS with max_hamming (capped at 16 → recall is
    complete for max_hamming ≤ 15; beyond that, use multiple simhash seeds).

    ``max_bucket`` is the hot-bucket guard (VERDICT r03 #5): near-empty or
    boilerplate documents all hash to the same simhash, and one degenerate
    chunk value turns the per-chunk self-join quadratic. Chunk buckets larger
    than the cap are EXCLUDED from candidate generation — audit the excluded
    mass with :func:`simhash_oversize_buckets` (no silent caps); identical
    documents are exact duplicates and belong to the exact-dedup pre-pass.
    The DEFAULT is ``None`` (complete recall, the pre-r4 behavior): a cap
    changes the result set, so it must be an explicit caller opt-in paired
    with the audit — scale pipelines (driver registry, RollupPipeline) pass
    100_000 (ADVICE r04: no silent recall change for existing callers)."""
    n_chunks = min(max_hamming + 1, 16)
    base_w = 64 // n_chunks
    # every bit must belong to exactly one chunk or the pigeonhole breaks:
    # the last chunk absorbs the remainder bits
    widths = [base_w] * (n_chunks - 1) + [64 - base_w * (n_chunks - 1)]
    offsets = [base_w * c for c in range(n_chunks)]
    chunks = [
        (
            F.col("simhash")  # w=64 ⇒ whole signature (mask would overflow long)
            if w == 64
            else F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
        ).alias(f"c{c}")
        for c, (off, w) in enumerate(zip(offsets, widths))
    ]
    # multi-consumer frame (repo persist rule): every chunk branch reads s
    # for BOTH join sides plus the bucket-count guard — without the persist
    # the caller's whole signature lineage (explode + vote aggregation over
    # every token) re-evaluates up to 3·n_chunks times (measured 10.7 s →
    # 1.6 s on the sf0.1 driver corpus at max_hamming=8)
    from mtsad_spark.plans.scope import scoped_persist

    s = scoped_persist(sigs.select(F.col(id_col), F.col("simhash"), *chunks))
    pairs = None
    for c in range(n_chunks):
        l = s.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), F.col(f"c{c}").alias("ck"))
        r = s.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), F.col(f"c{c}").alias("ck"))
        if max_bucket is not None:
            ok = (
                s.groupBy(F.col(f"c{c}").alias("ck"))
                .agg(F.count(F.lit(1)).alias("_bn"))
                .filter(F.col("_bn") <= max_bucket)
                .select("ck")
            )
            # bucket list is corpus-proportional — shuffled equi-join, no
            # broadcast hint (AQE may promote a small side at runtime)
            l = l.join(ok, "ck")
        p = l.join(r, ["ck"]).filter(F.col("id_a") < F.col("id_b")).drop("ck")
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_oversize_buckets(
    sigs: DataFrame, id_col: str, max_hamming: int = 3, max_bucket: int = 100_000
) -> DataFrame:
    """Audit companion to :func:`simhash_dup_pairs`'s hot-bucket guard:
    ``(chunk, ck, n)`` for every chunk bucket the cap would exclude — count
    or sink this next to the dedup run so capped coverage is recorded."""
    n_chunks = min(max_hamming + 1, 16)
    base_w = 64 // n_chunks
    widths = [base_w] * (n_chunks - 1) + [64 - base_w * (n_chunks - 1)]
    offsets = [base_w * c for c in range(n_chunks)]
    out = None
    for c, (off, w) in enumerate(zip(offsets, widths)):
        ck = (
            F.col("simhash")
            if w == 64
            else F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))
        )
        g = (
            sigs.select(ck.alias("ck"))
            .groupBy("ck")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .withColumn("chunk", F.lit(c))
            .select("chunk", "ck", "n")
        )
        out = g if out is None else out.unionByName(g)
    return out
