"""Dedup and text-quality operators on synthetic documents, with python-set
oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mtsad_spark.functions.text import (
    whitespace_token_count,
    with_quality_features,
)
from mtsad_spark.operators.dedup import (
    exact_dedup,
    drop_exact_dups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    simhash,
    simhash_dup_pairs,
    word_shingles,
)

@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "rapid")),  # near dup of 0
        (3, "völlig anderes dokument über der die und das ist thema heute"),
        (4, "le chat noir et le chien blanc sont les amis des enfants"),
        (5, "un texto en español que habla de el mar y los barcos que vienen"),
        (6, "short"),
        (7, "the " * 30),
        (8, base + " with a small extra suffix attached here"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"])).cache()


def test_exact_dedup(spark, docs):
    groups = exact_dedup(docs, "doc_id", "text").toPandas()
    dup = groups[groups["dup_count"] > 1]
    assert len(dup) == 1 and dup.iloc[0]["dup_count"] == 2
    assert dup.iloc[0]["canonical_id"] == 0
    kept = drop_exact_dups(docs, "doc_id", "text").toPandas()
    assert len(kept) == 8  # 9 docs, one exact dup removed
    assert 1 not in set(kept["doc_id"])


def test_shingles_and_jaccard_oracle(spark, docs):
    sh = word_shingles(docs, "doc_id", "text", k=3)
    pdf = docs.toPandas()

    def oracle_shingles(text):
        ws = text.lower().split()
        return {" ".join(ws[i : i + 3]) for i in range(max(len(ws) - 3, 0) + 1)}

    got = sh.toPandas().groupby("doc_id")["shingle"].apply(set).to_dict()
    for _, row in pdf.iterrows():
        assert got.get(row["doc_id"], set()) == oracle_shingles(row["text"]), row["doc_id"]

    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [0], "id_b": [2]}))
    j = jaccard_pairs(pairs, sh, "doc_id").collect()[0]["jaccard"]
    a, b = oracle_shingles(pdf.iloc[0]["text"]), oracle_shingles(pdf.iloc[2]["text"])
    assert j == pytest.approx(len(a & b) / len(a | b))


def test_minhash_lsh_finds_near_dups(spark, docs):
    out = minhash_dedup(docs, "doc_id", "text", k=3, n_hashes=64, bands=16, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs  # exact dup certainly caught
    # near dups (0,2) and (0,8) should be caught at threshold 0.5
    assert (0, 2) in pairs
    assert (0, 8) in pairs
    # unrelated languages must not pair
    assert all(not ({a, b} & {3, 4, 5}) for a, b in pairs)


def test_minhash_signature_is_true_min(spark, docs):
    """Signature column i must equal the true min of the i-th derived hash
    h_i = a_i·xxhash64(shingle, seed) + b_i over the doc's shingle SET, with
    Java-long wrap-around arithmetic (replicated via int64 numpy wrapping)."""
    sh = word_shingles(docs, "doc_id", "text", k=3)
    sigs = minhash_signatures(sh, "doc_id", n_hashes=4).toPandas().set_index("doc_id")
    shp = sh.withColumn("h0", F.xxhash64(F.col("shingle"), F.lit(42))).toPandas()
    rng = np.random.RandomState(42)
    a = rng.randint(1, 2**63 - 1, size=4, dtype=np.int64) | np.int64(1)
    b = rng.randint(1, 2**63 - 1, size=4, dtype=np.int64)
    h = shp["h0"].to_numpy(dtype=np.int64)
    with np.errstate(over="ignore"):
        for i in range(4):
            shp[f"m{i}"] = a[i] * h + b[i]
    for i in range(4):
        want = shp.groupby("doc_id")[f"m{i}"].min()
        got = sigs[f"mh_{i}"]
        for d in want.index:
            assert got[d] == want[d], (i, d)


def test_word_shingle_keys_match_string_hashes(spark, docs):
    """The hashed-key shingle frame (r7 fused build) must hold exactly
    {xxhash64(shingle, 42)} over the string frame's per-doc shingle SET —
    including the short-doc (< k words) and empty-doc edge arms of the fused
    CASE."""
    from mtsad_spark.operators.dedup import word_shingle_keys

    extra = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100, 101, 102], "text": ["one two", "solo", "   "]})
    )
    d = docs.select("doc_id", "text").unionByName(extra)
    want = (
        word_shingles(d, "doc_id", "text", k=3)
        .withColumn("sk", F.xxhash64(F.col("shingle"), F.lit(42)))
        .toPandas()
        .groupby("doc_id")["sk"]
        .apply(set)
        .to_dict()
    )
    got = (
        word_shingle_keys(d, "doc_id", "text", k=3)
        .toPandas()
        .groupby("doc_id")["sk"]
        .apply(set)
        .to_dict()
    )
    assert got == want
    # non-distinct form: same set after dedup, never fewer occurrences
    raw = word_shingle_keys(d, "doc_id", "text", k=3, distinct=False).toPandas()
    assert raw.groupby("doc_id")["sk"].apply(set).to_dict() == want


def test_simhash_lane_packed_votes_per_bit(spark, docs):
    """Per-bit oracle for the lane-packed simhash (r7): every one of the 64
    sig bits must equal sign(2·c_i − n) computed from the raw token hashes —
    pins the 32-bit lane unpack (low mask / unsigned high shift) exactly."""
    toks = (
        docs.select("doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn("h", F.xxhash64(F.col("tok"), F.lit(42)))
        .toPandas()
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    for doc_id, grp in toks.groupby("doc_id"):
        h = grp["h"].to_numpy(dtype=np.uint64)
        n = len(h)
        sig = 0
        for i in range(64):
            c = int(((h >> np.uint64(i)) & np.uint64(1)).sum())
            if 2 * c > n:
                sig |= 1 << i
        expected = sig - (1 << 64) if sig >= (1 << 63) else sig
        assert got[doc_id] == expected, doc_id


def test_simhash_near_dup(spark, docs):
    sigs = simhash(docs, "doc_id", "text")
    pairs = simhash_dup_pairs(sigs, "doc_id", max_hamming=10).toPandas()
    got = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert (0, 1) in got  # identical text ⇒ hamming 0
    h01 = pairs[(pairs["id_a"] == 0) & (pairs["id_b"] == 1)]["hamming"].iloc[0]
    assert h01 == 0


def test_token_counts_and_quality(spark, docs):
    out = (
        docs.withColumn("n_ws", whitespace_token_count(F.col("text")))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[0, "n_ws"] == len("the quick brown fox jumps over the lazy dog and runs far away today".split())
    assert out.loc[6, "n_ws"] == 1

    q = with_quality_features(docs, "text").toPandas().set_index("doc_id")
    assert bool(q.loc[0, "quality_ok"])
    assert not bool(q.loc[6, "quality_ok"])  # too short


def test_simhash_pigeonhole_scales_with_max_hamming(spark):
    """Pairs within max_hamming MUST be found even when their differing bits
    hit many chunks (the fixed-4-chunk scheme missed these)."""
    import pandas as pd

    # craft signatures: b differs from a in exactly 6 bits spread widely
    a = 0x0F0F0F0F0F0F0F0F
    bits = [0, 11, 22, 33, 44, 55]
    b = a
    for x in bits:
        b ^= 1 << x
    def to_long(u):
        return u - (1 << 64) if u >= (1 << 63) else u
    sigs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "simhash": [to_long(a), to_long(b)]})
    )
    from mtsad_spark.operators.dedup import simhash_dup_pairs

    out = simhash_dup_pairs(sigs, "doc_id", max_hamming=6).toPandas()
    assert len(out) == 1 and out.iloc[0]["hamming"] == 6
    # and beyond the bound the pair must NOT appear
    out2 = simhash_dup_pairs(sigs, "doc_id", max_hamming=5).toPandas()
    assert len(out2) == 0


def test_dropin_zero_drops_rows(spark):
    from mtsad_spark.operators.splits import dropin_augment
    from pyspark.sql import functions as F

    base = spark.range(2000).withColumn("v", F.col("id"))
    aug = dropin_augment(base, factor_max=10, seed=3)
    counts = aug.groupBy("id").count().toPandas()
    # rows with n==0 are genuinely dropped (≈10% of inputs)
    assert len(counts) < 2000
    # and no row is duplicated more than factor_max-1 times
    assert counts["count"].max() <= 9


def test_dup_groups_connected_components(spark):
    """dup_groups == union-find oracle (min member id per component),
    including a 12-node path (worst-case propagation depth) and singleton
    edge pairs."""
    import pandas as pd

    from mtsad_spark.operators.dedup import dup_groups

    rng = np.random.RandomState(17)
    edges = set()
    # three random clusters
    for base in (0, 100, 200):
        members = [base + i for i in range(rng.randint(3, 9))]
        for m in members[1:]:
            edges.add((min(members[0], m), max(members[0], m)))
        for _ in range(3):
            x, y = rng.choice(members, 2)
            if x != y:
                edges.add((min(x, y), max(x, y)))
    # a 12-node path: 300-301-...-311
    for i in range(300, 311):
        edges.add((i, i + 1))
    pairs = spark.createDataFrame(
        pd.DataFrame(sorted(edges), columns=["id_a", "id_b"])
    )
    got = dup_groups(pairs).toPandas().set_index("id")["group_id"].to_dict()

    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


def test_hot_bucket_guard_simhash_pathological_corpus(spark):
    """VERDICT r03 #5: a corpus of identical documents collapses every chunk
    bucket into one degenerate cell. The guard must (a) complete without the
    quadratic self-join, (b) report the excluded mass via the audit frame,
    and (c) leave healthy-corpus behavior (cap not reached) unchanged."""
    from mtsad_spark.operators.dedup import simhash_oversize_buckets

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("same tiny boilerplate text").alias("text")
    )
    sigs = simhash(docs, "doc_id", "text")
    capped = simhash_dup_pairs(sigs, "doc_id", max_hamming=3, max_bucket=100)
    assert capped.count() == 0  # degenerate buckets excluded, no blow-up
    audit = simhash_oversize_buckets(sigs, "doc_id", max_hamming=3, max_bucket=100)
    a = audit.toPandas()
    assert len(a) == 4 and (a["n"] == 1000).all()  # one oversize cell per chunk
    # below the cap the full quadratic pair set is still produced
    small = simhash_dup_pairs(
        sigs.filter(F.col("doc_id") < 40), "doc_id", max_hamming=3, max_bucket=100
    )
    assert small.count() == 40 * 39 // 2
