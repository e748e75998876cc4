"""Dedup family: minhash-LSH finds planted near-dups, exact Jaccard
verifies, no false positives among unrelated docs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataprof_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill and the birds sing in the "
    "garden trees near the old stone wall by the river"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # 1-word edit
OTHER = (
    "stock markets rallied sharply today as investors cheered the "
    "central bank decision to hold interest rates steady for the "
    "third consecutive quarter amid easing inflation data"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, NEAR),
        (2, OTHER),
        (3, BASE),  # exact dup of 0
        (4, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    assert (0, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # near dup collides
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ngram_jaccard_verify(docs):
    verified = dedup.near_dup_minhash(docs, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert got[(0, 3)] == 1.0
    assert (0, 1) in got and 0.5 <= got[(0, 1)] < 1.0
    assert all(2 not in pair for pair in got)


def test_jaccard_matches_python(docs):
    """Exact Jaccard parity vs a pure-Python shingle computation."""
    def py_shingles(t, k=3):
        toks = [x for x in t.lower().split() if x]
        if len(toks) < k:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    a, b = py_shingles(BASE), py_shingles(NEAR)
    expect = len(a & b) / len(a | b)
    pairs = docs.sparkSession.createDataFrame(
        [(0, 1)], "id_a long, id_b long"
    )
    got = dedup.ngram_jaccard_pairs(docs, pairs, threshold=0.0).collect()[0]
    assert got["jaccard"] == pytest.approx(expect, abs=1e-6)


def test_minhash_signature_shape(docs):
    sig = docs.select(
        dedup.minhash_signature(F.col("text")).alias("sig")
    ).collect()
    assert all(len(r["sig"]) == dedup.N_PERM_DEFAULT for r in sig)
    # empty-ish doc gets sentinel values, not nulls
    assert all(v is not None for r in sig for v in r["sig"])


def _lambda_filters(df) -> list[str]:
    """Filter lines of the optimized plan that evaluate a lambda."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        ln for ln in plan.splitlines()
        if "Filter" in ln and "lambdafunction" in ln
    ]


def test_band_rows_plan_has_no_lambda_filter(docs):
    """The band table lsh_candidate_pairs checkpoints must compute the
    MinHash bands once per document: no filter Catalyst infers from
    the generator may re-run the (interpreted) lambda projection."""
    rows = dedup._band_rows(
        docs, "doc_id", "text", dedup.N_PERM_DEFAULT, dedup.N_BANDS_DEFAULT
    )
    assert _lambda_filters(rows) == []


def test_ivf_topk_plan_has_no_lambda_filter(spark):
    """Same guard for the IVF probe join: its key is the computed
    centroid cell, so an inferred isnotnull(cell) would re-run every
    centroid dot product in a Filter."""
    from dataprof_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.ivf_topk(emb, queries, k=5, n_cells=16, n_probe=4)
    assert _lambda_filters(top) == []


def test_simhash_single_pass_parity(spark):
    """The single-pass zip_with fold must produce bit-identical
    fingerprints to the legacy one-aggregate-per-bit formulation
    (VERDICT r1 #10 'done' criterion)."""
    from pyspark.sql import functions as F

    from dataprof_spark.operators import dedup

    def legacy_simhash(c, n_bits, hash_fn):
        toks = F.filter(F.split(F.lower(c), r"\s+", -1), lambda x: x != "")
        hashes = F.transform(toks, hash_fn)
        out = F.lit(0).cast("long")
        for i in range(n_bits):
            s = F.aggregate(
                hashes,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1).cast("long"),
            )
            out = out + F.shiftleft(
                F.when(s > 0, F.lit(1).cast("long")).otherwise(0), i
            )
        return out

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    c = F.col("text")
    mismatches = docs.filter(
        dedup.simhash_md5_60(c) != legacy_simhash(
            c, 20,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
            .cast("long"))
    ).count()
    assert mismatches == 0


def test_oversized_bucket_star_reduction(spark):
    """A band bucket past MAX_BUCKET star-reduces to (hub, member)
    pairs: m-1 links instead of m(m-1)/2, so a corpus-growing
    boilerplate bucket stays linear. A homogeneous clone cluster must
    still fully demote through the hub; small buckets keep all-pairs
    semantics (the DuckDB twin mirrors the rule — oracle-checked via
    near_dup_pairs)."""
    m = dedup.MAX_BUCKET_DEFAULT + 36  # one bucket, past the cap
    clones = [(i, BASE) for i in range(m)]
    others = [(1000, NEAR), (1001, OTHER)]
    docs = spark.createDataFrame(
        clones + others, "doc_id long, text string"
    )
    pairs = dedup.lsh_candidate_pairs(docs).collect()
    star = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] < 1000}
    # identical texts share every band -> ONE logical cluster; star
    # reduction keeps exactly m-1 pairs, all anchored at hub id 0
    assert star == {(0, i) for i in range(1, m)}
    # near-dup outside the capped bucket still pairs with the hub
    # (NEAR differs by one word; its bucket stays small) — presence
    # is probabilistic per band but holds for this fixture
    assert any(r["id_b"] == 1000 for r in pairs)
    # verify + demotion: every clone but the hub loses
    verified = dedup.ngram_jaccard_pairs(
        docs, dedup.lsh_candidate_pairs(docs), threshold=0.99
    )
    losers = {r["id_b"] for r in verified.collect() if r["jaccard"] == 1.0}
    assert losers == set(range(1, m))


def test_star_reduction_subset_property(spark):
    """On a mixed corpus (several clone clusters straddling the cap,
    near-dups, and unrelated docs), the star-reduced candidate set is
    a SUBSET of the unreduced all-pairs set (a hub shares its bucket
    with every member, so (hub, member) exists unreduced too), and
    every candidate lost to the reduction is a member<->member link
    inside an oversized bucket — never a pair involving a hub and
    never a pair from a small bucket."""
    cap = dedup.MAX_BUCKET_DEFAULT
    rows = []
    nid = 0
    # cluster A: past the cap; cluster B: exactly at the cap (small)
    for text, m in ((BASE, cap + 20), (OTHER, cap)):
        for _ in range(m):
            rows.append((nid, text)); nid += 1
    rows += [(nid, NEAR), (nid + 1, "totally unrelated words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    reduced = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(docs).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            docs, max_bucket=1 << 30
        ).collect()
    }
    assert reduced <= full
    lost = full - reduced
    a_ids = set(range(cap + 20))  # cluster A doc ids (hub = 0)
    near_id = 2 * cap + 20  # NEAR shares A's band buckets sometimes
    # every loss is a member<->member link inside A's oversized
    # buckets (NEAR may sit in them too); no loss touches the hub,
    # and all of A's member<->member links are lost
    a_members = (a_ids - {0}) | {near_id}
    assert all(i in a_members and j in a_members for i, j in lost)
    assert {(i, j) for i in a_ids for j in a_ids
            if 0 < i < j} <= lost
    # cluster B (at the cap, not past it) keeps full all-pairs
    b_ids = set(range(cap + 20, cap + 20 + cap))
    assert {(i, j) for i in b_ids for j in b_ids if i < j} <= reduced


def test_reliable_checkpoint_path(spark, tmp_path):
    """VERDICT r7 #5: reliable=True routes every lineage cut through
    DataFrame.checkpoint into the session's checkpoint dir (HDFS in
    production; a local dir here) instead of executor-local
    localCheckpoint blocks, and produces identical results. Trade:
    localCheckpoint dies with an executor (stage re-fails);
    checkpoint survives executor loss — at 1000 executors x hours
    the loss is the common case, so production callers opt in."""
    rows = [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE), (4, BASE)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    default = {
        tuple(r) for r in dedup.near_dup_minhash(
            docs, threshold=0.5
        ).collect()
    }
    durable = {
        tuple(r) for r in dedup.near_dup_minhash(
            docs, threshold=0.5, reliable=True
        ).collect()
    }
    assert default == durable and len(durable) > 0
