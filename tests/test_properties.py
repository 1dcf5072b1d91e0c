"""Property-based tests (hypothesis): engine operators vs tiny pure-Python
reference implementations on randomized inputs.

These pin the *semantics* the oracle harness can't reach — arbitrary inputs
rather than one fixed dataset — for the operators whose correctness is
easiest to get subtly wrong: sessionization boundaries, as-of picks,
hash-split stability.  Example counts are small (Spark round-trips are
~0.5 s each); the generators bias toward boundary collisions (equal
timestamps, gap-exact spacing, duplicate keys).
"""

import hashlib
from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from door2door_etl_spark.operators.relational import asof_join, sessionize
from door2door_etl_spark.operators.sketches import stratified_split, uniform_hash

BASE = datetime(2024, 1, 1)
GAP_S = 100

# Offsets in seconds; small domain forces equal-ts and gap-boundary cases.
offsets = st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=30)


def _ref_sessions(sorted_offsets: list[int], gap_s: int) -> list[int]:
    """Reference session assignment: 1-based seq, new session when the gap
    to the previous event strictly exceeds gap_s."""
    seqs, seq = [], 0
    prev = None
    for o in sorted_offsets:
        if prev is None or o - prev > gap_s:
            seq += 1
        seqs.append(seq)
        prev = o
    return seqs


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(offsets=offsets)
def test_sessionize_matches_reference(spark, offsets):
    rows = [
        Row(u="k", ts=BASE + timedelta(seconds=o), uid=i)
        for i, o in enumerate(sorted(offsets))
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["uid"]: r["session_seq"]
        for r in sessionize(df, ["u"], "ts", GAP_S, tiebreak_cols=["uid"]).collect()
    }
    expect = _ref_sessions(sorted(offsets), GAP_S)
    assert [got[i] for i in range(len(rows))] == expect


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(st.integers(0, 50), min_size=1, max_size=15),
    right=st.lists(st.integers(0, 50), min_size=0, max_size=15),
)
def test_asof_join_matches_reference(spark, left, right):
    ldf = spark.createDataFrame(
        [Row(k="k", ts=BASE + timedelta(seconds=o), lid=i) for i, o in enumerate(left)]
    )
    rdf = spark.createDataFrame(
        [Row(k="k", rts=BASE + timedelta(seconds=o), rv=o) for o in sorted(set(right))],
        schema="k string, rts timestamp, rv bigint",
    )
    out = {
        r["lid"]: r["rv"]
        for r in asof_join(ldf, rdf, ["k"], "ts", "rts", ["rv"]).collect()
    }
    rs = sorted(set(right))
    for i, o in enumerate(left):
        candidates = [r for r in rs if r <= o]
        expect = max(candidates) if candidates else None
        assert out[i] == expect, f"left offset {o}: {out[i]} != {expect}"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(keys=st.lists(st.integers(0, 10**9), min_size=1, max_size=50, unique=True))
def test_uniform_hash_and_split_match_python_sha(spark, keys):
    """The portable deviate and the split assignment agree with a direct
    Python sha256 reference — the cross-engine contract, pinned."""
    df = spark.createDataFrame([Row(id=k) for k in keys])
    got_u = {
        r["id"]: r["u"]
        for r in df.select("id", uniform_hash(F.col("id"), "s").alias("u")).collect()
    }
    got_split = {
        r["id"]: r["split"]
        for r in stratified_split(
            df, "id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
        ).collect()
    }
    for k in keys:
        u = int(hashlib.sha256(f"{k}s".encode()).hexdigest()[:13], 16) / float(16**13)
        assert got_u[k] == u
        us = int(hashlib.sha256(f"{k}split".encode()).hexdigest()[:13], 16) / float(
            16**13
        )
        expect = "train" if us < 0.8 else ("val" if us < 0.8 + 0.1 else "test")
        assert got_split[k] == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    weights=st.lists(st.integers(1, 500), min_size=1, max_size=80),
    budget=st.integers(10, 2000),
    nparts=st.integers(1, 6),
)
def test_contiguous_chunks_match_serial_reference(spark, weights, budget, nparts):
    from door2door_etl_spark.operators.packing import contiguous_token_chunks

    rows = list(enumerate(weights))
    df = spark.createDataFrame(rows, "k long, w long")
    expect, cum = {}, 0
    for k, w in rows:
        expect[k] = cum // budget
        cum += w
    got = {
        r["k"]: r["chunk_id"]
        for r in contiguous_token_chunks(
            df, "k", "w", budget, num_partitions=nparts, persist_input=False
        ).collect()
    }
    assert got == expect


def _ref_repetition(tokens: list[str]) -> tuple[float, float]:
    """Reference repetition fractions (same degenerate-short-doc collapse
    as operators.text.shingles)."""
    from collections import Counter

    def grams(n: int) -> list[str]:
        if len(tokens) >= n:
            return [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]
        return [" ".join(tokens)]

    big, tri = Counter(grams(2)), Counter(grams(3))
    top = max(big.values()) / sum(big.values())
    dup = sum(c for c in tri.values() if c > 1) / sum(tri.values())
    return round(top, 6), round(dup, 6)


# Tiny alphabet so random docs actually contain repeated n-grams.
token_lists = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
    min_size=1,
    max_size=5,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=token_lists)
def test_repetition_signals_match_reference(spark, docs):
    from door2door_etl_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    )
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert len(got) == len(docs)
    for i, toks in enumerate(docs):
        top, dup = _ref_repetition(toks)
        assert got[i]["top_bigram_frac"] == top, (i, toks)
        assert got[i]["dup_trigram_frac"] == dup, (i, toks)


def test_jaccard_adversarial_skew_stays_bounded(spark):
    """Adversarial corpus for the df-capped blocked Jaccard (VERDICT r1 #8):
    a stop-shingle phrase opens EVERY document, and one document body is
    duplicated 100×.  Both have document frequency >> max_df, so neither may
    generate candidate pairs; only the 8 planted near-dup pairs (sharing a
    genuinely rare shingle) come back.  Pre-fix, the intersection stage
    self-joined the full shingle relation on the shingle — the stop-shingle
    alone would emit ~n²/2 ≈ 80k intermediate rows here and O((10⁹)²) at
    corpus scale; post-fix the intersection is candidate-bounded."""
    import time

    from door2door_etl_spark.operators.dedup import ngram_jaccard_pairs

    stop = "the quick brown fox jumps over"
    rows = []
    for i in range(200):  # unique docs, all opening with the stop phrase
        rows.append((i, f"{stop} unique{i} body{i} tail{i} end{i}"))
    for j in range(100):  # one body duplicated 100x
        rows.append((1000 + j, f"{stop} same duplicated body every time"))
    for p in range(8):  # planted near-dup pairs with a rare shared shingle
        rows.append((2000 + 2 * p, f"{stop} rareword{p} shared{p} pairtext{p} aa{p}"))
        rows.append((2001 + 2 * p, f"{stop} rareword{p} shared{p} pairtext{p} bb{p}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    t0 = time.monotonic()
    pairs = ngram_jaccard_pairs(df, shingle_n=3, max_df=20).collect()
    elapsed = time.monotonic() - t0

    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(2000 + 2 * p, 2001 + 2 * p) for p in range(8)}
    # Coarse wall bound: candidate-bounded intersection finishes in seconds;
    # documented bound in PERF.md (O(|cands|·set_size), here 8 pairs · ~9).
    assert elapsed < 60, f"blocked Jaccard took {elapsed:.1f}s on skewed corpus"


def test_salted_join_rejects_right_preserving_how(spark):
    """Right/full-outer through a salted join would emit each unmatched
    right row once per salt replica — the operator must refuse."""
    import pytest as _pytest

    from door2door_etl_spark.operators.relational import salted_equijoin

    left = spark.range(10).withColumnRenamed("id", "k")
    right = spark.range(10).withColumnRenamed("id", "k2")
    for bad in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError, match="left-preserving"):
            salted_equijoin(left, right, "k", "k2", salt_buckets=4, how=bad)


def test_merge_upsert_preserves_null_partition_rows(spark, tmp_path):
    """NULL partition values (reachable via try_cast-coerced timestamps)
    must survive a partition-scoped merge: a NULL-partition target row is
    neither 'touched' (no NULLs in the batch) nor silently dropped by a
    three-valued-logic isin(); and when the batch DOES carry NULLs, the
    NULL partition merges by key like any other."""
    from door2door_etl_spark.io.manifest import merge_manifest

    lake = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("k1", "a", "p1"), ("k2", "b", None), ("k3", "c", "p2")],
        "k string, v string, part string",
    )
    merge_manifest(spark, lake, base, key="k", partition_col="part")

    # Batch touching only p1: the NULL-partition row k2 must survive.
    b1 = spark.createDataFrame([("k1", "a2", "p1")], "k string, v string, part string")
    n = merge_manifest(spark, lake, b1, key="k", partition_col="part")
    got = {r["k"]: (r["v"], r["part"]) for r in spark.read.parquet(lake).collect()}
    assert n == 1
    assert got == {"k1": ("a2", "p1"), "k2": ("b", None), "k3": ("c", "p2")}

    # Batch with a NULL-partition row: updates k2 in place, inserts k4.
    b2 = spark.createDataFrame(
        [("k2", "b2", None), ("k4", "d", None)], "k string, v string, part string"
    )
    merge_manifest(spark, lake, b2, key="k", partition_col="part")
    got = {r["k"]: (r["v"], r["part"]) for r in spark.read.parquet(lake).collect()}
    assert got == {
        "k1": ("a2", "p1"), "k2": ("b2", None), "k3": ("c", "p2"), "k4": ("d", None),
    }


def test_simhash_full_recall_matches_bruteforce(spark):
    """The banded full-recall SimHash LSH must equal brute-force over the
    64-bit fingerprints exactly — pigeonhole over max_hamming+1 disjoint
    bands guarantees recall 1.0, the exact hamming filter precision 1.0."""
    from door2door_etl_spark.operators.dedup import (
        simhash64,
        simhash_near_pairs_full,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = []
    for i in range(60):  # overlapping word mixes -> a spread of hamming dists
        toks = [words[(i + j) % len(words)] for j in range(5)] + [f"u{i % 7}"]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (3, 8):  # 4x16-bit bands; 9 bands straddling the 32-bit split
        full = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_pairs_full(df, max_hamming=k).collect()
        }
        sims = {
            r["doc_id"]: (r["sh_hi"] << 32) | r["sh_lo"]
            for r in simhash64(df).collect()
        }
        ids = sorted(sims)
        truth = {
            (a, b)
            for ai, a in enumerate(ids)
            for b in ids[ai + 1:]
            if bin(sims[a] ^ sims[b]).count("1") <= k
        }
        assert full == truth, f"max_hamming={k}"


def test_simhash_band_candidate_volume_stays_small(spark):
    """VERDICT r2 item 2: with 64-bit fingerprints and 16-bit bands the
    band join's candidate volume must stay near the true pair count — the
    former 32-bit/3-4-bit-band parameterization admitted ~28% of ALL pairs
    at sf0.01 (34,486 of ~125k), a quadratic blow-up at scale."""
    from door2door_etl_spark.io.readers import load_table
    from door2door_etl_spark.operators.dedup import (
        simhash64_band_candidates,
        simhash_near_pairs_full,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    n = docs.count()
    all_pairs = n * (n - 1) // 2
    n_cands = simhash64_band_candidates(docs, max_hamming=3).count()
    n_true = simhash_near_pairs_full(docs, max_hamming=3).count()
    assert n_cands >= n_true  # banding never loses a true pair
    # 4 bands x 2^16 buckets: measured 1,866 candidates for 12 true pairs
    # (templated synthetic text correlates fingerprints, so some band
    # collisions are inherent) — 1.5% of all pairs vs 28% pre-fix.  Pin the
    # order of magnitude so a parameterization regression trips the test.
    assert n_cands <= all_pairs // 50, (
        f"candidates {n_cands} vs true {n_true} of {all_pairs} possible"
    )


def test_simhash_bands_rejects_zero_width_bands():
    """max_hamming + 1 > bits would create zero-width bands matching every
    document (band value 0 for all) — the all-pairs cross join the banding
    exists to avoid; must raise instead."""
    import pytest as _pytest

    from door2door_etl_spark.operators.dedup import simhash_bands

    with _pytest.raises(ValueError, match="zero-width"):
        simhash_bands(64, bits=64)
    assert len(simhash_bands(63, bits=64)) == 64  # boundary: 1-bit bands ok


def test_lsh_collapsed_kills_mega_cluster_skew(spark):
    """Round-1 item 6 / VERDICT r2: 1k identical copies of one boilerplate
    doc must NOT blow up the collapsed LSH — pre-collapse they all share
    every band key (O(copies²) pairs from one bucket); post-collapse the
    cluster is one canonical row per band bucket, and the returned pairs
    relate canonical representatives only."""
    from door2door_etl_spark.operators.dedup import (
        exact_dedup_groups,
        minhash_band_table,
        minhash_lsh_candidate_pairs,
        minhash_lsh_pairs_collapsed,
    )
    from pyspark.sql import functions as F

    boiler = "the same boilerplate footer text repeated on every single page"
    rows = [(i, boiler) for i in range(1000)]
    rows += [
        (2000, "a unique article about distributed query engines and planning"),
        (2001, "a unique article about distributed query engines and planners"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_collapsed(df).collect()
    }
    # Pairs must exactly equal the plain candidate pairs over the canonical
    # representatives (doc 0 for the mega-cluster, 2000, 2001).
    reps = df.filter(F.col("doc_id").isin(0, 2000, 2001))
    expected = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidate_pairs(reps).collect()
    }
    assert got == expected
    assert all(a not in range(1, 1000) and b not in range(1, 1000) for a, b in got)

    # Band-bucket skew is gone: every (band_idx, band_key) bucket over the
    # collapsed input holds O(1) rows (the uncollapsed mega-cluster bucket
    # held 1000).
    reps_full = df.join(
        exact_dedup_groups(df).select(F.col("canonical_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    max_bucket = (
        minhash_band_table(reps_full)
        .groupBy("band_idx", "band_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_bucket <= 2, max_bucket


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=30),
        min_size=1,
        max_size=8,
    )
)
def test_token_entropy_matches_python_reference(spark, docs):
    """Spark entropy == direct -Σ p·log2 p over per-doc token counts, and
    the quantized-decimal sum stays within rounding of the float answer."""
    import math
    from collections import Counter

    from door2door_etl_spark.operators.text import token_entropy

    rows = [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    got = {
        r["doc_id"]: r["entropy_bits"]
        for r in token_entropy(spark.createDataFrame(rows)).collect()
    }
    for i, toks in enumerate(docs):
        counts = Counter(toks)
        total = sum(counts.values())
        expect = -sum((c / total) * math.log2(c / total) for c in counts.values())
        assert abs(got[i] - expect) < 1e-4
        assert -1e-9 <= got[i] <= math.log2(max(len(counts), 1)) + 1e-6


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(
            alphabet="ab @.+0123456789xyz",
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_redact_pii_idempotent_and_clean(spark, texts):
    """Redaction is idempotent (the replacement token matches no pattern)
    and the redacted text never matches any PII pattern again."""
    import re

    from door2door_etl_spark.operators.text import PII_PATTERNS, redact_pii

    rows = [Row(id=i, text=t) for i, t in enumerate(texts)]
    once = redact_pii(spark.createDataFrame(rows))
    twice = redact_pii(
        once.select("id", F.col("redacted").alias("text")), out_col="redacted"
    )
    a = {r["id"]: r["redacted"] for r in once.collect()}
    b = {r["id"]: r["redacted"] for r in twice.collect()}
    assert a == b
    for t in a.values():
        for pat in PII_PATTERNS.values():
            assert re.search(pat, t) is None


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("pqrs"), min_size=2, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_dup_ngram_fraction_matches_python_reference(spark, docs):
    """Spark cross-doc duplicated-shingle fraction == direct Python set
    computation over the same word bigrams (tiny alphabet forces overlap)."""
    from door2door_etl_spark.operators.text import (
        cross_doc_duplicated_shingle_fraction,
    )

    rows = [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_duplicated"])
        for r in cross_doc_duplicated_shingle_fraction(
            spark.createDataFrame(rows), n=2
        ).collect()
    }

    def grams(toks):
        if len(toks) < 2:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    sets = {i: grams(t) for i, t in enumerate(docs)}
    for i, s in sets.items():
        dup = sum(
            1 for g in s if any(g in sets[j] for j in sets if j != i)
        )
        assert got[i] == (len(s), dup)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed_texts=st.lists(
        st.lists(st.sampled_from("abcdefghij"), min_size=6, max_size=12),
        min_size=1,
        max_size=4,
        unique_by=lambda t: tuple(t),
    )
)
@pytest.mark.slow
def test_incremental_dedup_exact_copies_never_admitted(spark, seed_texts):
    """Any verbatim copy of a corpus doc is rejected (LSH is exact on
    identical shingle sets), and admission is deterministic across runs."""
    from door2door_etl_spark.operators.dedup import incremental_lsh_dedup

    corpus_rows = [
        Row(doc_id=i, text=" ".join(t)) for i, t in enumerate(seed_texts)
    ]
    batch_rows = [
        Row(doc_id=100 + i, text=" ".join(t)) for i, t in enumerate(seed_texts)
    ]
    corpus = spark.createDataFrame(corpus_rows)
    batch = spark.createDataFrame(batch_rows)
    kept1 = sorted(r["doc_id"] for r in incremental_lsh_dedup(batch, corpus).collect())
    kept2 = sorted(r["doc_id"] for r in incremental_lsh_dedup(batch, corpus).collect())
    assert kept1 == []  # every batch doc is a verbatim corpus copy
    assert kept1 == kept2


def test_connected_clusters_chain_converges_in_log_rounds(spark):
    """Pathological worst case: one 100-doc chain (each doc near-dups only
    the next).  Pointer jumping must collapse it to a single canonical id
    in ~log2(100) rounds — 12 is generous; plain propagation needs 100."""
    from door2door_etl_spark.operators.dedup import connected_dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_id_a long, doc_id_b long"
    )
    out = connected_dedup_clusters(pairs, max_iterations=12, strict=True)
    labels = {r["doc_id"]: r["canonical_id"] for r in out.collect()}
    assert set(labels) == set(range(100))
    assert set(labels.values()) == {0}


def test_connected_clusters_nonconvergence_warns_and_strict_raises(spark):
    import pytest as _pytest

    from door2door_etl_spark.operators.dedup import connected_dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "doc_id_a long, doc_id_b long"
    )
    with _pytest.warns(UserWarning, match="did not converge"):
        incomplete = connected_dedup_clusters(pairs, max_iterations=2)
        # Stale labels: the 40-chain cannot collapse in 2 rounds.
        assert len({r["canonical_id"] for r in incomplete.collect()}) > 1
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_dedup_clusters(pairs, max_iterations=2, strict=True)


def test_minhash_fast_hash_family_parity(spark):
    """The xxhash64 production path and the portable sha256 path are
    different hash families (signatures differ) but MUST agree on the
    structure that matters: every exact duplicate collides in all bands
    under both, and a corpus with no near-dups yields no pairs under
    either."""
    from pyspark.sql import Row

    from door2door_etl_spark.operators.dedup import minhash_lsh_candidate_pairs

    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=3, text="completely different material with other words here"),
        Row(doc_id=4, text="completely different material with other words here"),
        Row(doc_id=5, text="a third unrelated document about spark physical plans"),
    ]
    df = spark.createDataFrame(rows)
    slow = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidate_pairs(df, hash_fn="sha256").collect()
    }
    fast = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidate_pairs(df, hash_fn="xxhash64").collect()
    }
    assert {(1, 2), (3, 4)} <= slow
    assert {(1, 2), (3, 4)} <= fast
    # No family may pair across the three distinct contents.
    cross = {(1, 3), (1, 4), (2, 3), (2, 4), (1, 5), (2, 5), (3, 5), (4, 5)}
    assert not (slow & cross) and not (fast & cross)


def test_kmv_sketch_merge_is_exact(spark):
    """Rolling up fine-grained KMV sketches must equal the direct grouped
    estimate on the raw data, value for value (KMV mergeability is exact:
    the union's k smallest deviates all survive in their parts' sketches).
    Exercised both below k (exact counts) and above k (estimates)."""
    from pyspark.sql import Row

    from door2door_etl_spark.operators.sketches import (
        kmv_distinct_by_group,
        kmv_merge_estimate,
        kmv_sketch_table,
    )

    rows = [
        Row(g="big", part=i % 5, v=f"user{i}") for i in range(500)
    ] + [Row(g="small", part=i % 3, v=f"u{i}") for i in range(7)]
    df = spark.createDataFrame(rows)

    direct = {
        r["g"]: r["est_distinct"]
        for r in kmv_distinct_by_group(df, "g", "v", k=16).collect()
    }
    merged = {
        r["g"]: r["est_distinct"]
        for r in kmv_merge_estimate(
            kmv_sketch_table(df, ["g", "part"], "v", k=16), ["g"], k=16
        ).collect()
    }
    assert merged == direct
    assert merged["small"] == 7.0  # below k: exact count


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 6),                       # key (small domain: collisions)
                st.text("abc", min_size=1, max_size=3),  # value
                st.sampled_from(["p1", "p2", "p3"]),     # partition
            ),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=3,
    )
)
@pytest.mark.slow
def test_property_posix_and_manifest_modes_equivalent(spark, tmp_path_factory, batches):
    """Randomized view invariant: after ANY merge sequence (random keys,
    updates, partition moves, intra-batch dup keys) the POSIX view
    (plain ``spark.read.parquet`` of the root symlink) and the manifest
    read return identical contents, and the key set equals the naive
    sequential-upsert model's."""
    from door2door_etl_spark.io.manifest import ManifestTable, merge_manifest

    root = str(tmp_path_factory.mktemp("modes") / "tbl")
    model: dict = {}
    for rows in batches:
        src = spark.createDataFrame(rows, "k int, v string, part string")
        merge_manifest(spark, root, src, key="k", partition_col="part",
                       vacuum_keep=99)
        # dropDuplicates([k]) keeps an arbitrary row per key, so the model
        # is checked on the KEY SET; the two reads must agree exactly.
        for k, v, p in rows:
            model[k] = (v, p)
    got_view = {
        r["k"]: (r["v"], r["part"])
        for r in spark.read.parquet(root).collect()
    }
    got_man = {
        r["k"]: (r["v"], r["part"])
        for r in ManifestTable(root).read(spark).collect()
    }
    assert got_view == got_man          # the view never diverges
    assert got_view.keys() == model.keys()  # key set matches the model


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(keys=st.lists(st.integers(0, 10**9), min_size=5, max_size=60, unique=True))
def test_sketch_registers_match_python_sha(spark, keys):
    """HLL buckets/ranks, CMS columns, and Bloom bits all agree with a
    direct Python sha256 reference — the cross-engine register contract
    for the whole portable sketch family, pinned on random inputs."""
    import hashlib as _hl

    from pyspark.sql import Row as _Row

    from door2door_etl_spark.operators.sketches import (
        bloom_bit_table,
        cms_sketch_table,
        hll_register_table,
    )

    def h52(x, salt):
        return int(_hl.sha256(f"{x}{salt}".encode()).hexdigest()[:13], 16)

    df = spark.createDataFrame([_Row(id=k) for k in keys])

    # HLL: bucket = top 6 bits, rank = LZ count of the low 46 bits + 1
    expect_hll = {}
    for k in keys:
        h = h52(k, "hll")
        bucket, w = h >> 46, h % (1 << 46)
        rank = (47 - w.bit_length()) if w else 47
        expect_hll[bucket] = max(expect_hll.get(bucket, 0), rank)
    got_hll = {
        r["bucket"]: r["register"]
        for r in hll_register_table(df, [], "id").collect()
    }
    assert got_hll == expect_hll

    # CMS: cell (r, h_r(x) % 64) accumulates the count
    expect_cms = {}
    for k in keys:
        for r in range(3):
            cell = (r, h52(k, f"cms{r}") % 64)
            expect_cms[cell] = expect_cms.get(cell, 0) + 1
    got_cms = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_sketch_table(df, [], "id").collect()
    }
    assert got_cms == expect_cms

    # Bloom: distinct set bits over k=3 hashes into 256
    expect_bloom = {h52(k, f"bloom{j}") % 256 for k in keys for j in range(3)}
    got_bloom = {r["bit"] for r in bloom_bit_table(df, [], "id").collect()}
    assert got_bloom == expect_bloom


def test_prefix_scan_positions_stable_without_managed_cache(spark):
    """Regression (found by the sf1 oracle sweep): with
    persist_input=False, the offsets job and the output job re-planned
    repartitionByRange independently and could sample DIFFERENT range
    boundaries — phase-2 offsets then applied to the wrong partitions
    and the output was not even a permutation.  A skewed few-prefix key
    at enough rows makes the divergence overwhelmingly likely; the fix
    pins one materialized partitioning for both consumers."""
    import hashlib

    from door2door_etl_spark.operators.packing import contiguous_token_chunks

    n = 40_000
    rows = [
        (f"{i % 4:04d}|" + hashlib.sha256(str(i).encode()).hexdigest(), 1, i)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, w int, id int")
    out = contiguous_token_chunks(
        df, "k", "w", budget=1, num_partitions=32, persist_input=False
    ).collect()
    pos = sorted(r["chunk_id"] for r in out)
    assert pos == list(range(n)), "positions must be an exact 0..n-1 permutation"
    by_pos = sorted(out, key=lambda r: r["chunk_id"])
    keys = [r["k"] for r in by_pos]
    assert keys == sorted(keys), "positions must follow the key order"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.text(alphabet="ab ", min_size=0, max_size=40),
    right=st.text(alphabet="cd ", min_size=0, max_size=40),
    shared=st.text(alphabet="xyz", min_size=11, max_size=24),
)
def test_winnowing_guarantee_property(spark, left, right, shared):
    """The SIGMOD'03 guarantee under random context: any two documents
    sharing a run of >= w + k - 1 normalized chars (k=8, w=4 -> 11)
    share at least one fingerprint, wherever the run sits."""
    from door2door_etl_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, f"{left} {shared} {right}"), (2, f"{right}{shared} {left}")],
        "doc_id int, text string",
    )
    fps = winnow_fingerprints(df, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc.get(1, set()) & by_doc.get(2, set()), (left, shared, right)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lengths=st.lists(st.integers(1, 30), min_size=1, max_size=40),
    budget=st.integers(1, 200),
)
def test_token_budget_prefix_is_maximal_property(spark, lengths, budget):
    """The kept set is exactly the MAXIMAL prefix of the hash order whose
    running token total fits: every kept row's cumulative total is under
    budget, and the first unkept row (if any) would overflow it."""
    import hashlib

    from door2door_etl_spark.operators.sketches import token_budget_sample

    rows = [(str(i), "g", "tok " * n) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "id string, grp string, text string")
    kept = {
        r["id"]: r["cum_tokens"]
        for r in token_budget_sample(df, "grp", "id", budget).collect()
    }
    # reconstruct the portable order driver-side
    def u(key):
        return int(
            hashlib.sha256((key + "tbudget").encode()).hexdigest()[:13], 16
        )

    order = sorted((u(str(i)), str(i)) for i in range(len(lengths)))
    run = 0
    expect = {}
    for _, key in order:
        n = lengths[int(key)]
        if run + n > budget:
            break
        run += n
        expect[key] = run
    assert kept == expect, (lengths, budget)


# Tiny vocab so random docs collide into shared k-grams constantly.
_sub_docs = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_sub_docs, k=st.integers(min_value=2, max_value=4))
def test_substring_dedup_matches_reference(spark, docs, k):
    """ExactSubstr on randomized tiny-vocab corpora (maximal k-gram
    collisions, empty docs, sub-k docs) == the pure-Python reference."""
    from door2door_etl_spark.operators.dedup import substring_dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in substring_dedup(df, k=k).collect()}

    occ: dict[str, list[tuple[int, int]]] = {}
    for did, ws in enumerate(docs):
        for p in range(len(ws) - k + 1):
            occ.setdefault(" ".join(ws[p:p + k]), []).append((did, p))
    dup: dict[int, set[int]] = {}
    for lst in occ.values():
        if len(lst) > 1:
            first = min(lst)
            for o in lst:
                if o != first:
                    dup.setdefault(o[0], set()).add(o[1])
    assert len(got) == len(docs)
    for did, ws in enumerate(docs):
        cov = [False] * len(ws)
        for s in dup.get(did, ()):
            for i in range(s, min(s + k, len(ws))):
                cov[i] = True
        r = got[did]
        assert (r["n_tokens"], r["n_removed"], r["clean_text"]) == (
            len(ws),
            sum(cov),
            " ".join(w for w, c in zip(ws, cov) if not c),
        ), (did, docs, k)


def _ref_kcore(edge_list: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Naive iterate-to-fixpoint k-core on an adjacency dict."""
    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        weak = [n for n, nb in adj.items() if len(nb) < k]
        changed = bool(weak)
        for n in weak:
            for m in adj.pop(n):
                if m in adj:
                    adj[m].discard(n)
    return {n: len(nb) for n, nb in adj.items() if nb}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_kcore_matches_fixpoint_reference(spark, edges, k):
    """kcore_peel with generous fixed rounds equals the iterate-to-
    fixpoint reference on random small multigraphs (dups, self-loops,
    reversed edges included by construction)."""
    from door2door_etl_spark.operators.graph import kcore_peel

    df = spark.createDataFrame(
        [(str(u), str(v)) for u, v in edges], "src string, dst string"
    )
    got = {
        int(r["node"]): r["degree"]
        for r in kcore_peel(df, k=k, rounds=12).collect()
    }
    assert got == _ref_kcore(edges, k)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    waves=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),        # key
                st.sampled_from(["g1", "g2"]),                 # group
                st.one_of(st.none(), st.integers(0, 500)),     # value (binnable)
                st.booleans(),                                 # delete?
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    )
)
@pytest.mark.slow
def test_aggview_hdr_invariant_random_waves(spark, tmp_path_factory, waves):
    """The strongest aggview invariant, fuzzed: after ANY sequence of
    insert/update/delete waves, the maintained HDR bin map equals the
    histogram of the live snapshot (bin counts retract exactly)."""
    from door2door_etl_spark.io.manifest import (
        ManifestTable,
        delete_manifest,
        merge_manifest,
    )
    from door2door_etl_spark.operators.sketches import hdr_histogram_table
    from door2door_etl_spark.pipeline.aggview import IncrementalAggView

    tmp = tmp_path_factory.mktemp("hdrfuzz")
    src = str(tmp / "src")
    view = IncrementalAggView(
        source_root=src,
        view_root=str(tmp / "view"),
        key="id",
        group_cols=["grp"],
        hdr_cols=["val"],
    )
    seeded = False
    for wave in waves:
        ups = [
            (str(kk), g, None if v is None else float(v))
            for kk, g, v, d in wave
            if not d
        ]
        dels = sorted({str(kk) for kk, g, v, d in wave if d})
        # within-wave duplicate keys: keep the LAST (merge batch contract)
        dedup = list({r[0]: r for r in ups}.values())
        if dedup:
            merge_manifest(
                spark,
                src,
                spark.createDataFrame(
                    dedup, "id string, grp string, val double"
                ),
                key="id",
            )
            seeded = True
        if dels and seeded:
            delete_manifest(
                spark,
                src,
                spark.createDataFrame([(x,) for x in dels], "id string"),
                key="id",
            )
        if seeded:
            view.refresh(spark)
            snap = ManifestTable(src).read(spark)
            got = {
                (r["grp"], r["bin"]): r["cnt"]
                for r in view.read_hdr(spark, "val").collect()
            }
            want = {
                (r["grp"], r["bin"]): r["cnt"]
                for r in hdr_histogram_table(
                    snap.filter(F.col("val").isNotNull()), ["grp"], "val"
                ).collect()
            }
            assert got == want


@given(
    st.lists(st.integers(min_value=0, max_value=255), min_size=1,
             max_size=4000),
)
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrip_property(indices):
    """Any index sequence survives the GIF LZW encoder/decoder pair
    bit-exactly (variable code widths, CLEAR resets, cScSc included —
    hypothesis shrinks straight to the alignment off-by-ones)."""
    from door2door_etl_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    data = _gif_lzw_encode(indices, 8)
    assert _gif_lzw_decode(data, 8, len(indices)) == indices


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=1, max_size=40,
    ),
    alpha=st.sampled_from([0.1, 0.3, 0.5, 0.9]),
)
def test_ema_fold_matches_python_reference(spark, vals, alpha):
    """ema_by_key's Catalyst fold is bit-identical to the sequential
    Python fold for any value sequence and smoothing factor."""
    from door2door_etl_spark.operators.relational import ema_by_key

    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(vals)],
        "k string, seq int, v double",
    )
    (row,) = ema_by_key(df, ["k"], ["seq"], "v", alpha=alpha).collect()
    ref = vals[0]
    for v in vals[1:]:
        ref = v * alpha + ref * (1.0 - alpha)
    assert row.n_points == len(vals)
    assert row.ema == round(ref, 6)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False),
        min_size=2, max_size=30,
    )
)
def test_cusum_matches_python_reference(spark, vals):
    """cusum_drift's windowed excursion equals the sequential reference
    (running sum of quantized deviations minus its running minimum)."""
    from door2door_etl_spark.operators.profile import cusum_drift

    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(vals)],
        "k string, seq int, v double",
    )
    (row,) = cusum_drift(df, ["k"], ["seq"], "v").collect()
    # reference mirrors the operator's exact quantization contract:
    # Spark round()/cast-to-decimal on a double == BigDecimal.valueOf
    # (shortest-repr) + HALF_UP setScale == Decimal(repr(x)).quantize
    from decimal import ROUND_HALF_UP, Decimal

    def q(x: float, places: str) -> Decimal:
        return Decimal(repr(x)).quantize(Decimal(places), ROUND_HALF_UP)

    sum_dec = sum(q(v, "1e-10") for v in vals)
    mean = float(q(float(sum_dec) / len(vals), "1e-6"))
    s_run = Decimal(0)
    run_min = None
    best = Decimal(0)
    for v in vals:
        s_run += q(v - mean, "1e-6")
        run_min = s_run if run_min is None else min(run_min, s_run)
        best = max(best, s_run - run_min)
    assert row.mean == mean
    assert row.max_cusum == float(q(float(best), "1e-6"))


@given(
    st.text(alphabet="abcd", min_size=1, max_size=8),
    st.integers(min_value=0, max_value=7),
    st.sampled_from(["delete", "insert", "substitute"]),
    st.sampled_from("abcd"),
)
@settings(max_examples=60, deadline=None)
def test_fastss_deletion_neighborhood_guarantee(base, pos, op, ch):
    """The FastSS d=1 theorem, property-checked in pure Python against
    the operator's variant expression semantics: ANY single edit of a
    string shares a single-deletion variant with the original (the
    candidate join can never miss a distance-1 pair)."""
    pos = min(pos, len(base) - 1 if op != "insert" else len(base))
    if op == "delete":
        edited = base[:pos] + base[pos + 1:]
    elif op == "insert":
        edited = base[:pos] + ch + base[pos:]
    else:
        edited = base[:pos] + ch + base[pos + 1:]

    def variants(s):
        return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}

    assert variants(base) & variants(edited), (base, edited)


@given(
    st.text(alphabet="abcd", min_size=1, max_size=7),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.sampled_from(["delete", "insert", "substitute"]),
            st.sampled_from("abcd"),
        ),
        min_size=2,
        max_size=2,
    ),
)
@settings(max_examples=60, deadline=None)
def test_fastss_depth2_neighborhood_guarantee(base, edits):
    """The FastSS/SymSpell d=2 theorem behind fastss_match(max_dist=2):
    ANY two edits of a string share a ≤2-deletion variant with the
    original — the recursive-neighborhood join can never miss a
    distance-≤2 pair.  Pure-Python mirror of the operator's depth-2
    variant expression (deletions of every depth-1 variant)."""
    edited = base
    for pos, op, ch in edits:
        pos = min(pos, max(len(edited) - 1, 0) if op != "insert" else len(edited))
        if op == "delete":
            if not edited:
                continue
            edited = edited[:pos] + edited[pos + 1:]
        elif op == "insert":
            edited = edited[:pos] + ch + edited[pos:]
        else:
            if not edited:
                continue
            edited = edited[:pos] + ch + edited[pos + 1:]

    def d1(s):
        return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}

    def d2(s):
        out = set(d1(s))
        for v in d1(s):
            out |= d1(v)
        return out

    assert d2(base) & d2(edited), (base, edited)


# -- local.frame: the Arrow driver->Spark path vs the pickled-list path -----

FRAME_SCHEMA = (
    "b bigint, i int, d double, s string, f boolean, t timestamp, "
    "v array<double>"
)
_frame_rows = st.lists(
    st.tuples(
        st.none() | st.integers(-(2**63), 2**63 - 1),
        st.none() | st.integers(-(2**31), 2**31 - 1),
        st.none() | st.floats(allow_nan=False),
        st.none() | st.text(st.characters(exclude_categories=("Cs",)), max_size=8),
        st.none() | st.booleans(),
        st.none() | st.datetimes(datetime(1971, 1, 1), datetime(2099, 12, 31)),
        st.none() | st.lists(st.none() | st.floats(allow_nan=False), max_size=4),
    ),
    max_size=6,
)


def _assert_frame_matches_list_path(spark, rows, schema):
    from door2door_etl_spark.operators import local

    got = local.frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)  # the reference path
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_frame_rows)
def test_local_frame_matches_create_dataframe(spark, rows):
    """Same schema and rows as the list form of ``createDataFrame`` for
    every column type the engine ships through ``local.frame``, with
    nulls and with zero rows."""
    _assert_frame_matches_list_path(spark, rows, FRAME_SCHEMA)


def test_local_frame_matches_create_dataframe_non_utc_process_tz(spark):
    """A naive datetime is the same instant on both paths when the Python
    process runs in a non-UTC zone, DST transitions included."""
    import os
    import time

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("t", T.TimestampType()),
        ]
    )
    rows = [
        (0, datetime(2024, 3, 10, 1, 30)),   # before the US spring-forward
        (1, datetime(2024, 3, 10, 3, 30)),   # after it
        (2, datetime(2024, 11, 3, 1, 30)),   # the ambiguous fall-back hour
        (3, datetime(2022, 11, 24, 10, 0, 0, 123456)),
        (4, None),
    ]
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        _assert_frame_matches_list_path(spark, rows, schema)
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
