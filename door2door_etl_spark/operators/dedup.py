"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (north-star pack).

Design for 100 TB:
- **Exact** dedup is a single hash-shuffle on the content digest; the digest
  (sha256) is computed map-side so the shuffle carries 64-byte keys, not
  documents.
- **MinHash signatures** are computed *shuffle-free* as array expressions per
  row (no explode): k minima over the shingle array.  The only shuffle is the
  LSH band-bucket self-join, whose key (band index + band digest) is small
  and uniformly distributed by construction — no skew.
- **SimHash** uses an explode + partial-aggregated groupBy (map-side combine
  keeps the shuffle at one row per (doc, 32 bit-votes)).
- **n-gram Jaccard** avoids the O(n²) cross join via rare-shingle blocking:
  only shingles whose document frequency is below a cap generate candidate
  pairs — frequency capping is exactly what keeps the blow-up bounded on
  skewed corpora.
- **Embedding near-dup** blocks on a coarse quantization cell (here the
  provided ``label`` column, standing in for an IVF/k-means cell id) so the
  pairwise cosine runs within cells only.

Every operator is pure built-in expressions (portable hashes: sha256/md5),
so each has an exact DuckDB-SQL twin in queries.catalog for the oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from door2door_etl_spark.operators import local
from door2door_etl_spark.operators.text import shingles


# -- exact ------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical content by sha256 digest; canonical id = min id.

    Returns (content_sha, canonical_id, n_copies).  ``dropDuplicates`` on the
    digest gives the dedup itself; returning groups keeps the lineage."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -- MinHash + LSH ----------------------------------------------------------

MINHASH_SPACE = 16**13  # 2^52: values exact in a double, safe in BIGINT math


def _shingle_uniform_pair(s: Column, hash_fn: str) -> tuple[Column, Column]:
    """Two 52-bit uniform deviates per shingle for the Kirsch–Mitzenmacher
    construction.

    - ``sha256`` (default): portable — the identical expression runs in
      DuckDB, so every oracle-checked catalog query uses it.
    - ``xxhash64``: the PRODUCTION throughput path — JVM-native,
      codegen'd, ~50× cheaper per shingle than sha256 and the hash Spark
      itself uses for shuffles.  Not reproducible in DuckDB, so queries on
      this path are rows-only checked; the parity property test
      (tests/test_properties.py) pins that both families find the same
      exact-duplicate collisions.
    """
    if hash_fn == "sha256":
        h = F.sha2(s, 256)
        return (
            F.conv(F.substring(h, 1, 13), 16, 10).cast("long"),
            F.conv(F.substring(h, 14, 13), 16, 10).cast("long"),
        )
    if hash_fn == "xxhash64":
        space = F.lit(MINHASH_SPACE).cast("long")
        return (
            F.pmod(F.xxhash64(s), space).cast("long"),
            F.pmod(F.xxhash64(s, F.lit(1)), space).cast("long"),
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r}; use 'sha256' or 'xxhash64'")


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "sha256",
) -> DataFrame:
    """(id, sig: array<bigint>) — k-permutation MinHash signatures.

    Hash family (Kirsch–Mitzenmacher two-hash construction): from one
    hash per shingle derive two 52-bit uniform values u1, u2, then
    ``h_i = (u1 + i·u2) mod 2^52``.  Plan: explode the shingles, derive
    (u1, u2) as ordinary codegen'd columns, and take ``num_hashes``
    ``min()`` aggregates per document.  A per-row higher-order-function
    fold runs interpreted (no whole-stage codegen) and cost ~8× more CPU
    than this vectorized form at sf0.1; the shuffle stays one row per (doc,
    partition) thanks to partial aggregation, and huge documents spread
    their shingle work across tasks instead of hot-spotting one row.
    ``hash_fn`` picks the deviate family (see
    :func:`_shingle_uniform_pair`): sha256 for oracle parity, xxhash64 for
    production throughput."""
    from door2door_etl_spark.io.readers import widen_if_narrow

    ex = widen_if_narrow(df).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("s")
    )
    u1, u2 = _shingle_uniform_pair(F.col("s"), hash_fn)
    per_family = [
        F.min((F.col("u1") + F.lit(i) * F.col("u2")) % F.lit(MINHASH_SPACE)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    grouped = ex.select(id_col, u1.alias("u1"), u2.alias("u2")).groupBy(id_col).agg(*per_family)
    return grouped.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "sha256",
) -> DataFrame:
    """(id, band_idx, band_key) — one row per band; band_key is the digest of
    the band's signature slice (sha256 hex on the portable path, xxhash64
    on the production path — 64 bits is ample for a band bucket key)."""
    rows = num_hashes // bands
    with_sig = minhash_signatures_df(
        df, text_col, id_col, num_hashes, shingle_n, hash_fn
    )

    def band_key(b: int) -> Column:
        slice_str = F.concat_ws(
            "|",
            F.transform(
                F.slice(F.col("sig"), b * rows + 1, rows), lambda x: x.cast("string")
            ),
        )
        if hash_fn == "xxhash64":
            return F.xxhash64(slice_str).cast("string")
        return F.sha2(slice_str, 256)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                band_key(b).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return with_sig.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(id_col, F.col("band.band_idx").alias("band_idx"), F.col("band.band_key").alias("band_key"))


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "sha256",
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    The band self-join is an equi-join on (band_idx, band_key): small keys,
    hash-partitioned, AQE-coalesced.  Collision probability for a pair with
    Jaccard j is 1-(1-j^r)^b — the standard S-curve."""
    bt = minhash_band_table(
        df, text_col, id_col, num_hashes, bands, shingle_n, hash_fn
    )
    a = bt.alias("a")
    b = bt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs_collapsed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs with exact duplicates pre-collapsed — the
    documented production composition ``exact_dedup_groups`` →
    representatives → ``minhash_lsh_candidate_pairs``.

    Why this ordering matters at 100 TB: identical-content mega-clusters are
    the #1 real-world band-key skew source — 10k copies of one boilerplate
    page put 10k rows in the SAME (band_idx, band_key) bucket of EVERY band,
    and the band self-join emits 10k²/2 pairs per band from that bucket
    alone.  Collapsing each content group to its canonical (min-id) member
    first makes that bucket O(1) rows, while exact-dup pairs are already
    known from the sha groups at hash-groupBy cost.  Returned pairs relate
    canonical representatives only; callers recover full clusters by
    composing with the exact groups (each non-canonical member inherits its
    representative's near-dup relations).
    """
    reps = df.join(
        exact_dedup_groups(df, text_col, id_col).select(
            F.col("canonical_id").alias(id_col)
        ),
        id_col,
        "left_semi",
    )
    return minhash_lsh_candidate_pairs(
        reps, text_col, id_col, num_hashes, bands, shingle_n
    )


def minhash_similarity_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates scored by estimated Jaccard = fraction of matching
    signature components (the MinHash estimator).

    Plan shape: signatures ride along through the band self-join (both join
    sides are the identical subtree, so AQE reuses one exchange — the
    signature is computed once for the whole query) and the pair dedup
    picks them up with ``first()``; the naive form — joining the candidate
    pairs back to a signatures table per side — computes the (expensive)
    signature chain three times."""
    rows = num_hashes // bands
    with_sig = minhash_signatures_df(df, text_col, id_col, num_hashes, shingle_n)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.sha2(
                    F.concat_ws("|", F.transform(F.slice(F.col("sig"), b * rows + 1, rows), lambda x: x.cast("string"))), 256
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    bt = with_sig.select(
        F.col(id_col), F.col("sig"), F.explode(band_structs).alias("band")
    ).select(
        id_col,
        "sig",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
    )
    a = bt.alias("ba")
    b = bt.alias("bb")
    cands = (
        a.join(
            b,
            (F.col("ba.band_idx") == F.col("bb.band_idx"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{id_col}").alias("id_a"),
            F.col(f"bb.{id_col}").alias("id_b"),
            F.col("ba.sig").alias("sa_sig"),
            F.col("bb.sig").alias("sb_sig"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.first("sa_sig").alias("sa_sig"), F.first("sb_sig").alias("sb_sig"))
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sa_sig"), F.col("sb_sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return cands.select(
        "id_a",
        "id_b",
        (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


# -- n-gram Jaccard with rare-shingle blocking ------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int = 20,
    min_jaccard: float = 0.0,
    persist_shingles: bool = False,
    hash_shingles: bool = True,
    with_containment: bool = False,
    block_rarest_k: int | None = None,
    block_one_sided: bool = False,
) -> DataFrame:
    """Exact Jaccard over distinct word-``n``-gram sets for candidate pairs
    blocked on a shared *rare* shingle (document frequency ≤ ``max_df``).

    Blocking bound: each rare shingle generates ≤ max_df·(max_df-1)/2
    candidates, so the join cannot blow up on stop-shingles — the standard
    frequency-capped inverted-index trick.

    ``block_rarest_k`` tightens that bound from per-SHINGLE to per-DOC:
    each document blocks only on its ``k`` globally-rarest qualifying
    shingles (rank by ``(df, shingle)`` — deterministic, engine-portable),
    so candidate generation is ≤ k·(max_df−1) per document — LINEAR in
    corpus size, where the df-cap alone lets pair volume track the
    density of mid-frequency shingles (measured 3.8× pairs at 10× rows on
    the synthetic corpus; the same rarest-first discipline as the LSH
    mega-cluster pre-collapse above).  Near-duplicate recall survives
    because near-identical documents share almost all shingles —
    including their rarest ones, which rank identically on both sides.
    With the cap on, the reported pair SET is blocking-dependent
    (a pair must share a shingle in BOTH sides' rarest-k sets — the
    capped keys are joined on both sides) but each
    reported Jaccard is still exact: the intersection switches from the
    shared-rare-count decomposition (which only works when ALL rare
    shingles block) to an in-row ``array_intersect`` of the two full
    shingle sets — O(candidates·set_size), never O(Σ df²).  Candidate
    enumeration groups the capped keys by shingle and emits pair
    combinations IN-ROW (each group ≤ max_df members by construction),
    so pair generation is ONE bounded groupBy shuffle instead of a
    two-sided self-join.

    ``block_one_sided`` (with ``block_rarest_k``) relaxes the blocking
    predicate to "the shared shingle is in AT LEAST ONE side's rarest-k
    set" (the other side only needs the shingle in its rare set, df ≤
    ``max_df``): the in-row enumeration pairs each capped key with
    EVERY group member, not just capped ones.  Same linear bound —
    ≤ k·(max_df−1) candidates per document, since each of a doc's k
    capped keys meets ≤ df−1 other members — but it is the mode
    CONTAINMENT screening needs: if A's shingle set sits inside B's,
    every one of A's rarest-k shingles is in B's set by definition (and
    qualifies as rare for B too — document frequency is global), so the
    pair is guaranteed a candidate; under both-sides blocking B's own
    unique df=1 shingles can crowd its rarest-k out of A's reach and
    the true-containment pair would be missed.  Near-dup (high-Jaccard)
    screening doesn't need the relaxation — near-identical sets share
    their rarest-k — so the symmetric default stays the cheaper
    both-sides mode.

    Intersection decomposition: the global document frequency PARTITIONS
    each document's shingle set into "rare" (df ≤ max_df) and "common"
    (df > max_df), so |A∩B| = |rare_A∩rare_B| + |common_A∩common_B|.  The
    rare part falls out of the candidate join itself — grouping the
    pair-generating self-join by (id_a, id_b) counts exactly the shared
    rare shingles, one row per shared shingle — and the common part is an
    in-row ``array_intersect`` over per-doc COMMON-shingle arrays, which
    are tiny by construction (only shingles appearing in > max_df docs).
    Net: one bounded self-join + one pair groupBy + two small-side joins;
    no O(Σ df²) blow-up on stop-shingles (they never enter a join), and no
    per-pair scan of the full shingle sets.

    ``hash_shingles`` replaces each shingle string with a 52-bit hash
    (``conv(substr(sha2(s), 1, 13), 16, 10)`` — exactly expressible in
    other engines for oracle parity) before blocking/intersection: long
    keys shuffle and compare ~2× cheaper than multi-word strings.
    Collisions are ~|shingles|²/2⁵³ (≪1 even at 10⁹ distinct shingles per
    blocking scope) and can only nudge a df count or an intersection by 1;
    pass ``hash_shingles=False`` for byte-exact set semantics.

    ``persist_shingles`` caches the narrow per-doc (id, shingle-array)
    relation, which this plan consumes ~4×; Spark recomputes an
    unmaterialized subtree per consumer, so the cache trades memory/disk
    for skipping re-tokenizations.  Caller owns the cache lifetime
    (``spark.catalog.clearCache()`` when done)."""
    sh_array = F.array_distinct(shingles(F.col(text_col), shingle_n))
    elem_type = "string"
    if hash_shingles:
        sh_array = F.array_distinct(
            F.transform(
                sh_array,
                lambda s: F.conv(F.substring(F.sha2(s, 256), 1, 13), 16, 10).cast(
                    "long"
                ),
            )
        )
        elem_type = "long"
    # One row per document carrying its DISTINCT shingle set as an array —
    # map-only to build; the blocking stage explodes it, the common-side
    # intersection and the set sizes read it directly.
    from door2door_etl_spark.io.readers import widen_if_narrow

    doc_sets = widen_if_narrow(df).select(F.col(id_col), sh_array.alias("sh_set"))
    if persist_shingles:
        from pyspark.storagelevel import StorageLevel

        doc_sets = doc_sets.persist(StorageLevel.MEMORY_AND_DISK)
    sh = doc_sets.select(F.col(id_col), F.explode("sh_set").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_cnt"))
    rare = sh.join(dfreq.filter(F.col("df_cnt") <= max_df), "sh").select(
        id_col, "sh", "df_cnt"
    )

    if block_rarest_k is not None:
        from pyspark.sql import Window

        wk = Window.partitionBy(id_col).orderBy(
            F.col("df_cnt").asc(), F.col("sh").asc()
        )
        ranked = rare.withColumn("_rk", F.row_number().over(wk))
        if block_one_sided:
            # one groupBy over the FULL rare relation (every group still
            # <= max_df members by the df cap), members tagged with the
            # capped flag; in-row enumeration pairs each capped member
            # with every OTHER member — canonical (least, greatest) so
            # the distinct collapses the two capped-capped emissions
            members = ranked.select(
                id_col,
                "sh",
                (F.col("_rk") <= int(block_rarest_k)).alias("_capped"),
            )
            groups = (
                members.groupBy("sh")
                .agg(
                    F.collect_list(
                        F.struct(
                            F.col(id_col).alias("i"),
                            F.col("_capped").alias("c"),
                        )
                    ).alias("_m")
                )
                .filter(F.size("_m") >= 2)
            )
            pair_arr = F.flatten(
                F.transform(
                    F.filter(F.col("_m"), lambda s: s["c"]),
                    lambda x: F.transform(
                        F.filter(F.col("_m"), lambda y: y["i"] != x["i"]),
                        lambda y: F.struct(
                            F.least(x["i"], y["i"]).alias("id_a"),
                            F.greatest(x["i"], y["i"]).alias("id_b"),
                        ),
                    ),
                )
            )
        else:
            keys = ranked.filter(
                F.col("_rk") <= int(block_rarest_k)
            ).select(id_col, "sh")
            # pair combinations in-row per shingle group (sorted ids, i<j);
            # each group has <= max_df members, so the flattened pair array
            # is <= max_df*(max_df-1)/2 per shingle — bounded by construction
            groups = (
                keys.groupBy("sh")
                .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
                .filter(F.size("_ids") >= 2)
            )
            pair_arr = F.flatten(
                F.transform(
                    F.slice(F.col("_ids"), 1, F.size("_ids") - 1),
                    lambda x, i: F.transform(
                        F.slice(F.col("_ids"), i + 2, F.size("_ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        cands = (
            groups.select(F.explode(pair_arr).alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct()
        )
        za = doc_sets.alias("za")
        zb = doc_sets.alias("zb")
        inter_cnt = F.size(F.array_intersect(F.col("za.sh_set"), F.col("zb.sh_set")))
        size_a = F.size(F.col("za.sh_set"))
        size_b = F.size(F.col("zb.sh_set"))
        cols = [
            F.col("id_a"),
            F.col("id_b"),
            (inter_cnt / (size_a + size_b - inter_cnt)).alias("jaccard"),
        ]
        if with_containment:
            cols.append(
                (inter_cnt / F.least(size_a, size_b)).alias("containment")
            )
        out = (
            cands.join(za, F.col("id_a") == F.col(f"za.{id_col}"))
            .join(zb, F.col("id_b") == F.col(f"zb.{id_col}"))
            .select(*cols)
        )
        if min_jaccard > 0:
            out = out.filter(F.col("jaccard") >= min_jaccard)
        return out

    rare = rare.select(id_col, "sh")

    # Candidate pairs AND their shared-rare-shingle counts from ONE
    # self-join: each rare shingle emits ≤ df ≤ max_df matches per row, and
    # the pair groupBy both dedups candidates and counts the rare part of
    # the intersection.
    a = rare.alias("ra")
    b = rare.alias("rb")
    rare_inter = (
        a.join(
            b,
            (F.col("ra.sh") == F.col("rb.sh"))
            & (F.col(f"ra.{id_col}") < F.col(f"rb.{id_col}")),
        )
        .select(F.col(f"ra.{id_col}").alias("id_a"), F.col(f"rb.{id_col}").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("rare_cnt"))
    )

    # Per-doc COMMON shingles (df > max_df) — a near-empty array for real
    # corpora (stop-shingles are few in kind, however frequent) — plus the
    # full set size, joined to the pairs per side.  Both side relations are
    # one row per document, so Spark broadcasts them; the pair relation
    # never re-shuffles.
    common_rel = (
        sh.join(dfreq.filter(F.col("df_cnt") > max_df), "sh")
        .groupBy(id_col)
        .agg(F.collect_list("sh").alias("cset"))
    )
    side = (
        doc_sets.select(F.col(id_col), F.size("sh_set").alias("set_size"))
        .join(common_rel, id_col, "left")
        .select(
            F.col(id_col),
            "set_size",
            F.coalesce("cset", F.array().cast(f"array<{elem_type}>")).alias("cset"),
        )
    )
    sa = side.alias("za")
    sb = side.alias("zb")
    inter_cnt = F.col("rare_cnt") + F.size(
        F.array_intersect(F.col("za.cset"), F.col("zb.cset"))
    )
    cols = [
        F.col("id_a"),
        F.col("id_b"),
        (
            inter_cnt
            / (F.col("za.set_size") + F.col("zb.set_size") - inter_cnt)
        ).alias("jaccard"),
    ]
    if with_containment:
        # Broder containment, max direction: |A∩B| / min(|A|, |B|) — 1.0
        # when the smaller set sits entirely inside the larger, however
        # different the sizes.  The subset-duplication signal (quoted
        # articles, doc-in-doc inclusion) symmetric Jaccard under-ranks.
        cols.append(
            (
                inter_cnt
                / F.least(F.col("za.set_size"), F.col("zb.set_size"))
            ).alias("containment")
        )
    out = (
        rare_inter.join(sa, F.col("id_a") == F.col(f"za.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"zb.{id_col}"))
        .select(*cols)
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


# -- SimHash ----------------------------------------------------------------

def connected_dedup_clusters(
    pairs: DataFrame,
    left_col: str = "doc_id_a",
    right_col: str = "doc_id_b",
    max_iterations: int = 20,
    strict: bool = False,
    round_stats: list | None = None,
) -> DataFrame:
    """Cluster near-duplicate candidate pairs into connected components and
    return ``(doc_id, canonical_id)`` — canonical = the minimum doc id
    reachable through the pair graph (the stable "keep one copy" choice).

    Algorithm: min-label propagation with POINTER JUMPING — each round every
    node (1) adopts the smallest label among itself and its neighbors, then
    (2) adopts its label's label (path-doubling, the Shiloach–Vishkin
    shortcut).  The jump step composes the label function with itself, so
    the distance a minimum travels roughly DOUBLES per round:
    **O(log diameter)** rounds instead of the O(diameter) plain propagation
    needs.  A pathological 1M-doc chain (each doc near-dups the next)
    converges in ~20 rounds where plain propagation would need a million.
    Each round is two joins + one groupBy — no driver-side graph; labels
    never leave their component (they only propagate along edges), so the
    fixpoint is exactly the per-component minimum.

    Loop exits when a round improves no label (checked distributedly).  If
    ``max_iterations`` is exhausted first, the labeling is INCOMPLETE
    (some components would be split across several canonical ids) — a
    ``UserWarning`` is emitted, or ``RuntimeError`` raised with
    ``strict=True``; silent stale labels were round 3's failure mode.

    Small-graph completion (the Louvain-gate discipline, guide §2.4
    "remove shuffles outright"): when the symmetrized edge relation has
    at most ``local.MAX_ROWS`` rows
    (:mod:`~door2door_etl_spark.operators.local`, 500k ≈ a ~12 MB
    collect), the per-component minimum is computed on the driver by
    union-find instead of paying ~3 BSP jobs × rounds of pure
    scheduler latency for a graph the size of a broadcast.  VALUE
    equivalence is exact, not approximate: under the gate the longest
    possible chain is ≤ MAX_ROWS/2 nodes, pointer jumping's reach
    doubles per round, so the BSP loop always converges within the
    default 20 rounds and its fixpoint is precisely the per-component
    minimum — the same labeling union-find produces (property-tested).
    The gate reads the edge count observed on the checkpoint job, so
    the 100 TB path pays no extra job and runs the BSP loop unchanged.
    ``round_stats`` (the scale screen) forces the BSP path — per-round
    improved counts are its structural signal.
    """
    import warnings

    edges = (
        pairs.select(F.col(left_col).alias("a"), F.col(right_col).alias("b"))
        .unionByName(
            pairs.select(F.col(right_col).alias("a"), F.col(left_col).alias("b"))
        )
        .distinct()
    )
    # The gate's edge count rides the checkpoint job as an Observation —
    # the separate cache-scan count action is gone (guide §2.4).
    n_obs = Observation()
    edges = edges.observe(
        n_obs, F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    if round_stats is None:
        n_edges = int(n_obs.get["n"])
        # Engage the local path only when the BSP loop would PROVABLY
        # have converged under the caller's round budget (pointer
        # jumping's reach doubles per round, and the longest possible
        # chain has at most n_edges hops, so ceil(log2(n)) + 1 rounds
        # always suffice).  A budget below that keeps the BSP path so
        # the documented incomplete-labeling contract (UserWarning /
        # strict RuntimeError) still fires — the local exact answer
        # must never silently out-converge the distributed twin.
        import math

        rounds_needed = math.ceil(math.log2(max(2, n_edges))) + 1
        rows = None
        if max_iterations >= rounds_needed:
            rows = local.rows_if_small(edges, local.MAX_ROWS, n=n_edges)
        if rows is not None:
            labels_map = _components_local([(r["a"], r["b"]) for r in rows])
            from pyspark.sql.types import StructField, StructType

            ntype = edges.schema["a"].dataType
            return local.frame(
                pairs.sparkSession,
                sorted(labels_map.items()),
                StructType(
                    [
                        StructField("doc_id", ntype, False),
                        StructField("canonical_id", ntype, False),
                    ]
                ),
            )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Checkpointed (not lazily persisted): the jump self-join consumes
        # stepped twice.  A lazy persist + single materializing action was
        # A/B'd (it saves this job) and measured WORSE — 4.0 s vs 3.0 s
        # min-of-3 forced-BSP at sf0.1 — because the two consumer stages
        # race the cache locks partition-by-partition; the eager
        # checkpoint computes stepped once, uncontended.
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left_outer")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        ptr = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        jump = F.least(F.col("label"), F.coalesce(F.col("plabel"), F.col("label")))
        # The convergence signal rides the SAME job as the checkpoint via
        # an Observation (metrics accumulate while the checkpoint action
        # pulls the rows) — the separate per-round improved-count job is
        # gone; the observed sum IS the improved-row count the screen
        # mode reports.
        obs = Observation()
        new_labels = (
            stepped.join(ptr, stepped.label == ptr.pnode, "left_outer")
            .select(
                "node",
                jump.alias("label"),
                (jump < F.col("old_label")).alias("improved"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.col("improved").cast("long")), F.lit(0)
                ).alias("improved"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["improved"])
        if round_stats is not None:
            round_stats.append(
                {"round": len(round_stats), "improved": changed}
            )
        labels = new_labels.drop("improved")
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_dedup_clusters did not converge in {max_iterations} "
            "rounds; some components are split across multiple canonical ids. "
            "Raise max_iterations (rounds needed ≈ log2 of the longest chain)."
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, stacklevel=2)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("canonical_id"))


def _components_local(edges: list) -> dict:
    """Driver twin of the pointer-jumping fixpoint — the small-graph
    completion path of :func:`connected_dedup_clusters`.  Union-find
    with per-component minimum canonicalization: exactly the converged
    BSP labeling (min reachable node), because min-label propagation's
    fixpoint IS the per-component minimum.  Comparison semantics match
    ``F.least`` for every node type the engine uses (ints; strings via
    UTF-8 order, which equals code-point order).  Returns
    ``{node: canonical}`` over every node that touches an edge."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    return {node: comp_min[find(node)] for node in parent}


def _simhash_voted(
    df: DataFrame, text_col: str, id_col: str, bits: int
) -> DataFrame:
    """Per-doc bit votes ``v0..v{bits-1}`` for SimHash: bit b of a token =
    bit (b mod 4) of hex nibble (b div 4) of md5(token); votes weighted by
    token multiplicity; the groupBy partial-aggregates map-side so the
    shuffle is one row per doc.

    Two construction disciplines, both measured wins:

    - nibbles are pre-projected ONCE per token row — aggregate expressions
      don't share subexpressions, so inlining evaluated md5 per BIT
      (32-64x per row; ~2x end-to-end at sf0.1).
    - every expression is ONE parsed SQL string, not composed py4j Column
      objects — the round-4 PQ lesson again: the Column form spent 1.5 s
      of pure DRIVER time per call building ~1000 py4j objects, 4x the
      query's actual execution cost at sf0.1.
    """
    from door2door_etl_spark.operators.text import tokens

    # NOT width-normalized: one md5 per token is too light to pay a
    # full-text shuffle for — interleaved min-of-3 A/B at sf0.1 measured
    # the widened form at 2.05-2.19 s vs 1.42-1.58 s unwidened (the
    # sha256-per-shingle MinHash family, ~an order of magnitude more hash
    # work per row, is where widening wins).  At production width the
    # guard would skip anyway, so widening only ever fired where it hurt.
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    nib = tok.selectExpr(
        id_col,
        *[
            f"(instr('0123456789abcdef', substring(md5(tok), {i + 1}, 1)) - 1)"
            f" AS n{i}"
            for i in range(bits // 4)
        ],
    )
    votes = [
        F.expr(f"sum((floor(n{b // 4} / {2 ** (b % 4)}) % 2) * 2 - 1) AS v{b}")
        for b in range(bits)
    ]
    return nib.groupBy(id_col).agg(*votes)


def _pack_votes_sql(bit_range) -> str:
    """One SQL expression folding vote columns into a non-negative long
    (vote > 0 => bit i set)."""
    return " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2 ** i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i, b in enumerate(bit_range)
    )


def simhash32(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document from md5(token) bit votes — see
    :func:`_simhash_voted` for the vote construction and its two
    driver-cost disciplines."""
    voted = _simhash_voted(df, text_col, id_col, bits=32)
    return voted.selectExpr(
        id_col, f"({_pack_votes_sql(range(32))}) AS simhash"
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """Pairs with Hamming distance ≤ ``max_hamming`` on 32-bit SimHash.

    Blocked on equal high-16 bits (one LSH table); a production version adds
    rotated tables for full recall at the same per-table cost."""
    sh = simhash32(df, text_col, id_col)
    blocked = sh.withColumn("blk", F.floor(F.col("simhash") / F.lit(65536)))
    a = blocked.alias("a")
    b = blocked.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document as two non-negative 32-bit halves
    ``(sh_hi, sh_lo)`` — bits 32-63 and 0-31 of the fingerprint.

    Same vote construction as :func:`simhash32` (bit b of a token = bit
    (b mod 4) of hex nibble (b div 4) of md5(token)), extended to the first
    16 hex chars; ``sh_lo`` is bit-identical to :func:`simhash32`'s output.
    Two halves instead of one signed 64-bit long keep every arithmetic
    band/bit extraction on non-negative values — no two's-complement edge
    at bit 63, and the representation is portable to any SQL engine.

    Vote construction and both driver-cost disciplines (nibble
    pre-projection, string-parsed expressions): :func:`_simhash_voted`."""
    voted = _simhash_voted(df, text_col, id_col, bits=64)
    return voted.selectExpr(
        id_col,
        f"({_pack_votes_sql(range(32, 64))}) AS sh_hi",
        f"({_pack_votes_sql(range(0, 32))}) AS sh_lo",
    )


def simhash_bands(max_hamming: int, bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) of the ``max_hamming + 1`` disjoint bit bands used by
    :func:`simhash_near_pairs_full`.  Widths differ by at most one bit.

    Requires ``max_hamming + 1 <= bits``: more bands than bits would give
    zero-width bands whose value is 0 for every document, silently turning
    the band equi-join into an all-pairs cross join."""
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(
            f"max_hamming + 1 = {n_bands} bands cannot partition {bits} bits; "
            "a zero-width band would match every document"
        )
    base, extra = divmod(bits, n_bands)
    out, off = [], 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        out.append((off, width))
        off += width
    return out


def _band_value_64(off: int, width: int, hi: Column, lo: Column) -> Column:
    """Bits [off, off+width) of the 64-bit value ``hi·2³² + lo``, where both
    halves are non-negative 32-bit longs.  Handles bands that straddle the
    32-bit boundary (width not dividing 32)."""
    if off >= 32:
        return (F.floor(hi / F.lit(2 ** (off - 32))) % F.lit(2**width)).cast("long")
    if off + width <= 32:
        return (F.floor(lo / F.lit(2**off)) % F.lit(2**width)).cast("long")
    lo_bits = 32 - off
    return (
        (F.floor(lo / F.lit(2**off)) % F.lit(2**lo_bits))
        + (hi % F.lit(2 ** (width - lo_bits))) * F.lit(2**lo_bits)
    ).cast("long")


def simhash64_band_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    persist_fingerprints: bool = True,
) -> DataFrame:
    """Distinct candidate pairs from pigeonhole banding of the 64-bit
    SimHash — the pre-verification stage of :func:`simhash_near_pairs_full`,
    exposed so candidate volume is testable.  Columns: id_a, id_b, and both
    fingerprints' halves for the exact Hamming check.

    ``persist_fingerprints`` (default on) caches the n-row (id, sh_hi,
    sh_lo) relation: both sides of the band self-join consume it, and Spark
    recomputes an unmaterialized subtree per consumer — here that subtree
    is the full tokenize + md5 + 64-vote aggregation, the dominant cost
    (measured 2× the whole query at sf0.1; the broadcast build side defeats
    ReusedExchange because its canonical plan differs).  Three longs per
    document, so cache size is ~24 B/doc — trivially memory-resident even
    at 10⁹ docs/executor-partition scale.  Caller owns the cache lifetime
    (``spark.catalog.clearCache()`` when done)."""
    bands = simhash_bands(max_hamming, bits=64)
    sh = simhash64(df, text_col, id_col)
    if persist_fingerprints:
        from pyspark.storagelevel import StorageLevel

        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    band_vals = [
        _band_value_64(off, width, F.col("sh_hi"), F.col("sh_lo"))
        for off, width in bands
    ]
    keys = sh.select(
        F.col(id_col),
        F.col("sh_hi"),
        F.col("sh_lo"),
        F.posexplode(F.array(*band_vals)).alias("band", "bval"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sh_hi").alias("hi_a"),
            F.col("a.sh_lo").alias("lo_a"),
            F.col("b.sh_hi").alias("hi_b"),
            F.col("b.sh_lo").alias("lo_b"),
        )
        .distinct()
    )


def simhash_near_pairs_full(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    persist_fingerprints: bool = True,
) -> DataFrame:
    """All pairs with Hamming distance ≤ ``max_hamming`` on 64-bit SimHash —
    recall 1.0, unlike :func:`simhash_near_pairs`'s single high-16 block.

    Pigeonhole banding (Manku et al., WWW'07): the 64 bits split into
    ``max_hamming + 1`` disjoint bands, so a pair differing in ≤ max_hamming
    bits agrees EXACTLY on at least one band — every true pair lands in some
    band bucket.  The multi-table union runs as ONE shuffle, not k+1 joins:
    each doc explodes to (band_id, band_value) keys, a single self-equi-join
    on the key pairs up the buckets, distinct collapses cross-table repeats,
    and the exact ``bit_count(xor)`` filter removes false positives.

    Scale: the default k=3 gives 4 bands of 16 bits → 2¹⁶ buckets per band,
    so expected candidates per doc stay O(n/2¹⁶) per band — the Manku
    production setting.  (The previous 32-bit/3-4-bit-band form admitted
    ~n²/12 candidates — effectively all-pairs; VERDICT r2 item 2.)

    ``persist_fingerprints`` passes through to
    :func:`simhash64_band_candidates`; cache lifetime is caller-managed
    (same contract as ``ngram_jaccard_pairs(persist_shingles=True)``) —
    long-lived applications calling this repeatedly should pass ``False``
    or ``spark.catalog.clearCache()`` between corpora."""
    cands = simhash64_band_candidates(
        df, text_col, id_col, max_hamming, persist_fingerprints
    )
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -- embedding near-dup -----------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    min_cosine: float = 0.9,
) -> DataFrame:
    """Near-duplicate vectors by cosine within coarse blocks.

    ``block_col`` is the quantization cell (IVF cell / k-means cluster id —
    the testdata ships one as ``label``).  Pairwise cosine runs only within a
    cell: O(Σ cell²) instead of O(n²); at 100 TB the cells come from a
    trained coarse quantizer and the same plan applies.

    The quadratic stage runs as ``applyInPandas`` per cell: one BLAS matrix
    product (``Vn @ Vn.T``) per cell instead of a per-pair array expression —
    orders of magnitude less interpreter overhead, and exactly the plan that
    holds at 100 TB (cells are bounded by the quantizer, each fits one task;
    the only shuffle is the groupBy on the cell id).  Cosine math is double
    precision, matching the SQL oracle to well under the rounding scale."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = np.round(normed @ normed.T, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= min_cosine
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cosine": cos[iu, ju][keep],
            }
        )

    return (
        df.select(F.col(id_col), F.col(block_col), F.col(vec_col))
        .groupBy(block_col)
        .applyInPandas(per_cell, schema=out_schema)
    )


# -- benchmark decontamination ----------------------------------------------

def _intra_batch_colliding(bb: DataFrame, id_col: str) -> DataFrame:
    """Ids losing the greedy min-id intra-batch admission: every doc that
    shares a (band_idx, band_key) bucket with a SMALLER-id doc in the same
    band table.  Shared by the index-free :func:`incremental_lsh_dedup` and
    :meth:`ManifestLshBandIndex.admit` so the rule cannot drift between
    them."""
    a, b = bb.alias("a"), bb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )


def incremental_lsh_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    intra_batch: bool = True,
    persist_bands: bool = True,
) -> DataFrame:
    """Admission filter for a new ingest batch against an already-indexed
    corpus: drop every batch document that shares ≥1 MinHash-LSH band
    bucket with any corpus document; returns the surviving batch rows.

    This is the daily-ingest shape of near-dup control: the corpus is never
    re-paired against itself (that already happened when it was admitted) —
    only batch×corpus collisions matter, and the LEFT SEMI join on
    (band_idx, band_key) short-circuits at the first corpus hit, so no
    candidate-pair set ever materializes.  At production scale the corpus
    band table is a persisted index that the daily probe streams map-side —
    that composition is :class:`ManifestLshBandIndex` (build once, probe +
    append daily, each append one atomic commit); this function is the
    index-free form that derives both band tables inline.

    ``intra_batch`` additionally drops a batch document that shares a band
    with any SMALLER-id batch document — without it, all copies of a
    near-duplicate that is merely new to the corpus would be admitted
    together (10k copies of a fresh boilerplate page collide with nothing
    in the index), recreating exactly the identical-content mega-cluster
    skew :func:`minhash_lsh_pairs_collapsed` exists to prevent.  The rule
    is greedy min-id admission (a doc loses to any smaller-id band
    neighbor, admitted or not), deterministic and one semi join — not a
    transitive closure; chains degrade toward keeping only the minimum,
    the conservative direction for an admission filter.

    ``persist_bands`` caches the batch band table while ``intra_batch``
    consumes it twice (corpus probe + intra self-join) — Spark recomputes
    an unmaterialized subtree per consumer, so without it the dominant
    tokenize+shingle+minhash cost runs twice.  The cache is UNPERSISTED
    before returning: the colliding-id set (tiny — ids only) is eagerly
    materialized via ``localCheckpoint``, which both ends the band table's
    lifetime inside this call (a long-lived driver ingesting batch after
    batch no longer accumulates cached relations) and lets the context
    cleaner reclaim the checkpoint blocks when the result is dropped.
    """
    bb = minhash_band_table(batch, text_col, id_col, num_hashes, bands, shingle_n)
    persisted = intra_batch and persist_bands
    if persisted:
        from pyspark import StorageLevel

        bb = bb.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cb = minhash_band_table(corpus, text_col, id_col, num_hashes, bands, shingle_n)
        colliding = (
            bb.join(cb, ["band_idx", "band_key"], "left_semi")
            .select(id_col)
            .distinct()
        )
        if intra_batch:
            # No outer distinct: both branches are already distinct, a few
            # cross-branch duplicate ids cannot change a LEFT ANTI join,
            # and the dedup shuffle it saved was pure overhead (measured
            # ~0.3 s at sf0.1 — most of the ADVICE-r3 checkpoint cost).
            colliding = colliding.union(_intra_batch_colliding(bb, id_col))
        if persisted:
            # coalesce(1): the id set is tiny, so one checkpoint block
            # (instead of 2x shuffle_partitions) and exact size stats for
            # the anti join's broadcast decision.
            colliding = colliding.coalesce(1).localCheckpoint(eager=True)
    finally:
        if persisted:
            bb.unpersist()
    return batch.join(colliding, id_col, "left_anti")


@dataclass(frozen=True)
class ManifestLshBandIndex:
    """Persisted MinHash band index versioned through the object-store
    manifest protocol — the production corpus layout
    :func:`incremental_lsh_dedup` documents, wired end-to-end.

    An index whose band append and admitted-id write are two separate
    steps tears on a crash between them: bands for documents the corpus
    never admitted, exactly the torn-state class ``io/manifest.py`` was
    built to kill.  Here both relations live in ONE manifest table (unified
    schema ``(rel, doc_id, band_idx, band_key)``, partitioned by ``rel``:
    ``'band'`` rows carry the LSH bands, ``'id'`` rows are the
    admitted-document set) and every :meth:`admit` lands them in a SINGLE
    :func:`door2door_etl_spark.io.manifest.append_manifest` commit —
    readers see a batch's bands and its admissions together or not at
    all, snapshots are isolated, and a crash at any point leaves the
    prior version current (invariant pinned by the crash-window tests:
    ``distinct(band.doc_id) == id set`` at every committed version).

    Probe scale shape: the index is never shuffled.  The probe streams it
    MAP-SIDE past two broadcast hash joins — batch band keys broadcast
    onto the index scan (left semi), the matched-key set (O(collisions),
    tiny) broadcast back onto the batch.  Both broadcasts are explicit
    hints, so the plan holds whatever ``autoBroadcastJoinThreshold`` says.
    Data moved is O(collisions), never O(index); the only exchange
    carries matched keys (plan-asserted: no SortMergeJoin, no index-side
    Exchange).  :meth:`compact` is the protocol's CLUSTERED
    compaction on ``(band_idx, band_key)``, so post-compaction files
    carry disjoint key ranges for stats pruning — and compaction is
    itself a commit, racing admits safely instead of a rename window.
    """

    spark: SparkSession
    root: str
    num_hashes: int = 16
    bands: int = 4
    shingle_n: int = 3
    text_col: str = "text"
    id_col: str = "doc_id"
    hash_fn: str = "sha256"

    def _band_table(self, docs: DataFrame) -> DataFrame:
        return minhash_band_table(
            docs,
            self.text_col,
            self.id_col,
            self.num_hashes,
            self.bands,
            self.shingle_n,
            self.hash_fn,
        )

    def _unified(
        self, bands_df: DataFrame, ids_df: DataFrame, tag: str | None = None
    ) -> DataFrame:
        b = bands_df.select(
            F.lit("band").alias("rel"),
            F.col(self.id_col),
            F.col("band_idx"),
            F.col("band_key"),
        )
        # id rows repurpose the (otherwise NULL) band_key slot as an
        # optional admission TAG — e.g. the streaming batch id — so a
        # consumer can tell "admitted by THIS delivery" from "admitted
        # earlier" (the replay-vs-redelivery distinction).
        i = ids_df.select(
            F.lit("id").alias("rel"),
            F.col(self.id_col),
            F.lit(None).cast("int").alias("band_idx"),
            F.lit(tag).cast("string").alias("band_key"),
        )
        return b.unionByName(i)

    def _commit(
        self, bands_df: DataFrame, ids_df: DataFrame, tag: str | None = None
    ) -> int:
        from door2door_etl_spark.io.manifest import append_manifest

        return append_manifest(
            self.spark,
            self.root,
            self._unified(bands_df, ids_df, tag),
            partition_col="rel",
            stats_col=["band_idx", "band_key"],
        )

    def build(self, corpus: DataFrame) -> int:
        """First commit: the full corpus's bands + its id set, atomically."""
        return self._commit(
            self._band_table(corpus),
            corpus.select(self.id_col).distinct(),
        )

    def _read(self) -> DataFrame:
        from door2door_etl_spark.io.manifest import ManifestTable

        return ManifestTable(self.root).read(self.spark)

    def scan(self) -> DataFrame:
        """The band relation of the current snapshot."""
        return self._read().filter(F.col("rel") == "band").select(
            self.id_col, "band_idx", "band_key"
        )

    def admitted_ids(self, with_tags: bool = False) -> DataFrame:
        """The admitted-document set of the current snapshot.  With
        ``with_tags``, includes the admission tag column (``admit_tag``,
        NULL for untagged admissions)."""
        ids = self._read().filter(F.col("rel") == "id")
        if with_tags:
            return ids.select(
                self.id_col, F.col("band_key").alias("admit_tag")
            )
        return ids.select(self.id_col)

    def probe(self, batch_bands: DataFrame) -> DataFrame:
        """Batch band rows colliding with the index.  The index is only
        ever STREAMED: batch keys broadcast onto its scan, matched keys
        broadcast back — no index-side exchange at any size."""
        batch_keys = batch_bands.select("band_idx", "band_key").distinct()
        hit_keys = (
            self.scan()
            .join(F.broadcast(batch_keys), ["band_idx", "band_key"], "left_semi")
            .select("band_idx", "band_key")
            .distinct()
        )
        return batch_bands.join(
            F.broadcast(hit_keys), ["band_idx", "band_key"], "left_semi"
        )

    def admit(
        self,
        batch: DataFrame,
        intra_batch: bool = True,
        update_index: bool = True,
        tag: str | None = None,
    ) -> DataFrame:
        """Admission-filter ``batch`` (same semantics as
        :func:`incremental_lsh_dedup`) and, with ``update_index``, commit
        the survivors' band rows AND their ids as ONE manifest version.
        ``tag`` stamps the committed id rows (see :meth:`admitted_ids`
        ``with_tags``) — the streaming path uses the batch id so replay
        and re-delivery are distinguishable."""
        from pyspark import StorageLevel

        bb = self._band_table(batch).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            colliding = self.probe(bb).select(self.id_col).distinct()
            if intra_batch:
                colliding = colliding.union(
                    _intra_batch_colliding(bb, self.id_col)
                ).distinct()
            survivors = batch.join(
                colliding, self.id_col, "left_anti"
            ).localCheckpoint(eager=True)
            if update_index:
                survivor_bands = bb.join(
                    survivors.select(self.id_col), self.id_col, "left_semi"
                ).localCheckpoint(eager=True)
        finally:
            bb.unpersist()
        if update_index:
            self._commit(survivor_bands, survivors.select(self.id_col), tag)
        return survivors

    def compact(self) -> int:
        """Clustered compaction as a manifest commit: files come out
        range-disjoint on ``(band_idx, band_key)`` (precise stats
        pruning), and the swap is a claim, not a catalog-rename window."""
        from door2door_etl_spark.io.manifest import compact_manifest

        return compact_manifest(
            self.spark, self.root, sort_by=["band_idx", "band_key"]
        )


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop every training document that shares at
    least one word ``n``-gram with the benchmark/eval set (the published
    overlap-filter recipe for pretraining corpora, scaled down from 13-grams
    to fit the synthetic docs).

    Scale design: the benchmark side is an eval suite — orders of magnitude
    smaller than the corpus — so its distinct shingle set is **broadcast**;
    the corpus side explodes shingles map-side carrying only ``id_col``, the
    broadcast semi join filters in place (no corpus shuffle), and only the
    tiny contaminated-id set shuffles for the final left_anti.
    """
    bench_shingles = benchmark.select(
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias("shingle")
    ).distinct()
    cand_shingles = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(F.col(text_col), shingle_n))).alias("shingle"),
    )
    contaminated = (
        cand_shingles.join(F.broadcast(bench_shingles), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Corpus-wide exact SEGMENT dedup, the C4 recipe (Raffel et al., JMLR
    2020 §2.2: "we discarded all but one of any three-sentence span
    occurring more than once") adapted to word-window segments: split each
    document into consecutive ``seg_words``-word segments, keep only the
    FIRST occurrence (ordered by ``(id, seg_idx)``) of every distinct
    segment corpus-wide, and reassemble the surviving text per document.

    Returns ``(id_col, segs_total, segs_kept, clean_text)`` — one row per
    input document (a fully-duplicated document survives with
    ``clean_text = ''`` so the caller decides whether to drop it).

    Scale design: segmentation is map-side array arithmetic (no
    per-word explode — documents explode into ~n_words/seg_words segment
    rows, not n_words word rows).  First-occurrence detection is a
    ``groupBy(segment).min(struct(id, idx))`` — NOT a window row_number —
    so Spark's map-side partial aggregation collapses a
    duplicated-everywhere segment to one row per map task before the
    shuffle; a viral boilerplate segment never funnels all its copies
    into a single window task.  The flag-back join splits by measured
    segment frequency (the same rare/common discipline as
    :func:`ngram_jaccard_topk`): segments at or under ``hot_threshold``
    occurrences equi-join (per-key task input bounded by the threshold),
    segments above it — boilerplate that can appear in half the corpus —
    broadcast, so their probe is map-side and NO task ever receives a
    viral key's full row set.  AQE's skew-split cannot save this join
    (the build side sits behind the first-occurrence aggregation, which
    pins its partitioning — measured, not assumed), hence the explicit
    split; truly-viral segments are few by Zipf, keeping the broadcast
    KB-scale (bounded by corpus_rows / hot_threshold entries).
    Reassembly shuffles by ``id_col``.  Skew bound pinned by
    ``tests/test_operators.py::test_segment_dedup_viral_segment_bounded_skew``.
    Reference analog: the handler's whole-record dedup,
    /root/reference/src/handler/handler.py:95-97, at sub-document grain.
    """
    # NULL text would make the whole segment expression NULL and the
    # posexplode emit zero rows — silently dropping the document; coalesce
    # keeps the one-row-per-input-document contract (a NULL/empty doc
    # yields one empty segment, deduped like any other).
    words = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_segs = F.ceil(F.size(words) / F.lit(float(seg_words))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - F.lit(1)),
        lambda i: F.array_join(
            F.slice(words, i * F.lit(seg_words) + F.lit(1), seg_words), " "
        ),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg_text")
    )
    firsts = exploded.groupBy("seg_text").agg(
        F.min(F.struct(id_col, "seg_idx")).alias("_first"),
        F.count(F.lit(1)).alias("_seg_n"),
    )
    # Rare/common split: every exploded row matches exactly one firsts
    # row, so the two inner joins partition the rows — cold keys shuffle
    # with per-key input <= hot_threshold, viral keys probe a broadcast.
    cold = firsts.filter(F.col("_seg_n") <= hot_threshold).drop("_seg_n")
    hot = firsts.filter(F.col("_seg_n") > hot_threshold).drop("_seg_n")
    flagged = (
        exploded.join(cold, "seg_text")
        .unionByName(exploded.join(F.broadcast(hot), "seg_text"))
        .withColumn(
            "_kept",
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("seg_idx") == F.col("_first.seg_idx")),
        )
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("segs_total"),
        F.sum(F.when(F.col("_kept"), 1).otherwise(0)).cast("int").alias("segs_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_kept"), F.struct("seg_idx", "seg_text"))
                    )
                ),
                lambda x: x["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Corpus-wide exact SUBSTRING dedup at token grain — the ExactSubstr
    recipe of Lee et al., ACL 2022 ("Deduplicating Training Data Makes
    Language Models Better"): any token span that also occurs elsewhere in
    the corpus is removed from all but its first occurrence.  Lee et al.
    find such spans with a suffix array; the distributed form here anchors
    on ``k``-token grams — every occurrence of a duplicated span of length
    >= k contains a duplicated k-gram at each of its start positions, so
    marking the k-token window of every NON-FIRST occurrence of every
    duplicated k-gram removes exactly the duplicated spans (first
    occurrences survive verbatim; coverage of a longer span is the union
    of its k-gram windows).

    Tokens follow the shared portable contract (``operators.text.tokens``),
    so ``clean_text`` is normalized-token text.  Returns one row per input
    document — ``(id_col, n_tokens, n_removed, clean_text)`` — including
    empty/NULL-text documents (``n_tokens = 0``), and a fully-duplicated
    later copy survives as ``clean_text = ''`` for the caller to drop.

    Scale design (same discipline as :func:`segment_dedup`):

    - Tokenize + gram-hash are ONE map-side pass: the token array is bound
      once via a single-element ``transform`` lambda (Catalyst does not CSE
      through lambda bodies), and each position's k-gram digest is a
      sha256 over an array slice — the explode emits one row per token,
      never per (token x gram) pair.
    - First-occurrence detection is ``groupBy(gram).min(struct(id, pos))``
      with map-side partial aggregation, and only grams with >= 2
      occurrences survive the aggregation's filter — the flag-back join's
      build side holds duplicated grams only (Zipf-small), never the
      corpus's full gram vocabulary.
    - The flag-back join splits by measured gram frequency: grams at or
      under ``hot_threshold`` occurrences equi-join (per-key task input
      bounded), viral boilerplate grams broadcast so no task receives a
      hot key's full occurrence set.
    - Coverage is a per-document sliding-window MAX over the dup-start
      flags (``ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW`` — positions
      are dense, so the row frame IS the position range); the window's
      hash exchange on ``id_col`` is reused by the final reassembly
      groupBy — token rows shuffle once for the whole
      coverage+reassembly phase.

    Reference analog: the handler's whole-record dedup
    (/root/reference/src/handler/handler.py:95-97) at sub-document,
    cross-document span grain.
    """
    from door2door_etl_spark.operators.text import tokens

    # Width-normalize ONCE at entry (the curation-funnel discipline):
    # the tokenize+gram-sha256 pass feeds several plan branches, and a
    # narrow input — one parquet file = one partition at test scale —
    # would run every branch's hash work single-core.  At production
    # width this is a skipped no-op guard, not a shuffle.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)

    n_hex = 16  # 64-bit gram digests: collision-safe, 4x smaller shuffle keys
    tok_expr = tokens(F.coalesce(F.col(text_col), F.lit("")))

    def _rows(tk: Column) -> Column:
        n = F.size(tk)
        return F.when(
            n > F.lit(0),
            F.transform(
                F.sequence(F.lit(0), n - F.lit(1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.element_at(tk, i + 1).alias("token"),
                    F.when(
                        i <= n - F.lit(k),
                        F.substring(
                            F.sha2(F.concat_ws(" ", F.slice(tk, i + 1, k)), 256),
                            1, n_hex,
                        ),
                    ).alias("gh"),
                ),
            ),
        ).otherwise(F.array())
    # Bind the token array ONCE (transform over a 1-element array), then
    # explode_outer so zero-token documents keep their output row.
    rows = df.select(
        F.col(id_col),
        F.explode_outer(F.transform(F.array(tok_expr), _rows)[0]).alias("t"),
    ).select(id_col, F.col("t.pos").alias("pos"),
             F.col("t.token").alias("token"), F.col("t.gh").alias("gh"))

    occ = rows.filter(F.col("gh").isNotNull()).select(id_col, "pos", "gh")
    dup_grams = (
        occ.groupBy("gh")
        .agg(F.min(F.struct(id_col, "pos")).alias("_first"),
             F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )
    cold = dup_grams.filter(F.col("_n") <= hot_threshold).drop("_n")
    hot = dup_grams.filter(F.col("_n") > hot_threshold).drop("_n")
    dup_starts = (
        occ.join(cold, "gh")
        .unionByName(occ.join(F.broadcast(hot), "gh"))
        .filter(~((F.col(id_col) == F.col(f"_first.{id_col}"))
                  & (F.col("pos") == F.col("_first.pos"))))
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_dup_starts"))
    )

    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col).orderBy("pos")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    flagged = (
        rows.join(dup_starts, id_col, "left")
        .withColumn(
            "_dup_start",
            F.when(
                F.array_contains(
                    F.coalesce(F.col("_dup_starts"), F.array().cast("array<int>")),
                    F.col("pos"),
                ), 1,
            ).otherwise(0),
        )
        .withColumn("_covered", F.max("_dup_start").over(w))
    )
    return flagged.groupBy(id_col).agg(
        F.count("token").cast("long").alias("n_tokens"),
        F.sum(F.coalesce(F.col("_covered"), F.lit(0))).cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            (F.col("_covered") == 0) & F.col("token").isNotNull(),
                            F.struct("pos", "token"),
                        )
                    )
                ),
                lambda x: x["token"],
            ),
            " ",
        ).alias("clean_text"),
    )


def fastss_match(
    dirty: DataFrame,
    clean: DataFrame,
    name_col: str = "name",
    dirty_id: str = "dirty_id",
    clean_id: str = "clean_id",
    max_dist: int = 1,
) -> DataFrame:
    """Record linkage by FastSS deletion-neighborhood blocking
    (Bocek, Hunt & Stiller 2007; the SymSpell candidate model): two
    strings within edit distance 1 necessarily SHARE a single-deletion
    variant (substitution → both delete position i; insert/delete →
    one side deletes), so candidates are an EQUI-join on exploded
    variant strings — never a similarity cross join — and a final
    built-in ``levenshtein`` filter removes the over-generation
    (sharing a variant only bounds distance ≤ 2).

    Scale shape: each side explodes to ``len+1`` variants per record at
    ``max_dist=1`` (the string itself + each single-deletion) and
    O(len²/2) at ``max_dist=2`` (single deletions of every depth-1
    variant — the recursive neighborhood, still in-row SQL ``transform``
    + ``flatten``); variants are near-unique keys, so the join is
    hash-partitioned with candidate volume linear in corpus size either
    way; the verify step is per-candidate O(len²) JVM ``levenshtein`` —
    no UDF, no quadratic pair space at any corpus width.  ``max_dist``
    supports 1 and 2: the depth-d neighborhood guarantee (two strings
    within edit distance d share a ≤d-deletion variant — the SymSpell
    candidate theorem) is property-tested for both depths; sharing a
    depth-2 variant only bounds distance ≤ 4, so the d=2 verify filter
    carries proportionally more over-generation (the price of depth,
    not a correctness risk).  Depth 3+ would repeat the same recursion
    with O(len³) variants — past the point where blocking beats
    verify-everything for name-length strings, so 2 is the contract
    ceiling, documented rather than silently accepted.

    Output: distinct ``(dirty_id, clean_id, dist)`` with
    ``dist ≤ max_dist``.

    Reference analog: none (the reference has no fuzzy matching);
    north-star record-linkage capability next to the dedup family.
    """
    if max_dist not in (1, 2):
        raise ValueError(
            "fastss_match supports max_dist 1 or 2 (deletion-neighborhood "
            "depth; 3+ would be O(len³) variants per record — see docstring)"
        )

    def variants(side: DataFrame, idc: str, tag: str) -> DataFrame:
        d1 = (
            f"array_distinct(concat(array({name_col}), "
            f"transform(sequence(1, length({name_col})), "
            f"i -> concat(substring({name_col}, 1, i - 1), "
            f"substring({name_col}, i + 1, length({name_col}))))))"
        )
        if max_dist == 2:
            # recursive neighborhood: single deletions of every depth-1
            # variant (sequence(1,0) on an exhausted string yields [1,0]
            # whose deletions are all "" — array_distinct absorbs them)
            expr = (
                f"array_distinct(concat({d1}, "
                f"flatten(transform({d1}, s -> "
                "transform(sequence(1, length(s)), "
                "i -> concat(substring(s, 1, i - 1), "
                "substring(s, i + 1, length(s))))))))"
            )
        else:
            expr = d1
        v = F.expr(expr)
        return side.select(
            F.col(idc).alias(f"_{tag}_id"),
            F.col(name_col).alias(f"_{tag}_name"),
            F.explode(v).alias("_v"),
        )

    dv = variants(dirty, dirty_id, "d")
    cv = variants(clean, clean_id, "c")
    return (
        dv.join(cv, "_v")
        .select("_d_id", "_c_id", "_d_name", "_c_name")
        .distinct()
        .withColumn("dist", F.levenshtein(F.col("_d_name"), F.col("_c_name")))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("_d_id").alias(dirty_id),
            F.col("_c_id").alias(clean_id),
            "dist",
        )
    )
