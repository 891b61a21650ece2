"""Deduplication operators: exact, order-preserving first-wins, MinHash-LSH,
SimHash, and n-gram Jaccard near-dup.

Reference parity: the reference dedups by accumulating a Python control list
and keeping the FIRST occurrence in file order (`02_filter_by_CIN.py:254-268`,
`03_download_contracts.py:713,799-818`, `04_convert_contracts_to_text.py:147-155`
— operators A6/A7/J5). `dropDuplicates` alone is nondeterministic about which
row survives, so the engine's first-wins form is a `row_number()` window over
an explicit tie-break ordering (SURVEY.md §7 Hard-1).

Scale extensions (no reference counterpart; BASELINE.json:6): MinHash-LSH /
SimHash / n-gram-Jaccard near-dup for a 100 TB document corpus. All are
pure-DataFrame compositions — no MLlib dependency, no Python UDF anywhere in
the MinHash/SimHash path. Each algorithm has ONE pipeline, and
`hash="xxhash64" | "md5"` picks its hash family: xxhash64 is the production
hash; md5 is the engine-portable family that a DuckDB oracle reproduces bit
for bit, so the oracled md5 twins cover the same lines the production tiers
run. The family changes only the hash expression (and, for SimHash, the bit
width: 64 bits in 16-bit blocks vs md5's 60-bit prefix in 15-bit blocks).
MinHash signatures are MAP-ONLY (array_min over per-row shingle hashes; a
per-doc min needs no shuffle). SimHash's majority vote deliberately KEEPS
the explode + two hash aggregations: the same vote as a nested higher-order
aggregate is shuffle-free but evaluates interpreted (measured 13 s vs 1.4 s
at sf0.1) — whole-stage-codegen'd hash aggregates beat interpreted HOFs
when the per-row expansion is large.

Scale notes:
- MinHash bands join is an equi-join on (band_id, band_hash) — shuffle keys
  are uniformly distributed hashes, so no skew; candidate verification is
  restricted to bucket-colliding pairs (LSH's whole point: no O(n²) pair
  enumeration).
- Exact dedup on a hash of the payload (not the payload itself) keeps shuffle
  rows narrow: 16-byte digest instead of multi-KB documents.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import tokens_nonempty


def first_wins_dedup(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    group_size_col: str | None = None,
) -> DataFrame:
    """Keep the first row per key under an explicit deterministic ordering.

    ≈ the reference's control-list dedup (`02_filter_by_CIN.py:259-268`) where
    "first" = file order; here the caller names the ordering column(s)
    (ingest index / primary key), making the pick reproducible across runs
    and partitionings — `dropDuplicates` does not guarantee that.

    `group_size_col`: when set, the kept row also carries the SIZE of its
    duplicate group under that column name — computed by the same window
    pass (count over the identical partition spec adds no shuffle and no
    extra scan), so a caller that needs "how many rows did dedup see" can
    aggregate the deduped output instead of re-scanning the input
    (curation_pipeline's audit ledger; r10, guide §1.2 step 1).

    Tier note (optimization round 10): a `min_by`-aggregation twin
    (`first_wins_dedup_agg`) exists for DUPLICATE-HEAVY keyings — it
    reduces survivors map-side before the exchange, which is the 100 TB
    shuffle-byte win when most rows are duplicates (web-corpus exact
    dedup runs 30–80% dup rate). It was A/B-measured as the WRONG default
    here: on near-unique keys (dedup_orders_first_wins, 2 rows/group)
    struct-payload min_by plans as SortAggregate — sorts on BOTH sides of
    the exchange with no row reduction — and read 0.421 → 0.542 s
    interleaved min-of-6 at sf0.1, while the window form sorts once
    post-shuffle. Pick by expected duplication, not universally.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn("__rn", F.row_number().over(w))
    if group_size_col is not None:
        # Unbounded count over the same partition keys: the second window
        # reuses the row_number window's Exchange (identical partitioning,
        # no ordering requirement of its own) — the group size rides the
        # shuffle the dedup already pays for, zero extra scans.
        out = out.withColumn(
            group_size_col,
            F.count(F.lit(1)).over(Window.partitionBy(*keys)),
        )
    return out.filter(F.col("__rn") == 1).drop("__rn")


def first_wins_dedup_agg(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    group_size_col: str | None = None,
) -> DataFrame:
    """`first_wins_dedup` as a `min_by` AGGREGATION — the tier for
    duplicate-HEAVY keyings (guide §2.3 "aggregate before you shuffle"):
    partial_min_by reduces each map task's rows to one candidate per key
    BEFORE the exchange, so the shuffle carries ≤ (map tasks × distinct
    keys) rows instead of every input row. On a corpus-scale exact-dedup
    (30–80% duplicate rate) that is the dominant shuffle-byte cut; the
    curation pipeline's exact stage uses this tier. On near-unique keys
    prefer the window form: struct-payload min_by plans as SortAggregate
    (sorts both sides, no row reduction — measured 1.3× slower on
    dedup_orders_first_wins at sf0.1).

    `order_by`: plain ASCENDING ordering columns (not `F.asc()`-wrapped —
    a SortOrder expression fails analysis loudly), non-null, unique per
    group (or tied rows identical) for a deterministic pick — the same
    determinism condition the window form needs. Multi-column orderings
    compare lexicographically via a struct, exactly like a multi-key
    sort. Output rows, column order and types are identical to
    `first_wins_dedup` (pinned by
    tests/test_functions.py::test_first_wins_dedup_agg_matches_window_reference
    and the curation-audit oracle hash-match).
    """
    ord_key = F.struct(*order_by) if len(order_by) > 1 else order_by[0]
    payload = F.struct(*[F.col(c) for c in df.columns])
    aggs = [F.min_by(payload, ord_key).alias("__first")]
    if group_size_col is not None:
        aggs.append(F.count(F.lit(1)).alias(group_size_col))
    grouped = df.groupBy(*keys).agg(*aggs)
    cols = [F.col("__first").getField(c).alias(c) for c in df.columns]
    if group_size_col is not None:
        cols.append(F.col(group_size_col))
    return grouped.select(*cols)


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Array of lowercase character n-gram shingles (distinct).

    `sequence(1, len-n+1)` + `transform(substring)` stays fully JVM-side; the
    distinct set is what MinHash needs.
    """
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, n)))


HASH_FAMILIES = ("xxhash64", "md5")
MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime for the Carter-Wegman family
SIMHASH_MD5_BITS = 60  # fits the signed-bigint-safe 15-hex-char md5 hash
# (bits, block bits) per SimHash token-hash family: four blocks each, so a
# pair within Hamming <= 3 agrees on at least one block (pigeonhole).
_SIMHASH_SHAPE = {"xxhash64": (64, 16), "md5": (SIMHASH_MD5_BITS, 15)}


def _check_hash(hash: str) -> None:
    """A typo must not silently run the other family."""
    if hash not in HASH_FAMILIES:
        raise ValueError(f"hash must be one of {HASH_FAMILIES}, got {hash!r}")


def _minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Fixed (a_i, c_i) pairs for h_i(x) = (a_i*x + c_i) mod p, generated by
    a tiny deterministic LCG so BOTH the Spark plan and the SQL oracle embed
    the identical literals. a_i ∈ [1, p), c_i ∈ [0, p); with x < 2^32 and
    a_i < 2^31, a_i*x + c_i < 2^63 — exact in signed-64 on every engine."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        c = state % MINHASH_PRIME
        out.append((a, c))
    return out


def _md5_hash64(col: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a bigint.
    A DuckDB oracle reproduces it exactly with
    `('0x' || substr(md5(x),1,15))::BIGINT`."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 5,
    hash: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) MinHash signature per document.

    Implementation: `array_min(transform(shingles, s -> h_i(s)))` per seed
    i, over the per-row shingle array — the signature build is MAP-ONLY
    (the earlier explode + groupBy-min formulation shuffled every
    (doc, shingle) row; a per-doc min never needs a shuffle because all of
    a doc's shingles already live in its own row).

    `hash` picks the family; only the per-seed hash expression changes:
    - "xxhash64" (production): h_i(s) = xxhash64(s, i).
    - "md5" (engine-portable, reproducible in DuckDB): ONE md5 per shingle
      yields a 32-bit base x (hex chars 1-8), and h_i = (a_i*x + c_i) mod p
      with p = 2^31-1 and fixed per-seed coefficients (Carter-Wegman).
      The multiply wraps the modulus many times (unlike an additive
      family, whose components correlate and inflate the Jaccard
      estimate), every step is exact in signed-64 on both engines, and
      the corpus pass runs one digest per shingle instead of num_hashes
      (measured 14.3 s → ~2 s at sf0.1).
    """
    _check_hash(hash)
    elems = docs.select(
        F.col(id_col), char_shingles(text_col, shingle_n).alias("__shs")
    )
    if hash == "md5":
        # Each shingle is replaced by its md5 base x; the seeds hash x.
        elems = elems.select(
            F.col(id_col),
            F.transform(
                F.col("__shs"),
                lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast(
                    "bigint"
                ),
            ).alias("__shs"),
        )
        coeffs = _minhash_coeffs(num_hashes)

        def seeded(x: Column, i: int) -> Column:
            a, c = coeffs[i]
            return (F.lit(a) * x + F.lit(c)) % F.lit(MINHASH_PRIME)

    else:

        def seeded(s: Column, i: int) -> Column:
            return F.xxhash64(s, F.lit(i))

    def _seed_min(i: int) -> Column:
        # One-parameter lambda required: transform() treats a two-parameter
        # lambda as (element, index).
        return F.array_min(F.transform(F.col("__shs"), lambda s: seeded(s, i)))

    return elems.select(
        F.col(id_col),
        F.array(*[_seed_min(i) for i in range(num_hashes)]).alias("sig"),
    )


def _band_keys(
    sig: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    out_id: str = "id",
) -> DataFrame:
    """(out_id, band, bh) band-bucket keys for a signature table — the ONE
    band-hash construction every LSH consumer (batch candidates,
    incremental store lookups) shares, so cross-consumer bucket parity is
    structural rather than hand-synced."""
    return sig.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(
                            F.col("sig"), b * rows_per_band + 1, rows_per_band
                        ),
                        b,
                    ).alias("bh"),
                ),
            )
        ).alias("bb"),
    ).select(out_id, "bb.band", "bb.bh")


def minhash_lsh_candidates(
    sig: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_occupancy: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded LSH on signatures.

    Each signature is cut into `bands` bands of `rows_per_band` hashes; a pair
    is a candidate iff some band hashes identically. The band bucket join is
    an equi-join on (band, band_hash) — uniform hash keys, never enumerates
    O(n²) pairs across the corpus. The per-BUCKET cost is c·(c−1)/2, though,
    and bucket occupancy grows with the size of true duplicate clusters:
    measured on the synthetic corpus, 10× docs ⇒ ~10× max occupancy ⇒ ~96×
    implied pairs (`lsh_bucket_occupancy` is the audit). That is the real
    driver of the sf1 bench slope — not shuffle constants.

    `max_bucket_occupancy` is the production guardrail for that regime:
    buckets holding more than this many members are EXCLUDED from pair
    generation (at web scale these are boilerplate/template mega-clusters;
    skipping them is standard practice — they are better handled by exact
    dedup on a normalized form). The pair report loses only pairs whose
    EVERY agreeing band landed in a mega-bucket. None (default, and all
    oracled queries) disables the cap.
    """
    banded = _band_keys(sig, id_col, bands, rows_per_band, out_id=id_col)
    if max_bucket_occupancy is not None:
        from pyspark.sql.window import Window

        occ = F.count(F.lit(1)).over(Window.partitionBy("band", "bh"))
        banded = (
            banded.withColumn("__occ", occ)
            .filter(F.col("__occ") <= max_bucket_occupancy)
            .drop("__occ")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def lsh_bucket_occupancy(
    sig: DataFrame,
    id_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band-bucket occupancy report for the LSH candidate join — the
    scale-health metric behind the banded join's cost model: the equi-join
    emits sum_b c_b·(c_b−1)/2 candidate pairs per bucket, so if
    max/implied-pair occupancy grows super-linearly with the corpus the
    "near-linear" claim is failing (VERDICT r3 item 6: watch whether the
    sf1 slope is shuffle constants or creeping bucket occupancy).

    One aggregation over the shared `_band_keys` construction (identical
    keys to the production join). Returns one row per band, unordered:
    (band, n_buckets, max_occupancy, implied_pairs) — implied_pairs is the
    exact number of within-bucket candidate pairs the join for that band
    will enumerate before the distinct/verify stages.
    """
    banded = _band_keys(sig, id_col, bands, rows_per_band, out_id=id_col)
    per_bucket = banded.groupBy("band", "bh").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_bucket.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("c").alias("max_occupancy"),
        F.expr("sum(c * (c - 1) div 2)").alias("implied_pairs"),
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    max_bucket_occupancy: int | None = None,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, est_jaccard) with estimated Jaccard ≥
    threshold, on either `minhash_signatures` family (`hash`).

    `max_bucket_occupancy` passes through to the candidate stage: the
    mega-bucket guardrail for corpora whose duplicate-cluster sizes grow
    with the corpus (see minhash_lsh_candidates).
    """
    # The signature table feeds three consumers (banding + both sides of the
    # verify join). Persist it: signatures are num_hashes×8 bytes per doc —
    # at 100 TB corpus scale that's GBs, not TBs — and without the persist
    # the shingling + per-seed min pass over the full corpus runs three
    # times.
    sig = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_n, hash
    ).persist()
    cand = minhash_lsh_candidates(
        sig, id_col, bands, num_hashes // bands,
        max_bucket_occupancy=max_bucket_occupancy,
    )
    scored = _verify_pairs(
        cand, sig, sig, id_col, ("id_a", "id_b"), num_hashes, threshold
    )
    # Expose the persisted signature table so callers that consume the
    # pairs lazily (curation_pipeline's cached chain) can release it with
    # their other intermediates — capture it BEFORE any further
    # transformation (a .select returns a fresh object without the attr).
    scored._crz_cached = sig
    return scored


def _verify_pairs(
    cand: DataFrame,
    sig_left: DataFrame,
    sig_right: DataFrame,
    id_col: str,
    ids: tuple[str, str],
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Candidate pairs `ids` scored by the fraction of agreeing MinHash
    components (the standard unbiased Jaccard estimator), computed with
    `zip_with` on the two signatures — no re-shingling in the verify step.
    The 6-dp round keeps the score engine-portable; k/16 and k/32 are
    exact at 6 dp, so it changes no value at the widths in use."""
    left, right = ids
    sa = sig_left.select(F.col(id_col).alias(left), F.col("sig").alias("sig_a"))
    sb = sig_right.select(F.col(id_col).alias(right), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(sa, left)
        .join(sb, right)
        .select(
            left, right, F.round(agree / F.lit(num_hashes), 6).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame, id_col: str, text_col: str, hash: str = "xxhash64"
) -> DataFrame:
    """(id, simhash: bigint) per document, every step a built-in JVM
    expression: per token take its `hash` (xxhash64's 64 bits, or the
    60-bit md5 prefix that DuckDB reproduces), per bit position count
    +1/-1 over tokens, set the bit where the count is ≥ 0.

    Distributed form: explode (token → one row per bit) then two hash
    aggregations — both partial/final map-side combinable, so the 60–64×
    intermediate never leaves the executor unaggregated. Docs with zero
    tokens produce no row (the oracle's unnest does the same)."""
    _check_hash(hash)
    bits, _width = _SIMHASH_SHAPE[hash]
    token_hash = F.xxhash64 if hash == "xxhash64" else _md5_hash64
    toks = docs.select(
        F.col(id_col), F.explode(tokens_nonempty(text_col)).alias("t")
    )
    hashed = toks.select(id_col, token_hash(F.col("t")).alias("h"))
    exploded = hashed.select(
        id_col, "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    )
    counts = exploded.groupBy(id_col, "b").agg(
        F.sum(
            F.when(F.expr("(shiftright(h, b) & 1) = 1"), 1).otherwise(-1)
        ).alias("c")
    )
    return counts.groupBy(id_col).agg(
        F.expr(
            "sum(CASE WHEN c >= 0 THEN shiftleft(1L, b) ELSE 0L END)"
        ).alias("simhash")
    )


def _simhash_blocks(sh: DataFrame, id_col: str, hash: str) -> DataFrame:
    """(id, simhash, q, qv): one row per block q of each simhash, the
    equi-join key of every SimHash candidate join."""
    bits, width = _SIMHASH_SHAPE[hash]
    blocks = F.array(
        *[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftright(F.col("simhash"), q * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("qv"),
            )
            for q in range(bits // width)
        ]
    )
    return sh.select(
        id_col, "simhash", F.explode(blocks).alias("qq")
    ).select(id_col, "simhash", "qq.q", "qq.qv")


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs whose SimHashes differ in ≤ max_hamming bits.

    Candidate generation blocks on four blocks of the hash (16 bits for
    xxhash64, 15 for md5; pigeonhole: any pair within Hamming ≤ 3 agrees
    on at least one block), so the join is equi on (block, value) — no
    O(n²) scan — and the exact Hamming verify is bit_count(xor).
    """
    # Both sides of the block join descend from this DF; persist so the
    # simhash vote (the expensive full-corpus pass) runs once, not twice.
    # 16 bytes per doc — negligible cache footprint at any scale.
    sh = simhash(docs, id_col, text_col, hash).persist()
    return _simhash_pairs(sh, sh, id_col, hash, ("id_a", "id_b"), max_hamming)


def _simhash_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    hash: str,
    ids: tuple[str, str],
    max_hamming: int,
) -> DataFrame:
    """(ids[0], ids[1], hamming) for every left/right simhash pair with
    left id < right id that shares a block and is within max_hamming."""
    a = _simhash_blocks(left, id_col, hash).alias("a")
    b = _simhash_blocks(right, id_col, hash).alias("b")
    return (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qv") == F.col("b.qv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(ids[0]),
            F.col(f"b.{id_col}").alias(ids[1]),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _parse_byte_size(s: str, default_unit: int = 1) -> int:
    """Parse a Spark size string ('1g', '512m', '2048'). Bare numbers
    scale by `default_unit` (Spark reads bare spark.driver.memory as MiB
    but bare spark.driver.maxResultSize as bytes — pass the right one)."""
    s = s.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] == "b" and len(s) > 1 and s[-2] in units:
        s = s[:-1]
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s) * default_unit


# Driver-side cost of one collected edge, measured (CPython 3.12,
# sys.getsizeof over the live structures at 1M edges): the collect()'d
# Row pair ~120 B amortized + up to two union-find dict entries with
# boxed-int keys/values ~170 B — call it 300 B/edge of Python heap. The
# JVM relay cost (~50 B/edge serialized) is limited separately by
# spark.driver.maxResultSize; with the Spark defaults (1g driver / 1g
# maxResultSize) the Python-heap constraint is the binding one.
#
# Worked examples of the resulting ceiling (VERDICT r10 item 7 — the
# default is load-bearing, so its math lives here, not in a round doc):
#   1g driver / 1g maxResultSize  -> min(1g/4/300,  1g/2/50) ≈ 0.9M edges
#     (heap-bound: 0.9M × 300 B ≈ 256 MiB of Python heap, 1/4 of the JVM
#     figure — the Python process is sized alongside the JVM here)
#   48g driver / 1g maxResultSize -> min(48g/4/300, 1g/2/50) = 10.7M edges
#     (RELAY-bound: 10.7M × 300 B ≈ 3 GiB of Python heap — safe because
#     the 48 GiB figure says the box provisions tens of GiB for the
#     driver; the binding constraint is the 1 GiB collect relay at
#     10.7M × 50 B ≈ 512 MiB, half the configured maxResultSize)
# A caller overriding driver_max_edges directly bypasses BOTH guards:
# keep any manual value under (driver heap)/4/300 AND
# (maxResultSize)/2/50, or the collect either OOMs the driver's Python
# process or trips Spark's "serialized results bigger than
# maxResultSize" error at 100 TB pair volumes.
_BYTES_PER_EDGE_DRIVER = 300
_DRIVER_HEAP_FRACTION = 4  # use at most 1/4 of the driver heap for edges

# Observability side-channel for bench attribution (VERDICT r8: the driver's
# bench run read near_dup_clusters at 13.8 s min-of-3 vs 2.4 s on the
# builder's run of the SAME tree, and whether the memory-derived cutover had
# picked driver union-find or the ~20-join-round iterative path was not
# recoverable from the artifact). Every connected_components call APPENDS
# its path decision here; bench.py clears the list before each query and
# copies whatever accumulated into BENCH_RESULT under "query_notes" — a
# query that invokes CC twice is fully attributed (ADVICE r9; the former
# LAST_CC_DECISION scalar kept only the final call). Module-global, not
# thread-local, BY DESIGN: the bench harness and the driver's correctness
# runner are single-threaded, and the list is a diagnostics channel — a
# concurrent caller would interleave entries, never corrupt results.
CC_DECISIONS: list[dict] = []


def _default_driver_max_edges(spark) -> int:
    """Memory-derived ceiling for the driver union-find path: a quarter of
    spark.driver.memory at 300 B/edge, additionally capped by half of
    spark.driver.maxResultSize at 50 B/edge (the collect relay), floored
    at 100k edges so tiny test configs still take the fast path. With
    Spark's 1g/1g defaults this lands at ~895k edges — the former
    hard-coded 2M constant assumed a ≥8 GiB driver without saying so."""
    mem = _parse_byte_size(
        spark.conf.get("spark.driver.memory", "1g"), default_unit=1 << 20
    )
    result_cap = _parse_byte_size(
        spark.conf.get("spark.driver.maxResultSize", "1g"), default_unit=1
    )
    by_heap = mem // _DRIVER_HEAP_FRACTION // _BYTES_PER_EDGE_DRIVER
    by_relay = result_cap // 2 // 50 if result_cap > 0 else by_heap
    return max(100_000, min(by_heap, by_relay))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) for every node in the near-dup pair graph —
    cluster_id = the minimum node id reachable through pair edges. This is
    the step that turns pairwise near-dup evidence into a deduplicated
    corpus (keep one representative per cluster).

    Implementation: iterative min-label propagation with pointer jumping
    (the dataframe core of the large-star/small-star CC algorithm): each
    round (1) joins labels across edges and takes the per-node min, then
    (2) replaces every label by *its* label (path compression), so label
    information hops 2^round edges per round instead of 1 — O(log diameter)
    rounds instead of O(diameter). A chain-heavy LSH pair graph at sf0.1
    converges in 5 rounds where plain propagation took 19. Fixpoint is
    detected with a filter-count on the carried old_label (no extra join),
    and `localCheckpoint` truncates the growing lineage each round (the
    loop is driver-side control flow, the data never leaves executors).

    Scale strategy (the broadcast-join analog for graphs): a near-dup pair
    graph is usually TINY relative to the corpus — LSH emits edges only
    for actual near-duplicates. Below `driver_max_edges` the edge set is
    collected and solved with driver-side union-find (microseconds; ONE
    action — a limit-bounded collect — both decides the path and fetches
    the edges); the iterative loop is the path for genuinely large
    pair graphs, where each round's joins are worth their scheduling cost.
    Both paths produce identical (doc_id, min-reachable-id) labels.
    `driver_max_edges` defaults to a MEMORY-DERIVED bound
    (`_default_driver_max_edges`: ¼ of spark.driver.memory at a measured
    300 B/edge, capped by the maxResultSize relay) so the cutover scales
    with the deployment instead of assuming one driver size.
    """
    if driver_max_edges is None:
        driver_max_edges = _default_driver_max_edges(pairs.sparkSession)
    spark = pairs.sparkSession
    # ONE action decides the path AND fetches the edges (optimization
    # round 10, guide §1.2 step 1): the former count()-then-collect()
    # shape materialized the whole upstream pair pipeline for the count,
    # wrote it to cache, then re-read the cache — a cache write plus a
    # second pass that existed only to learn n_pairs before collecting.
    # limit(cap + 1) bounds the collect at the SAME driver-memory ceiling
    # by construction (at most cap + 1 rows can arrive, whatever the pair
    # graph holds), and len(head) ≤ cap proves head IS the complete edge
    # set. cap = driver_max_edges // 2 keeps the old 2·n_pairs ≤ ceiling
    # cutover bit-exactly (floor is the conservative side on odd values).
    cap = driver_max_edges // 2
    head = pairs.select(id_a, id_b).limit(cap + 1).collect()
    take_driver = len(head) <= cap
    if take_driver:
        CC_DECISIONS.append({
            "path": "driver_union_find",
            "n_pairs": len(head),
            "driver_max_edges": driver_max_edges,
            "driver_memory": spark.conf.get("spark.driver.memory", "1g"),
            "max_result_size": spark.conf.get(
                "spark.driver.maxResultSize", "1g"
            ),
        })
        # Driver path works on the RAW pair list — union-find neither needs
        # the symmetrized edge set nor a distinct (duplicate edges are
        # no-op unions), so skipping the union+distinct shuffle saves a
        # full stage; no persist either — head already holds every pair.
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in head:
            a, b = r[0], r[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        members: dict = {}
        for node in parent:
            members.setdefault(find(node), []).append(node)
        # Hoist min(group) OUT of the per-node loop: evaluating it inside
        # the row comprehension recomputed the cluster minimum for EVERY
        # member, turning the readout O(sum |cluster|^2) — invisible at
        # sf0.1 (largest cluster ~10) but 786 s of redundant min() calls
        # at sf10, where the 430k-pair graph carries a giant component
        # (measured round 10: the whole 660 s near_dup_clusters sf10
        # reading was this line; pairs build 54 s, union-find 1.1 s).
        rows = []
        for group in members.values():
            rep = min(group)
            rows.extend((node, rep) for node in group)
        out_schema = (
            pairs.select(
                F.col(id_a).alias("doc_id"), F.col(id_a).alias("cluster_id")
            ).schema
        )
        return spark.createDataFrame(rows, out_schema)
    # Iterative fallback for genuinely large pair graphs: NOW persist —
    # `edges` reads pairs twice (both orientations) per build, and the
    # exact n_pairs count doubles as the path-decision attribution the
    # bench artifact records (the limit probe above only proved > cap).
    pairs = pairs.persist()
    CC_DECISIONS.append({
        "path": "iterative_label_prop",
        "n_pairs": pairs.count(),
        "driver_max_edges": driver_max_edges,
        "driver_memory": spark.conf.get("spark.driver.memory", "1g"),
        "max_result_size": spark.conf.get("spark.driver.maxResultSize", "1g"),
    })
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        jump = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            stepped.join(jump, stepped.label == jump.p_node, "left")
            .select(
                "node",
                "old_label",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    # labels is localCheckpoint-materialized, so the cached pair/edge blocks
    # are dead weight after convergence — release them before returning.
    edges.unpersist()
    pairs.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def fixed_centroids(dim: int, n_cells: int, seed: int = 99) -> list[list[float]]:
    """Deterministic random centroids (numpy PCG64, fixed seed) for the
    oracleable semantic-dedup variant. Production replaces these with the
    IVF coarse-quantizer's trained centroids (`similarity.ivf_topk`) — the
    operator below is indifferent to where the matrix comes from."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_cells, dim)).tolist()


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    round_to: int = 4,
    pair_impl: str = "expr",
    max_cell_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    embedding space, then drop any vector whose cosine similarity to a
    LOWER-id vector in the SAME cluster exceeds `threshold` (keep-lowest-id,
    fully deterministic). Output: one row per input vector —
    (vec_id, cell, kept 0/1, rep_id = the lowest-id vector that triggered
    the drop, itself when kept). NOTE: rep_id is the direct trigger, not a
    transitively-resolved root — in a similarity chain 1~2, 2~3 (but 1≁3),
    vector 3's rep_id is 2, which is itself dropped; a consumer that needs
    a KEPT representative per dropped vector resolves chains with the
    connected-components pass (`near_dup_clusters`) over the same pairs.

    Plan shape / 100 TB posture: cell assignment is a scalar argmax over the
    centroid matrix as ONE 2-D array literal (pure codegen scan, no UDF, no
    shuffle — the `bucket_signature` trick); the pairwise compare is a
    self-join EQUI on the cell id, so the quadratic blow-up is bounded per
    cluster (SemDeDup's whole point — n_cells grows with the corpus so
    cluster sizes stay bounded; a skewed giant cluster is handled by
    re-clustering its members, not by salting, since intra-cluster pairs are
    the semantics). Norms are precomputed per row BEFORE the pair join
    (higher-order array expressions are interpreted — the measured 3× of
    `parity_plans.embedding_cosine_near_dup` applies here too).

    Cross-engine determinism: per-centroid similarities are rounded to 6 dp
    BEFORE the argmax and pair similarities to `round_to` before the
    threshold cut, so a last-ulp summation difference cannot flip a cell
    assignment or the keep/drop decision; argmax ties break to the lowest
    centroid index on both engines.
    """
    from crz_scraper_spark.operators.similarity import (
        _dot,
        _norm,
        matrix_lit,
    )

    v = F.col("__v")
    # Expression argmax costs O(n_cells) interpreted array ops per row —
    # right for the oracled fixed-cell query (n_cells=8, SQL-reproducible),
    # wrong once n_cells scales with the corpus: the BLAS path below does
    # ONE (batch × dim) @ (dim × n_cells) matrix multiply per Arrow batch.
    # Both round to 6 dp before the argmax with lowest-index tie-break;
    # assignment agreement is asserted empirically in tests (BLAS pairwise
    # summation can differ in the last ulp, absorbed by the round). The
    # sims tree is built only on the branch that uses it (r10: building
    # the centroid literal costs py4j calls proportional to n_cells × dim
    # — wasted work on the BLAS branch, and `matrix_lit` collapses it to
    # one parsed expression on the expression branch).
    if len(centroids) > 16:
        assign = _assign_cells_numpy_udf(centroids)
        base = emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).withColumns({"cell": assign("__v"), "__nrm": _norm(v)})
    else:
        sims = F.transform(
            matrix_lit(centroids),
            lambda c: F.round(_dot(v, c) / (_norm(v) * _norm(c)), 6),
        )
        base = emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).withColumns(
            {
                "cell": (
                    F.array_position(sims, F.array_max(sims)) - 1
                ).cast("int"),
                "__nrm": _norm(v),
            }
        )
    # base feeds BOTH self-join sides AND the final result join — persist
    # so the scan + cell assignment + norms compute once, not three times
    # (at scaled n_cells the assignment is the third of the cost).
    base = base.persist()
    if pair_impl == "gram":
        # Schema must follow the id column's actual type — hardcoding
        # bigint would miscast/fail for string or decimal ids that the
        # expression path accepts.
        id_type = base.schema["vec_id"].dataType.simpleString()
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"semantic_dedup(pair_impl='gram'): id column {id_col!r} "
                f"has type {id_type}; the BLAS gram path requires an "
                f"integral id (numpy comparison + min semantics). Use "
                f"pair_impl='expr' or map ids to integers first."
            )
        # Per-cell BLAS gram matrix instead of the pair self-join: one
        # applyInPandas group per cell computes all within-cell cosines as
        # (X @ X.T) / outer(norms) in vectorized BLAS — same dot-first,
        # divide-then-round form as the expression path (last-ulp pairwise
        # vs sequential summation absorbed by the round; parity asserted
        # empirically in tests). Memory is O(cell_size²) per task, which
        # is exactly the quantity SemDeDup's n_cells ∝ corpus bounds —
        # the path for the scaled variant, while the oracled fixed-cell
        # query keeps the SQL-reproducible expression join.
        pair_schema = f"vec_id {id_type}, __rep {id_type}"
        tau, rt = threshold, round_to

        def _cell_drops(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            ids = pdf["vec_id"].to_numpy()
            x = np.stack(pdf["__v"].to_numpy())  # (c, dim)
            nrm = pdf["__nrm"].to_numpy()
            sims = np.round((x @ x.T) / np.outer(nrm, nrm), rt)
            lo = ids[:, None] < ids[None, :]  # a.vec_id < b.vec_id
            ai, bi = np.nonzero((sims >= tau) & lo)
            if len(bi) == 0:
                return pd.DataFrame({"vec_id": [], "__rep": []}).astype(
                    {"vec_id": "int64", "__rep": "int64"}
                )
            out = pd.DataFrame({"vec_id": ids[bi], "__rep": ids[ai]})
            return out.groupby("vec_id", as_index=False)["__rep"].min()

        if max_cell_rows is None:
            drops = (
                base.select("vec_id", "cell", "__v", "__nrm")
                .groupBy("cell")
                .applyInPandas(lambda _key, pdf: _cell_drops(pdf), pair_schema)
                .groupBy("vec_id")
                .agg(F.min("__rep").alias("__rep"))
            )
        else:
            # MEGA-CELL-SAFE pair phase. One-task-per-cell dies when a cell
            # is oversized (a genuine dense direction in embedding space —
            # boilerplate docs, or drifted replicas): a 50k-row cell means
            # one task allocating a 20 GB gram matrix. Instead, rows of a
            # cell with c > max_cell_rows are hashed into
            # nb = ceil(c / max_cell_rows) blocks and every UNORDERED block
            # pair (bi ≤ bj) becomes its own applyInPandas group: each row
            # explodes over the nb partner blocks (group key
            # (cell, min(blk, other), max(blk, other)), so a pair group
            # receives each side's rows exactly once), the group computes
            # the cross-block gram (bi < bj: only cross pairs count —
            # within-block pairs belong to the (bi, bi) group), and memory
            # is bounded at O(max_cell_rows²) regardless of cell size. The
            # within-cell O(c²) similarity work is SemDeDup's semantics —
            # this distributes it over nb·(nb+1)/2 bounded tasks instead of
            # serializing it into one unbounded one. Healthy cells have
            # nb = 1 and take the identical single-group path. Replication
            # cost: each row is shipped nb times (c²/max_cell_rows rows per
            # mega cell — a factor dim/max_cell_rows of the unavoidable
            # flops, i.e. noise for max_cell_rows ≥ dim).
            counts = base.groupBy("cell").agg(
                F.count(F.lit(1)).alias("__c")
            )
            nb_col = F.ceil(F.col("__c") / F.lit(max_cell_rows)).cast("int")
            tagged = (
                base.select("vec_id", "cell", "__v", "__nrm")
                .join(F.broadcast(counts.select("cell", nb_col.alias("__nb"))),
                      "cell")
                .withColumn(
                    "__blk",
                    F.pmod(F.xxhash64(F.col("vec_id")), F.col("__nb")).cast(
                        "int"
                    ),
                )
            )
            expanded = tagged.select(
                "vec_id",
                "cell",
                "__v",
                "__nrm",
                "__blk",
                F.explode(
                    F.sequence(F.lit(0), F.col("__nb") - 1)
                ).alias("__other"),
            ).select(
                "vec_id",
                "cell",
                "__v",
                "__nrm",
                "__blk",
                F.least(F.col("__blk"), F.col("__other")).alias("__bi"),
                F.greatest(F.col("__blk"), F.col("__other")).alias("__bj"),
            )

            def _block_drops(pdf: pd.DataFrame) -> pd.DataFrame:
                import numpy as np

                ids = pdf["vec_id"].to_numpy()
                x = np.stack(pdf["__v"].to_numpy())
                nrm = pdf["__nrm"].to_numpy()
                blk = pdf["__blk"].to_numpy()
                sims = np.round((x @ x.T) / np.outer(nrm, nrm), rt)
                mask = ids[:, None] < ids[None, :]
                if blk.min() != blk.max():
                    # bi < bj group: within-block pairs are the
                    # (bi, bi)/(bj, bj) groups' job — count cross only.
                    mask &= blk[:, None] != blk[None, :]
                ai, bi = np.nonzero((sims >= tau) & mask)
                if len(bi) == 0:
                    return pd.DataFrame({"vec_id": [], "__rep": []}).astype(
                        {"vec_id": "int64", "__rep": "int64"}
                    )
                out = pd.DataFrame({"vec_id": ids[bi], "__rep": ids[ai]})
                return out.groupby("vec_id", as_index=False)["__rep"].min()

            drops = (
                expanded.groupBy("cell", "__bi", "__bj")
                .applyInPandas(lambda _key, pdf: _block_drops(pdf), pair_schema)
                .groupBy("vec_id")
                .agg(F.min("__rep").alias("__rep"))
            )
    else:
        a, b = base.alias("a"), base.alias("b")
        pair_sim = F.round(
            _dot(F.col("a.__v"), F.col("b.__v"))
            / (F.col("a.__nrm") * F.col("b.__nrm")),
            round_to,
        )
        drops = (
            a.join(
                b,
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .filter(pair_sim >= threshold)
            .groupBy(F.col("b.vec_id").alias("vec_id"))
            .agg(F.min(F.col("a.vec_id")).alias("__rep"))
        )
    result = base.join(drops, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("__rep").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("kept"),
        F.coalesce(F.col("__rep"), F.col("vec_id")).alias("rep_id"),
    )
    # `base` is persisted because it feeds the self-join sides AND the
    # result join; a lazy return can't unpersist it here without losing
    # the sharing. Expose the handle so long-lived sessions can release
    # it after materializing (`result._crz_cached.unpersist()`); bench
    # and tests clear the cache between queries.
    result._crz_cached = base
    return result


def _assign_cells_numpy_udf(centroids: list[list[float]]):
    """Arrow-batched cell assignment: cosine argmax via one BLAS matrix
    multiply per batch. Mirrors the expression argmax's form — dot first,
    THEN divide by the norm product, 6-dp round before the argmax, lowest
    index on ties (np.argmax returns the first maximum). BLAS pairwise
    summation can differ from the expression's sequential sum in the last
    ulp, which the 6-dp round absorbs (assignment parity is asserted
    empirically in tests); deterministic run-to-run either way."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
    cm_nrm = np.linalg.norm(cm, axis=1)  # (n_cells,)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())  # (batch, dim)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)  # (batch, 1)
        sims = np.round((mat @ cm.T) / (nrm * cm_nrm[None, :]), 6)
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return assign


def minhash_incremental(
    spark,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    hash: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup maintenance — the daily-ingest form of
    `minhash_dedup`: signatures are computed for the NEW batch only
    (map-only scan over the increment), appended to the persisted
    signature store, and the batch is compared against store ∪ batch via
    the same banded-LSH candidate join. The corpus-wide shingling pass
    never re-runs: daily cost is O(increment); the store carries
    `num_hashes × 8` bytes/doc (GBs at 100 TB corpus scale — the
    incremental_daily_rollup discipline applied to dedup).

    Maintenance semantics (the append IS the operation; the returned pair
    DataFrame is the advisory report):
    - idempotent: ids already present in the store are never re-appended,
      so re-running a batch cannot duplicate store rows (duplicates would
      fan out every future pair join);
    - atomic commit: each batch is written to a dot-prefixed staging dir
      (invisible to parquet listings) and RENAMED into the store as
      `batch-<uuid>/` — one FS rename, so a crashed or partially-failed
      run leaves only an invisible staging dir, never half a batch that
      the anti-join would treat as committed;
    - single-writer: concurrent callers on the same store are not
      coordinated (two simultaneous runs can each commit the same ids) —
      serialize batches per store, the daily-ingest cadence this models;
    - store listing and snapshot pinning go through the Hadoop FileSystem
      API, so hdfs:///s3a:// stores work — a driver-local glob would
      silently see an empty store and skip the entire history;
    - the pair plan reads signatures back from the pinned store files
      (no .persist() leak; the data was just written, the read is local).

    Returns (id_new, id_other, est_jaccard): `id_new` from this batch,
    `id_other` any earlier-stored or same-batch lower-id document. Assumes
    ingest ids are monotonically increasing across batches (daily ingest's
    natural property) — the `other < new` direction filter relies on it.
    """
    # One store = one hash family, forever: a store built with xxhash64
    # signatures later fed md5 signatures would pass the id anti-join
    # silently and report meaningless est_jaccard values from
    # cross-family signature comparisons. The first batch records the
    # family in a `_family` marker; every later batch must match. The
    # marker names are those of the per-family builders that wrote the
    # stores before `hash=` existed, so existing stores still open.
    _check_hash(hash)
    family = {"xxhash64": "minhash_signatures", "md5": "minhash_signatures_md5"}
    _store_family_check(
        spark, store_path, f"{family[hash]}:h{num_hashes}:n{shingle_n}"
    )
    sig_new = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n, hash
    )
    sig_all, sig_batch = _store_append(
        spark, sig_new, new_docs, id_col, store_path
    )
    rows = num_hashes // bands
    cand = (
        _band_keys(sig_batch, id_col, bands, rows, out_id="id_new")
        .join(
            _band_keys(sig_all, id_col, bands, rows, out_id="id_other"),
            ["band", "bh"],
        )
        .filter(F.col("id_other") < F.col("id_new"))
        .select("id_new", "id_other")
        .distinct()
    )
    return _verify_pairs(
        cand, sig_batch, sig_all, id_col, ("id_new", "id_other"),
        num_hashes, threshold,
    )


def _store_append(
    spark, rows: DataFrame, new_docs: DataFrame, id_col: str, store_path: str
) -> tuple[DataFrame, DataFrame]:
    """Commit the batch's per-document `rows` to an incremental store,
    skipping ids already stored (idempotent re-runs), and return
    (store ∪ batch, the batch's stored rows) read back from the committed
    files."""
    old_files = _store_list(spark, store_path)
    if old_files:
        rows = rows.join(
            spark.read.parquet(*old_files).select(id_col), id_col, "left_anti"
        )
    _store_commit(spark, rows, store_path)
    stored = spark.read.parquet(*_store_list(spark, store_path))
    batch = stored.join(new_docs.select(id_col).distinct(), id_col, "left_semi")
    return stored, batch


def _store_list(spark, store_path: str) -> list[str]:
    """Committed signature-store paths: batch-* subdirs (the atomic-commit
    layout) plus legacy top-level part files. Dot/underscore-prefixed
    entries (in-flight staging dirs, _SUCCESS) are invisible. Hadoop
    FileSystem API, so hdfs:///s3a:// stores work."""
    from crz_scraper_spark.operators.upsert import _hadoop_fs

    fs, jvm = _hadoop_fs(spark, store_path)
    p = jvm.org.apache.hadoop.fs.Path(store_path)
    if not fs.exists(p):
        return []
    return sorted(
        f.getPath().toString()
        for f in fs.listStatus(p)
        if f.getPath().getName().startswith("batch-")
        or f.getPath().getName().endswith(".parquet")
    )


def _store_family_check(spark, store_path: str, family: str) -> None:
    """Hash-family guard for an incremental signature store. First call
    writes the family string (fn name + signature-shaping params) to a
    `_family` marker file (underscore prefix ⇒ invisible to listings and
    parquet reads); later calls assert it matches, so one store can never
    silently mix signature families or widths across batches."""
    from crz_scraper_spark.operators.upsert import _hadoop_fs

    fs, jvm = _hadoop_fs(spark, store_path)
    marker = jvm.org.apache.hadoop.fs.Path(store_path, "_family")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            existing = stream.readUTF()
        finally:
            stream.close()
        if existing != family:
            raise ValueError(
                f"signature store at {store_path} was built with family "
                f"{existing!r}; this batch supplies {family!r}. Mixing "
                f"families makes est_jaccard meaningless — use a new "
                f"store path or the original hash/params."
            )
    else:
        out = fs.create(marker, True)
        try:
            out.writeUTF(family)
        finally:
            out.close()


def _store_commit(spark, df: DataFrame, store_path: str) -> None:
    """Two-phase batch commit: write under an invisible dot-prefixed
    staging name, then a single FS rename makes it visible. A failure
    before the rename leaves only the dot-dir, which no listing or
    parquet read sees. Single-writer per store (daily-ingest cadence)."""
    import uuid

    from crz_scraper_spark.operators.upsert import _hadoop_fs

    batch_id = uuid.uuid4().hex
    fs, jvm = _hadoop_fs(spark, store_path)
    staging = jvm.org.apache.hadoop.fs.Path(store_path, f".staging-{batch_id}")
    # REBALANCE before the write (r10, guide §6): a map-only signature
    # build inherits the input's partitioning, so every daily batch wrote
    # one near-empty file per input partition (32 KB-sized files per
    # commit locally; thousands/day at production increments) and every
    # store read paid the per-file listing + open cost for all of them.
    # The AQE rebalance sizes output files to advisoryPartitionSizeInBytes
    # — one file for KB-scale batches, properly split for GB-scale daily
    # increments — without a hand-tuned coalesce constant. Content is
    # unchanged; store reads union whatever files exist.
    df.hint("rebalance").write.mode("overwrite").parquet(staging.toString())
    committed = jvm.org.apache.hadoop.fs.Path(store_path, f"batch-{batch_id}")
    if not fs.rename(staging, committed):
        raise RuntimeError(
            f"signature store: commit rename failed for {committed}"
        )


def simhash_incremental(
    spark,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental SimHash maintenance — `minhash_incremental`'s twin for
    the second hash family: the new batch's 60-bit portable-md5 simhashes
    are computed (map-only over the increment), committed to the persisted
    store atomically (same staging+rename protocol, same idempotent
    anti-join, same single-writer assumption), and the batch is compared
    against store ∪ batch via the 15-bit pigeonhole block equi-join
    (4 blocks cover Hamming ≤ 3) + exact bit_count verify. Daily cost is
    O(increment); the store carries 8 bytes/doc.

    Fully oracle-able: every step (token md5, bit votes, block keys,
    Hamming) is reproducible in ANSI SQL — `simhash_incremental_md5` in
    the registry pins it against DuckDB.

    Returns (id_new, id_other, hamming): `id_new` from this batch,
    `id_other` any earlier-stored or same-batch lower-id document.
    """
    # Marker pinned to the pre-`hash=` name so existing stores still open.
    _store_family_check(spark, store_path, "simhash_md5:60")
    sh_all, sh_batch = _store_append(
        spark, simhash(new_docs, id_col, text_col, "md5"), new_docs, id_col,
        store_path,
    )
    return _simhash_pairs(
        sh_all, sh_batch, id_col, "md5", ("id_other", "id_new"), max_hamming
    ).select("id_new", "id_other", "hamming")


# ---------------------------------------------------------------------------
# Containment near-dup: rare-shingle blocking.
#
# Jaccard-based near-dup (MinHash above) systematically MISSES the
# asymmetric case a training-data pipeline cares about most: a short
# document embedded verbatim inside a much longer one has Jaccard
# |A∩B|/|A∪B| ≈ |A|/|B| → 0 even at containment |A∩B|/min(|A|,|B|) = 1
# (Broder 1997 defines both resemblance AND containment for exactly this
# reason). This operator detects high-containment pairs without all-pairs
# work via RARE-SHINGLE BLOCKING: a pair with containment >= c shares at
# least c·min_size shingles, so if the smaller doc has ANY globally-rare
# shared shingle, joining on each doc's K rarest shingles (document
# frequency capped at max_df) surfaces the pair. Work bounds:
#   - one DF aggregation over the exploded shingle table (shuffle on
#     shingle — uniformly distributed keys);
#   - K rarest per doc = a per-doc row_number window (partition key = doc,
#     bounded partitions, deterministic (df, shingle) tie-break);
#   - the blocking join emits <= K · max_df candidates PER DOC — linear in
#     corpus size by construction, never O(n²);
#   - exact verification joins only candidate docs' shingles.
# Recall is bounded, not perfect: a contained doc whose every shingle has
# df > max_df (pure boilerplate) is missed — at that point the
# line/span-level dedup (`line_dedup_reconstruct`, `dup_span_detect`) is
# the right tool, and `max_df` is the knob that trades candidate volume
# for recall.
# ---------------------------------------------------------------------------


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    rare_k: int = 3,
    max_df: int = 20,
    min_containment_ppm: int = 800_000,
) -> DataFrame:
    """Doc pairs with shingle containment >= threshold, rare-shingle blocked.

    Returns ``(id_a, id_b, inter_cnt, min_sz, containment_ppm)`` with
    ``id_a < id_b``, ppm = floor(|A∩B| · 1e6 / min(|A|, |B|)) — integer
    ranks plus ONE IEEE division, so the result hash-matches a DuckDB twin.
    """
    t = F.col("toks")
    shingle = F.when(
        F.size(t) >= shingle_words,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (shingle_words - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(shingle_words)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        docs.select(id_col, tokens_nonempty(text_col).alias("toks"))
        .select(F.col(id_col).alias("doc"), F.explode(shingle).alias("shingle"))
        .persist()
    )
    # Populate the cache eagerly: the shingle table feeds FIVE branches of
    # one plan (sizes, df, rare, candidate probe, two verify probes), and
    # AQE runs independent shuffle-map stages concurrently — without this
    # count the tokenize+shingle build runs once per concurrent branch
    # before any cache block exists (measured 19.4 s -> ~10 s at sf0.1).
    sh.count()
    try:
        # Per-doc shingle-set state for the VERIFICATION phase: the set of
        # 64-bit shingle hashes plus the exact (string-distinct) size. The
        # former exact-verify shape exploded every candidate pair by the
        # full shingle list of one side and shuffled ~300M (pair, shingle
        # STRING) rows at sf10 (~17 GB — past this box's page cache, hence
        # the 8.3x sf3->sf10 slope measured in round 10: the inter stage
        # alone read 26.7 s -> 224.9 s while candidates grew 3.67x).
        # Intersecting per-doc hash ARRAYS instead ships each doc's set
        # once (doc count rows, ~8 B/shingle), the wide pair x (two
        # arrays) intermediate is pipelined inside the join stage, and the
        # groupBy shuffle disappears — size(array_intersect(...)) IS the
        # intersection count. xxhash64 stands in for the shingle string on
        # the verify/candidate paths only; a 2^-64 collision could
        # overcount one shared shingle (the same accepted tradeoff as the
        # hash-seeded LSH tiers), while the string-based DuckDB oracle
        # hash-matches in practice because no collision has a realistic
        # chance of occurring at any tested scale.
        arrs = sh.groupBy("doc").agg(
            F.collect_set(F.xxhash64("shingle")).alias("sids"),
            F.count("*").alias("sz"),
        )
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        rk = F.row_number().over(
            Window.partitionBy("doc").orderBy("df", "shingle")
        )
        rare = (
            sh.join(dfreq, "shingle")
            .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
            .withColumn("rk", rk)
            .filter(F.col("rk") <= rare_k)
            .select("doc", F.xxhash64("shingle").alias("sid"))
        )
        # Seed from BOTH directions: every doc's K rarest shingles probe the
        # full shingle table, and the (seed, match) pair is normalized via
        # least/greatest before distinct. A one-directional join keyed on the
        # lower id would drop any pair where only the HIGHER-id doc's rare
        # shingles are shared — e.g. a contained doc with the higher id whose
        # host's K rarest df∈[2,max_df] shingles all come from OTHER overlaps.
        # The blocking join keys on the 8-byte sid, not the string (a
        # collision-spurious candidate is removed by exact verification).
        cand = (
            rare.select(F.col("doc").alias("d1"), "sid")
            .join(
                sh.select(
                    F.col("doc").alias("d2"), F.xxhash64("shingle").alias("sid")
                ),
                "sid",
            )
            .filter(F.col("d1") != F.col("d2"))
            .select(
                F.least("d1", "d2").alias("id_a"),
                F.greatest("d1", "d2").alias("id_b"),
            )
            .distinct()
        )
        ppm = F.floor(
            F.col("inter_cnt").cast("double")
            * F.lit(1000000.0)
            / F.least("a_sz", "b_sz").cast("double")
        ).cast("bigint")
        out = (
            cand.join(
                arrs.select(
                    F.col("doc").alias("id_a"),
                    F.col("sids").alias("a_sids"),
                    F.col("sz").alias("a_sz"),
                ),
                "id_a",
            )
            .join(
                arrs.select(
                    F.col("doc").alias("id_b"),
                    F.col("sids").alias("b_sids"),
                    F.col("sz").alias("b_sz"),
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("a_sids", "b_sids"))
                .cast("bigint")
                .alias("inter_cnt"),
                "a_sz",
                "b_sz",
            )
            .select(
                "id_a",
                "id_b",
                "inter_cnt",
                F.least("a_sz", "b_sz").alias("min_sz"),
                ppm.alias("containment_ppm"),
            )
            .filter(F.col("containment_ppm") >= min_containment_ppm)
            .orderBy("id_a", "id_b")
        )
        out = out.localCheckpoint()
    finally:
        sh.unpersist()
    return out
