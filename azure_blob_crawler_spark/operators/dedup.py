"""Deduplication suite for training-data pipelines (engine-side additions —
the reference has no dedup; its at-least-once queue makes duplicates an
accepted hazard, SURVEY.md §2.12).

- exact_dedup          — hash-groupBy on a content fingerprint (one shuffle)
- minhash_signatures / minhash_lsh_pairs / minhash_dedup
                       — shingle → minhash → band-bucket join → verified
                         Jaccard. FULLY Catalyst-native: shingling via
                         transform/sequence, minhash via array_min over
                         xxhash64(seed, shingle). No Python in the plan.
- simhash_signatures_native / simhash_pairs
                       — 64-bit simhash (md5 token hashes, numpy bit
                         voting), Hamming candidates via band blocking
- embedding_near_dups  — cosine near-dup via random-hyperplane LSH buckets
                         + in-bucket verification

Scale shape: every candidate generator is a bucket-equi-join (shuffle on
band hash), never an O(n²) cross join; verification only touches bucket
cohabitants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from azure_blob_crawler_spark.functions.text import TOKEN_PATTERN, fingerprint
from azure_blob_crawler_spark.parallel import fan_out


# --- exact ---------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative of each exact-content group
    (whitespace/case-normalized md5)."""
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fp")
    )


# --- minhash LSH ------------------------------------------------------------


def shingles(col, k: int = 5):
    """Word k-shingles as an array column (native: slice over a sequence)."""
    words = F.split(F.lower(F.trim(col)), r"\s+")
    n = F.size(words)
    return F.when(n < k, F.array(F.array_join(words, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        )
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 64, shingle_k: int = 5
) -> DataFrame:
    """(id, sig: array<long>[n_hashes]) — minhash over word shingles,
    all in the JVM: each shingle string is hashed ONCE (h = xxhash64(s)),
    then the per-seed family derives from the 8-byte base hash
    (h_i(s) = xxhash64(i, h)), sig[i] = min over shingles.

    r6 shape change (same minhash semantics, different — still uniform and
    seed-independent — hash family): the former form evaluated
    ``xxhash64(i, s)`` for all 64 seeds directly on a Catalyst-built
    shingle STRING array, so every ~30-byte shingle was hashed 64× and the
    plan carried 64 separate array_min(transform(...)) expressions whose
    whole-stage codegen cost ~3 s of compile on FIRST execution (the frozen
    bench times exactly that first execution — guide §1.2: per-task work
    AND plan cost both count); even the slimmed single-base-hash JVM form
    kept a multi-second per-plan analysis/compile term from the shingling
    HOF tree. The production tier is now ONE Arrow-vectorized pandas UDF
    (guide §4.2): word shingles built in Python (C-speed split/join,
    whitespace semantics matching the Catalyst twin for ASCII corpora),
    one zlib.crc32 base hash per shingle, and the 64 per-seed values
    derived via a vectorized splitmix64 sweep in numpy — exact integer
    arithmetic, (64 × n_shingles) uint64 ops per row, ~10-node plan.
    Recall is family-independent (the band-miss math in q_minhash_recall's
    docstring is unchanged) and the recall oracle + tests/test_dedup.py pin
    it against exact Jaccard; the md5 oracle tier below stays fully
    Catalyst-native (its exact values are dialect-paired with DuckDB).

    fan_out first: the per-shingle hashing over a single-row-group scan
    would otherwise run on one task (guide §2.5; r6: 5.2 s → 0.65 s at
    sf0.1)."""
    from pyspark.sql.types import ArrayType

    # splitmix64 finalizer over (base + i·golden): full-avalanche mixing of
    # the seed lane, all modular uint64 (numpy wraps unsigned arithmetic)
    golden = np.uint64(0x9E3779B97F4A7C15)
    seeds = (np.arange(n_hashes, dtype=np.uint64) * golden).reshape(-1, 1)
    k = shingle_k

    @F.pandas_udf(ArrayType(LongType()))
    def min_sig(texts: pd.Series) -> pd.Series:
        import zlib

        out = []
        for t in texts:
            words = (t or "").lower().split()
            if len(words) < k:
                sh = [" ".join(words)]
            else:
                sh = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
            base = np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in sh),
                dtype=np.uint64, count=len(sh),
            )
            x = base + seeds  # (n_hashes, n_shingles)
            x ^= x >> np.uint64(30)
            x *= np.uint64(0xBF58476D1CE4E5B9)
            x ^= x >> np.uint64(27)
            x *= np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
            out.append(x.view(np.int64).min(axis=1))
        return pd.Series(out)

    return fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), min_sig(F.col(text_col)).alias("sig")
    )


def minhash_signatures_native(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 64, shingle_k: int = 5
) -> DataFrame:
    """Dialect-paired minhash signatures: h_i(s) = first 32 bits of
    md5(i || '|' || s), sig[i] = min over shingles.

    md5 is bit-identical across engines (xxhash64 exists only in Spark), and
    32-bit values keep the hex→bigint cast ANSI-safe in both. The 32-bit min
    has slightly higher collision bias than the 64-bit production hasher —
    this variant is the ORACLE tier (``minhash_sigs_sql`` is its DuckDB
    twin); ``minhash_signatures`` stays the production default."""

    def hasher(seed: int):
        return lambda s: F.conv(
            F.substring(F.md5(F.encode(F.concat(F.lit(f"{seed}|"), s), "UTF-8")), 1, 8),
            16,
            10,
        ).cast("long")

    with_sh = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("__sh")
    )
    sig = F.array(
        *[F.array_min(F.transform(F.col("__sh"), hasher(i))) for i in range(n_hashes)]
    )
    return with_sh.select("id", sig.alias("sig"))


def minhash_sigs_sql(
    expr: str, id_expr: str, from_clause: str, n_hashes: int = 64, shingle_k: int = 5
) -> str:
    """DuckDB twin of ``minhash_signatures_native``: SELECT (id, sig) over
    ``from_clause``."""
    k = shingle_k
    words = f"regexp_split_to_array(lower(trim({expr})), '\\s+')"
    sh = (
        f"case when len(w) < {k} then [array_to_string(w, ' ')] "
        f"else list_transform(range(1, len(w) - {k} + 2), "
        f"i -> array_to_string(w[i:i+{k - 1}], ' ')) end"
    )
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> ('0x' || substr(md5('{i}|' || s), 1, 8))::bigint))"
        for i in range(n_hashes)
    )
    return (
        f"select id, [{mins}] as sig from ("
        f"select id, {sh} as sh from ("
        f"select {id_expr} as id, {words} as w from {from_clause}))"
    )


def minhash_dedup_sql(
    from_clause: str,
    id_expr: str = "doc_id",
    text_expr: str = "text",
    out_cols: str = "doc_id, lang, n_chars",
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of the FULL ``minhash_dedup(hasher='md5')`` semantics:
    md5 signatures → identical-signature collapse (min id survives) → banded
    candidates over the representatives → estimated-Jaccard ≥ threshold
    losers → anti-join. The band join keys on the band's value string where
    Spark keys on xxhash64 of it — identical semantics modulo a 64-bit hash
    collision."""
    rpb = n_hashes // n_bands
    sigs = minhash_sigs_sql(text_expr, id_expr, from_clause, n_hashes, shingle_k)
    bands = ", ".join(
        f"({b}, array_to_string(sig[{b * rpb + 1}:{b * rpb + rpb}], ','))"
        for b in range(n_bands)
    )
    return f"""
        with sigs as ({sigs}),
        classed as (
            select id, sig,
                   row_number() over (partition by array_to_string(sig, ',')
                                      order by id) as rn
            from sigs
        ),
        exact_losers as (select id from classed where rn > 1),
        reps as (select id, sig from classed where rn = 1),
        banded as (
            select id, sig, bk from reps,
                 unnest([{bands}]) as t(bk)
        ),
        cand as (
            select distinct a.id as id_a, b.id as id_b, a.sig as sa, b.sig as sb
            from banded a join banded b
              on a.bk = b.bk and a.id < b.id
        ),
        lsh_losers as (
            select id_b as id from cand
            where len(list_filter(range(1, {n_hashes} + 1), i -> sa[i] = sb[i]))
                  / {float(n_hashes)} >= {threshold}
        ),
        losers as (select id from exact_losers union select id from lsh_losers)
        select {out_cols} from {from_clause}
        where {id_expr} not in (select id from losers)
    """


def minhash_lsh_pairs(
    sigs: DataFrame, n_bands: int = 16, n_hashes: int = 64, verify_threshold: float = 0.5
) -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature-estimated
    Jaccard. Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    Caller owns caching of ``sigs``: it is still read by both sides of the
    verify join — materialize it around this call (``minhash_dedup`` does).
    The banded (band, bucket, id) projection itself is checkpointed here:
    the self-join would otherwise evaluate the explode+hash pass once per
    side (r6 plan audit), and the checkpoint is ∝ ids × n_bands of 3
    longs."""
    rows_per_band = n_hashes // n_bands
    bands = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("bucket"),
            ),
        )
    )
    # band join carries ids only — the 64-long signatures would otherwise be
    # shuffled once per band per side; they re-attach to the (much smaller)
    # deduplicated candidate set below
    banded = sigs.select("id", bands.alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ).localCheckpoint(eager=True)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(float(n_hashes))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= verify_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 64,
    n_bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Drop near-duplicates: every doc that pairs (above threshold) with a
    lower-id doc is removed (greedy union toward the minimum id).

    Degenerate-bucket guard (round-1 residual risk): boilerplate-heavy
    corpora put whole classes of IDENTICAL documents into one LSH bucket,
    making the in-bucket verify quadratic in the class size. Identical
    signatures are collapsed first — every non-minimum member of an
    identical-signature class is a loser outright, and only the class
    representative enters the band join — so a corpus of N copies costs
    O(N), not O(N²), and the final kept set is unchanged (each collapsed
    member would have paired with its class minimum anyway).

    Persist discipline: signatures are cached for the passes inside
    ``minhash_lsh_pairs`` and released once the (much smaller) loser set is
    materialized — no executor-storage leak across repeated calls.

    ``hasher``: 'xxhash64' (production, 64-bit) or 'md5' (dialect-paired
    32-bit tier whose full dedup semantics the DuckDB oracle
    ``minhash_dedup_sql`` reproduces value-for-value)."""
    if hasher not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hasher: {hasher}")
    sigfn = minhash_signatures_native if hasher == "md5" else minhash_signatures
    sigs = sigfn(df, text_col, id_col, n_hashes, shingle_k)
    # collapse window keyed by (hash(sig), sig): the 64-bit hash
    # short-circuits nearly every comparator call (the full-array key
    # alone cost q_minhash_dedup +44% at sf0.1); keeping sig in the key
    # makes the collapse exact even under a hash collision.
    # The classed table is materialized ONCE (eager localCheckpoint, which
    # also materializes the signature pass feeding it): exact_losers, the
    # band explode and both verify-join sides all read it, and the former
    # persist-only discipline re-ran the window (≈0.5 s/pass at sf0.1) for
    # each consumer.
    w = Window.partitionBy(F.xxhash64("sig"), "sig").orderBy("id")
    classed = sigs.withColumn("__rn", F.row_number().over(w)).localCheckpoint(eager=True)
    exact_losers = classed.filter(F.col("__rn") > 1).select("id")
    reps = classed.filter(F.col("__rn") == 1).drop("__rn")
    pairs = minhash_lsh_pairs(reps, n_bands, n_hashes, threshold)
    losers = (
        pairs.select(F.col("id_b").alias("id"))
        .unionByName(exact_losers)
        .distinct()
        # materialize before the anti-join so the checkpointed classed/banded
        # intermediates can be dropped by the context cleaner with the plan
        .localCheckpoint(eager=True)
    )
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


# --- simhash -------------------------------------------------------------------


def simhash_signatures_native(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Catalyst-native 64-bit simhash with an exact DuckDB twin
    (``simhash_native_sql``), used as the oracle-checkable signature surface.

    Token hash = md5 hex split into two 32-bit halves (md5 is bit-identical
    across engines, unlike xxhash64/crc32 which only one engine exposes).
    Each half votes 32 bits; the signed 64-bit signature packs them as
    ``(hi - 2^31) * 2^32 + lo`` — the uniform bit-63 flip keeps every
    pairwise hamming distance identical to the unsigned packing."""
    # no fan_out here: the numpy voting below makes the per-row cost small,
    # and splitting a few hundred oracle-tier rows across cores×2 pandas-UDF
    # tasks costs more in per-task Arrow round-trips than it saves (r6
    # measurement: 3.7 s vs 2.5 s in-bench). Heavy-corpus callers own their
    # partitioning.
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)
    md5s = F.transform(toks, lambda t: F.md5(F.encode(t, "UTF-8")))
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(md5s, lambda m: F.conv(F.substring(m, 1, 8), 16, 10).cast("long")).alias("h1"),
        F.transform(md5s, lambda m: F.conv(F.substring(m, 9, 8), 16, 10).cast("long")).alias("h2"),
    )

    # Bit voting + packing as a vectorized numpy pandas UDF over the two
    # md5-half arrays. The md5 token hashes stay Catalyst-native (that is
    # the dialect-paired surface the DuckDB oracle reproduces); the voting
    # is pure exact-integer arithmetic — counts[b] = |{v : bit b set}|,
    # vote iff 2·counts[b] > n, pack (hi − 2³¹)·2³² + lo — identical to
    # the former 64-filter column expression, whose whole-stage codegen
    # blob cost ~2.5 s of compile per fresh plan (r6: sigs 3.25 s cold vs
    # 0.39 s warm) and whose interpreted HOF evaluation dominated the warm
    # path too.
    @F.pandas_udf(LongType())
    def pack_votes(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        out = np.empty(len(h1s), dtype=np.int64)
        b32 = np.arange(32, dtype=np.uint64)
        w = 1 << np.arange(32, dtype=np.int64)
        for i in range(len(h1s)):
            a = np.asarray(h1s.iloc[i], dtype=np.uint64)
            b = np.asarray(h2s.iloc[i], dtype=np.uint64)
            n = len(a)
            if n:
                c1 = ((a[:, None] >> b32) & 1).sum(axis=0)
                c2 = ((b[:, None] >> b32) & 1).sum(axis=0)
                hi = int((w * (c1 * 2 > n)).sum())
                lo = int((w * (c2 * 2 > n)).sum())
            else:
                hi = lo = 0
            out[i] = (hi - (1 << 31)) * (1 << 32) + lo
        return pd.Series(out)

    return base.select("id", pack_votes("h1", "h2").alias("sim"))


def simhash_native_sql(expr: str, from_clause: str) -> str:
    """DuckDB twin of ``simhash_signatures_native``: SELECT (doc_id → id,
    sim) over ``from_clause`` (which must expose doc_id and ``expr``)."""
    toks = f"regexp_extract_all(lower({expr}), '\\w{{1,8}}|[^\\w\\s]')"
    h1 = f"list_transform({toks}, t -> ('0x' || substr(md5(t), 1, 8))::bigint)"
    h2 = f"list_transform({toks}, t -> ('0x' || substr(md5(t), 9, 8))::bigint)"
    hi = " + ".join(
        f"(case when 2 * len(list_filter(h1, v -> ((v >> {b}) & 1) = 1)) > n "
        f"then {1 << b}::bigint else 0 end)"
        for b in range(32)
    )
    lo = " + ".join(
        f"(case when 2 * len(list_filter(h2, v -> ((v >> {b}) & 1) = 1)) > n "
        f"then {1 << b}::bigint else 0 end)"
        for b in range(32)
    )
    return (
        f"select id, (hi - {1 << 31}::bigint) * {1 << 32}::bigint + lo as sim from ("
        f"select id, ({hi}) as hi, ({lo}) as lo from ("
        f"select doc_id as id, {h1} as h1, {h2} as h2, len({toks}) as n "
        f"from {from_clause}))"
    )


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """COMPLETE near-dup pairs at hamming ≤ ``max_hamming``: the 64-bit
    signature splits into ``max_hamming + 1`` contiguous blocks, so by
    pigeonhole any pair within the bound shares at least one whole block —
    the block-equality join generates every qualifying candidate, then the
    exact popcount filter verifies. (Round-1 fix: the block count is DERIVED
    from the bound instead of fixed at 4, which was only sound for ≤ 3.)"""
    if not 0 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [0, 31] (blocks need ≥ 2 bits)")
    n_blocks = max_hamming + 1
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def block_key(b: int):
        shifted = F.shiftrightunsigned(F.col("sim"), offsets[b])
        if widths[b] >= 64:  # whole signature (max_hamming = 0): no mask fits a long
            return shifted
        return shifted.bitwiseAND(F.lit((1 << widths[b]) - 1))

    blocks = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("blk"), block_key(b).alias("key"))
                for b in range(n_blocks)
            ]
        )
    )
    banded = sigs.select("id", "sim", blocks.alias("bb")).select(
        "id", "sim", F.col("bb.blk").alias("blk"), F.col("bb.key").alias("key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        a.join(b, ["blk", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), ham.alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --- embedding near-dup ---------------------------------------------------------


def embedding_near_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 16,
    band_bits: int = 8,
    dim: int = 64,
    threshold: float = 0.95,
    seed: int = 7,
) -> DataFrame:
    """Cosine near-duplicates via BANDED random-hyperplane LSH: ``n_bands``
    independent ``band_bits``-plane signatures; a pair is a candidate if ANY
    band's bits all agree (OR across bands), then exact cosine verifies.

    Recall: a pair at angle θ survives one r-bit band with (1-θ/π)^r, so
    miss = (1-(1-θ/π)^r)^b. At the defaults (b=16, r=8) a cos=0.95 pair is
    missed with ~1.4e-4, a cos=0.99 pair with ~7e-9 — vs ~52% for round 1's
    single 16-bit band. The band join carries (band, key, id) only — still a
    bucket-equi-join, no O(n²), no Python past signature computation.
    Verified against the brute-force cosine pair oracle in
    tests/test_dedup.py::test_embedding_near_dup_recall."""
    from pyspark.sql.types import ArrayType

    from azure_blob_crawler_spark.functions.vectors import dot, norm

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_bands * band_bits)).astype(np.float64)
    bc = emb.sparkSession.sparkContext.broadcast(planes)
    weights = (1 << np.arange(band_bits, dtype=np.int64)).reshape(band_bits, 1)

    @F.pandas_udf(ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        p = bc.value
        mat = np.zeros((len(vecs), p.shape[0]), dtype=np.float64)
        for i, v in enumerate(vecs):
            if v is not None:
                arr = np.asarray(v, dtype=np.float64)[: p.shape[0]]
                mat[i, : len(arr)] = arr
        bits = (mat @ p) > 0  # (n, bands*bits)
        bits = bits.reshape(len(vecs), n_bands, band_bits)
        keys = (bits.transpose(0, 2, 1) * weights).sum(axis=1).astype(np.int64)
        return pd.Series(list(keys))

    # band join on ids only; vectors re-attach to the deduped candidate set
    # straight from the input (NOT via the signature plan — plan audit: that
    # re-evaluated the LSH UDF once per verify leg). The banded table is
    # materialized once (eager localCheckpoint): the self-join would
    # otherwise evaluate the LSH UDF + input scan once per side (r6 plan
    # audit), and the checkpoint is ∝ ids × n_bands of 3 longs.
    banded = fan_out(emb.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col).alias("id"),
        F.posexplode(band_keys(F.col(vec_col))).alias("band", "key"),
    ).localCheckpoint(eager=True)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # per-vector norm computed ONCE per id instead of once per candidate
    # pair (guide §1.2 "don't compute things you throw away": the verify
    # pass over C candidates evaluated 2C interpreted 64-element norm
    # aggregates; this evaluates N). dot/(na*nb) is the exact same double
    # arithmetic as cosine(va, vb) — norm() is a deterministic function of
    # the array — so cos_sim values are bit-identical.
    withn = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    va = withn.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = withn.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
