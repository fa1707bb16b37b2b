"""Dedup suite: exact, minhash-LSH, simhash, embedding near-dup, plus the
text-analysis functions they build on."""

from pyspark.sql import functions as F

from azure_blob_crawler_spark.functions import text as TXT
from azure_blob_crawler_spark.operators import dedup as DD


def docs_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra tail words appended here"),  # near dup of 1
        (4, "completely different content about spark shuffle partitions merge"),
        (5, "THE  QUICK   brown fox jumps over the lazy dog again and again today"),  # ws/case dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = DD.exact_dedup(docs_df(spark), "text", "doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3, 4]  # 2 and 5 collapse onto 1


def test_minhash_signature_properties(spark):
    sigs = {r["id"]: r["sig"] for r in DD.minhash_signatures(docs_df(spark), "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]  # identical text, identical signature
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3])) / len(sigs[1])
    assert agree > 0.3  # near dup shares most minhashes
    agree_far = sum(a == b for a, b in zip(sigs[1], sigs[4])) / len(sigs[1])
    assert agree_far < 0.2


def test_minhash_lsh_pairs_and_dedup(spark):
    df = docs_df(spark)
    sigs = DD.minhash_signatures(df, "text", "doc_id")
    pairs = {(r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(sigs, verify_threshold=0.4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs
    assert not any(4 in p for p in pairs)
    kept = sorted(r["doc_id"] for r in DD.minhash_dedup(df, "text", "doc_id", threshold=0.4).collect())
    assert 1 in kept and 4 in kept and 2 not in kept


def test_simhash_hamming(spark):
    sigs = DD.simhash_signatures_native(docs_df(spark), "text", "doc_id")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in DD.simhash_pairs(sigs, max_hamming=10).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs


def test_embedding_near_dups_recovers_planted(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(50)]
    rows += [(1000 + i, rows[i][1]) for i in range(10)]  # planted exact dups
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in DD.embedding_near_dups(emb, threshold=0.99).collect()}
    assert {(i, 1000 + i) for i in range(10)} <= pairs


def test_embedding_near_dup_recall_graded(spark):
    """Round-1 fix check: GRADED near-dups (cos in [0.95, 1.0), not just
    exact copies) must be recovered — the single-band LSH missed ~half."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 64))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    for i in range(40):
        v = base[i] / np.linalg.norm(base[i])
        noise = rng.standard_normal(64)
        n = noise - (noise @ v) * v
        n /= np.linalg.norm(n)
        theta = rng.uniform(0.02, 0.25)  # cos ∈ (0.969, 0.9998)
        w = np.cos(theta) * v + np.sin(theta) * n
        rows.append((2000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_near_dups(emb, threshold=0.95).collect()
    }
    # brute-force truth over the same float32-rounded vectors
    ids = [r[0] for r in rows]
    mat = np.array([np.asarray(r[1], dtype=np.float32) for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    truth = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.951  # margin off the exact threshold boundary
    }
    assert truth, "fixture must plant pairs above threshold"
    missed = truth - got
    assert len(missed) / len(truth) <= 0.05, f"recall hole: {sorted(missed)[:5]}"
    # precision is structural: every returned pair passed exact verification
    assert all(r["cos_sim"] >= 0.95 for r in DD.embedding_near_dups(emb, threshold=0.95).collect())


def test_simhash_pigeonhole_complete(spark):
    """Completeness guarantee: EVERY pair at hamming ≤ max_hamming is found
    (blocks are derived from the bound, so the pigeonhole always holds)."""
    import numpy as np

    rng = np.random.default_rng(5)
    sigs_np = rng.integers(-(2**63), 2**63, size=30, dtype=np.int64)
    rows = [(i, int(sigs_np[i])) for i in range(30)]
    # plant pairs at every hamming distance 0..8 off row i
    nid = 100
    expected = set()
    for k in range(9):
        u = int(sigs_np[k]) & ((1 << 64) - 1)  # unsigned bit pattern
        for b in rng.choice(64, size=k, replace=False):
            u ^= 1 << int(b)
        flipped = u - (1 << 64) if u >= (1 << 63) else u  # back to signed
        rows.append((nid, flipped))
        expected.add((k, nid))
        nid += 1
    sigs = spark.createDataFrame(rows, "id long, sim long")
    got = {(r["id_a"], r["id_b"]) for r in DD.simhash_pairs(sigs, max_hamming=8).collect()}
    assert expected <= got


def test_simhash_rejects_unsound_bound(spark):
    import pytest

    sigs = spark.createDataFrame([(1, 7)], "id long, sim long")
    with pytest.raises(ValueError):
        DD.simhash_pairs(sigs, max_hamming=40)


def test_minhash_dedup_collapses_identical_classes(spark):
    """Boilerplate guard: a large class of identical docs must dedup to its
    minimum id via the signature-collapse path (no quadratic bucket), with
    distinct docs untouched."""
    boiler = "exactly the same boilerplate text repeated in every copy of this page"
    rows = [(i, boiler) for i in range(200)]
    rows += [(1000, "a completely different document about spark shuffles")]
    rows += [(1001, "another unrelated text mentioning cuckoo filters and robots")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in DD.minhash_dedup(df, "text", "doc_id", threshold=0.5).collect())
    assert kept == [0, 1000, 1001]


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("The cat and the dog sat. It was good! Was it?",)], ["text"]
    )
    row = df.select(
        TXT.token_count(F.col("text")).alias("tok"),
        TXT.word_count(F.col("text")).alias("w"),
        TXT.sentence_count(F.col("text")).alias("s"),
        TXT.lang_id(F.col("text")).alias("lang"),
        TXT.fingerprint(F.col("text")).alias("fp"),
    ).collect()[0]
    assert row["w"] == 11
    assert row["s"] == 3
    assert row["tok"] == 14  # 11 words + 3 terminators
    assert row["lang"] == "en"
    # fingerprint is ws/case-insensitive
    df2 = spark.createDataFrame([("the CAT and  the dog sat.  it was good! was IT?",)], ["text"])
    fp2 = df2.select(TXT.fingerprint(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert fp2 == row["fp"]


def test_minhash_md5_tier_matches_duckdb(spark):
    """The md5 hasher tier is bit-identical to its DuckDB twin: signatures
    AND the full dedup survivor set (the q_minhash_dedup oracle contract)."""
    import duckdb
    import pandas as pd

    rows = [(i, t) for i, t in enumerate([
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the lazy dog again and again tomorrow",
        "completely different content about spark shuffle partitions merge",
        "short",
        "",
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))

    sp_sigs = {r["id"]: list(r["sig"]) for r in
               DD.minhash_signatures_native(df, "text", "doc_id", 16, 5).collect()}
    du_sigs = {r[0]: list(r[1]) for r in
               con.sql(DD.minhash_sigs_sql("text", "doc_id", "docs", 16, 5)).fetchall()}
    assert sp_sigs == du_sigs

    kept = sorted(r["doc_id"] for r in
                  DD.minhash_dedup(df, "text", "doc_id", threshold=0.4, hasher="md5").collect())
    want = sorted(r[0] for r in con.sql(DD.minhash_dedup_sql(
        "docs", out_cols="doc_id", threshold=0.4)).fetchall())
    assert kept == want
    assert 1 not in kept  # the exact dup collapsed to id 0


def test_minhash_bad_hasher_rejected(spark):
    import pytest

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        DD.minhash_dedup(df, "text", "doc_id", hasher="bogus")


def test_winnow_fingerprints_parity_and_guarantee(spark):
    """Winnowing prints: Spark↔DuckDB bit parity on edge shapes, identical
    docs share the full set, and the MOSS guarantee holds — two docs
    sharing a substring of length ≥ k + w - 1 share at least one print."""
    import duckdb
    import pandas as pd

    shared = "a noticeably long shared passage of text"  # ≥ k + w - 1 chars
    rows = [
        (0, f"prefix one {shared} suffix alpha"),
        (1, f"{shared} entirely different ending here"),
        (2, "tiny"),
        (3, ""),
        (4, f"prefix one {shared} suffix alpha"),  # exact dup of 0
        (5, "no overlap with anything else at all zzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sp = {
        r["doc_id"]: list(r["w"])
        for r in df.select(
            "doc_id", TXT.winnow_fingerprints(F.col("text")).alias("w")
        ).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
    du = {
        r[0]: list(r[1])
        for r in con.sql(f"select doc_id, {TXT.winnow_sql('text')} as w from t").fetchall()
    }
    assert sp == du
    assert sp[0] == sp[4]  # identical docs, identical print set
    assert set(sp[0]) & set(sp[1])  # shared long substring ⇒ shared print
    assert not (set(sp[0]) & set(sp[5]))  # unrelated docs don't collide
    assert len(sp[2]) == 1 and len(sp[3]) == 1  # degenerate inputs
