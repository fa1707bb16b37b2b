"""SnapshotStore: MERGE semantics, bucket-incremental commits, atomicity,
time travel."""

import os

from pyspark.sql import functions as F

from azure_blob_crawler_spark.sources.store import SnapshotStore


def make_store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "store"))


def base_df(spark, n=100):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"), F.lit("pending").alias("s")
    )


def test_create_read_roundtrip(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=8)
    got = st.read("t")
    assert got.count() == 100
    assert set(got.columns) == {"k", "v", "s"}


def test_merge_upsert_and_insert(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=8)
    updates = spark.range(90, 110).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("done").alias("s")
    )
    st.merge("t", updates)
    got = st.read("t")
    assert got.count() == 110  # 10 updated + 10 inserted
    assert got.filter(F.col("v") == -1).count() == 20
    assert got.filter((F.col("k") == 5) & (F.col("v") == 50)).count() == 1


def test_merge_is_idempotent(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=8)
    updates = spark.range(10).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("done").alias("s")
    )
    st.merge("t", updates)
    before = sorted(st.read("t").collect())
    st.merge("t", updates)  # replay
    after = sorted(st.read("t").collect())
    assert before == after


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark, 1000), key="k", n_buckets=16)
    v1 = st._manifest("t")
    one = spark.range(1).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("x").alias("s")
    )
    summary = st.merge("t", one)
    v2 = st._manifest("t")
    assert len(summary["touched_buckets"]) == 1
    reused = sum(1 for b, p in v2["buckets"].items() if v1["buckets"].get(b) == p)
    assert reused == 15  # all untouched buckets reuse v1 files


def test_delete(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=4)
    victims = spark.range(50).select(F.col("id").alias("k"))
    st.merge("t", victims, delete=True)
    got = st.read("t")
    assert got.count() == 50
    assert got.agg(F.min("k")).collect()[0][0] == 50


def test_expire_snapshots(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark, 200), key="k", n_buckets=4)
    for i in range(4):
        st.merge(
            "t",
            spark.range(i, i + 1).select(
                F.col("id").alias("k"), F.lit(-i).alias("v"), F.lit("x").alias("s")
            ),
            summary={"round": i + 1},
        )
    before = sorted(st.read("t").collect())
    res = st.expire_snapshots("t", keep_last=2)
    assert res["removed_manifests"] == 3  # v1..v3 gone, v4..v5 kept
    # current data unchanged; expired version unreadable; kept version readable
    assert sorted(st.read("t").collect()) == before
    assert st.read("t", version=4).count() == 200
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        st.read("t", version=1)
    # history skips expired versions
    assert [h["version"] for h in st.history("t")] == [4, 5]
    # further merges still work after GC
    st.merge(
        "t",
        spark.range(500, 505).select(
            F.col("id").alias("k"), F.lit(9).alias("v"), F.lit("y").alias("s")
        ),
    )
    assert st.read("t").count() == 205


def test_mor_merge_appends_delta_only(spark, tmp_path):
    """Merge-on-read (the 10^10-scale path): a merge writes ONLY the delta;
    untouched bytes are never rewritten; reads reconcile newest-wins."""
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark, 2000), key="k", n_buckets=8)
    v1 = st._manifest("t")
    updates = spark.range(1990, 2010).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("done").alias("s")
    )
    summary = st.merge("t", updates, strategy="mor")
    assert summary["mode"] == "append"
    v2 = st._manifest("t")
    # every touched bucket KEPT its old file and gained exactly one delta file
    for b in summary["touched_buckets"]:
        old = v1["buckets"].get(str(b), [])
        assert v2["buckets"][str(b)][: len(old)] == old
        assert len(v2["buckets"][str(b)]) == len(old) + 1
    got = st.read("t")
    assert got.count() == 2010
    assert got.filter(F.col("v") == -1).count() == 20
    assert got.filter((F.col("k") == 5) & (F.col("v") == 50)).count() == 1


def test_mor_merge_idempotent_and_compaction(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=4)
    upd = spark.range(10).select(
        F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("done").alias("s")
    )
    for _ in range(6):  # exceeds compact_files=4 → same-commit compaction
        st.merge("t", upd, strategy="mor")
    m = st._manifest("t")
    assert all(len(ps) <= 5 for ps in m["buckets"].values())
    got = st.read("t")
    assert got.count() == 100  # replay-idempotent
    assert got.filter(F.col("v") == -1).count() == 10
    # explicit full compaction squashes every bucket to one file
    st.compact("t")
    m2 = st._manifest("t")
    assert all(len(ps) == 1 for ps in m2["buckets"].values())
    assert st.read("t").count() == 100


def test_mor_then_delete(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=4)
    st.merge(
        "t",
        spark.range(100, 120).select(
            F.col("id").alias("k"), F.lit(7).alias("v"), F.lit("p").alias("s")
        ),
        strategy="mor",
    )
    victims = spark.range(110, 130).select(F.col("id").alias("k"))
    st.merge("t", victims, delete=True)
    got = st.read("t")
    assert got.count() == 110
    assert got.filter(F.col("k") >= 110).count() == 0


def test_time_travel_and_summary(spark, tmp_path):
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=4, summary={"round": 0})
    st.merge(
        "t",
        spark.range(5).select(F.col("id").alias("k"), F.lit(0).alias("v"), F.lit("d").alias("s")),
        summary={"round": 1},
    )
    assert st.read("t", version=1).filter(F.col("v") == 0).count() == 1  # only k=0
    assert st.read("t", version=2).filter(F.col("v") == 0).count() == 5
    assert st.summary("t")["round"] == 1
    assert [h["summary"].get("round") for h in st.history("t")] == [0, 1]


def test_read_buckets_prunes_scan(spark, tmp_path):
    """Bucket-selective read touches only the listed buckets' files, and a
    post-merge (dirty, multi-generation) bucket reconciles identically to
    the full read's view of it."""
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark, 500), key="k", n_buckets=8)
    updates = spark.range(0, 500, 7).select(
        F.col("id").alias("k"), F.lit(-5).alias("v"), F.lit("done").alias("s")
    )
    st.merge("t", updates)
    for b in (0, 3):
        one = st.read_buckets("t", [b])
        files = one.inputFiles()
        assert files and all(f"__bucket={b}" in f for f in files)
        full = st.read("t").withColumn("__b", st.bucket_expr("t"))
        want = sorted(
            (r["k"], r["v"]) for r in full.filter(F.col("__b") == b).collect()
        )
        got = sorted((r["k"], r["v"]) for r in one.collect())
        assert got == want and got
    assert st.read_buckets("t", [99]) is None


def test_reads_run_no_job_and_schema_rides_every_commit(spark, tmp_path, count_jobs):
    """The table schema is written once, at create, and carried by every
    later commit, so a read passes it to the parquet reader: building a
    read or a bucket read (the table scan of a merge) runs no Spark job,
    where a schema-inferring read runs one per scanned generation, and a
    merge no longer probes the table for its columns. The schema is the one
    the files yield, and a write is cast to it (``v`` stays a long)."""
    st = make_store(spark, tmp_path)
    st.create("t", base_df(spark), key="k", n_buckets=4)
    want = st._manifest("t")["schema"]
    assert [f["name"] for f in want["fields"]] == ["k", "v", "s"]

    def upd(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(-1).alias("v"), F.lit("x").alias("s")
        )

    def kept_schema():
        assert st._manifest("t")["schema"] == want

    # merge budgets: with a schema probe of the table, 8 and 6 jobs
    assert count_jobs(lambda: st.merge("t", upd(90, 110), strategy="cow")) == 6
    kept_schema()
    assert count_jobs(lambda: st.merge("t", upd(0, 10), strategy="mor")) == 5
    kept_schema()
    assert any(len(ps) > 1 for ps in st._manifest("t")["buckets"].values())
    assert count_jobs(lambda: st.read("t")) == 0
    assert count_jobs(lambda: st.read_buckets("t", [0, 1, 2, 3])) == 0
    st.rewrite_buckets("t", [0], st.read_buckets("t", [0]))
    kept_schema()
    st.set_summary("t", {"note": "metadata only"})
    kept_schema()
    st.compact("t")
    kept_schema()
    st.expire_snapshots("t", keep_last=2)
    kept_schema()

    m = st._manifest("t")
    got = st.read("t")
    assert got.schema == spark.read.parquet(
        *[os.path.join(st._tdir("t"), ps[0]) for ps in m["buckets"].values()]
    ).schema
    assert dict(got.dtypes)["v"] == "bigint"
    assert got.count() == 110 and got.filter(F.col("v") == -1).count() == 30
