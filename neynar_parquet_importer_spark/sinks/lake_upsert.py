"""Recency-guarded MERGE into a PK-hash-bucketed parquet lake.

Semantics of the reference's S9 sink (db.py:884-893):
``INSERT ... ON CONFLICT (pk) DO UPDATE SET <all columns>
WHERE excluded.updated_at >= existing.updated_at`` — last-writer-wins
keyed on PK with a recency guard, which together with idempotent
re-imports gives exactly-once-ish end state.

Lake expression of the same semantics:
  new_state = last_writer_wins(existing ∪ incoming, pk, version DESC)
with ties broken toward the incoming batch (the `>=` in the guard).

Storage layout & scale:
- rows live under ``<root>/data/__bucket=<i>/`` where
  ``__bucket = pmod(xxhash64(pk...), n_buckets)`` — a deterministic hash
  partition, so every PK maps to exactly one bucket directory;
- an upsert merges ONLY the buckets containing incoming PKs and rewrites
  only those directories: per-batch work is O(touched state), not
  O(table), which is what keeps a 1-second micro-batch viable when the
  table is 100 TB (size ``n_buckets`` so a bucket ≈ a few hundred MB —
  thousands of buckets at warehouse scale; Delta/Iceberg MERGE does the
  same thing with file-level pruning);
- untouched bucket directories are not opened, rewritten, or renamed —
  their files stay byte-identical (asserted by tests);
- the merge itself is one shuffle on the PK within touched buckets;
  incoming batches are deduped per PK *before* merging (SURVEY §7.3 hard
  part 1);
- ``_sink_meta.json`` pins the layout (n_buckets, pk, version column)
  and the stored-row schema, ``__bucket`` included. The touched-bucket
  merge read and ``read()`` pass that schema to the reader, so neither
  starts a schema-inference job; a batch whose columns or types differ
  from it is refused.

Crash safety (single writer per table, like the reference's
one-importer-per-table topology): each touched bucket is swapped by
rename via a ``.old-<epoch>`` holding area. A crash can leave a bucket
missing from ``data/``; ``_recover()`` — run on open and before every
upsert — rolls such buckets back from ``.old-*`` and clears stale
staging, so the sink never silently restarts empty. A partially-swapped
batch (some buckets new, some rolled back) is converged by re-running
the batch: the ledger only commits after ``upsert`` returns, and the
recency guard makes the re-merge idempotent.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import last_writer_wins

_BUCKET = "__bucket"


class LakeUpsertSink:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        primary_key: tuple[str, ...],
        version_column: str = "updated_at",
        n_buckets: int = 16,
    ) -> None:
        self.spark = spark
        self.root = root
        self.primary_key = primary_key
        self.version_column = version_column
        self.n_buckets = n_buckets
        self._data_dir = os.path.join(root, "data")
        self._recover()

    # -- crash recovery ----------------------------------------------------
    def _recover(self) -> None:
        """Roll back any interrupted swap: restore buckets (or a whole
        legacy data dir) left in ``.old-*``, drop stale staging dirs."""
        if not os.path.isdir(self.root):
            return
        for name in sorted(os.listdir(self.root)):
            path = os.path.join(self.root, name)
            if name.startswith(".old-"):
                if not os.path.isdir(self._data_dir):
                    os.rename(path, self._data_dir)
                    continue
                for sub in os.listdir(path):
                    if sub.startswith(f"{_BUCKET}="):
                        dst = os.path.join(self._data_dir, sub)
                        if not os.path.exists(dst):
                            # crash between rename-out and rename-in
                            os.rename(os.path.join(path, sub), dst)
                shutil.rmtree(path)
            elif name.startswith(".staging-"):
                shutil.rmtree(path)

    # -- read --------------------------------------------------------------
    def exists(self) -> bool:
        """True iff the sink holds DATA — bucket dirs or parquet files.
        A zero-row first upsert writes a data dir containing only
        ``_SUCCESS``; counting that as existing bricks the sink (the
        schemaless ``spark.read.parquet`` on it throws
        UNABLE_TO_INFER_SCHEMA on every later read), so marker-only
        dirs read as empty and the next non-empty upsert takes the
        fresh-sink full-swap path."""
        if not os.path.isdir(self._data_dir):
            return False
        return any(
            n.startswith(f"{_BUCKET}=") or n.endswith(".parquet")
            for n in os.listdir(self._data_dir)
        )

    def _is_bucketed(self) -> bool:
        return any(
            n.startswith(f"{_BUCKET}=") for n in os.listdir(self._data_dir)
        )

    def read(self) -> DataFrame | None:
        if not self.exists():
            return None
        schema = self._stored_schema()
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        df = reader.parquet(self._data_dir)
        return df.drop(_BUCKET) if _BUCKET in df.columns else df

    # -- write -------------------------------------------------------------
    def _order(self) -> list[Column]:
        # incoming (priority 1) beats existing (0) on version ties == the
        # `excluded.updated_at >= existing.updated_at` guard's >=
        return [F.desc(self.version_column), F.desc("__src_priority")]

    def _bucket_expr(self) -> Column:
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.primary_key]),
            F.lit(self.n_buckets),
        ).cast("int")

    def upsert(self, incoming: DataFrame, epoch: int = 0) -> None:
        self._recover()
        pk = list(self.primary_key)
        batch = last_writer_wins(
            incoming.withColumn("__src_priority", F.lit(1)), pk, self._order()
        ).withColumn(_BUCKET, self._bucket_expr())
        schema = self._check_meta(batch.drop("__src_priority").schema)
        if not self.exists():
            self._write(batch.drop("__src_priority"), epoch, full_swap=True)
            return
        if not self._is_bucketed():
            # one-time migration of a legacy unpartitioned table: full
            # merge + full rewrite into the bucketed layout
            existing = (
                self.read()
                .withColumn("__src_priority", F.lit(0))
                .withColumn(_BUCKET, self._bucket_expr())
            )
            merged = last_writer_wins(
                existing.unionByName(batch), pk, self._order()
            ).drop("__src_priority")
            self._write(merged, epoch, full_swap=True)
            return
        # persist: on this path the batch is evaluated TWICE (the
        # touched-bucket collect, then the merged staging write).
        # Unpinned, the second evaluation re-runs the whole upstream plan
        # — and if that plan embeds any non-determinism (a re-read of a
        # changing source), it can emit a bucket that was not in
        # `touched`, whose existing directory was never merged: the
        # per-bucket swap would then replace it with only new rows,
        # silently deleting stored PKs. The other two paths read the
        # batch once, where a cache would only add a build stage.
        batch = batch.persist()
        try:
            # touched buckets only: one tiny driver-side distinct (at most
            # n_buckets ints — control-plane, not data)
            touched = sorted(
                r[0] for r in batch.select(_BUCKET).distinct().collect()
            )
            bucket_dirs = [
                os.path.join(self._data_dir, f"{_BUCKET}={b}")
                for b in touched
            ]
            live = [p for p in bucket_dirs if os.path.isdir(p)]
            if live:
                existing = (
                    self.spark.read.schema(schema)
                    .option("basePath", self._data_dir)
                    .parquet(*live)
                    .withColumn("__src_priority", F.lit(0))
                )
                merged = last_writer_wins(
                    existing.unionByName(batch), pk, self._order()
                ).drop("__src_priority")
            else:
                merged = batch.drop("__src_priority")
            self._write(merged, epoch, full_swap=False)
        finally:
            batch.unpersist()

    # -- layout metadata ---------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_sink_meta.json")

    def _load_meta(self) -> dict | None:
        path = self._meta_path()
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        """Temp file + rename: a crash mid-write leaves the previous meta
        file (or none) in place, never a truncated one that every later
        open would fail to parse. A leftover temp file is overwritten by
        the next write and otherwise ignored."""
        path = self._meta_path()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def _stored_schema(self) -> T.StructType | None:
        """The stored-row schema (``__bucket`` included) pinned in the meta
        file; None for a sink whose meta predates it, which the next
        upsert upgrades (reads until then infer, as before)."""
        meta = self._load_meta()
        if meta is None or "schema" not in meta:
            return None
        return T.StructType.fromJson(meta["schema"])

    def _check_meta(self, schema: T.StructType) -> T.StructType:
        """Pin (n_buckets, pk, version_column, schema) across reopens and
        return the stored-row schema reads use.

        A sink reopened with a different n_buckets hashes updated PKs into
        different buckets, the merge never sees the old version, and
        read() returns duplicate PKs forever — silently. First write
        records the layout; every later open asserts it. ``schema`` is
        the batch's stored-row schema (``__bucket`` included): the first
        write records it so reads skip schema inference, and a later
        batch that differs raises rather than writing buckets a
        whole-table read could not scan together."""
        schema = _as_nullable(schema)
        loaded = self._load_meta()
        meta = dict(
            loaded
            or {"n_buckets": self.n_buckets, "primary_key": list(self.primary_key)}
        )
        if meta.get("n_buckets") != self.n_buckets or tuple(
            meta.get("primary_key", ())
        ) != tuple(self.primary_key):
            raise ValueError(
                f"sink at {self.root!r} was written with "
                f"n_buckets={meta.get('n_buckets')}, "
                f"pk={tuple(meta.get('primary_key', ()))}; reopened "
                f"with n_buckets={self.n_buckets}, "
                f"pk={tuple(self.primary_key)} — a layout change "
                "requires a rewrite, not a reopen"
            )
        # version_column drives the last-writer-wins recency guard;
        # reopening with a different one silently changes which row
        # survives a PK collision over already-stored data — the same
        # class of divergence the meta file exists to prevent. Meta files
        # written before this key or the schema key existed are upgraded
        # in place (the schema inferred once from the stored data).
        if "version_column" not in meta:
            meta["version_column"] = self.version_column
        elif meta["version_column"] != self.version_column:
            raise ValueError(
                f"sink at {self.root!r} was written with "
                f"version_column={meta['version_column']!r}; reopened "
                f"with {self.version_column!r} — a recency-guard "
                "change requires a rewrite, not a reopen"
            )
        if "schema" not in meta:
            stored = self._inferred_schema() if self.exists() else schema
            meta["schema"] = json.loads(stored.json())
        if meta != loaded:
            os.makedirs(self.root, exist_ok=True)
            self._write_meta(meta)
        stored = T.StructType.fromJson(meta["schema"])
        _require_same_columns(self.root, stored, schema)
        return stored

    def _inferred_schema(self) -> T.StructType:
        """One schema-inference pass over the stored data, ``__bucket``
        appended for a legacy unpartitioned table (where it reads as
        null and is dropped)."""
        schema = _as_nullable(self.spark.read.parquet(self._data_dir).schema)
        if _BUCKET not in schema.fieldNames():
            schema = schema.add(_BUCKET, T.IntegerType())
        return schema

    def _write(self, merged: DataFrame, epoch: int, full_swap: bool) -> None:
        staging = os.path.join(self.root, f".staging-{epoch}")
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        merged.write.partitionBy(_BUCKET).mode("overwrite").parquet(staging)

        if full_swap:
            old = os.path.join(self.root, f".old-{epoch}")
            if os.path.isdir(self._data_dir):
                os.rename(self._data_dir, old)
            os.rename(staging, self._data_dir)
            if os.path.isdir(old):
                shutil.rmtree(old)
            return

        # per-bucket swap: only directories for buckets in this batch move;
        # everything else is untouched on disk
        old = os.path.join(self.root, f".old-{epoch}")
        os.makedirs(old, exist_ok=True)
        for sub in sorted(os.listdir(staging)):
            if not sub.startswith(f"{_BUCKET}="):
                continue
            dst = os.path.join(self._data_dir, sub)
            if os.path.isdir(dst):
                os.rename(dst, os.path.join(old, sub))
            os.rename(os.path.join(staging, sub), dst)
        shutil.rmtree(old)
        shutil.rmtree(staging, ignore_errors=True)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field and element nullable and no field metadata:
    what a parquet read reports, whatever the writer's nullability."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType))
    return dt


def _require_same_columns(
    root: str, stored: T.StructType, batch: T.StructType
) -> None:
    """Same column names and types, in any order (the merge is by name)."""
    want = {f.name: f.dataType for f in stored.fields}
    got = {f.name: f.dataType for f in batch.fields}
    if want == got:
        return
    changed = {
        n: f"{want[n].simpleString()} -> {got[n].simpleString()}"
        for n in want.keys() & got.keys()
        if want[n] != got[n]
    }
    raise ValueError(
        f"batch schema differs from the stored schema of sink {root!r}: "
        f"missing columns {sorted(want.keys() - got.keys())}, "
        f"new columns {sorted(got.keys() - want.keys())}, "
        f"changed types {changed} — a schema change requires a rewrite, "
        "not an upsert"
    )
