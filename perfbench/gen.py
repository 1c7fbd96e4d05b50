"""Seeded window publisher for the ``keepup_small`` and ``large_state``
workloads, deterministic in ``--seed``.

It runs as its own process (``etl.py`` spawns it), writes pyarrow parquet
files with the v3 catalog schemas under the reference's
``{schema}-{table}-{start}-{end}.parquet|.empty`` naming, and publishes
each one atomically (temp file + rename). The full snapshot and any
backlog windows are published up front; live windows follow in one closed
loop per table (the next window is published when the previous one's
completed ledger line appears). Every publish is logged with the time the
rename landed and how long after the commit it was sent, so the
generator's own delay is visible.

Only the generated files reach the engine; the shapes are documented in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SCHEMA_NAME = "nindexer"
US = 1_000_000
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# ---------------------------------------------------------------------------
# ETL workload shapes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class EtlShape:
    tables: tuple[str, ...]
    snapshot_rows: int
    backlog_windows: int  # published before the daemon starts
    window_rows: int  # mean rows per non-empty 1-second window
    update_share: float  # rows that update an existing key
    dup_share: float  # extra rows repeating a PK inside the same window
    empty_share: float  # windows published as a zero-byte .empty sentinel
    filtered_fids: int  # fids listed in the table's $nin filter doc
    fid_range: int = 20_000


SHAPES = {
    "keepup_small": EtlShape(
        tables=("follows", "reactions"),
        snapshot_rows=10_000,
        backlog_windows=0,
        window_rows=200,
        update_share=0.5,
        dup_share=0.02,
        empty_share=0.05,
        filtered_fids=0,
    ),
    "large_state": EtlShape(
        tables=("casts",),
        snapshot_rows=100_000,
        backlog_windows=100,
        window_rows=200,
        update_share=0.5,
        dup_share=0.02,
        empty_share=0.05,
        filtered_fids=600,  # 600 of 20k fids: ~3% of rows dropped
    ),
}
LATE_S = 2.0  # the late window lands this long after its successors
WARMUP_WINDOWS = 3  # live windows 0-2: published 2, 0, then 1 (late)
MAX_WINDOWS_PER_S = 8  # content drawn up front for at most this rate
COMMIT_TIMEOUT_S = 60.0
SNAPSHOT_ROW_GROUP = 65_536


def filter_doc(shape: EtlShape, seed: int) -> dict | None:
    """The table filter handed to the pipeline (``$nin`` on ``data.fid``)."""
    if not shape.filtered_fids:
        return None
    rng = np.random.default_rng([seed, 7])
    fids = rng.choice(np.arange(1, shape.fid_range + 1), shape.filtered_fids, replace=False)
    return {"data.fid": {"$nin": sorted(int(f) for f in fids)}}


def _arrow_type(name: str, dtype, uuid_columns) -> pa.DataType:
    from pyspark.sql import types as T

    if isinstance(dtype, T.BinaryType):
        return pa.binary(16) if name in uuid_columns else pa.binary()
    if isinstance(dtype, T.ArrayType):
        return pa.list_(_arrow_type("", dtype.elementType, ()))
    return {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(),
        T.BooleanType: pa.bool_(),
        T.StringType: pa.string(),
        T.TimestampType: pa.timestamp("us"),
    }[type(dtype)]


def arrow_schema(spec) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _arrow_type(f.name, f.dataType, spec.uuid_columns)) for f in spec.schema.fields]
    )


def _binary(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    data = rng.integers(0, 256, size=n * width, dtype=np.uint8).tobytes()
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32).tobytes()
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def _nullify(arr: pa.Array, rng: np.random.Generator, share: float) -> pa.Array:
    if share <= 0:
        return arr
    mask = pa.array(rng.random(len(arr)) < share)
    return pc.if_else(mask, pa.nulls(len(arr), arr.type), arr)


_URLS = [f"https://example.com/{w}/{i}" for w in ("a", "img", "frame", "post") for i in range(64)]
_WORDS = "gm farcaster cast frame warps degen onchain build ship hello world base eth channel reply".split()


def _embeds(rng: np.random.Generator, n: int) -> pa.Array:
    """JSON ``embeds``: ~97% well-formed JSON, ~2% Python-repr dicts (the
    historical quirk json_clean falls back to a pandas UDF for), ~1% null."""
    kind = rng.random(n)
    url = rng.integers(0, len(_URLS), n)
    out = []
    for k, u in zip(kind, url):
        if k < 0.01:
            out.append(None)
        elif k < 0.03:
            out.append("[{'url': '%s'}]" % _URLS[u])
        elif k < 0.5:
            out.append("[]")
        else:
            out.append('[{"url": "%s"}]' % _URLS[u])
    return pa.array(out, pa.string())


def _strings(rng: np.random.Generator, n: int, name: str, texts: pa.Array) -> pa.Array:
    if name == "text":
        return texts.take(pa.array(rng.integers(0, len(texts), n)))
    pool = pa.array(_URLS)
    return _nullify(pool.take(pa.array(rng.integers(0, len(_URLS), n))), rng, 0.3)


def _list(rng: np.random.Generator, n: int, elem: pa.DataType) -> pa.Array:
    lengths = rng.integers(0, 4, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    m = int(offsets[-1])
    if pa.types.is_binary(elem):
        values = _binary(rng, m, 16)
    elif pa.types.is_string(elem):
        values = pa.array(_URLS).take(pa.array(rng.integers(0, len(_URLS), m)))
    elif elem == pa.int16():
        values = pa.array(rng.integers(0, 320, m).astype(np.int16))
    else:
        values = pa.array(rng.integers(1, 20_000, m).astype(np.int64))
    return pa.ListArray.from_arrays(pa.array(offsets), values)


class TableGen:
    """Rows for one table: a growing key space whose fid is fixed per key
    (so the $nin filter keeps or drops a key consistently)."""

    def __init__(self, spec, shape: EtlShape, rng: np.random.Generator, n_windows: int) -> None:
        self.shape = shape
        self.rng = rng
        self.schema = arrow_schema(spec)
        self.texts = pa.array(
            [" ".join(rng.choice(_WORDS, int(rng.integers(1, 12)))) for _ in range(2048)]
        )
        cap = shape.snapshot_rows + n_windows * (shape.window_rows * 11 // 10 + 1)
        self.ids = np.empty((cap, 16), dtype=np.uint8)
        self.fids = np.empty(cap, dtype=np.int64)
        self.n = 0

    def _new_keys(self, n: int) -> np.ndarray:
        idx = np.arange(self.n, self.n + n)
        self.ids[idx] = self.rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
        self.fids[idx] = self.rng.integers(1, self.shape.fid_range + 1, n)
        self.n += n
        return idx

    def snapshot(self, end_rel_us: int) -> dict:
        n = self.shape.snapshot_rows
        idx = self._new_keys(n)
        upd = end_rel_us - self.rng.integers(1, 86_400 * US, n)
        return self._rows(idx, upd)

    def window(self, start_rel_us: int) -> dict | None:
        """One window's rows, or None for an ``.empty`` sentinel window."""
        rng, shape = self.rng, self.shape
        if rng.random() < shape.empty_share:
            return None
        n = int(rng.integers(int(shape.window_rows * 0.9), int(shape.window_rows * 1.1) + 1))
        n_upd = min(int(rng.binomial(n, shape.update_share)), self.n)
        upd_idx = rng.choice(self.n, n_upd, replace=False) if n_upd else np.empty(0, np.int64)
        idx = np.concatenate([upd_idx, self._new_keys(n - n_upd)])
        n_dup = int(rng.binomial(n, shape.dup_share))
        # distinct offsets, sorted: the duplicates take the newest ones and
        # repeat a PK from earlier in the window, so each is a strictly
        # newer version of its key (no ties for last-writer-wins to break)
        offs = np.sort(rng.choice(US, n + n_dup, replace=False))
        rng.shuffle(offs[:n])
        idx = np.concatenate([idx, idx[rng.integers(0, n, n_dup)]])
        return self._rows(idx, start_rel_us + offs)

    def _rows(self, idx: np.ndarray, upd_rel_us: np.ndarray) -> dict:
        """Columns as arrow arrays, except timestamps: int64 microseconds
        relative to the publish base, made absolute at write time."""
        rng, n = self.rng, len(idx)
        cols: dict = {}
        for field in self.schema:
            name, typ = field.name, field.type
            if name == "id":
                cols[name] = pa.Array.from_buffers(
                    pa.binary(16), n, [None, pa.py_buffer(self.ids[idx].tobytes())]
                )
            elif name == "fid":
                cols[name] = pa.array(self.fids[idx])
            elif name == "updated_at":
                cols[name] = upd_rel_us
            elif name == "created_at":
                cols[name] = upd_rel_us - rng.integers(0, 3600 * US, n)
            elif name in ("timestamp", "display_timestamp", "registered_at"):
                cols[name] = upd_rel_us - rng.integers(0, 60 * US, n)
            elif name == "deleted_at":
                cols[name] = np.where(rng.random(n) < 0.02, upd_rel_us, np.iinfo(np.int64).min)
            elif name == "embeds":
                cols[name] = _embeds(rng, n)
            elif pa.types.is_string(typ):
                cols[name] = _strings(rng, n, name, self.texts)
            elif pa.types.is_binary(typ):
                cols[name] = _nullify(_binary(rng, n, 20), rng, 0.3 if "parent" in name else 0.0)
            elif pa.types.is_list(typ):
                cols[name] = _list(rng, n, typ.value_type)
            elif typ == pa.int64():
                cols[name] = _nullify(pa.array(rng.integers(1, self.shape.fid_range + 1, n)), rng, 0.3 if "parent" in name else 0.0)
            elif typ == pa.int16():
                cols[name] = pa.array(rng.integers(0, 3, n).astype(np.int16))
            elif typ == pa.int32():
                cols[name] = pa.array(rng.integers(0, 10_000, n).astype(np.int32))
            elif typ == pa.float32():
                cols[name] = pa.array(rng.random(n).astype(np.float32))
            elif typ == pa.bool_():
                cols[name] = pa.array(rng.random(n) < 0.5)
            else:
                raise TypeError(f"no generator for {name}: {typ}")
        return cols

    def to_table(self, cols: dict, base_us: int) -> pa.Table:
        arrays = []
        for field in self.schema:
            c = cols[field.name]
            if isinstance(c, np.ndarray):
                null = c == np.iinfo(np.int64).min
                c = pa.array(np.where(null, 0, c + base_us), pa.timestamp("us"), mask=null)
            arrays.append(c)
        return pa.Table.from_arrays(arrays, schema=self.schema)


def window_name(table: str, start: int, empty: bool = False) -> str:
    return f"{SCHEMA_NAME}-{table}-{start}-{start + 1}.{'empty' if empty else 'parquet'}"


def publish(path: str, table: pa.Table | None, row_group_size: int | None = None) -> None:
    """Atomic publish: write a temp name the window parser ignores, then
    rename into place (the reference's exporter lands whole objects)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".tmp-{name}.part")
    if table is None:
        open(tmp, "wb").close()
    else:
        pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def write_json(path: str, obj) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


class LedgerTail:
    """File names whose ``completed`` ledger line has appeared, read from
    the ledger file the way any outside observer can."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.done: set[str] = set()
        self._offset = 0
        self._partial = ""

    def poll(self) -> set[str]:
        try:
            with open(self.path) as f:
                f.seek(self._offset)
                chunk = f.read()
                self._offset = f.tell()
        except FileNotFoundError:
            return self.done
        lines = (self._partial + chunk).split("\n")
        self._partial = lines.pop()
        for line in lines:
            if line.strip():
                e = json.loads(line)
                if e.get("completed"):
                    self.done.add(e["file_name"])
        return self.done


def run_etl(workload: str, seed: int, src: str, seconds: float, log_path: str) -> None:
    """Publish the snapshot and backlog, wait for the ``.go`` file (the
    bench writes it once the backfill is committed), then run one closed
    loop per table: publish a window, wait until its completed ledger line
    appears, publish the next. Live windows 0-2 are the warm-up and arrive
    out of order: 2, then 0, then 1 after LATE_S. The catch-up that window
    0 wakes finds 2 present and 1 missing, so the W7 in-order rule must
    hold 2 uncommitted until 1 lands. Windows published in the ``seconds``
    after that are the measured ones.

    Window timestamps lie in the past, so the daemon treats each window as
    due the moment it lands; window i's rows depend only on the seed."""
    from neynar_parquet_importer_spark.catalog import REFERENCE_TABLES_V3

    shape = SHAPES[workload]
    rng = np.random.default_rng(seed)
    B = shape.backlog_windows
    n_max = WARMUP_WINDOWS + int(MAX_WINDOWS_PER_S * seconds)
    gens = {t: TableGen(REFERENCE_TABLES_V3[t], shape, rng, B + n_max) for t in shape.tables}

    # all content is drawn before any clock is read, so the rows depend on
    # the seed alone; timestamps are offsets from the snapshot's end
    snaps = {t: g.snapshot(0) for t, g in gens.items()}
    windows = {t: [g.window(i * US) for i in range(B + n_max)] for t, g in gens.items()}
    os.makedirs(src, exist_ok=True)

    snap_end = int(time.time()) - B - n_max - 1
    for t, g in gens.items():
        publish(
            os.path.join(src, f"{SCHEMA_NAME}-{t}-0-{snap_end}.parquet"),
            g.to_table(snaps[t], snap_end * US),
            row_group_size=SNAPSHOT_ROW_GROUP,
        )
        for i in range(B):
            cols = windows[t][i]
            path = os.path.join(src, window_name(t, snap_end + i, cols is None))
            publish(path, None if cols is None else g.to_table(cols, snap_end * US))
    write_json(log_path + ".ready", {"snapshot_end": snap_end, "live_start": snap_end + B})

    deadline = time.time() + 300
    while not os.path.exists(log_path + ".go"):
        if time.time() > deadline:
            raise TimeoutError("no go signal")
        time.sleep(0.01)
    with open(log_path + ".go") as f:
        tails = {t: LedgerTail(p) for t, p in json.load(f)["ledgers"].items()}

    with open(log_path, "w") as log:

        def put(t: str, i: int, measured: bool, seen: float | None) -> str:
            cols = windows[t][B + i]
            name = window_name(t, snap_end + B + i, cols is None)
            publish(os.path.join(src, name), None if cols is None else gens[t].to_table(cols, snap_end * US))
            now = time.time()
            log.write(json.dumps({
                "table": t, "index": i, "name": name, "published": now, "measured": measured,
                "reaction_s": None if seen is None else now - seen,
                "rows": 0 if cols is None else len(cols["updated_at"]),
            }) + "\n")
            log.flush()
            return name

        # warm-up: window 2 lands ahead of its gap, window 0 wakes the
        # daemon, window 1 fills the gap LATE_S later; 2 commits last
        waiting = {t: put(t, 2, False, None) for t in shape.tables}
        for t in shape.tables:
            put(t, 0, False, None)
        time.sleep(LATE_S)
        for t in shape.tables:
            put(t, 1, False, None)
        nxt = dict.fromkeys(shape.tables, WARMUP_WINDOWS)
        t_measure = None
        since = time.time()
        while waiting:
            now = time.time()
            for t in list(waiting):
                if waiting[t] not in tails[t].poll():
                    if now - since > COMMIT_TIMEOUT_S:
                        return  # the bench counts the uncommitted window as failed
                    continue
                if t_measure is None:
                    t_measure = now
                if now - t_measure >= seconds or nxt[t] >= n_max:
                    del waiting[t]
                    continue
                waiting[t] = put(t, nxt[t], True, now)
                nxt[t] += 1
                since = now
            time.sleep(0.002)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    run_etl(a.workload, a.seed, a.src, a.seconds, a.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
