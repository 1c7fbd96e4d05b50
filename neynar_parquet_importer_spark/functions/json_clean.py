"""JSON cleanup scalar functions (reference P1/P2).

The reference's `clean_jsonb_data` (db.py:261-282) handles a data quirk:
v2 parquet stores array/json columns as *strings*, and some historical
files contain Python-repr dicts (single quotes) instead of JSON — it
tries ast.literal_eval when the string starts with ``[{'`` or ``{'``,
else orjson.loads. Unit-tested against an escaped-quote case
(tests/test_db.py:4-12).

Spark mapping: well-formed JSON is validated by the native
``try_parse_json`` (JVM, codegen); only the Python-repr fallback needs
Python, and it runs as an Arrow-batched pandas UDF. A ``CASE WHEN``
around the UDF does not keep rows away from it: Spark evaluates the UDF
in a separate ``ArrowEvalPython`` node that ships every row of the batch
to a Python worker, and starts those workers even when no row has the
Python-repr prefix (measured on a 4-CPU VM: 2.7-3.3 s on a cold
session, against 0.29 s for the same plan without the UDF). What the predicate does
control is the payload: the UDF's argument is null unless the row looks
like a Python repr, so JSON rows cross the Arrow boundary as nulls, not
as their full text.
"""

from __future__ import annotations

import ast
import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def clean_jsonb_string(raw: str | None, column_name: str = "?") -> str | None:
    """Driver-side/unit-testable scalar: raw string -> canonical JSON text.

    Same decision tree as the reference (db.py:261-282): None passthrough;
    Python-repr prefix -> ast.literal_eval; else json.loads; failures raise
    ValueError naming the column.
    """
    if raw is None:
        return None
    try:
        if raw.startswith(("[{'", "{'")):
            value = ast.literal_eval(raw)
        else:
            value = json.loads(raw)
    except (ValueError, SyntaxError) as exc:
        raise ValueError(f"failed to clean json column {column_name!r}: {exc}") from exc
    return json.dumps(value, separators=(",", ":"), sort_keys=True)


@pandas_udf(T.StringType())
def _clean_python_repr(batch: pd.Series) -> pd.Series:
    """Arrow-batched fallback for Python-repr payloads only."""

    def one(raw: object) -> str | None:
        if raw is None or (isinstance(raw, float) and pd.isna(raw)):
            return None
        try:
            return json.dumps(
                ast.literal_eval(raw), separators=(",", ":"), sort_keys=True
            )
        except (ValueError, SyntaxError):
            return None  # leave unparseable as null; caller can count via observe()

    return batch.map(one)


def parse_json_column(col: Column | str, on_error: str = "null") -> Column:
    """Raw string column -> canonical JSON string.

    JVM fast path for real JSON — *validated* with ``try_parse_json``
    (codegen'd; the reference orjson.loads-es every payload and raises on
    garbage, db.py:261-282). The pandas-UDF fallback's result is used only
    where the value has the Python-repr prefix (db.py:268-272's startswith
    check). The UDF still sees every row (``ArrowEvalPython`` does not
    short-circuit), so its argument is nulled for the other rows: they
    reach Python as nulls, not as full payloads.

    Malformed payloads (garbage fast-path strings AND unparseable repr
    strings) become NULL with ``on_error='null'`` — count them with
    ``json_parse_failed`` through ``observe()`` — or fail the job with
    ``on_error='raise'``, the reference's strict behavior.
    """
    c = F.col(col) if isinstance(col, str) else col
    looks_python_repr = c.startswith("[{'") | c.startswith("{'")
    cleaned = F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(looks_python_repr, _clean_python_repr(F.when(looks_python_repr, c))).otherwise(
            # invalid JSON -> NULL (try_parse_json returns NULL), so the
            # quarantine predicate below can see it
            F.when(F.try_parse_json(c).isNotNull(), c)
        )
    )
    if on_error == "raise":
        return F.when(
            c.isNotNull() & cleaned.isNull(),
            F.raise_error(
                F.concat(F.lit("failed to clean json payload: "), F.substring(c, 1, 120))
            ),
        ).otherwise(cleaned)
    return cleaned


def json_parse_failed(col: Column | str) -> Column:
    """Predicate: non-null input that failed cleaning. Feed to
    ``DataFrame.observe``/``observe_filter`` for a failure counter
    (quarantine-count alternative to ``on_error='raise'``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & parse_json_column(c).isNull()


def clean_json_columns(
    df: DataFrame, json_columns: tuple[str, ...], on_error: str = "null"
) -> DataFrame:
    """Apply P1 to every declared JSON column (reference applies it to all
    reflected-JSONB columns, db.py:874-879 — here the catalog declares them)."""
    out = df
    for name in json_columns:
        if name in df.columns:
            out = out.withColumn(name, parse_json_column(name, on_error=on_error))
    return out
