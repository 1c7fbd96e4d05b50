"""Declared-schema catalog.

The reference's source of truth is 37 Postgres DDL files reflected at
runtime (reference src/neynar_parquet_importer/db.py:285-313 `get_tables`);
JSON-typed columns are detected by the reflected JSONB type
(db.py:874-879) with a hardcoded hint list JSON_COLUMNS (db.py:45-51).

Here the catalog is declarative Python: every table is a ``TableSpec``
carrying its StructType, primary key, JSON columns and soft-delete flag.
Spark reads parquet with the declared schema (schema-on-read, vectorized)
instead of reflecting a live database.

Two registries:
- ``REFERENCE_TABLES``: the Farcaster tables the reference imports
  (v2 + v3), transcribed from its schema/*.sql DDL (types per SURVEY §1.2).
- ``TESTDATA_TABLES``: the driver's synthetic TPC-H-ish tables used by
  the correctness/bench harness.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class TableSpec:
    name: str
    schema: T.StructType
    primary_key: tuple[str, ...]
    json_columns: tuple[str, ...] = ()
    soft_delete: bool = False  # has deleted_at, derived views filter IS NULL
    version_column: str = "updated_at"  # recency guard for upserts (db.py:887-891)
    # parquet-side fixed_size_binary[16] uuid columns (every v3 PK);
    # normalized to canonical hyphenated strings in the pipeline
    uuid_columns: tuple[str, ...] = ()
    # v2 quirk (db.py:44-51): array-typed Postgres columns arrive in v2
    # parquet as JSON *strings*. Each (column, element_type) entry is
    # parsed to a native array after JSON cleaning, normalizing v2 rows to
    # the v3 shape in-engine; the DDL generator maps it back to a Postgres
    # element_type[] column (matching the reference's schema/*.sql).
    json_array_columns: tuple[tuple[str, str], ...] = ()

    def columns(self) -> list[str]:
        return [f.name for f in self.schema.fields]


def _ts() -> T.TimestampType:
    # "timestamp without time zone", semantically UTC (settings.py:112-114);
    # session TZ is forced UTC in session.get_spark so LTZ == the wire value.
    return T.TimestampType()


def _common_v3(*fields: T.StructField) -> T.StructType:
    """v3 (nindexer) tables share: uuid PK id + created/updated/deleted_at.
    The wire type of id is fixed_size_binary[16] (arrow.uuid); the pipeline
    normalizes it to a hyphenated string via functions.uuid16_to_string."""
    return T.StructType(
        [
            T.StructField("id", T.BinaryType()),
            T.StructField("created_at", _ts()),
            T.StructField("updated_at", _ts()),
            T.StructField("deleted_at", _ts()),
            *fields,
        ]
    )


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype)


def _common_v3_nodelete(*fields: T.StructField) -> T.StructType:
    """v3 tables without soft delete (tier_purchases, storage_rentals)."""
    return T.StructType(
        [
            T.StructField("id", T.BinaryType()),
            T.StructField("created_at", _ts()),
            T.StructField("updated_at", _ts()),
            *fields,
        ]
    )


REFERENCE_TABLES_V3: dict[str, TableSpec] = {
    # v3 nindexer tables (reference schema/012-037; uuid PKs, SURVEY §1.2)
    "follows": TableSpec(
        "follows",
        _common_v3(
            _f("fid", T.LongType()),
            _f("target_fid", T.LongType()),
            _f("timestamp", _ts()),
            _f("display_timestamp", _ts()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "verifications": TableSpec(
        "verifications",
        _common_v3(
            _f("fid", T.LongType()),
            _f("address", T.BinaryType()),
            _f("protocol", T.ShortType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "fids": TableSpec(
        "fids",
        _common_v3(
            _f("fid", T.LongType()),
            _f("registered_at", _ts()),
            _f("custody_address", T.BinaryType()),
            _f("recovery_address", T.BinaryType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
    ),
    "profiles": TableSpec(
        "profiles",
        _common_v3(
            _f("fid", T.LongType()),
            _f("username", T.StringType()),
            _f("display_name", T.StringType()),
            _f("pfp_url", T.StringType()),
            _f("bio", T.StringType()),
            _f("url", T.StringType()),
            _f("location", T.StringType()),
            _f("latitude", T.FloatType()),
            _f("longitude", T.FloatType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
    ),
    "casts": TableSpec(
        "casts",
        _common_v3(
            _f("fid", T.LongType()),
            _f("hash", T.BinaryType()),
            _f("parent_hash", T.BinaryType()),
            _f("parent_fid", T.LongType()),
            _f("parent_url", T.StringType()),
            _f("text", T.StringType()),
            _f("embeds", T.StringType()),  # jsonb as raw string; parse via functions.json_clean
            _f("mentions", T.ArrayType(T.LongType())),
            _f("mentions_positions", T.ArrayType(T.ShortType())),
            _f("embedded_urls", T.ArrayType(T.StringType())),
            _f("embedded_casts", T.ArrayType(T.BinaryType())),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        json_columns=("embeds",),
        soft_delete=True,
    ),
    "reactions": TableSpec(
        "reactions",
        _common_v3(
            _f("fid", T.LongType()),
            _f("reaction_type", T.ShortType()),
            _f("hash", T.BinaryType()),
            _f("target_hash", T.BinaryType()),
            _f("target_fid", T.LongType()),
            _f("target_url", T.StringType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "channels": TableSpec(
        "channels",
        _common_v3(
            _f("channel_id", T.StringType()),
            _f("url", T.StringType()),
            _f("name", T.StringType()),
            _f("description", T.StringType()),
            _f("image_url", T.StringType()),
            _f("lead_fid", T.LongType()),
            _f("moderator_fids", T.ArrayType(T.LongType())),  # native array in v3
            _f("follower_count", T.IntegerType()),
            _f("member_count", T.IntegerType()),
            _f("public_casting", T.BooleanType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
    ),
    "follow_counts": TableSpec(
        "follow_counts",
        _common_v3(
            _f("fid", T.LongType()),
            _f("follower_count", T.LongType()),
            _f("following_count", T.LongType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
    ),
    "neynar_user_scores": TableSpec(
        "neynar_user_scores",
        _common_v3(_f("fid", T.LongType()), _f("score", T.FloatType())),
        primary_key=("id",),
        uuid_columns=("id",),
    ),
    # --- remaining v3 nindexer tables (schema/027-037) ---
    "usernames": TableSpec(
        "usernames",
        _common_v3(
            _f("username", T.StringType()),
            _f("fid", T.IntegerType()),
            _f("custody_address", T.BinaryType()),
            _f("proof_timestamp", _ts()),
            _f("type", T.ShortType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "tier_purchases": TableSpec(
        # schema/028: no deleted_at — purchases are immutable facts
        "tier_purchases",
        _common_v3_nodelete(
            _f("fid", T.LongType()),
            _f("tier_type", T.IntegerType()),
            _f("duration_in_days", T.LongType()),
            _f("payer", T.BinaryType()),
            _f("timestamp", _ts()),
            _f("transaction_hash", T.BinaryType()),
            _f("log_index", T.IntegerType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
    ),
    "signers": TableSpec(
        "signers",
        _common_v3(
            _f("timestamp", _ts()),
            _f("fid", T.LongType()),
            _f("app_fid", T.LongType()),
            _f("signer", T.BinaryType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "storage_rentals": TableSpec(
        # schema/031: no deleted_at
        "storage_rentals",
        _common_v3_nodelete(
            _f("fid", T.IntegerType()),
            _f("units", T.IntegerType()),
            _f("expiry", _ts()),
            _f("timestamp", _ts()),
            _f("transaction_hash", T.BinaryType()),
            _f("log_index", T.IntegerType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
    ),
    "channel_follows": TableSpec(
        "channel_follows",
        _common_v3(
            _f("fid", T.LongType()),
            _f("channel_id", T.StringType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "channel_members": TableSpec(
        "channel_members",
        _common_v3(
            _f("fid", T.LongType()),
            _f("channel_id", T.StringType()),
            _f("member_at", _ts()),
            _f("role", T.ShortType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "profile_external_accounts": TableSpec(
        "profile_external_accounts",
        _common_v3(
            _f("timestamp", _ts()),
            _f("fid", T.LongType()),
            _f("app_fid", T.LongType()),
            _f("type", T.ShortType()),
            _f("account", T.StringType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "user_labels": TableSpec(
        "user_labels",
        _common_v3(
            _f("source", T.StringType()),
            _f("provider_fid", T.LongType()),
            _f("target_fid", T.LongType()),
            _f("label_type", T.StringType()),
            _f("label_value", T.StringType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
    "blocks": TableSpec(
        "blocks",
        _common_v3(
            _f("timestamp", _ts()),
            _f("blocker_fid", T.LongType()),
            _f("blocked_fid", T.LongType()),
        ),
        primary_key=("id",),
        uuid_columns=("id",),
        soft_delete=True,
    ),
}


def _v2_base(
    *fields: T.StructField, pk: str = "id", deleted: bool = True
) -> T.StructType:
    """v2 (farcaster) tables: bigint/text natural PKs, no uuid columns."""
    pk_type = T.StringType() if pk == "fname" else T.LongType()
    cols = [
        T.StructField(pk, pk_type),
        T.StructField("created_at", _ts()),
        T.StructField("updated_at", _ts()),
    ]
    if deleted:
        cols.append(T.StructField("deleted_at", _ts()))
    return T.StructType(cols + list(fields))


REFERENCE_TABLES_V2: dict[str, TableSpec] = {
    # v2 farcaster tables (reference schema/001-024; npe_version=v2,
    # parquet_s3_schema=farcaster, incremental_duration=300 per main.py:46).
    # Array/json columns arrive as JSON strings (db.py:44-51) — declared
    # StringType + json_columns, then parsed to native arrays via
    # json_array_columns.
    "casts": TableSpec(
        "casts",
        _v2_base(
            _f("timestamp", _ts()),
            _f("fid", T.LongType()),
            _f("hash", T.BinaryType()),
            _f("parent_hash", T.BinaryType()),
            _f("parent_fid", T.LongType()),
            _f("parent_url", T.StringType()),
            _f("text", T.StringType()),
            _f("embeds", T.StringType()),
            _f("mentions", T.StringType()),
            _f("mentions_positions", T.StringType()),
            _f("root_parent_hash", T.BinaryType()),
            _f("root_parent_url", T.StringType()),
        ),
        primary_key=("id",),
        json_columns=("embeds", "mentions", "mentions_positions"),
        json_array_columns=(("mentions", "bigint"), ("mentions_positions", "smallint")),
        soft_delete=True,
    ),
    "fids": TableSpec(
        "fids",
        _v2_base(
            _f("custody_address", T.BinaryType()),
            _f("registered_at", _ts()),
            pk="fid",
            deleted=False,
        ),
        primary_key=("fid",),
    ),
    "fnames": TableSpec(
        "fnames",
        _v2_base(
            _f("custody_address", T.BinaryType()),
            _f("expires_at", _ts()),
            _f("fid", T.LongType()),
            pk="fname",
        ),
        primary_key=("fname",),
        soft_delete=True,
    ),
    "reactions": TableSpec(
        "reactions",
        _v2_base(
            _f("timestamp", _ts()),
            _f("reaction_type", T.ShortType()),
            _f("fid", T.LongType()),
            _f("hash", T.BinaryType()),
            _f("target_hash", T.BinaryType()),
            _f("target_fid", T.LongType()),
            _f("target_url", T.StringType()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "signers": TableSpec(
        "signers",
        _v2_base(
            _f("timestamp", _ts()),
            _f("fid", T.LongType()),
            _f("hash", T.BinaryType()),
            _f("custody_address", T.BinaryType()),
            _f("signer", T.BinaryType()),
            _f("name", T.StringType()),
            _f("app_fid", T.LongType()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "storage": TableSpec(
        "storage",
        _v2_base(
            _f("timestamp", _ts()),
            _f("fid", T.LongType()),
            _f("units", T.LongType()),
            _f("expiry", _ts()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "user_data": TableSpec(
        "user_data",
        _v2_base(
            _f("timestamp", _ts()),
            _f("fid", T.LongType()),
            _f("hash", T.BinaryType()),
            _f("type", T.ShortType()),
            _f("value", T.StringType()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "warpcast_power_users": TableSpec(
        "warpcast_power_users",
        _v2_base(pk="fid"),
        primary_key=("fid",),
        soft_delete=True,
    ),
    "account_verifications": TableSpec(
        "account_verifications",
        _v2_base(
            _f("fid", T.LongType()),
            _f("platform", T.StringType()),
            _f("platform_id", T.StringType()),
            _f("platform_username", T.StringType()),
            _f("verified_at", _ts()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "channel_follows": TableSpec(
        "channel_follows",
        _v2_base(
            _f("fid", T.LongType()),
            _f("channel_id", T.StringType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "channel_members": TableSpec(
        "channel_members",
        _v2_base(
            _f("fid", T.LongType()),
            _f("channel_id", T.StringType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "channels": TableSpec(
        # v2 channels differs from v3: no name/member_count/public_casting,
        # moderator_fids is a JSON-string bigint[] (schema/020 vs 033)
        "channels",
        _v2_base(
            _f("channel_id", T.StringType()),
            _f("url", T.StringType()),
            _f("description", T.StringType()),
            _f("image_url", T.StringType()),
            _f("lead_fid", T.LongType()),
            _f("moderator_fids", T.StringType()),
            _f("follower_count", T.IntegerType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        json_columns=("moderator_fids",),
        json_array_columns=(("moderator_fids", "bigint"),),
        soft_delete=True,
    ),
    "power_users": TableSpec(
        "power_users",
        _v2_base(
            _f("status", T.StringType()),
            _f("seed_at", _ts()),
            pk="fid",
        ),
        primary_key=("fid",),
        soft_delete=True,
    ),
    "blocks": TableSpec(
        "blocks",
        _v2_base(
            _f("blocker_fid", T.LongType()),
            _f("blocked_fid", T.LongType()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "user_labels": TableSpec(
        "user_labels",
        _v2_base(
            _f("source", T.StringType()),
            _f("provider_fid", T.LongType()),
            _f("target_fid", T.LongType()),
            _f("label_type", T.StringType()),
            _f("label_value", T.StringType()),
            _f("timestamp", _ts()),
        ),
        primary_key=("id",),
        soft_delete=True,
    ),
    "profile_with_addresses": TableSpec(
        # the only table the reference dedups in-batch by PK (db.py:800-820)
        "profile_with_addresses",
        T.StructType(
            [
                _f("fid", T.LongType()),
                _f("username", T.StringType()),
                _f("display_name", T.StringType()),
                _f("pfp_url", T.StringType()),
                _f("bio", T.StringType()),
                _f("verified_addresses", T.StringType()),  # jsonb string
                _f("updated_at", _ts()),
            ]
        ),
        primary_key=("fid",),
        json_columns=("verified_addresses",),
    ),
}

# ALL_TABLES analog (main.py:44-87): (s3 bucket, parquet schema) -> tables.
# A user of the reference selects the same coordinates here.
ALL_TABLES: dict[tuple[str, str], dict[str, TableSpec]] = {
    ("public-postgres", "farcaster"): REFERENCE_TABLES_V2,
    ("public-postgres", "nindexer"): REFERENCE_TABLES_V3,
}

# ALL_VIEWS analog (main.py:92-99): view name -> tables it requires.
ALL_VIEWS: dict[tuple[str, str], dict[str, tuple[str, ...]]] = {
    ("public-postgres", "farcaster"): {},
    ("public-postgres", "nindexer"): {
        "profiles_with_verifications": ("profiles", "verifications"),
    },
}

# Back-compat flat registry: the v3 set plus the v2-only
# profile_with_addresses (the two tables the real fixtures exercise).
REFERENCE_TABLES: dict[str, TableSpec] = {
    **REFERENCE_TABLES_V3,
    "profile_with_addresses": REFERENCE_TABLES_V2["profile_with_addresses"],
}

# Tracking ledger (reference schema/000_00_all_parquet_import_tracking.sql:1-12)
LEDGER_SCHEMA = T.StructType(
    [
        _f("file_name", T.StringType()),
        _f("file_type", T.StringType()),  # 'full' | 'incremental'
        _f("file_version", T.StringType()),  # 'v2' | 'v3'
        _f("file_duration_s", T.LongType()),
        _f("start_timestamp", T.LongType()),
        _f("end_timestamp", T.LongType()),
        _f("imported_at", _ts()),
        _f("last_row_group_imported", T.LongType()),
        _f("total_row_groups", T.LongType()),
        _f("completed", T.BooleanType()),
        _f("backfill", T.BooleanType()),
    ]
)


# ---------------------------------------------------------------------------
# Driver synthetic testdata (TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA_TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Schema inference on a schemaless ``spark.read.parquet`` is a Spark job
# (a footer read), paid again on every reference to an unchanged file.
# One inferred schema per path, reused while the file's stat stamp and the
# session's parquet schema confs are unchanged; a rewritten file (or a conf
# that changes what inference yields) is inferred afresh. Two threads that
# miss together both infer; either entry they store is valid.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version. Paths ``os.stat`` cannot see (object-store URIs) are read
    schemaless."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    stamp = (
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Vectorized parquet scan; Catalyst prunes columns/filters from here.
    The schema is inferred on the first load of a file and reused after
    (``_read_parquet``), so a repeated reference starts no Spark job.

    The events table carries TIMESTAMP(NANOS) which Spark's parquet reader
    rejects by default; read nanos as long and convert to a microsecond
    timestamp with integer `div` (double math would lose precision above
    2^53 ns)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    for name in TESTDATA_TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
