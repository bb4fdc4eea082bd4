"""REST/JSON ingest — the reference's extract path, Spark-native.

The reference fetches the SpaceX API v4 launches snapshot with ``requests``,
flattens with ``pd.json_normalize``, projects 7 columns, coerces dtypes and
stamps a batch ``load_ts`` (airflow/dags/spacex_api_dag.py:32-44; one-shot
variant README.md:59-82). Re-design:

- The HTTP GET stays a driver-side concern (it is one small snapshot), but
  behind an injectable ``fetch`` callable so tests use fixtures and a real
  deployment could swap in "list landed JSON files on object store".
- Normalization happens on an explicit ``StructType`` — no schema inference
  (SURVEY.md §1.3: inferred-on-ingest is the reference's weakness).
- The coerced batch reaches the JVM as one Arrow table typed to
  ``RAW_SCHEMA``, not as a list of Python rows: Spark reads the Arrow
  stream directly, so no job over the batch starts a Python worker. The
  batch keeps one partition per Arrow record batch: up to
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (10,000 by
  default) land as one parquet file. ``load_ts`` keeps Spark's semantics
  for a Python datetime: a naive stamp is wall time in the process's local
  timezone (``TimestampType.toInternal``), not in the session timezone.
- At 100 TB scale the same schema would drive
  ``spark.read.schema(s).json(path)`` over landed files instead of a
  driver-side fetch.

The canonical raw schema is the union of the reference's two ingest variants
(SURVEY.md §1.3 decision): DAG contributes ``flight_number``/``upcoming``,
README loader contributes ``launch_id``/``rocket``.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from collections.abc import Callable, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

API_URL = "https://api.spacexdata.com/v4/launches"
HTTP_TIMEOUT_S = 30  # spacex_api_dag.py:32

# Raw landing schema: every field as-received (strings), typed later by
# staging — mirrors the reference where raw.spacex_launches lands as text
# and stg_spacex_launches.sql:7-8 casts.
RAW_SCHEMA = T.StructType(
    [
        T.StructField("launch_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("date_utc", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("rocket", T.StringType()),
        T.StructField("details", T.StringType()),
        T.StructField("flight_number", T.LongType()),
        T.StructField("upcoming", T.BooleanType()),
        T.StructField("load_ts", T.TimestampType()),
    ]
)
# The same schema in Arrow; TimestampType maps to timestamp[us, tz=UTC], so
# load_ts crosses as an instant and the session timezone never touches it.
_ARROW_SCHEMA = to_arrow_schema(RAW_SCHEMA)
_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1
_SURROGATE = re.compile("[\ud800-\udfff]")

# Projection of the nested API payload → raw columns
# (spacex_api_dag.py:36-38 + README.md:69-75 rename id→launch_id).
_FIELD_MAP = {
    "launch_id": "id",
    "name": "name",
    "date_utc": "date_utc",
    "success": "success",
    "rocket": "rocket",
    "details": "details",
    "flight_number": "flight_number",
    "upcoming": "upcoming",
}


def http_fetch(url: str = API_URL, timeout: int = HTTP_TIMEOUT_S) -> list[dict[str, Any]]:
    """Live fetch (network-gated; tests inject fixtures instead)."""
    import urllib.request

    req = urllib.request.Request(url, headers={"User-Agent": "spacex-data-pipeline-spark"})
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        if resp.status // 100 != 2:  # r.raise_for_status() twin
            raise RuntimeError(f"GET {url} -> HTTP {resp.status}")
        return json.loads(resp.read())


def normalize(
    spark: SparkSession,
    payload: Sequence[dict[str, Any]],
    load_ts: dt.datetime | None = None,
) -> DataFrame:
    """JSON payload → raw DataFrame with the canonical schema.

    ``load_ts`` is one constant per batch, computed driver-side — the
    reference stamps a single ``datetime.utcnow()`` for the whole batch
    (spacex_api_dag.py:44), NOT a per-row now(); replicated deliberately.
    Type coercion is cast-with-null-on-error, matching pandas
    ``errors="coerce"`` (spacex_api_dag.py:40-43); a ``flight_number``
    outside int64 is such an error and becomes NULL.
    """
    stamp = load_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    def coerce(rec: dict[str, Any]) -> tuple:
        vals: list[Any] = []
        for raw_col, api_col in _FIELD_MAP.items():
            v = rec.get(api_col)
            if raw_col == "launch_id" and v is None:
                v = rec.get("launch_id")
            if raw_col in ("success", "upcoming"):
                v = bool(v) if isinstance(v, bool) else None
            elif raw_col == "flight_number":
                try:
                    v = int(v) if v is not None else None
                except (TypeError, ValueError, OverflowError):
                    v = None
                if v is not None and not _INT64_MIN <= v <= _INT64_MAX:
                    v = None
            elif v is not None:
                v = str(v)
            vals.append(v)
        return tuple(vals)

    rows = [coerce(r) for r in payload]
    cols = list(zip(*rows)) if rows else [()] * len(_FIELD_MAP)
    # one instant per batch, converted the way Spark converts a Python
    # datetime: a naive stamp is wall time in the process's local timezone
    micros = T.TimestampType().toInternal(stamp)
    cols.append([micros] * len(rows))
    table = pa.Table.from_arrays(
        [_arrow_column(c, f.type) for c, f in zip(cols, _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )
    # One partition per Arrow record batch, the split Spark itself uses for
    # Arrow input above its local-relation threshold; below it Spark would
    # spread a small batch over every core and land it as that many files.
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    parts = -(-len(rows) // per_batch) if per_batch > 0 else 1
    return spark.createDataFrame(table, schema=RAW_SCHEMA).coalesce(max(1, parts))


def _arrow_column(values: Sequence[Any], type_: pa.DataType) -> pa.Array:
    try:
        return pa.array(values, type=type_)
    except UnicodeEncodeError:
        # JSON can carry lone surrogate escapes ("\ud800"), which UTF-8
        # cannot encode; each surrogate code point becomes U+FFFD, which is
        # what Spark stores for one in a Python row's string.
        return pa.array(
            [v if v is None else _SURROGATE.sub("\ufffd", v) for v in values],
            type=type_,
        )


def ingest(
    spark: SparkSession,
    fetch: Callable[[], Sequence[dict[str, Any]]] = http_fetch,
    load_ts: dt.datetime | None = None,
) -> DataFrame:
    """extract_and_load, minus the load: fetch → normalize → raw DataFrame."""
    return normalize(spark, fetch(), load_ts=load_ts)
