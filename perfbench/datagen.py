"""Seeded input generators for the benchmark.

Everything here is pure Python/numpy/pyarrow, so the engine only ever sees
the generated files and payloads, never the generator.

- :func:`write_star_schema` writes the ten fixture tables the registry reads
  (one parquet file with one row group per table, the layout of the
  project's test fixtures) at a given scale factor.
- :func:`launch_snapshot` builds one day's SpaceX-API-shaped launch list
  for the ELT workload: every known launch re-delivered, with NULLs and
  malformed fields that ``sources.rest_api.normalize`` coerces to NULL;
  :func:`correction_batch` picks that day's out-of-band corrections.

The same ``seed`` gives byte-identical output. Shapes (row counts, the
number and sizes of planted near-duplicate clusters) depend only on the
scale factor, so a different seed changes values, not the amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJECTIVES = ("cold", "small", "large", "red", "blue", "old", "new", "hot")
NOUNS = ("widget", "bolt", "anvil", "plate", "gear", "ring", "rod", "gizmo")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row count per table; the fixture generator's proportions."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word-salad documents over a 30-word vocabulary, with planted
    near-duplicate clusters of fixed sizes: one doc in 20 heads a cluster,
    and each cluster member is the head plus the word ``dup`` (a near
    duplicate, not an exact one). Sizes cycle 2, 2, 3 so the connected-
    components fixpoint does the same number of rounds for every seed."""
    lengths = rng.integers(8, 90, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lengths]
    n_clusters = n // 20
    members = rng.permutation(n)
    pos = 0
    for c in range(n_clusters):
        size = (2, 2, 3)[c % 3]
        head, *copies = members[pos : pos + size]
        pos += size
        for m in copies:
            texts[m] = texts[head] + " dup"
    langs = _pick(rng, LANGS, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": langs,
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.1, (10, dim))
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (n, dim))).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables as arrow tables (deterministic in ``seed``)."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = table_sizes(sf)
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        }
    )
    p = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
            "p_name": _pick(rng, names, p),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)),
        }
    )
    o = n["orders"]
    odays = rng.integers(0, 2404, o)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, o)),
            "o_orderdate": pa.array(_EPOCH_1995 + odays * _DAY_US, ts),
            "o_orderpriority": _pick(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), li),
            "l_linestatus": _pick(rng, ("F", "O"), li),
            "l_shipdate": pa.array(_EPOCH_1995 + (rng.integers(1, 2499, li) * _DAY_US), ts),
        }
    )
    e = n["events"]
    offs = np.sort(rng.integers(0, 30 * _DAY_US, e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + offs, ts),
            "user_id": pa.array(rng.integers(0, max(15, round(15_000 * sf)), e).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": pa.array(_money(rng, 0.01, 490.0, e)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_star_schema(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``<out_dir>/<table>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in star_schema(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, tbl.num_rows))
    return out_dir


# --------------------------------------------------------------------------
# ELT payloads
# --------------------------------------------------------------------------

_MALFORMED_DATES = ("", "TBD", "not-a-date", "2021-13-45T99:99:99.000Z")


def _launch_id(k: int) -> str:
    return f"{k:024x}"


def _stream(seed: int, field: int, n: int) -> np.ndarray:
    """``n`` uniform draws for one field of launches ``0..n-1``. Each field
    has its own stream, and a longer draw extends a shorter one, so launch
    ``k`` reads the same on every day that delivers it."""
    return np.random.default_rng([seed, 1, field]).random(n)


def launch_snapshot(seed: int, day: int, n0: int, new_per_day: int, upcoming: int) -> list[dict]:
    """The API's full launch list as delivered on ``day``.

    Like the reference's daily GET, every day re-delivers every launch the
    API knows: ``n0 + new_per_day * day`` of them, keyed ``0..n-1``. The
    newest ``upcoming`` launches are upcoming (``success`` NULL); a launch
    that leaves that window is re-delivered with its outcome. Fields follow
    the coerce rules of ``rest_api.normalize``: ``success`` is a bool, NULL
    or a non-bool (``"yes"``, coerced to NULL), ``flight_number`` an int,
    NULL or a malformed string, and ``date_utc`` an ISO-8601 string or a
    malformed one."""
    n = n0 + new_per_day * day
    r_date, r_success, r_flight, r_details, r_when = (_stream(seed, f, n) for f in range(5))
    start = dt.datetime(2006, 1, 1)
    spacing_days = 19 * 365 / n0  # day 0's launches span 2006-2024
    recs = []
    for k in range(n):
        if r_date[k] < 0.02:
            date = _MALFORMED_DATES[k % len(_MALFORMED_DATES)]
        else:
            when = start + dt.timedelta(days=(k + r_when[k]) * spacing_days)
            date = when.strftime("%Y-%m-%dT%H:%M:%S.000Z")
        is_upcoming = k >= n - upcoming
        r = r_success[k]
        success = None if is_upcoming else True if r < 0.85 else False if r < 0.95 else None if r < 0.98 else "yes"
        r = r_flight[k]
        flight = k if r < 0.9 else None if r < 0.95 else f"#{k}"
        recs.append(
            {
                "id": _launch_id(k),
                "name": f"Mission-{k}",
                "date_utc": date,
                "success": success,
                "rocket": f"{k % 7:024x}",
                "details": None if r_details[k] < 0.3 else f"flight {k}",
                "flight_number": flight,
                "upcoming": is_upcoming,
            }
        )
    return recs


def correction_batch(seed: int, day: int, snapshot: list[dict], n: int) -> list[dict]:
    """Out-of-band corrections to ``n`` distinct launches of ``snapshot``:
    the same record with ``success`` flipped to a definite value and new
    details."""
    rng = np.random.default_rng([seed, 2, day])
    recs = []
    for i in sorted(rng.choice(len(snapshot), size=n, replace=False)):
        r = dict(snapshot[i])
        r["success"] = not bool(r["success"])
        r["details"] = f"corrected on day {day}"
        recs.append(r)
    return recs
