"""Deterministic hashing / shingling helpers for the dedup + ANN operators.

Everything here is seed-stable across runs and cluster layouts: hashes are
``xxhash64``/``crc32`` of column values (JVM-side, codegen'd), never Python
``hash()`` or RNG state. That keeps MinHash signatures and LSH bucket
assignments reproducible — a requirement for the driver's hash-compare and
for incremental re-runs over 100 TB (re-hashing a partition yields identical
buckets, so dedup is restartable).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — canonical form for near-dup hashing."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def shingles_from_words(words: Column, k: int) -> Column:
    """Distinct k-word shingles from a MATERIALIZED token-array column.

    ``words`` must be a projected column (not an inline split expression):
    codegen inlines expression trees into every lambda reference, so an
    inline ``split(regexp_replace(...))`` would re-run the full regex chain
    for each of the 3k ``element_at`` lookups per row (~20× slowdown,
    measured). Project the tokens once, then shingle.
    """
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(words, i + j + 1) for j in range(k)]
    )
    return F.array_distinct(
        F.when(n >= k, F.transform(idx, shingle)).otherwise(
            F.array().cast("array<string>")  # <k words -> NO shingles (matches
            # the SQL oracle and shingle_hash_docs; see its contract note)
        )
    )


def shingle_hashes_from_words(words: Column, k: int) -> Column:
    """Distinct xxhash64 k-shingle hashes from a MATERIALIZED token array —
    the string-free twin of :func:`shingles_from_words` for consumers that
    only ever join/count on the shingle (Jaccard): the k word columns feed
    multi-arg xxhash64 directly, skipping concat_ws entirely, and
    array_distinct dedups 8-byte longs instead of strings. Distinctness
    stays LOCAL (per-row array), so no extra shuffle is introduced."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = lambda i: F.xxhash64(*[F.element_at(words, i + j + 1) for j in range(k)])  # noqa: E731
    return F.array_distinct(
        F.when(n >= k, F.transform(idx, sh)).otherwise(F.array().cast("array<bigint>"))
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a raw text column — convenience form for
    small inputs/tests. Hot paths should project ``split(normalize_text)``
    first and call :func:`shingles_from_words` (see its docstring)."""
    return shingles_from_words(F.split(normalize_text(col), " "), k)


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: for seed i, min over shingles of xxhash64(shingle, i).

    xxhash64 hashes all its argument columns together, so the i-th hash
    family is the pair (shingle, i) — no a*x+b mod p bookkeeping, and
    it's all JVM-side. Returns ``array<bigint>`` of length
    ``num_hashes``.

    The per-family lambda must stay SINGLE-argument: a ``lambda s, i=i``
    default-arg capture makes PySpark treat it as the two-arg
    (element, index) higher-order-function form and bind ``i`` to the
    ARRAY INDEX — every "seed" then produces the identical hash and all
    signature positions collapse to one value (caught by
    test_reference_forms_agree_with_production_paths; same trap
    documented at operators/text.py lang_id). The seed is closed over
    via an enclosing scope instead.
    """

    def fam(i: int) -> Column:
        return F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))

    return F.array(*[fam(i) for i in range(num_hashes)])


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band of the signature to one bucket key.

    Returns ``array<struct<band:int, key:bigint>>`` — explode and group by
    (band, key) to get candidate buckets. Docs sharing any band bucket are
    candidate pairs (standard MinHash-LSH banding).

    The band's signature values feed multi-arg ``xxhash64`` DIRECTLY
    (longs + the band index) — bucket membership only needs "equal band
    rows ⇒ equal key, unequal ⇒ unequal up to the 2⁻⁶⁴ hash-collision
    floor", which long-hashing preserves identically. The original form
    cast each value to string and ``concat_ws``-joined them before
    hashing — two string materializations per band per doc (64 per doc at
    32×2 banding) that existed only to feed a string hasher; the r14
    optimization pass measured the band explode at 2× per query (each
    self-join side re-generates it) and dropped the string path
    (candidate pairs verified identical at sf0.001/0.01/0.1)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at(signature, b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                    F.lit(b),
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def rolling_hash(col: Column) -> Column:
    """Polynomial rolling hash over the characters of a string column.

    ``h = (h * 31 + ascii(char)) % (2^31 - 1)`` folded left-to-right with
    ``F.aggregate`` — exact 64-bit integer arithmetic (31 · (2^31 - 1) < 2^63,
    no overflow), fully JVM-side, and expressible in ANSI SQL for the
    DuckDB oracle (``list_reduce`` twin). Used for document fingerprinting.
    """
    chars = F.split(col, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % ((1 << 31) - 1),
    )


def md5_int60(col: Column) -> Column:
    """Engine-identical 60-bit non-negative integer of a string column:
    the first 15 hex chars of md5 parsed base-16. DuckDB twin:
    ``('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT``. This is the
    hash to reach for whenever the SQL oracle must REPLAY the hash value
    itself (feature hashing, deterministic bucket membership); xxhash64
    stays the choice when only Spark consumes the value — it is
    codegen'd and several times cheaper, but has no DuckDB twin."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def cms_bucket(seed: Column, key: Column, width: int) -> Column:
    """Count-min-sketch bucket for ``key`` under hash row ``seed``:
    the md5-derived 60-bit integer (engine-identical in DuckDB via
    ``('0x' || substr(md5(...), 1, 15))::UBIGINT::BIGINT``) reduced mod
    the row width. Shared by the sketch stores
    (queries.cms_mergeable_user_counts, queries.cms_store_monthly_read)
    so both populate identical cells.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", seed.cast("string"), key.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % width


# Hand-rolled HLL register geometry: 2^8 = 256 registers off the same
# 60-bit md5 hash as cms_bucket; the low 8 bits pick the register, the
# remaining 52 payload bits give rho = leading-zero count + 1 (so
# 1..52, with the all-zero payload pinned to 53). Everything is exact
# integer/string arithmetic with a DuckDB twin (format('{:b}', w) ==
# Spark bin(w)), so — unlike hll_sketch_agg's opaque DataSketches
# bytes — the stored registers themselves hash-compare across engines.
HLL_REGISTERS = 256
HLL_RHO_CAP = 53


def hll_register(key: Column) -> tuple[Column, Column]:
    """(register, rho) pair for the mergeable HLL register store.
    Registers merge by MAX — associative and idempotent, so per-grain
    cells roll up to any range (and replay safely) with no rescan.
    Used by the register store (queries.hll_register_store_users)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit("hll"), key.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    reg = h.bitwiseAND(F.lit(255)).cast("int")
    w = F.shiftright(h, 8)
    rho = (
        F.when(w == 0, F.lit(HLL_RHO_CAP))
        .otherwise(F.lit(HLL_RHO_CAP) - F.length(F.bin(w)))
        .cast("int")
    )
    return reg, rho
