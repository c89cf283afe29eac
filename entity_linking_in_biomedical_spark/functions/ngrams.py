"""Character n-grams, MinHash signatures and LSH band keys — all as
JVM-side Column expressions (no UDF, no Spark-ML vector objects).

Design notes (scale):
- Everything here is `transform`/`array_min`/`md5` over array columns,
  running inside Catalyst — never crossing into Python.
- Each gram is md5-hashed ONCE (the only expensive op), reduced to a
  60-bit integer; the k-th minhash is then derived by universal hashing
  ``(a_k * h + b_k) mod p`` (p = 2^31-1, a_k,b_k fixed constants below).
  The naive alternative — one md5 per (gram, seed) — is 12-16x more
  md5 calls and measured ~10x slower end-to-end on the blocking stage.
- md5 (not xxhash64) is the base hash because DuckDB computes the
  identical digest, so the driver's oracle can verify exact
  signature/band values: Spark ``conv(substr(md5(g),1,15),16,10)`` ==
  DuckDB ``('0x'||substr(md5(g),1,15))::bigint`` == Python
  ``int(md5(g).hexdigest()[:15],16)``.

Replaces the reference's TF-IDF char 2-5-gram brute-force cosine
(candidate_generator.py:31-36, 89-127) as the approximate blocking
channel.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, functions as F
from ..session import pin

# universal-hash family over the 60-bit gram hash
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne); a*h' < 2^59 — no overflow


def minhash_coeffs(k: int) -> tuple[int, int]:
    """Deterministic (a_k, b_k) pairs derived from md5 — identical in
    the Spark expression, the DuckDB oracle SQL and the Python oracle."""
    a = (int(hashlib.md5(f"a{k}".encode()).hexdigest()[:7], 16) | 1) % MINHASH_P
    b = int(hashlib.md5(f"b{k}".encode()).hexdigest()[:7], 16) % MINHASH_P
    return a, b


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of character n-grams of ``col`` (strings shorter than n
    contribute themselves as a single gram)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(c) - F.lit(n - 1))),
        lambda i: F.substring(c, i, n),  # type: ignore[arg-type]
    )


def char_ngrams_multi(col: Column | str, ns: tuple[int, ...] = (2, 3)) -> Column:
    """Union of char n-gram sets for several n — the reference's char
    2-5-gram range (candidate_generator.py:31-36) rationale: short
    strings (acronyms) only overlap under small n, long strings get
    specificity from larger n."""
    arrs = [char_ngrams(col, n) for n in ns]
    out = arrs[0]
    for a in arrs[1:]:
        out = F.concat(out, a)
    return F.array_distinct(out)


def gram_hashes(grams: Column) -> Column:
    """One md5 per gram -> 60-bit int mod p. Empty gram arrays hash the
    empty string (so signatures are always well-defined)."""
    safe = F.when(F.size(grams) > 0, grams).otherwise(F.array(F.lit("")))
    return F.transform(
        safe,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )


def minhash_signature(grams: Column, num_hashes: int = 12) -> Column:
    """Array of ``num_hashes`` min-hash values (longs in [0, p)) over a
    gram array, via universal hashing of the per-gram base hash.

    SINGLE-PASS formulation: one aggregate folds the gram-hash array
    into the running-minimum array, with the per-seed arithmetic inside
    a zip_with. Building num_hashes separate array_min expressions
    would re-evaluate the md5 hashing once per seed — Catalyst does not
    CSE a subexpression referenced from multiple higher-order lambdas
    (measured 10x+ on the blocking stage).

    Callers that consume the signature more than once (band keys!)
    should materialize it as a column behind a localCheckpoint — see
    with_band_keys()."""
    hs = gram_hashes(grams)
    a_arr = F.array(*[F.lit(minhash_coeffs(k)[0]) for k in range(num_hashes)])
    b_arr = F.array(*[F.lit(minhash_coeffs(k)[1]) for k in range(num_hashes)])
    idx = F.array(*[F.lit(k) for k in range(num_hashes)])
    return F.aggregate(
        hs,
        F.array_repeat(F.lit(MINHASH_P).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda m, k: F.least(
                m,
                (F.get(a_arr, k).cast("long") * h + F.get(b_arr, k).cast("long"))
                % F.lit(MINHASH_P),
            ),
        ),
    )


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Array of ``bands`` band keys. rows==1: the key is the minhash
    value itself, namespaced by band index (no extra hashing — and a
    single `transform` with an index lambda, so ``signature`` is
    referenced exactly once). rows>1: md5 over the row-concatenation.

    NOTE: the rows>1 path references ``signature`` once per band; pass
    a *materialized column* (see with_band_keys), not a raw minhash
    expression, or the md5 pass re-runs per band."""
    if rows == 1:
        return F.transform(
            F.slice(signature, 1, bands),
            lambda v, j: F.concat(F.lit("l"), j.cast("string"), F.lit("|"), v.cast("string")),
        )
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"b{j}:"),
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice(signature, j * rows + 1, rows),
                            lambda v: v.cast("string"),
                        ),
                    ),
                )
            )
            for j in range(bands)
        ]
    )


def with_band_keys(df, grams: Column, num_hashes: int, bands: int, out: str = "bk"):
    """DataFrame-level banding: materialize the minhash signature column
    (lazy localCheckpoint) so the md5-per-gram pass runs exactly once,
    then derive band keys from the materialized attribute. Returns df
    with ``out`` = exploded band key."""
    rows = num_hashes // bands
    sigged = pin(df.withColumn("_sig", minhash_signature(grams, num_hashes)))
    return sigged.withColumn(out, F.explode(lsh_band_keys(F.col("_sig"), bands, rows))).drop(
        "_sig"
    )


# ---------------------------------------------------------------------------
# DuckDB twins (exact same values)
# ---------------------------------------------------------------------------


def duckdb_gram_hashes(grams_sql: str) -> str:
    safe = f"(case when len({grams_sql}) > 0 then {grams_sql} else [''] end)"
    return (
        f"[(('0x' || substr(md5(g), 1, 15))::bigint) % {MINHASH_P} for g in {safe}]"
    )


def duckdb_minhash_sql(grams_sql: str, num_hashes: int = 12) -> str:
    hs = duckdb_gram_hashes(grams_sql)
    parts = []
    for k in range(num_hashes):
        a, b = minhash_coeffs(k)
        parts.append(f"list_min([({a} * h + {b}) % {MINHASH_P} for h in {hs}])")
    return "[" + ", ".join(parts) + "]"


def duckdb_band_keys_sql(grams_sql: str, num_hashes: int = 12, bands: int = 12) -> str:
    rows = num_hashes // bands
    sig = duckdb_minhash_sql(grams_sql, num_hashes)
    parts = []
    for j in range(bands):
        if rows == 1:
            parts.append(f"'l{j}|' || cast({sig}[{j + 1}] as varchar)")
        else:
            elems = f"list_slice({sig}, {j * rows + 1}, {j * rows + rows})"
            parts.append(
                f"md5('b{j}:' || array_to_string(list_transform({elems}, v -> cast(v as varchar)), '|'))"
            )
    return "[" + ", ".join(parts) + "]"
