"""The generated DuckDB XXH64 SQL must be value-identical to (a) an
independent pure-Python XXH64 spec model and (b) Spark's xxhash64 itself
(string path, long path, and the long+int-literal chain the MinHash
signature uses)."""

from __future__ import annotations

import duckdb
import pytest

from br_doc_ocr_spark import duckdb_xxh64 as X

P1, P2, P3, P4, P5 = X.P1, X.P2, X.P3, X.P4, X.P5
M = X.MASK


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h


def _round(acc: int, w: int) -> int:
    return (_rotl((acc + w * P2) & M, 31) * P1) & M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64 (spec model, written from the published algorithm)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little")); i += 8
            v2 = _round(v2, int.from_bytes(data[i:i + 8], "little")); i += 8
            v3 = _round(v3, int.from_bytes(data[i:i + 8], "little")); i += 8
            v4 = _round(v4, int.from_bytes(data[i:i + 8], "little")); i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, int.from_bytes(data[i:i + 8], "little")),
                   27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (int.from_bytes(data[i:i + 4], "little") * P1) & M,
                   23) * P2 + P3) & M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * P5) & M, 11) * P1) & M
        i += 1
    return _fmix(h)


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def hash_long(l: int, seed: int) -> int:
    """Spark XXH64.hashLong (8-byte input specialization)."""
    h = (seed + P5 + 8) & M
    h = (_rotl(h ^ _round(0, l & M), 27) * P1 + P4) & M
    return _fmix(h)


def hash_int(i: int, seed: int) -> int:
    """Spark XXH64.hashInt (4-byte input specialization)."""
    h = (seed + P5 + 4) & M
    h = (_rotl(h ^ ((i & 0xFFFFFFFF) * P1) & M, 23) * P2 + P3) & M
    return _fmix(h)


STRINGS = [
    None,                                           # Spark: NULL → seed 42
    "", "a", "ab", "abc", "abcd", "abcde",          # byte-tail shapes
    "12345678", "123456789",                        # 8-byte word boundary
    "0123456789ab", "0123456789abc",                # 8+4(+1)
    "x" * 31, "y" * 32, "z" * 33,                   # stripe boundary
    "w" * 64, "v" * 100, "long word " * 20,
    "açúcar único", "中文分词测试", "mixé 中 € \U0001F600",
    "the quick brown fox jumps over the lazy dog",
]


def test_python_model_matches_known_vectors():
    # XXH64 published test vector: seed 0, empty input
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999


def test_duckdb_string_hash_matches_python_model():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, ?)" for i in range(len(STRINGS)))
                + ") v(id, s)", STRINGS)
    sql = ("WITH " + X.xxh64_string_ctes("t", ["id"], "s", "h", "hx")
           + " SELECT id, h FROM hx_out ORDER BY id")
    got = dict(con.execute(sql).fetchall())
    want = {i: (42 if s is None else _signed(xxh64(s.encode("utf-8"), 42)))
            for i, s in enumerate(STRINGS)}
    assert got == want


LONGS = [0, 1, -1, 42, 2**31, -(2**31), 2**63 - 1, -(2**63),
         123456789123456789, -987654321987654321]


def test_duckdb_seed_permutation_ctes_match_python_model():
    """The layered (per-avalanche-level CTE) seed-permutation chain — the
    form the MinHash oracle actually uses, since deep lateral-alias chains
    re-evaluate exponentially in DuckDB — must match the spec model for
    every seed."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, ({v})::BIGINT)"
                            for i, v in enumerate(LONGS))
                + ") v(id, l)")
    seeds = [0, 1, 7, 31]
    sql = ("WITH " + X.seed_permutation_ctes("t", ["id"], "l", seeds, "sp")
           + " SELECT * FROM sp_out ORDER BY id")
    rows = con.execute(sql).fetchdf()
    for i, v in enumerate(LONGS):
        for s in seeds:
            want = _signed(hash_int(s, hash_long(v & M, 42)))
            assert int(rows[f"p{s}"][i]) == want, (i, s)


def test_duckdb_matches_spark_xxhash64(spark):
    from pyspark.sql import functions as sf

    df = spark.createDataFrame([(i, s) for i, s in enumerate(STRINGS)],
                               "id long, s string")
    sp = {r["id"]: (r["h_str"], r["h_long"], r["h_chain"]) for r in
          df.select("id", sf.xxhash64("s").alias("h_str"),
                    sf.xxhash64("id").alias("h_long"),
                    sf.xxhash64("id", sf.lit(7)).alias("h_chain")).collect()}
    for i, s in enumerate(STRINGS):
        want = 42 if s is None else _signed(xxh64(s.encode("utf-8"), 42))
        assert sp[i][0] == want, s
        assert sp[i][1] == _signed(hash_long(i, 42))
        assert sp[i][2] == _signed(hash_int(7, hash_long(i, 42)))
