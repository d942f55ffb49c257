"""DuckDB SQL renderings of Spark's xxhash64 — the piece that lets the
MinHash/LSH operator have a value-level cross-engine oracle.

Spark's ``xxhash64`` is standard XXH64 (seed 42) over UTF-8 bytes for
strings, the 8-byte little-endian value for longs, and the 4-byte value for
ints; multi-argument calls chain, each argument hashed with the running
hash as its seed. Everything here is generated single-statement SQL — no
macros, no temp objects — so any harness that can run one ``SELECT`` can
run the oracle:

- all arithmetic is HUGEINT mod 2^64 (DuckDB xor/shift/divide handle
  HUGEINT natively; 64×64-bit multiplication splits the left operand into
  32-bit halves so no intermediate exceeds 2^96);
- per-row sequential steps are LATERAL COLUMN ALIASES (each a named column
  referencing the previous — linear SQL text, no exponential inlining);
- data-length-dependent loops (32-byte stripes, 8-byte tail words, tail
  bytes) are ``list_reduce`` folds whose lambda bodies are written once and
  reference only real columns of the previous CTE (lambdas cannot see
  lateral aliases, so the chain is split into CTE stages accordingly).

Verified value-identical to Spark and to an independent pure-Python XXH64
spec model in tests/test_duckdb_xxh64.py.
"""

from __future__ import annotations

P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
M64 = 1 << 64
MASK = M64 - 1
SEED = 42  # Spark's fixed xxhash64 seed


def _mul(a: str, b: str) -> str:
    """(a*b) mod 2^64 without exceeding 2^96: split ``a`` into 32-bit halves."""
    return (f"((((({a}) // 4294967296) * ({b})) % 4294967296) * 4294967296"
            f" + (({a}) % 4294967296) * ({b})) % {M64}")


def _rotl(x: str, r: int) -> str:
    return f"((({x}) * {1 << r}) % {M64} + (({x}) // {1 << (64 - r)}))"


def _xor(a: str, b: str) -> str:
    return f"xor(({a})::HUGEINT, ({b})::HUGEINT)"


def _round(v: str, w: str) -> str:
    """XXH64 accumulator round: rotl31(v + w*P2) * P1 (mod 2^64)."""
    inner = f"((({v}) + {_mul(w, str(P2))}) % {M64})"
    return _mul(_rotl(inner, 31), str(P1))


def _round0(w: str) -> str:
    """round(0, w) = rotl31(w*P2) * P1 — merge and 8-byte-tail steps."""
    return _mul(_rotl(f"({_mul(w, str(P2))})", 31), str(P1))


# The 5-step XXH64 finalization avalanche — xor-shift 33, *P2, xor-shift 29,
# *P3, xor-shift 32 — as ONE spec table. Three renderings derive from it
# (_fmix_aliases lateral aliases, the tail of the g_layers CTE chain, the
# per-seed level CTEs in seed_permutation_ctes); hand-writing it three times
# meant a constant typo in one copy would pass import and surface only as an
# opaque downstream value-hash mismatch (review r05).
_AVALANCHE: tuple[tuple[str, int], ...] = (
    ("shift", 33), ("mul", P2), ("shift", 29), ("mul", P3), ("shift", 32))


def _avalanche_step(kind: str, val: int, c: str) -> str:
    if kind == "shift":
        return _xor(c, f"({c}) // {1 << val}")
    return _mul(c, str(val))


def _fmix_aliases(h: str, prefix: str) -> list[str]:
    """The 5-step avalanche as lateral-alias columns; final = ``{prefix}5``."""
    out = []
    cur = f"({h})"
    for i, (kind, val) in enumerate(_AVALANCHE):
        out.append(f"{_avalanche_step(kind, val, cur)} AS {prefix}{i + 1}")
        cur = f"{prefix}{i + 1}"
    return out


def _signed(u: str) -> str:
    return f"CASE WHEN {u} >= {1 << 63} THEN {u} - {M64} ELSE {u} END::BIGINT"


def utf8_bytes_expr(s: str) -> str:
    """UTF-8 byte list (HUGEINT elements) of string expression ``s``:
    codepoints via unicode() expanded arithmetically (unicode('') is -1 in
    DuckDB, hence the empty-string guard)."""
    u = "unicode(_ch)"
    enc = (f"CASE WHEN {u} < 128 THEN [{u}::HUGEINT] "
           f"WHEN {u} < 2048 THEN [(192 + {u} // 64)::HUGEINT, "
           f"(128 + {u} % 64)::HUGEINT] "
           f"WHEN {u} < 65536 THEN [(224 + {u} // 4096)::HUGEINT, "
           f"(128 + ({u} // 64) % 64)::HUGEINT, (128 + {u} % 64)::HUGEINT] "
           f"ELSE [(240 + {u} // 262144)::HUGEINT, "
           f"(128 + ({u} // 4096) % 64)::HUGEINT, "
           f"(128 + ({u} // 64) % 64)::HUGEINT, "
           f"(128 + {u} % 64)::HUGEINT] END")
    return (f"CASE WHEN ({s}) IS NULL OR ({s}) = '' THEN []::HUGEINT[] "
            f"ELSE flatten(list_transform(string_split(({s}), ''), "
            f"_ch -> {enc})) END")


def _word(base: str) -> str:
    """8-byte little-endian word from byte list ``_b`` at 1-indexed offset
    expression ``base`` (first byte at ``base``)."""
    return ("(" + " + ".join(f"_b[({base}) + {k}] * {1 << (8 * k)}"
                             for k in range(8)) + ")")


def xxh64_string_ctes(input_cte: str, id_cols: list[str], str_expr: str,
                      out_col: str, prefix: str) -> str:
    """CTE chain (to splice after a WITH) hashing ``str_expr`` per row of
    ``input_cte`` with Spark string semantics (UTF-8, seed 42). The final
    CTE ``{prefix}_out`` exposes ``id_cols`` + ``{out_col}`` (signed
    BIGINT). Stages are split so every lambda references only real columns.
    """
    ids = ", ".join(id_cols)
    p = prefix
    v_init = (f"{{'va': {(SEED + P1 + P2) & MASK}::HUGEINT, "
              f"'vb': {(SEED + P2) & MASK}::HUGEINT, "
              f"'vc': {SEED & MASK}::HUGEINT, "
              f"'vd': {(SEED - P1) & MASK}::HUGEINT}}")
    stripe_struct = (f"{{'va': {_word('32*_i + 1')}, "
                     f"'vb': {_word('32*_i + 9')}, "
                     f"'vc': {_word('32*_i + 17')}, "
                     f"'vd': {_word('32*_i + 25')}}}")
    stripe_fold = ("(acc, s) -> {"
                   f"'va': {_round('acc.va', 's.va')}, "
                   f"'vb': {_round('acc.vb', 's.vb')}, "
                   f"'vc': {_round('acc.vc', 's.vc')}, "
                   f"'vd': {_round('acc.vd', 's.vd')}}}")
    conv = (f"({_rotl('_v.va', 1)} + {_rotl('_v.vb', 7)} + "
            f"{_rotl('_v.vc', 12)} + {_rotl('_v.vd', 18)}) % {M64}")
    merge = [
        f"({_mul(_xor(conv, _round0('_v.va')), str(P1))} + {P4}) % {M64} "
        f"AS _m1",
        f"({_mul(_xor('_m1', _round0('_v.vb')), str(P1))} + {P4}) % {M64} "
        f"AS _m2",
        f"({_mul(_xor('_m2', _round0('_v.vc')), str(P1))} + {P4}) % {M64} "
        f"AS _m3",
        f"({_mul(_xor('_m3', _round0('_v.vd')), str(P1))} + {P4}) % {M64} "
        f"AS _m4",
    ]
    word_fold = ("(h, w) -> ("
                 + _mul(_rotl(_xor("h", _round0("w")), 27), str(P1))
                 + f" + {P4}) % {M64}")
    u32 = ("(" + " + ".join(f"_b[_p4 + {k + 1}] * {1 << (8 * k)}"
                            for k in range(4)) + ")")
    byte_fold = ("(h, b) -> "
                 + _mul(_rotl(_xor("h", _mul("b", str(P5))), 11), str(P1)))
    merge_aliases = ",\n        ".join(merge)
    fmix = ",\n        ".join(_fmix_aliases("_t3", "_f"))
    return f"""
    {p}_b0 AS (
      SELECT {ids}, ({str_expr}) IS NULL AS _isnull,
             {utf8_bytes_expr(str_expr)} AS _b FROM {input_cte}
    ),
    {p}_b1 AS (
      SELECT *, len(_b) AS _n, len(_b) // 32 AS _ns FROM {p}_b0
    ),
    {p}_b2 AS (
      SELECT *, list_reduce(list_prepend({v_init},
        list_transform(range(_ns), _i -> {stripe_struct})),
        {stripe_fold}) AS _v
      FROM {p}_b1
    ),
    {p}_b3 AS (
      SELECT *,
        {merge_aliases},
        (CASE WHEN _ns > 0 THEN _m4
              ELSE {(SEED + P5) & MASK}::HUGEINT END + _n) % {M64} AS _t0,
        (_n - 32*_ns) // 8 AS _t8
      FROM {p}_b2
    ),
    {p}_b4 AS (
      SELECT *, list_reduce(list_prepend(_t0,
        list_transform(range(_t8), _j -> {_word('32*_ns + 8*_j + 1')})),
        {word_fold}) AS _t1
      FROM {p}_b3
    ),
    {p}_b5 AS (
      SELECT *, 32*_ns + 8*_t8 AS _p4 FROM {p}_b4
    ),
    {p}_b6 AS (
      SELECT *,
        CASE WHEN _n - _p4 >= 4 THEN
          ({_mul(_rotl(_xor('_t1', _mul(u32, str(P1))), 23), str(P2))}
           + {P3}) % {M64}
        ELSE _t1 END AS _t2,
        CASE WHEN _n - _p4 >= 4 THEN _p4 + 4 ELSE _p4 END AS _pb
      FROM {p}_b5
    ),
    {p}_b7 AS (
      SELECT *, list_reduce(list_prepend(_t2, _b[_pb + 1 : _n]),
        {byte_fold}) AS _t3
      FROM {p}_b6
    ),
    {p}_out AS (
      -- Spark skips NULL children entirely: xxhash64(NULL) is the raw
      -- seed 42, NOT the avalanched empty-input hash
      SELECT {ids},
             CASE WHEN _isnull THEN {SEED} ELSE {_signed('_f5')} END
               AS {out_col}
      FROM (
        SELECT {ids}, _isnull,
        {fmix}
        FROM {p}_b7)
    )"""


def seed_permutation_ctes(input_cte: str, id_cols: list[str], long_col: str,
                          seeds: list[int], prefix: str) -> str:
    """CTE chain computing Spark ``xxhash64(long_col, lit(i))`` for every i
    in ``seeds`` — i.e. hashInt(i, hashLong(l, 42)) — over each row of
    ``input_cte``. Final CTE ``{prefix}_out`` exposes ``id_cols`` plus
    ``p{i}`` (signed BIGINT) per seed.

    CRITICAL STRUCTURE NOTE: DuckDB substitutes lateral column aliases
    textually (no sharing), so a deep alias chain re-evaluates its prefix
    exponentially — a 32-seed × 6-level chain in one SELECT ran for hours.
    Every avalanche LEVEL therefore gets its own CTE layer (projections
    bind columns once); within a layer each expression references only
    previous-layer columns with constant fanout."""
    p = prefix
    ids = ", ".join(id_cols)
    init = f"{(SEED + P5 + 8) & MASK}::HUGEINT"
    g_layers = [
        (f"{p}_g1", f"CASE WHEN ({long_col}) < 0 THEN ({long_col})::HUGEINT"
                    f" + {M64} ELSE ({long_col})::HUGEINT END AS _u"),
        (f"{p}_g2", f"({_mul(_rotl(_xor(init, _round0('_u')), 27), str(P1))}"
                    f" + {P4}) % {M64} AS _a"),
    ] + [
        # avalanche tail derived from the single _AVALANCHE spec
        (f"{p}_g{i + 3}",
         f"{_avalanche_step(kind, val, '_a' if i == 0 else f'_x{i}')}"
         f" AS {'_g' if i == len(_AVALANCHE) - 1 else f'_x{i + 1}'}")
        for i, (kind, val) in enumerate(_AVALANCHE)
    ]
    parts = []
    prev = input_cte
    for name, alias in g_layers:
        parts.append(f"{name} AS (SELECT {ids}, {alias} FROM {prev})")
        prev = name
    # per-seed pre-avalanche value, then one CTE layer per avalanche level
    pres = []
    for i in seeds:
        k = ((i & 0xFFFFFFFF) * P1) & MASK
        seeded = f"((_g + {(P5 + 4) & MASK}) % {M64})"
        pres.append(f"({_mul(_rotl(_xor(seeded, str(k)), 23), str(P2))}"
                    f" + {P3}) % {M64} AS _q{i}_0")
    parts.append(f"{p}_s0 AS (SELECT {ids}, " + ",\n        ".join(pres)
                 + f" FROM {prev})")
    prev = f"{p}_s0"
    for lvl, (kind, val) in enumerate(_AVALANCHE):
        cols = ",\n        ".join(
            f"{_avalanche_step(kind, val, f'_q{i}_{lvl}')} AS _q{i}_{lvl + 1}"
            for i in seeds)
        parts.append(f"{p}_s{lvl + 1} AS (SELECT {ids}, {cols} FROM {prev})")
        prev = f"{p}_s{lvl + 1}"
    finals = ", ".join(f"{_signed(f'_q{i}_5')} AS p{i}" for i in seeds)
    parts.append(f"{p}_out AS (SELECT {ids}, {finals} FROM {prev})")
    return ",\n    ".join(parts)


