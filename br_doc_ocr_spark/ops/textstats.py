"""Text analysis operators over a document corpus: token counting, quality
scoring, language identification, fingerprinting.

Scale design: every operator except the rolling-hash fingerprint is pure
column expressions (whole-stage codegen, no Python). They compose with any
filter/groupBy without extra shuffles — at 100 TB these run at scan speed.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as sf

from br_doc_ocr_spark.pipeline import map_kernel

_PLAIN_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into SQL fragments —
    a dotted/spaced/reserved-word name breaks or misresolves raw (ADVICE
    r03); plain identifiers pass through unquoted so generated SQL stays
    readable."""
    if _PLAIN_IDENT.fullmatch(name):
        return name
    return "`" + name.replace("`", "``") + "`"

# Stopword samples per language for the stopword-ratio heuristic (public
# langid practice: stopword hit-rate per language — the classic "stopwords"
# method from the langid literature; word lists are the usual top-frequency
# function words from public stopword collections). This is a HEURISTIC
# GATE, not a fasttext-class identifier: it separates languages by their
# highest-frequency function words and returns 'und' when none appear —
# fine for corpus triage/routing, not for per-document ground truth on
# short or code-mixed text.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "ar": ("في", "من", "على", "أن", "إلى", "عن", "هذا", "كان"),
    "cs": ("se", "na", "je", "že", "jsou", "ale", "jako", "podle"),
    "da": ("og", "det", "at", "den", "til", "er", "som", "ikke"),
    "de": ("der", "die", "und", "das", "ist", "von", "den", "nicht"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "de", "la", "y", "que", "los", "por", "una"),
    "fi": ("ja", "on", "ei", "että", "hän", "oli", "mutta", "joka"),
    "fr": ("le", "de", "la", "et", "les", "des", "une", "est"),
    "hi": ("के", "है", "में", "की", "का", "और", "से", "को"),
    "id": ("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini"),
    "it": ("il", "di", "che", "per", "della", "del", "non", "sono"),
    "ja": ("の", "に", "は", "を", "が", "で", "と", "した"),
    "ko": ("이", "그", "는", "을", "가", "에", "의", "하"),
    "nl": ("de", "het", "een", "en", "van", "dat", "niet", "met"),
    "no": ("og", "det", "som", "på", "til", "er", "av", "ikke"),
    "pl": ("nie", "się", "na", "do", "że", "jest", "jak", "ale"),
    "pt": ("o", "de", "e", "que", "do", "da", "em", "para"),
    "ro": ("și", "în", "la", "cu", "pe", "este", "care", "nu"),
    "ru": ("и", "в", "не", "на", "что", "как", "это", "но"),
    "sv": ("och", "att", "det", "som", "på", "är", "av", "för"),
    "tr": ("bir", "ve", "bu", "da", "için", "ile", "ki", "değil"),
    "uk": ("і", "в", "не", "на", "що", "як", "до", "це"),
    "vi": ("và", "của", "là", "có", "không", "được", "trong", "cho"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "这"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish pre-tokenization proxy)."""
    t = sf.trim(text)
    return sf.when(sf.length(t) == 0, sf.lit(0)).otherwise(
        sf.size(sf.split(t, r"\s+"))
    )


def punct_ratio(text: Column) -> Column:
    """Share of true punctuation: strip Unicode letters/digits/whitespace
    (``[\\p{L}\\p{N}\\s]``) — an ASCII-only class counted every accented
    letter (ã, ç, é — ubiquitous in the Portuguese domain text) as
    punctuation, systematically penalizing clean documents. ``\\p{Z}``
    joins ``\\s`` because Java's ``\\s`` is ASCII-only: NBSP (ubiquitous in
    HTML-derived corpora) and ideographic space are separators, not
    punctuation (review r04); the DuckDB oracle uses the same class."""
    stripped = sf.regexp_replace(text, r"[\p{L}\p{N}\s\p{Z}]", "")
    return sf.round(sf.length(stripped) / sf.greatest(sf.length(text), sf.lit(1)), 6)


def _word_tokens(text: Column) -> Column:
    """Lowercased word tokens: non-letter/digit runs collapse to a single
    space, then split — punctuation-bounded and adjacent occurrences all
    tokenize cleanly (a ``\\s<word>\\s`` split consumed the shared delimiter
    and missed 'the the' and 'the.')."""
    return sf.split(
        sf.regexp_replace(sf.lower(text), r"[^\p{L}\p{N}]+", " "), " ")


def _is_cjk(word: str) -> bool:
    """True for words that must be SUBSTRING-counted (no word boundaries in
    running text): CJK ideographs, kana (Japanese), Hangul (Korean
    particles attach to their host word, so token equality never fires)."""
    return any(
        "一" <= ch <= "鿿"       # CJK unified ideographs
        or "ぁ" <= ch <= "ヿ"    # hiragana + katakana
        or "가" <= ch <= "힣"    # hangul syllables
        for ch in word)


def stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Total occurrences of the given stopwords in the text.

    Latin-script words count by exact token equality over
    :func:`_word_tokens`; CJK entries (no word boundaries in running text —
    ``\\s的\\s`` can never match Chinese prose) count by substring
    occurrence. Both are whole-stage-friendly column expressions with exact
    DuckDB renderings (queries.py keeps the SQL in lockstep).
    """
    lowered = sf.lower(text)
    tokens = _word_tokens(text)
    counts = []
    latin = tuple(w for w in words if not _is_cjk(w))
    if latin:
        # ONE filter with a multi-way IN per language (not one filter per
        # word): equals the sum of per-word equality counts, at 1/len(words)
        # the array passes. Closure factory, NOT a default-arg lambda: a
        # two-parameter lambda in sf.filter is the (element, index) form.
        def _in(ws):
            return lambda x: x.isin(*ws)

        counts.append(sf.size(sf.filter(tokens, _in(latin))))
    for w in words:
        if _is_cjk(w):
            counts.append(
                (sf.length(lowered)
                 - sf.length(sf.replace(lowered, sf.lit(w), sf.lit(""))))
                / len(w))
    if not counts:
        # empty word tuple: zero hits, not an IndexError at plan build
        # (review r05 — e.g. a language entry with no stopwords yet)
        return sf.lit(0)
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return sf.greatest(total.cast("int"), sf.lit(0))


def quality_score(text: Column) -> Column:
    """Deterministic document quality score ∈ [0,1]: rewards mid-range length,
    low punctuation share, and English-stopword presence — the standard
    pretraining-filter shape (length/punct/stopword ratios)."""
    n_tokens = token_count(text)
    len_component = sf.least(n_tokens / sf.lit(64.0), sf.lit(1.0))
    punct_component = sf.lit(1.0) - sf.least(punct_ratio(text) * 5, sf.lit(1.0))
    stop_component = sf.least(
        stopword_hits(text, LANG_STOPWORDS["en"]) / sf.greatest(n_tokens, sf.lit(1))
        * sf.lit(4.0),
        sf.lit(1.0),
    )
    return sf.round(
        len_component * 0.4 + punct_component * 0.3 + stop_component * 0.3, 6
    )


# Spark-SQL rendering of _word_tokens ('\\\\' in the Python source → '\\' in
# the SQL literal → '\' in the regex — Spark's parser un-escapes string
# literals once)
_SQL_WORD_TOKENS = ("split(regexp_replace(lower({t}), "
                    "'[^\\\\p{{L}}\\\\p{{N}}]+', ' '), ' ')")


def _spark_sql_stopword_hits(text_sql: str, words: tuple[str, ...]) -> str:
    """Spark-SQL rendering of :func:`stopword_hits` — the same expression
    tree, emitted as ONE string for a single parse call instead of dozens of
    driver py4j round trips per language (the 24-language argmax built
    column-by-column cost ~1.1 s of pure plan construction)."""
    toks = _SQL_WORD_TOKENS.format(t=text_sql)
    terms = []
    latin = tuple(w for w in words if not _is_cjk(w))
    if latin:
        in_list = ", ".join(f"'{w}'" for w in latin)
        terms.append(f"size(filter({toks}, x -> x IN ({in_list})))")
    for w in words:
        if _is_cjk(w):
            terms.append(
                f"((length(lower({text_sql})) - "
                f"length(replace(lower({text_sql}), '{w}', ''))) / {len(w)})")
    if not terms:
        # empty word tuple renders literal 0, matching stopword_hits —
        # joining zero terms produced 'cast(() as int)', a SQL parse error
        return "0"
    return f"greatest(cast(({' + '.join(terms)}) as int), 0)"


def predict_lang(text: str) -> Column:
    """argmax over per-language stopword hit counts; 'und' when all zero.
    Ties break by language-code order (deterministic).

    ``text`` is a column NAME (or SQL fragment): the whole 24-language
    argmax over :func:`stopword_hits`' expression tree is generated as one
    SQL string and parsed in a single JVM call."""
    structs = ", ".join(
        f"named_struct('hits', {_spark_sql_stopword_hits(text, ws)}, "
        f"'lang', '{lang}')"
        for lang, ws in sorted(LANG_STOPWORDS.items()))
    return sf.expr(
        f"coalesce(array_max(filter(array({structs}), "
        f"s -> s.hits > 0)).lang, 'und')")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach n_tokens / punct_ratio / quality / lang_pred columns."""
    t = sf.col(text_col)
    return df.withColumns({
        "n_tokens": token_count(t),
        "punct_ratio": punct_ratio(t),
        "quality": quality_score(t),
        "lang_pred": predict_lang(_sql_ident(text_col)),
    })


# ---------------------------------------------------------------------------
# Repetition filters — the Gopher-style "repetitious document" signals
# (Rae et al. 2021 §A1.1, public): documents dominated by repeated lines or
# repeated n-grams are low-quality for pretraining. Per-document fractions
# are PURE column expressions (scan-speed, shuffle-free, compose with any
# filter); only the top-n-gram share needs an aggregation pass.
# ---------------------------------------------------------------------------


def _sql_word_ngrams(toks_col: str, n: int) -> str:
    """Word n-grams over an ALREADY-MATERIALIZED token-array column.

    ``toks_col`` must name a column (see :func:`_sql_filtered_tokens` for
    its definition), not an inline tokenizer expression: the token array is
    referenced from inside the per-position lambda, and an inlined
    expression re-evaluates the regex tokenizer once per n-gram position —
    measured 18× the whole operator's cost at sf0.1 (5.2 s → 0.3 s).

    Documents with fewer than ``n`` tokens yield an empty array — guarded
    explicitly because ``sequence(1, 0)`` is a DESCENDING sequence in
    Spark, and ``slice`` rejects its 0 element."""
    return (f"CASE WHEN size({toks_col}) < {n} THEN array() "
            f"ELSE transform(sequence(1, size({toks_col}) - {n - 1}), "
            f"i -> array_join(slice({toks_col}, i, {n}), ' ')) END")


def _sql_filtered_tokens(text_sql: str) -> str:
    """Empty-filtered :func:`_word_tokens` tokenization as SQL."""
    return f"filter({_SQL_WORD_TOKENS.format(t=text_sql)}, x -> x <> '')"


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach ``dup_line_frac`` / ``dup_line_char_frac`` / ``dup_ngram_frac``.

    Exact formulas (deterministic, engine-portable):

    - ``dup_line_frac``   = 1 − distinct(non-blank lines) / lines
    - ``dup_line_char_frac`` = 1 − chars(distinct lines) / chars(all lines)
      (character-weighted variant: every repeat of a line counts its full
      length against the document)
    - ``dup_ngram_frac``  = 1 − distinct(word n-grams) / n-grams over the
      :func:`_word_tokens` tokenization (n = 3)

    All three are 0.0 for documents with no lines / too few tokens. Emitted
    as single parsed SQL expressions (the langid/dedup build-time lesson).
    """
    t = _sql_ident(text_col)
    # two-step projection, deliberately: inlining the lines/grams arrays
    # into every consuming formula multiplies the expression tree (each
    # occurrence re-inlines the tokenizer, each tokenizer the regex …) —
    # measured 26.8 s → 0.6 s at sf0.1 for the SAME values when the arrays
    # are named once and the stats read the named columns
    staged = df.withColumns({
        # \r?\n: CRLF documents must not keep trailing \r on every line
        # (blank lines would survive as "\r" and count as duplicates,
        # wrongly tripping the dup-line curation gate — review r04); the
        # DuckDB oracle rendering splits with the same regex
        "_rs_lines": sf.expr(
            f"filter(transform(split({t}, '\\r?\\n'), x -> trim(x)), "
            f"x -> x <> '')"),
        "_rs_toks": sf.expr(_sql_filtered_tokens(t)),
    }).withColumns({
        "_rs_dlines": sf.expr("array_distinct(_rs_lines)"),
        "_rs_grams": sf.expr(_sql_word_ngrams("_rs_toks", 3)),
    })
    return staged.withColumns({
        "dup_line_frac": sf.expr(
            "round(CASE WHEN size(_rs_lines) = 0 THEN 0.0 ELSE "
            "1.0 - size(_rs_dlines) / size(_rs_lines) END, 6)"),
        "dup_line_char_frac": sf.expr(
            "round(CASE WHEN length(concat_ws('', _rs_lines)) = 0 THEN 0.0 "
            "ELSE 1.0 - length(concat_ws('', _rs_dlines)) "
            "/ length(concat_ws('', _rs_lines)) END, 6)"),
        "dup_ngram_frac": sf.expr(
            "round(CASE WHEN size(_rs_grams) = 0 THEN 0.0 ELSE "
            "1.0 - size(array_distinct(_rs_grams)) / size(_rs_grams) END, 6)"),
    }).drop("_rs_lines", "_rs_toks", "_rs_dlines", "_rs_grams")


# ---------------------------------------------------------------------------
# Rolling-hash fingerprint — no JVM primitive for a char-level polynomial
# hash, so this is the one Arrow-batched kernel in the module.
# ---------------------------------------------------------------------------

_FP_BASE = 1000003
_FP_MOD = (1 << 61) - 1
# chars per vectorized Horner block: 128 won a sweep over {512..32} — fewer
# Horner iterations (numpy per-call overhead) vs wider vectors balance here
_FP_BLOCK = 128


def _fingerprint_str(s: str) -> int:
    """Scalar reference (kept as the spec + test model; the batch kernel
    below computes identical values ~40× faster)."""
    h = 0
    for ch in s:
        h = (h * _FP_BASE + ord(ch)) % _FP_MOD
    return h


def _horner_step(h, cp):
    """One vectorized Horner step h' = (h*B + cp) mod M over uint64 arrays,
    exact for the Mersenne prime M = 2^61-1: split h = hi·2^31 + lo so every
    intermediate fits 64 bits (hi·B < 2^51; (t<<31)&M keeps the true low
    61 bits of t·2^31 because uint64 wrap only drops bits ≥ 64; 2^61 ≡ 1
    (mod M) turns the high part into `t >> 30`)."""
    import numpy as np

    M = np.uint64(_FP_MOD)
    B = np.uint64(_FP_BASE)
    hi = h >> np.uint64(31)
    lo = h & np.uint64((1 << 31) - 1)
    t = hi * B
    s = ((t << np.uint64(31)) & M) + (t >> np.uint64(30))
    x = s + lo * B + cp
    x = (x & M) + (x >> np.uint64(61))
    return np.where(x >= M, x - M, x)


def _fingerprint_batch(texts) -> "list[int]":
    """Vectorized batch fingerprint, value-identical to :func:`_fingerprint_str`.

    Each document's codepoints (``utf-32-le`` buffer == ``ord`` sequence)
    are cut into ``_FP_BLOCK``-char blocks, partial blocks FRONT-padded with
    zeros — leading zeros don't change a polynomial hash — so one Horner
    loop of ``_FP_BLOCK`` vectorized steps evaluates every block of every
    document at once (skew-proof: one huge doc just contributes more rows).
    Blocks then combine per doc with h = h·B^len(block) + block_value using
    Python ints (a few ops per 512 chars)."""
    import numpy as np

    out = [0] * len(texts)
    metas: list[tuple[int, int, int]] = []  # (doc_idx, content_start, n_chars)
    bufs: list[np.ndarray] = []
    total = 0
    for d, s in enumerate(texts):
        if not isinstance(s, str) or not s:
            continue
        cps = np.frombuffer(s.encode("utf-32-le"), dtype="<u4")
        start = total + (-len(cps)) % _FP_BLOCK  # front-pad to block multiple
        metas.append((d, start, len(cps)))
        total = start + len(cps)
        bufs.append(cps)
    if not metas:
        return out
    flat = np.zeros(total, np.uint64)
    for (_, start, n), cps in zip(metas, bufs):
        flat[start:start + n] = cps
    # (block_pos, n_blocks) layout so each Horner step reads one contiguous
    # row — strided column reads dominate runtime in the natural layout
    mat = np.ascontiguousarray(flat.reshape(-1, _FP_BLOCK).T)
    h = np.zeros(mat.shape[1], np.uint64)
    for i in range(_FP_BLOCK):
        h = _horner_step(h, mat[i])
    vals = h.tolist()
    p_blk = pow(_FP_BASE, _FP_BLOCK, _FP_MOD)
    for d, start, n in metas:
        row = start // _FP_BLOCK
        acc = vals[row]  # first (front-padded) block: 0·B^k + value
        for r in range(row + 1, (start + n + _FP_BLOCK - 1) // _FP_BLOCK):
            acc = (acc * p_blk + vals[r]) % _FP_MOD
        out[d] = acc
    return out


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Deterministic 61-bit polynomial rolling hash of ``text`` per document
    in a ``fingerprint`` column (content fingerprint for incremental-dedup
    manifests).

    When the rolling property isn't needed (pure exact-dedup keys), prefer
    the zero-Python JVM path ``df.withColumn(c, sf.xxhash64("text"))``."""
    from pyspark.sql import types as T

    # NB: StructType.add mutates in place — build a fresh copy.
    schema = T.StructType(list(df.schema.fields)
                          + [T.StructField("fingerprint", T.LongType())])

    def kernel(batch: pd.DataFrame) -> pd.DataFrame:
        batch["fingerprint"] = _fingerprint_batch(list(batch["text"]))
        return batch

    return map_kernel(df, kernel, schema)[0]


# ---------------------------------------------------------------------------
# One-call corpus curation — the composed pretraining filter (C4/Gopher
# pipeline shape, public: Raffel et al. 2020 §2.2, Rae et al. 2021 §A1.1):
# token bounds + quality floor + repetition ceilings + language allowlist,
# evaluated per document with an auditable reason list.
# ---------------------------------------------------------------------------


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 8,
    max_tokens: int = 100_000,
    min_quality: float = 0.3,
    max_dup_line_frac: float = 0.30,
    max_dup_ngram_frac: float = 0.50,
    allowed_langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Annotate every document with the full filter verdict:
    ``n_tokens / punct_ratio / quality / lang_pred / dup_* fractions``, plus
    ``drop_reasons array<string>`` (empty = clean) and ``keep boolean``.

    Deliberately annotate-don't-delete: the caller filters with
    ``.filter("keep")`` and can aggregate ``drop_reasons`` for a corpus
    audit (what share died to which rule — the number a curation run is
    judged by). Everything is per-row column expressions — map-only,
    shuffle-free (plan-tested), so it composes with any scan at 100 TB
    scan cost.
    """
    out = repetition_stats(with_text_stats(df, text_col), text_col)
    # NULL text first, explicitly: every stat below is NULL for a NULL
    # payload, so every threshold comparison would be NULL, no CASE would
    # fire, and the row would silently sail through as keep=true — the
    # exact opposite of what a curation pass must do with a failed-extract
    # row.
    tq = _sql_ident(text_col)
    checks = [
        (f"{tq} IS NULL", "null_text"),
        (f"n_tokens < {int(min_tokens)}", "too_short"),
        (f"n_tokens > {int(max_tokens)}", "too_long"),
        (f"quality < {float(min_quality)}", "low_quality"),
        (f"dup_line_frac > {float(max_dup_line_frac)}", "dup_lines"),
        (f"dup_ngram_frac > {float(max_dup_ngram_frac)}", "dup_ngrams"),
    ]
    if allowed_langs is not None:
        if not allowed_langs:
            # empty allowlist admits nothing; 'NOT IN ()' is a parse error
            checks.append((f"{tq} IS NOT NULL", "lang"))
        else:
            langs = ", ".join(
                "'" + l.replace("'", "''") + "'" for l in sorted(allowed_langs))
            checks.append((f"lang_pred NOT IN ({langs})", "lang"))
    reasons = ", ".join(
        f"CASE WHEN {cond} THEN '{tag}' END" for cond, tag in checks)
    return out.withColumn(
        "drop_reasons",
        sf.expr(f"filter(array({reasons}), x -> x IS NOT NULL)"),
    ).withColumn("keep", sf.expr("size(drop_reasons) = 0"))
