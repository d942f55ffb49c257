"""Seeded input generators for the benchmark workloads.

The program under test only ever receives the parquet written here, so an
edit to the package's own ``synth.py`` cannot move a workload. Every table
is a pure function of (workload, seed, size); generated files are cached
under the work directory by that key and the cost of generating them is
never part of a measured metric.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

GENERATOR_VERSION = 3
BASE_EPOCH = pd.Timestamp("2026-01-01 00:00:00")
TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# Digit-free vocabularies: prose built from them never matches the kernel's
# field-hint prefilter (any digit, an issuer token, or 'categoria').
_DOC_WORDS = (
    "relatorio analise cliente processo documento sistema dados pagina "
    "resultado pedido contrato emissao consulta historico resumo etapa "
    "verificacao cadastro titular endereco comprovante assinatura anexo"
).split()
_CHAT_WORDS = (
    "oi ola bom dia obrigado pode sim nao claro entendi vamos ver agora "
    "depois certo ok perfeito ajuda duvida enviar arquivo conferir pronto "
    "aguarde momento tudo bem favor"
).split()
_ISSUERS = ("SSP-SP", "SSP-RJ", "DETRAN-RJ", "PC-MG", "IFP-PR", "SDS-PE")
_CATEGORIES = ("A", "B", "AB", "AC", "AD", "AE", "D", "E")
_NAV = '<nav><a href="/">Inicio</a> <a href="/docs">Docs</a> <a href="/ajuda">Ajuda</a></nav>'
_HEADER = "<header><h1>Portal do Cliente</h1></header>"
_SIDEBAR = '<div class="sidebar"><p>Assine nossa newsletter e receba ofertas!</p></div>'
_ADS = '<div class="ads"><p>Compre agora com desconto imperdivel!!!</p></div>'
_FOOTER = "<footer><p>Copyright Acme Corp. Todos os direitos reservados.</p></footer>"


def _words(rng: np.random.RandomState, vocab, n: int) -> str:
    return " ".join(vocab[i] for i in rng.randint(0, len(vocab), size=n))


def _digits(rng: np.random.RandomState, n: int) -> str:
    return "".join(str(d) for d in rng.randint(0, 10, size=n))


def _field(rng: np.random.RandomState) -> str:
    """One labelled document field in a Brazilian ID/invoice format; about
    one in eight is malformed so the low-confidence path is exercised."""
    roll = rng.randint(0, 8)
    if roll == 0:
        d = _digits(rng, 11)
        return f"CPF {d[:3]}.{d[3:6]}.{d[6:9]}-{d[9:]}"
    if roll == 1:
        d = _digits(rng, 14)
        return f"CNPJ {d[:2]}.{d[2:5]}.{d[5:8]}/{d[8:12]}-{d[12:]}"
    if roll == 2:
        return (f"emitido em {rng.randint(1, 29):02d}/{rng.randint(1, 13):02d}/"
                f"{rng.randint(1960, 2031)}")
    if roll == 3:
        return f"total R$ {rng.randint(1, 99)}.{rng.randint(0, 1000):03d},{rng.randint(0, 100):02d}"
    if roll == 4:
        d = _digits(rng, 9)
        return (f"RG {d[:2]}.{d[2:5]}.{d[5:8]}-{d[8]} "
                f"{_ISSUERS[rng.randint(0, len(_ISSUERS))]}")
    if roll == 5:
        return f"Categoria: {_CATEGORIES[rng.randint(0, len(_CATEGORIES))]}"
    if roll == 6:
        return f"chave {_digits(rng, 44)}"
    return f"CPF {_digits(rng, 3)}.{_digits(rng, 2)} data 31/02/{rng.randint(2000, 2030)}"


def _snippet(rng: np.random.RandomState, n_fields: int) -> str:
    parts = [_words(rng, _DOC_WORDS, int(rng.randint(2, 6)))]
    for _ in range(n_fields):
        parts.append(_field(rng))
        parts.append(_words(rng, _DOC_WORDS, int(rng.randint(1, 4))))
    return " ".join(parts)


def _html_page(rng: np.random.RandomState) -> str:
    paras = [f"<p>{_words(rng, _DOC_WORDS, int(rng.randint(8, 20)))}</p>"
             for _ in range(int(rng.randint(1, 3)))]
    paras.insert(int(rng.randint(0, len(paras) + 1)),
                 f"<p>{_snippet(rng, int(rng.randint(1, 4)))}</p>")
    return ("<html><body>" + _NAV + _HEADER + _SIDEBAR
            + '<div id="main">' + "".join(paras) + "</div>"
            + _ADS + _FOOTER + "</body></html>")


def _pdf_dump(rng: np.random.RandomState) -> str:
    n_lines = int(rng.randint(4, 11))
    two_col = bool(rng.randint(0, 2))
    field_line = int(rng.randint(0, n_lines))
    per_col = n_lines // 2 if two_col else n_lines
    lines = []
    for i in range(n_lines):
        x0 = 400 if (two_col and i >= per_col) else 72
        y0 = 100 + 18 * (i % max(per_col, 1))
        body = (_snippet(rng, 1) if i == field_line
                else _words(rng, _DOC_WORDS, int(rng.randint(4, 10))))
        lines.append(f"[{x0},{y0},{x0 + 300},{y0 + 12}] {body}")
    rng.shuffle(lines)
    return "\n".join(lines)


def _multidoc(rng: np.random.RandomState) -> str:
    return "\n---\n".join(_snippet(rng, int(rng.randint(1, 3)))
                          for _ in range(int(rng.randint(2, 4))))


# The payload mix documented for the transcripts table (FIXTURES.md §1,
# SURVEY.md §7.2): 40% plain prose, 30% HTML with boilerplate, 15% PDF bbox
# dumps, 15% prose with embedded fields. The package's generator splits the
# field share 9 : 8 between single snippets and multi-document turns
# (synth.make_transcripts). Each workload keeps a subset of these weights
# and renormalizes them.
_W_PROSE, _W_HTML, _W_PDF, _W_FIELDS = 40, 30, 15, 15
_W_SNIPPET, _W_MULTIDOC = _W_FIELDS * 9 / 17, _W_FIELDS * 8 / 17

# doc_extract: the documented mix without plain prose, so every turn carries
# at least one field (50% HTML, 25% PDF, 13.2% snippets, 11.8% multi-doc).
_DOC_MIX = (
    ("html", _W_HTML, _html_page),
    ("pdf", _W_PDF, _pdf_dump),
    ("snippet", _W_SNIPPET, lambda rng: _snippet(rng, int(rng.randint(1, 4)))),
    ("multidoc", _W_MULTIDOC, _multidoc),
)
# hotkey_resume: short chat turns, the documented mix without the document
# payloads (HTML, PDF) and without multi-document turns: 40/55 = 72.7%
# field-free prose, 27.3% one-field snippets.
_CHAT_MIX = (
    ("prose", _W_PROSE, lambda rng: _words(rng, _CHAT_WORDS, int(rng.randint(3, 16)))),
    ("snippet", _W_FIELDS, lambda rng: _snippet(rng, 1)),
)
# Conversation lengths as the package's generator draws them
# (synth.make_transcripts, mean_turns=12): uniform on 2..23 turns. The hot
# conversation of hotkey_resume has 100x the median turn count (FIXTURES.md
# §1: "~100x median turn count to exercise salting").
CONV_TURNS = (2, 24)
HOT_TURNS = 100 * 12


def _pick(rng: np.random.RandomState, mix):
    roll = rng.rand() * sum(w for _, w, _ in mix)
    for label, weight, gen in mix:
        roll -= weight
        if roll < 0:
            return label, gen
    return mix[-1][0], mix[-1][2]


def _frame(rows: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=TRANSCRIPT_COLUMNS)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # Spark reads TIMESTAMP(NANOS) parquet as an error; microseconds it takes
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def _turn_row(rng, conv_id, turn_idx, text, ts_s):
    role = ("user", "assistant", "tool")[rng.randint(0, 3)]
    tool = ("browser", "pdf_reader", "ocr")[rng.randint(0, 3)] if role == "tool" else ""
    return (conv_id, turn_idx, role, text, tool,
            BASE_EPOCH + pd.Timedelta(seconds=int(ts_s)))


def _conv_lengths(rng: np.random.RandomState, n_turns: int) -> list[int]:
    lengths = []
    while n_turns > 0:
        lengths.append(min(int(rng.randint(*CONV_TURNS)), n_turns))
        n_turns -= lengths[-1]
    return lengths


def _transcripts(rng, convs, mix) -> tuple[pd.DataFrame, dict]:
    rows, kinds, ts = [], {label: 0 for label, _, _ in mix}, 0
    for conv_id, n in convs:
        for turn_idx in range(n):
            label, gen = _pick(rng, mix)
            kinds[label] += 1
            ts += int(rng.randint(1, 60))
            rows.append(_turn_row(rng, conv_id, turn_idx, gen(rng), ts))
    return _frame(rows), kinds


def doc_transcripts(seed: int, n_turns: int) -> tuple[pd.DataFrame, dict]:
    """Balanced conversations, every turn a document payload."""
    rng = np.random.RandomState(seed)
    convs = [(f"conv-{i:06d}", n)
             for i, n in enumerate(_conv_lengths(rng, n_turns))]
    df, kinds = _transcripts(rng, convs, _DOC_MIX)
    return df, _describe(df, kinds, hot_conv=None)


def chat_transcripts(seed: int, n_turns: int) -> tuple[pd.DataFrame, dict]:
    """Short chat turns, mostly field-free prose; ``conv-hot`` holds
    HOT_TURNS of them, the rest are spread over normal conversations."""
    rng = np.random.RandomState(seed)
    convs = [(f"conv-{i:06d}", n)
             for i, n in enumerate(_conv_lengths(rng, n_turns - HOT_TURNS))]
    convs.insert(int(rng.randint(0, len(convs) + 1)), ("conv-hot", HOT_TURNS))
    df, kinds = _transcripts(rng, convs, _CHAT_MIX)
    return df, _describe(df, kinds, hot_conv="conv-hot")


def _describe(df: pd.DataFrame, kinds: dict, hot_conv: str | None) -> dict:
    n = len(df)
    sizes = df.groupby("conv_id").size()
    return {
        "turns": n,
        "conversations": int(sizes.size),
        "text_bytes": int(df["text"].str.len().sum()),
        "kind_mix": {k: round(v / n, 4) for k, v in kinds.items()},
        "hot_conv_share": round(float(sizes.get(hot_conv, sizes.max())) / n, 4),
        "hot_conv_median_multiple": round(
            float(sizes.get(hot_conv, sizes.max())) / float(sizes.median()), 1),
    }


# ---------------------------------------------------------------------------
# catalog tables: `documents` and `events`, only the columns the chosen
# catalog queries read
# ---------------------------------------------------------------------------

_CATALOG_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer"
).split()
_LANGS = ("en", "es", "fr", "de", "pt", "zh")
# a few stopwords per label, so the language-ID heuristic has signal
_STOPWORDS = {
    "en": ("the", "of", "and", "is"), "es": ("el", "los", "por", "una"),
    "fr": ("le", "les", "des", "est"), "de": ("der", "und", "ist", "nicht"),
    "pt": ("o", "do", "em", "para"), "zh": ("的", "是", "在", "和"),
}


def catalog_documents(seed: int, n_docs: int) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    rows = []
    for doc_id in range(n_docs):
        lang = _LANGS[rng.randint(0, len(_LANGS))]
        words = [_CATALOG_WORDS[i] for i in
                 rng.randint(0, len(_CATALOG_WORDS), size=int(rng.randint(8, 80)))]
        for _ in range(int(rng.randint(0, 6))):
            stop = _STOPWORDS[lang]
            words.insert(int(rng.randint(0, len(words) + 1)),
                         stop[rng.randint(0, len(stop))])
        rows.append((doc_id, " ".join(words), lang))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang"])


def catalog_events(seed: int, n_events: int, n_users: int = 1500) -> pd.DataFrame:
    rng = np.random.RandomState(seed + 1)
    # a user's events arrive every ~10 minutes on average, so the 30-minute
    # sessionization gap groups several events per session
    gaps_us = rng.exponential(600e6 / n_users, size=n_events).astype("int64")
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(gaps_us).astype("timedelta64[us]"))
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": ts,
        "user_id": rng.randint(0, n_users, size=n_events).astype("int64"),
        "value": np.round(rng.uniform(0, 500, size=n_events), 2),
    })


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def cached(cache_dir: str, workload: str, seed: int, size: int) -> tuple[str, dict]:
    """Directory holding the workload's generated parquet, and its metadata.
    Built once per (workload, seed, size); an interrupted build leaves no
    directory behind because it is published with one rename."""
    key = f"{workload}-v{GENERATOR_VERSION}-s{seed}-n{size}"
    out = os.path.join(cache_dir, key)
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{out}.tmp-{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        if workload == "catalog_ops":
            catalog_documents(seed, size).to_parquet(
                os.path.join(tmp, "documents.parquet"), index=False)
            catalog_events(seed, size * 20).to_parquet(
                os.path.join(tmp, "events.parquet"), index=False)
            meta = {"documents": size, "events": size * 20}
        else:
            make = doc_transcripts if workload == "doc_extract" else chat_transcripts
            df, meta = make(seed, size)
            df.to_parquet(os.path.join(tmp, "transcripts.parquet"), index=False)
        with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
            json.dump(meta, f)
        os.replace(tmp, out)
    with open(meta_path, encoding="utf-8") as f:
        return out, json.load(f)
