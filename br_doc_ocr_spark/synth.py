"""Deterministic synthetic transcript generation (FIXTURES.md §1).

Produces the authoritative input shape from BASELINE.json's input_hint —
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)`` — with the payload mix SURVEY.md §7.2 calls for: plain prose,
HTML with boilerplate, pseudo-PDF bbox line dumps, and prose with embedded
Brazilian document fields (exact formats from the reference's
``schemas/*.json`` + ``services/extraction.py:239-729`` + conftest fixtures,
e.g. CNH "JOÃO DA SILVA / 123.456.789-00 / 1990-05-15 / AB").

Two generators, same distribution family:

- :func:`make_transcripts_pandas` — seeded NumPy, used for golden fixtures
  and pytest (small scale, oracle-comparable).
- :func:`make_transcripts_spark`  — pure column expressions over
  ``spark.range`` (hash-derived pseudo-randomness, no driver loop), used to
  mass-produce bench input at any scale without collecting to the driver.

Neither touches wall-clock time; timestamps derive from a fixed epoch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BASE_EPOCH = pd.Timestamp("2026-01-01 00:00:00")
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("", "browser", "pdf_reader", "ocr", "")

# Canonical golden values from the reference fixtures (conftest.py:242-264,
# :380-450, :86-102) — embedded verbatim so goldens cover the exact records
# the reference tests assert on.
GOLDEN_SNIPPETS = (
    "Nome: JOÃO DA SILVA CPF 123.456.789-00 nascido em 15/05/1990 "
    "Categoria: AB registro 12345678901 validade 15/05/2030",
    "RG 12.345.678-9 emitido por SSP-SP em 05/11/2019 CPF 111.222.333-44",
    "RG 123456789 DETRAN-RJ expedida 20/08/2021 CPF 555.666.777-88",
    "Registro MG-12.345.678 PC-MG expedida 12/05/2018 CPF 999.888.777-66",
    "NF-e 000123456 CNPJ 12.345.678/0001-90 emitida 15/01/2026 total "
    "R$ 1.180,00 produtos R$ 1.000,00 impostos R$ 180,00 chave "
    "35210312345678000190550010000000011000000010",
)

_PROSE_WORDS = (
    "relatorio analise cliente processo documento sistema dados valor "
    "pagina resultado pedido contrato registro emissao consulta historico "
    "resumo status etapa verificacao"
).split()

_BOILER_NAV = '<nav><a href="/">Home</a> <a href="/docs">Docs</a> <a href="/api">API</a></nav>'
_BOILER_FOOTER = "<footer><p>Copyright 2026 Acme Corp. Todos os direitos reservados.</p></footer>"
_BOILER_SIDEBAR = '<div class="sidebar"><p>Assine nossa newsletter para receber ofertas!</p></div>'
_BOILER_ADS = '<div class="ads"><p>Compre agora com desconto imperdivel!!!</p></div>'


def _prose(rng: np.random.RandomState, n_words: int) -> str:
    idx = rng.randint(0, len(_PROSE_WORDS), size=n_words)
    return " ".join(_PROSE_WORDS[i] for i in idx)


def _field_snippet(rng: np.random.RandomState) -> str:
    """Prose with embedded document fields in reference-exact formats."""
    roll = rng.randint(0, 10)
    if roll < 3:
        return GOLDEN_SNIPPETS[rng.randint(0, len(GOLDEN_SNIPPETS))]
    cpf = "".join(str(d) for d in rng.randint(0, 10, size=11))
    cnpj = "".join(str(d) for d in rng.randint(0, 10, size=14))
    day, month, year = rng.randint(1, 29), rng.randint(1, 13), rng.randint(1960, 2031)
    cents = rng.randint(0, 100)
    reais = rng.randint(1, 100000)
    parts = [
        _prose(rng, 4),
        f"CPF {cpf[:3]}.{cpf[3:6]}.{cpf[6:9]}-{cpf[9:]}",
        f"CNPJ {cnpj[:2]}.{cnpj[2:5]}.{cnpj[5:8]}/{cnpj[8:12]}-{cnpj[12:]}",
        f"data {day:02d}/{month:02d}/{year}",
        f"valor R$ {reais:,}".replace(",", ".") + f",{cents:02d}",
        _prose(rng, 3),
    ]
    if roll >= 7:  # occasionally invalid fields → exercises low-confidence path
        parts.insert(1, "CPF 99.99 data 31/02/2020")
    return " ".join(parts)


def _html_payload(rng: np.random.RandomState) -> str:
    body = " ".join([_prose(rng, 12), _field_snippet(rng) if rng.randint(0, 2) else _prose(rng, 8)])
    para2 = _prose(rng, 10)
    return (
        "<html><body>" + _BOILER_NAV + "<header><h1>Portal Banner</h1></header>"
        + _BOILER_SIDEBAR
        + f'<div id="main"><p>{body}</p><p>{para2}</p></div>'
        + _BOILER_ADS + _BOILER_FOOTER + "</body></html>"
    )


def _pdf_payload(rng: np.random.RandomState) -> str:
    n_lines = int(rng.randint(3, 9))
    two_col = bool(rng.randint(0, 2))
    lines = []
    for i in range(n_lines):
        x0 = 400 if (two_col and i >= n_lines // 2) else 72
        y0 = 100 + 20 * (i % max(n_lines // (2 if two_col else 1), 1))
        content = _field_snippet(rng) if rng.randint(0, 3) == 0 else _prose(rng, 6)
        lines.append(f"[{x0},{y0},{x0 + 300},{y0 + 12}] {content}")
    rng.shuffle(lines)
    return "\n".join(lines)


# Deterministic edge-case payloads appended as one fixed conversation
# (``conv-contract``) AFTER the seeded stream, so the random rows stay
# byte-identical across versions while the goldens still exercise the
# kernel's contract edges: digit-free fields (the candidate prefilter must
# not skip them), empty/whitespace payloads, malformed markup, a giant digit
# run, and a multi-separator payload.
CONTRACT_PAYLOADS = (
    "Categoria: AB",                           # digit-free CNH category
    "emitido por SSP-SP",                      # digit-free issuer
    "documento IIRGD sem numero",              # bare IIRGD token
    "",                                        # empty payload
    "   \n\t  ",                               # whitespace only
    "<html><body><div id='main'><p>unclosed",  # malformed HTML
    "<p>Categoria: E</p>",                     # field inside markup, no digits
    "9" * 60,                                  # digit run longer than any field
    "---\n---\n---",                           # separators only (multidoc edge)
    "R$",                                      # currency prefix, no amount
)


def make_transcripts_pandas(
    n_convs: int = 40,
    mean_turns: int = 12,
    seed: int = 42,
    skew_conv: bool = True,
    skew_factor: int = 100,
) -> pd.DataFrame:
    """Seeded pandas transcript table; one ``conv-heavy`` conversation gets
    ``skew_factor``× the median turn count to exercise the skew defense
    (FIXTURES.md §1); the fixed ``conv-contract`` edge-payload conversation
    (CONTRACT_PAYLOADS) comes last."""
    rng = np.random.RandomState(seed)
    rows: list[tuple] = []
    conv_specs = [(f"conv-{i:05d}", int(rng.randint(2, 2 * mean_turns)))
                  for i in range(n_convs)]
    if skew_conv:
        conv_specs.append(("conv-heavy", mean_turns * skew_factor))
    ts_counter = 0
    for conv_id, n_turns in conv_specs:
        for turn_idx in range(n_turns):
            role = ROLES[rng.randint(0, len(ROLES))]
            tool = TOOLS[rng.randint(0, len(TOOLS))] if role == "tool" else ""
            kind_roll = rng.rand()
            if kind_roll < 0.40:
                text = _prose(rng, int(rng.randint(5, 40)))
            elif kind_roll < 0.68:
                text = _html_payload(rng)
            elif kind_roll < 0.83:
                text = _pdf_payload(rng)
            elif kind_roll < 0.92:
                text = _field_snippet(rng)
            else:
                # multi-document payload (FR-015): 2-3 documents separated
                # by divider lines
                n_docs = int(rng.randint(2, 4))
                text = "\n---\n".join(_field_snippet(rng) for _ in range(n_docs))
            ts_counter += int(rng.randint(1, 90))
            rows.append((conv_id, turn_idx, role, text, tool,
                         BASE_EPOCH + pd.Timedelta(seconds=ts_counter)))
    for turn_idx, text in enumerate(CONTRACT_PAYLOADS):
        ts_counter += 7
        rows.append(("conv-contract", turn_idx, ROLES[turn_idx % len(ROLES)],
                     text, "", BASE_EPOCH + pd.Timedelta(seconds=ts_counter)))
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def synth_to_parquet(spark, n_turns: int, path: str) -> None:
    """Write a synthetic transcript table — the ONE recipe shared by the CLI
    ``synth`` command and bench.py (the turns//200 conv-count heuristic was
    previously restated at three call sites)."""
    make_transcripts_spark(spark, n_turns, max(n_turns // 200, 16)) \
        .write.mode("overwrite").parquet(path)


# ---------------------------------------------------------------------------
# Spark-native generator (no driver loop, no UDF): hash-derived randomness.
# ---------------------------------------------------------------------------

def _cpf_column(h):
    """``ddd.ddd.ddd-dd`` CPF text from a non-negative long column."""
    from pyspark.sql import functions as sf

    d = sf.lpad((h % 99999999999).cast("string"), 11, "0")
    return sf.concat_ws("", sf.substring(d, 1, 3), sf.lit("."),
                        sf.substring(d, 4, 3), sf.lit("."),
                        sf.substring(d, 7, 3), sf.lit("-"),
                        sf.substring(d, 10, 2))


def make_transcripts_spark(spark, n_turns: int, n_convs: int):
    """Generate ``n_turns`` transcript rows as a distributed DataFrame.

    Pseudo-randomness comes from ``xxhash64`` of the row id — fully
    deterministic, partition-count independent, and entirely JVM-side
    (whole-stage codegen; zero Python). 2% of all rows collapse onto a
    single ``conv-heavy`` id to model long-conversation skew.
    """
    from pyspark.sql import functions as sf

    base = spark.range(n_turns).withColumnRenamed("id", "row_id")
    mask = sf.lit(0x7FFFFFFFFFFFFFFF)
    # INDEPENDENT hash streams per attribute — deriving conv/role/kind from
    # one hash made them fully correlated (every conversation got exactly one
    # payload kind and one role, and conv-heavy was 100% cheap prose, so the
    # skew benchmark timed the lightest kind on the hot key)
    h = sf.xxhash64(sf.col("row_id")).bitwiseAND(mask)
    h_role = sf.xxhash64(sf.col("row_id"), sf.lit(2)).bitwiseAND(mask)
    h_kind = sf.xxhash64(sf.col("row_id"), sf.lit(3)).bitwiseAND(mask)
    conv_bucket = h % int(n_convs)
    df = base.select(
        sf.when(h % 1000 < 20, sf.lit("conv-heavy"))
          .otherwise(sf.format_string("conv-%05d", conv_bucket.cast("int")))
          .alias("conv_id"),
        sf.col("row_id"),
        (h_role % 4).cast("int").alias("role_idx"),
        (h_kind % 100).alias("kind_roll"),
        sf.xxhash64(sf.col("row_id"), sf.lit(1)).bitwiseAND(mask).alias("h2"),
    )
    cpf = _cpf_column(sf.col("h2"))
    day = (sf.col("h2") % 28 + 1).cast("int")
    month = (sf.col("h2") % 12 + 1).cast("int")
    year = (sf.col("h2") % 60 + 1965).cast("int")
    date_str = sf.format_string("%02d/%02d/%04d", day, month, year)
    valor = sf.format_string("R$ %d,%02d", (sf.col("h2") % 100000).cast("int"),
                             (sf.col("h2") % 100).cast("int"))
    field_text = sf.concat_ws(" ", sf.lit("documento cliente CPF"), cpf,
                              sf.lit("data"), date_str, sf.lit("valor"), valor)
    prose = sf.concat_ws(" ", sf.lit("relatorio analise processo dados"),
                         sf.format_string("registro %d etapa %d",
                                          sf.col("h2") % 1000, sf.col("h2") % 17))
    html = sf.concat(
        sf.lit('<html><body><nav><a href="/">Home</a></nav>'
               '<div class="sidebar"><p>Assine nossa newsletter hoje!</p></div>'
               '<div id="main"><p>'),
        field_text, sf.lit("</p><p>"), prose,
        sf.lit('</p></div><footer><p>Copyright 2026 Acme.</p></footer></body></html>'),
    )
    pdf = sf.concat(
        sf.lit("[72,100,372,112] "), prose, sf.lit("\n[72,120,372,132] "),
        field_text, sf.lit("\n[400,100,700,112] "), prose,
    )
    text = (
        sf.when(sf.col("kind_roll") < 40, prose)
          .when(sf.col("kind_roll") < 70, html)
          .when(sf.col("kind_roll") < 85, pdf)
          .otherwise(field_text)
    )
    from pyspark.sql import Window
    w = Window.partitionBy("conv_id").orderBy("row_id")
    out = df.select(
        "conv_id", "row_id", "role_idx", "h2",
        text.alias("text"),
    ).withColumn("turn_idx", (sf.row_number().over(w) - 1).cast("int")).select(
        "conv_id", "turn_idx",
        sf.element_at(sf.array(*[sf.lit(r) for r in ROLES]),
                      sf.col("role_idx") + 1).alias("role"),
        "text",
        sf.when(sf.col("role_idx") == 3,
                sf.element_at(sf.array(sf.lit("browser"), sf.lit("pdf_reader"),
                                       sf.lit("ocr")),
                              (sf.col("h2") % 3 + 1).cast("int")))
          .otherwise(sf.lit("")).alias("tool"),
        (sf.lit(BASE_EPOCH.isoformat()).cast("timestamp")
         + sf.make_interval(secs=(sf.col("row_id") % 86400).cast("double"))).alias("ts"),
    )
    return out


def make_skewed_documents(spark, n_docs: int):
    """Deterministic document corpus with a SKEWED near-duplicate cluster
    distribution — the dedup-pipeline bench input (VERDICT r02 #3).

    Structure (all hash-derived, pure column expressions, no Python):

    - 1/1000 of rows form ONE hot cluster (5 000 members at 5 M docs ≈ 400×
      the median cluster — the LSH band bucket for that cluster goes
      quadratic, which is exactly the skew the pipeline must survive);
    - 20% of rows spread over ``n_docs // 64`` ordinary clusters (~13
      members each);
    - the rest are singletons (cluster == own doc_id).

    Every member of a cluster shares the cluster's 40 hash-derived words
    and appends one per-doc mutation token — pairwise
    shingle Jaccard ≈ 0.86, comfortably over the 0.5 near-dup threshold,
    while singletons share (almost) nothing. Returns
    (doc_id, cluster, text); ``cluster`` is ground truth for verification,
    the pipeline must not read it."""
    from pyspark.sql import functions as sf

    n_clusters = max(n_docs // 64, 1)
    mask = sf.lit(0x7FFFFFFFFFFFFFFF)
    base = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    h = sf.xxhash64(sf.col("doc_id"), sf.lit(11)).bitwiseAND(mask)
    cluster = (
        sf.when(sf.col("doc_id") % 1000 == 7, sf.lit(0))
        .when(h % 100 < 20, h % n_clusters + 1)
        .otherwise(sf.col("doc_id") + n_clusters + 2))
    df = base.select("doc_id", cluster.alias("cluster"))
    word = lambda seed_col, j: sf.conv(  # noqa: E731
        ((sf.xxhash64(seed_col, sf.lit(j)).bitwiseAND(mask)) % 46655)
        .cast("string"), 10, 36)
    words = sf.concat_ws(
        " ", *[word(sf.col("cluster"), j) for j in range(40)])
    mutation = sf.concat(sf.lit("zz"), word(sf.col("doc_id"), 99))
    return df.select(
        "doc_id", "cluster",
        sf.concat_ws(" ", words, mutation).alias("text"))
