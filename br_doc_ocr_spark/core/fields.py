"""Brazilian document field normalizers / validators (parity-critical core).

Reproduces the scalar-function semantics of the reference
(``/root/reference/src/br_doc_ocr/services/extraction.py:239-729`` and the
normative unit tests ``tests/unit/test_postprocessing.py``) with a table-driven
design of our own.  Every function here is plain Python / pandas so the exact
same bytes run inside the Spark Arrow UDF and inside the golden oracle.

Parity citations (reference file:line) per function are in each docstring.
"""

from __future__ import annotations

import json
import re
from typing import Any

# ---------------------------------------------------------------------------
# Shared constants (reference: services/extraction.py:260-263, :426-432)
# ---------------------------------------------------------------------------

CNH_CATEGORIES: tuple[str, ...] = (
    "ACC", "A", "B", "AB", "C", "D", "E",
    "AC", "AD", "AE", "BC", "BD", "BE", "CD", "CE", "DE",
)

BRAZIL_STATES: frozenset[str] = frozenset({
    "AC", "AL", "AP", "AM", "BA", "CE", "DF", "ES", "GO",
    "MA", "MT", "MS", "MG", "PA", "PB", "PR", "PE", "PI",
    "RJ", "RN", "RS", "RO", "RR", "SC", "SP", "SE", "TO",
})

TAX_FIELDS: tuple[str, ...] = ("icms", "ipi", "pis", "cofins", "iss", "irpj", "csll")

CONFIDENCE_THRESHOLD = 0.5      # FR-013 default (reference config)
PLACEHOLDER_CONFIDENCE = 0.85   # extraction.py:192

_NON_DIGIT = re.compile(r"[^0-9]")
_CPF_CANON = re.compile(r"^\d{3}\.\d{3}\.\d{3}-\d{2}$")
_ISO_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_BR_DATE = re.compile(r"^\d{2}/\d{2}/\d{4}$")
_PLAIN_NUMBER = re.compile(r"^-?\d+(\.\d+)?$")

# órgão emissor acronym alternation (extraction.py:382-391) + generic fallback
_ORGAO_KNOWN = re.compile(r"^(SSP|DETRAN|PC|IFP|SDS|SESP|IGP)-?[A-Z]{2}$|^IIRGD$")
_ORGAO_GENERIC = re.compile(r"^[A-Z]{2,10}-?[A-Z]{2}$")
_TRAILING_UF = re.compile(r"[A-Z]{2}$")


def digits_of(value: str) -> str:
    """Strip every non-digit character."""
    return _NON_DIGIT.sub("", value)


# ---------------------------------------------------------------------------
# Normalizers (F1-F6 in SURVEY.md §2.8)
# ---------------------------------------------------------------------------

def normalize_cpf(cpf: str | None) -> str | None:
    """Canonicalize a CPF to ``XXX.XXX.XXX-XX``.

    The reference's ``lib.postprocessing.normalize_cpf`` is absent from the
    snapshot; the contract comes from the schema pattern
    (``schemas/cnh.json:12-16``), the validator (``extraction.py:253-257``)
    and the sibling ``normalize_cnpj`` structure (``extraction.py:517-539``):
    strip punctuation, re-format when exactly 11 digits, else pass through
    trimmed.
    """
    if not cpf:
        return cpf
    d = digits_of(cpf.strip())
    if len(d) != 11:
        return cpf.strip()
    return f"{d[0:3]}.{d[3:6]}.{d[6:9]}-{d[9:11]}"


def normalize_cnpj(cnpj: str | None) -> str | None:
    """CNPJ → ``XX.XXX.XXX/XXXX-XX`` when 14 digits, else trimmed input.

    Parity: ``extraction.py:517-539``.
    """
    if not cnpj:
        return cnpj
    d = digits_of(cnpj.strip())
    if len(d) != 14:
        return cnpj.strip()
    return f"{d[0:2]}.{d[2:5]}.{d[5:8]}/{d[8:12]}-{d[12:14]}"


def normalize_rg(rg: str | None) -> str | None:
    """Trim + uppercase. Parity: ``extraction.py:340-354``."""
    if not rg:
        return rg
    return rg.strip().upper()


_DAYS_IN_MONTH = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def _calendar_valid(year: int, month: int, day: int) -> bool:
    """Proleptic-Gregorian validity, matching ``datetime.strptime``'s checks
    (incl. leap years) without its ~30µs/call overhead."""
    if year < 1 or not 1 <= month <= 12:
        return False
    dmax = _DAYS_IN_MONTH[month - 1]
    if month == 2 and year % 4 == 0 and (year % 100 != 0 or year % 400 == 0):
        dmax = 29
    return 1 <= day <= dmax


def normalize_date(value: str | None) -> str | None:
    """``DD/MM/YYYY`` → ``YYYY-MM-DD``; ISO passes through; anything invalid
    returns the original string unchanged.

    Parity: normative tests ``tests/unit/test_postprocessing.py:181-203``.
    Calendar validity is enforced (``31/02/2020`` is *not* a date).
    """
    if not value:
        return value
    s = value.strip()
    if _BR_DATE.match(s):
        if _calendar_valid(int(s[6:10]), int(s[3:5]), int(s[0:2])):
            return f"{s[6:10]}-{s[3:5]}-{s[0:2]}"
        return value
    if _ISO_DATE.match(s):
        if _calendar_valid(int(s[0:4]), int(s[5:7]), int(s[8:10])):
            return s
        return value
    return value


def normalize_dates_in_result(
    data: dict[str, Any], date_fields: list[str]
) -> dict[str, Any]:
    """Apply :func:`normalize_date` to the named fields only.

    Parity: ``tests/unit/test_postprocessing.py:205-218``; call site
    ``extraction.py:194-196``.
    """
    out = dict(data)
    for name in date_fields:
        v = out.get(name)
        if isinstance(v, str):
            out[name] = normalize_date(v)
    return out


def parse_currency(value: Any) -> float | None:
    """Parse Brazilian currency strings to float.

    Parity: ``extraction.py:542-585`` — the *try-plain-float-first* ordering
    is load-bearing (``"1.234"`` parses as 1.234, not 1234.0; only when the
    plain parse fails does the Brazilian ``1.234,56`` rewrite apply).
    """
    if value is None:
        return None
    s = str(value).strip()
    if not s:
        return None
    s = re.sub(r"R\$\s*", "", s).strip()
    try:
        return float(s)
    except ValueError:
        pass
    if "," in s:
        s = s.replace(".", "").replace(",", ".")
    try:
        return float(s)
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# Validators (F7-F15)
# ---------------------------------------------------------------------------

def is_valid_cpf_format(cpf: str | None) -> bool:
    """``^\\d{3}\\.\\d{3}\\.\\d{3}-\\d{2}$`` (extraction.py:253-257)."""
    return bool(cpf) and bool(_CPF_CANON.match(cpf))


def is_valid_iso_date(value: str | None) -> bool:
    """ISO shape AND calendar validity (``2020-02-31`` is *not* a date —
    normalize_date's return-original-on-invalid contract means an equality
    check against it cannot catch ISO-invalid inputs)."""
    if not value or not _ISO_DATE.match(value):
        return False
    return _calendar_valid(int(value[0:4]), int(value[5:7]), int(value[8:10]))


def validate_cnh_fields(data: dict[str, Any]) -> list[str]:
    """CNH field checks → error list. Parity: ``extraction.py:239-268``."""
    errors: list[str] = []
    cpf = data.get("cpf")
    # str(): parsed JSON may carry cpf as a bare number — an invalid-format
    # entry, never a TypeError (the date checks below use the same guard)
    if cpf and not _CPF_CANON.match(str(cpf)):
        errors.append(f"Invalid CPF format: {cpf}")
    cat = data.get("categoria_habilitacao")
    if cat and cat not in CNH_CATEGORIES:
        errors.append(f"Invalid category: {cat}")
    return errors


def validate_rg_number(rg: str | None, state: str | None = None) -> dict[str, Any]:
    """State-aware RG format validation. Parity: ``extraction.py:276-337``.

    Returns ``{"valid": bool, "state"?: str, "format"?: str, "error"?: str}``
    with the exact accept/reject ladder of the reference:
    digits in [5, 15]; SP pattern ``NN.NNN.NNN-N`` or ≥8 digits; RJ digits-only
    or ≥7 digits; MG ``MG``-prefixed or ≥7 digits; any named state ≥7 digits;
    generic ≥7 digits.
    """
    if not rg or not rg.strip():
        return {"valid": False, "error": "RG number is empty"}
    rg = rg.strip()
    d = digits_of(rg)
    if len(d) < 5:
        return {"valid": False, "error": "RG number too short"}
    if len(d) > 15:
        return {"valid": False, "error": "RG number too long"}

    if state:
        state = state.upper()
        if state == "SP" and (re.match(r"^\d{2}\.\d{3}\.\d{3}-\d$", rg) or len(d) >= 8):
            return {"valid": True, "state": "SP", "format": "sp"}
        if state == "RJ" and (d == rg or len(d) >= 7):
            return {"valid": True, "state": "RJ", "format": "rj"}
        if state == "MG" and (rg.upper().startswith("MG") or len(d) >= 7):
            return {"valid": True, "state": "MG", "format": "mg"}
        if len(d) >= 7:
            return {"valid": True, "state": state, "format": "state-generic"}

    if len(d) >= 7:
        return {"valid": True, "format": "generic"}
    return {"valid": False, "error": f"Invalid RG format: {rg}"}


def validate_orgao_emissor(orgao: str | None) -> bool:
    """Issuing-authority format check. Parity: ``extraction.py:357-401``."""
    if not orgao:
        return False
    o = orgao.upper().strip()
    return bool(_ORGAO_KNOWN.match(o) or _ORGAO_GENERIC.match(o))


def extract_state_from_orgao(orgao: str | None) -> str | None:
    """Trailing-two-letter UF, validated against the 27 states.

    Parity: ``extraction.py:404-434``.
    """
    if not orgao:
        return None
    m = _TRAILING_UF.search(orgao.upper().strip())
    if m and m.group() in BRAZIL_STATES:
        return m.group()
    return None


def validate_rg_fields(data: dict[str, Any]) -> list[str]:
    """RG record checks → error list. Parity: ``extraction.py:437-480``."""
    errors: list[str] = []
    rg = data.get("registro_geral")
    if not rg:
        errors.append("Missing required field: registro_geral")
    else:
        state = extract_state_from_orgao(data.get("orgao_emissor", ""))
        res = validate_rg_number(rg, state=state)
        if not res.get("valid"):
            errors.append(res.get("error", "Invalid RG number"))
    cpf = data.get("cpf")
    if cpf and not _CPF_CANON.match(str(cpf)):
        errors.append(f"Invalid CPF format: {cpf}")
    for f in ("data_nascimento", "data_expedicao"):
        v = data.get(f)
        if v and not _ISO_DATE.match(str(v)):
            errors.append(f"Invalid date format for {f}: {v}")
    return errors


def validate_cnpj(cnpj: str | None) -> dict[str, Any]:
    """14-digit CNPJ check. Parity: ``extraction.py:488-514``."""
    if not cnpj or not cnpj.strip():
        return {"valid": False, "error": "CNPJ is empty"}
    d = digits_of(cnpj.strip())
    if len(d) != 14:
        return {"valid": False, "error": f"CNPJ must have 14 digits, got {len(d)}"}
    return {"valid": True, "digits": d}


def validate_nfe_key(key: str | None) -> dict[str, Any]:
    """44-digit NFe access key. Parity: ``extraction.py:588-614``."""
    if not key:
        return {"valid": False, "error": "NFe key is empty"}
    d = digits_of(key.strip())
    if len(d) != 44:
        return {"valid": False, "error": f"NFe key must have 44 digits, got {len(d)}"}
    return {"valid": True, "normalized": d}


def calculate_tax_total(taxes: dict[str, Any]) -> float:
    """Sum the fixed tax fields with null/parse tolerance.

    Parity: ``extraction.py:617-637``.
    """
    total = 0.0
    for f in TAX_FIELDS:
        v = taxes.get(f)
        if v is None:
            continue
        try:
            total += float(v)
        except (TypeError, ValueError):
            pass
    return total


def validate_invoice_totals(data: dict[str, Any]) -> dict[str, Any]:
    """``valor_total ≈ valor_produtos + valor_impostos`` (±0.01).

    Parity: ``extraction.py:640-674`` including the null→0 coercion.
    """
    try:
        produtos = float(data.get("valor_produtos", 0) or 0)
        impostos = float(data.get("valor_impostos", 0) or 0)
        total = float(data.get("valor_total", 0) or 0)
    except (TypeError, ValueError):
        return {"valid": False, "error": "Invalid numeric values"}
    expected = produtos + impostos
    diff = abs(total - expected)
    if diff <= 0.01:
        return {"valid": True}
    return {
        "valid": False,
        "error": f"Total mismatch: expected {expected:.2f}, got {total:.2f}",
        "difference": diff,
    }


def validate_invoice_fields(data: dict[str, Any]) -> list[str]:
    """Invoice record checks → error list. Parity: ``extraction.py:677-729``."""
    errors: list[str] = []
    for f in ("numero_nota", "valor_total"):
        if data.get(f) is None:
            errors.append(f"Missing required field: {f}")
    cnpj = data.get("cnpj")
    if cnpj:
        res = validate_cnpj(cnpj)
        if not res.get("valid"):
            errors.append(f"Invalid CNPJ: {res.get('error', 'unknown error')}")
    key = data.get("chave_acesso")
    if key:
        res = validate_nfe_key(key)
        if not res.get("valid"):
            errors.append(f"Invalid NFe key: {res.get('error', 'unknown error')}")
    v = data.get("data_emissao")
    if v and not _ISO_DATE.match(str(v)):
        errors.append(f"Invalid date format for data_emissao: {v}")
    for f in ("valor_total", "valor_produtos", "valor_impostos", "icms", "ipi"):
        v = data.get(f)
        if v is None:
            continue
        if isinstance(v, str):
            if parse_currency(v) is None:
                errors.append(f"Invalid currency format for {f}: {v}")
        elif not isinstance(v, (int, float)):
            errors.append(f"Invalid numeric value for {f}: {v}")
    return errors


# ---------------------------------------------------------------------------
# Postprocessing (F16-F18, F22-F23) — normative spec is the reference's
# tests/unit/test_postprocessing.py (the lib module is absent from the
# snapshot; SURVEY.md §0 "snapshot gap").
# ---------------------------------------------------------------------------

class JSONParseError(ValueError):
    """Raised when no JSON object can be recovered from model/markup text."""


_FENCED_JSON = re.compile(r"```(?:json)?\s*(\{.*?\})\s*```", re.DOTALL)
_BARE_JSON = re.compile(r"\{.*\}", re.DOTALL)


def parse_payload_json(text: str | None) -> dict[str, Any]:
    """Recover a JSON object from raw / fenced / trailing-text payloads.

    Parity: ``tests/unit/test_postprocessing.py:15-58`` (raw JSON, markdown
    fence, JSON-with-trailing-text; garbage and empty raise).
    """
    if not text or not text.strip():
        raise JSONParseError("empty payload")
    s = text.strip()
    candidates = []
    fenced = _FENCED_JSON.search(s)
    if fenced:
        candidates.append(fenced.group(1))
    candidates.append(s)
    bare = _BARE_JSON.search(s)
    if bare:
        candidates.append(bare.group(0))
    # brace-BALANCED scan: the greedy fallback spans to the LAST '}' and
    # breaks on trailing text that itself contains braces
    # ('{"a": 1} code: if (x) { y(); }'); the balanced prefix recovers the
    # leading object. Quote/escape-aware so braces inside strings don't
    # count. Scans from EVERY '{' (capped), not just the first — a
    # brace-bearing garbage prefix ('result {ok} -> {"cpf": ...}') must not
    # defeat a valid object that follows (review r04).
    start = s.find("{")
    scans = 0
    while start != -1 and scans < 16:
        scans += 1
        depth = 0
        in_str = False
        escaped = False
        for i in range(start, len(s)):
            ch = s[i]
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == '"':
                in_str = not in_str
            elif not in_str:
                if ch == "{":
                    depth += 1
                elif ch == "}":
                    depth -= 1
                    if depth == 0:
                        candidates.append(s[start:i + 1])
                        break
        start = s.find("{", start + 1)
    for cand in candidates:
        try:
            obj = json.loads(cand)
        except json.JSONDecodeError:
            continue
        if isinstance(obj, dict):
            return obj
    raise JSONParseError(f"no JSON object in payload ({len(s)} chars)")


def flag_low_confidence(
    scores: dict[str, float], threshold: float = CONFIDENCE_THRESHOLD
) -> list[str]:
    """Field names with score < threshold, insertion-order preserving.

    Parity: ``tests/unit/test_postprocessing.py:61-108``; consumer
    ``extraction.py:203-206``.
    """
    return [name for name, score in scores.items() if score < threshold]


def enrich_extraction_result(
    extracted_data: dict[str, Any], confidence_scores: dict[str, float]
) -> dict[str, Any]:
    """Wrap data + scores + low-confidence flags, preserving inputs.

    Parity: ``tests/unit/test_postprocessing.py:111-144``.
    """
    return {
        "extracted_data": extracted_data,
        "confidence_scores": confidence_scores,
        "low_confidence_fields": flag_low_confidence(confidence_scores),
    }


def fill_placeholder_confidence(
    extracted_data: dict[str, Any], confidence_scores: dict[str, float] | None
) -> dict[str, float]:
    """Absent scores default to 0.85 per field. Parity: ``extraction.py:185-192``."""
    if confidence_scores:
        return dict(confidence_scores)
    return {name: PLACEHOLDER_CONFIDENCE for name in extracted_data}


def derive_status(
    extracted_data: dict[str, Any], low_confidence_fields: list[str]
) -> str:
    """success / partial / failed. Parity: ``extraction.py:208-212``."""
    if not extracted_data:
        return "failed"
    return "partial" if low_confidence_fields else "success"
