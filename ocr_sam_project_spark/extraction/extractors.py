"""Field / person / metadata extractors X1-X8 with span offsets — pure Python.

Spans are [start, end) character offsets into the *extracted* text (the
boilerplate-stripped / segment-normalized string), computed by ``finditer``
in the same pass that matched the value — so text and spans can never drift
(SURVEY.md §7 risk register).

Pinned reference semantics (cites into /root/reference):
* X1 Panamanian bank         src/services/ocr_service.py:745-753
* X3 validation & scoring    src/services/ocr_service.py:726-827
* X4 basic-info fallback     src/ocr_processor/app.py:547-582
* X5 first-page metadata     src/services/metadata_service.py:49-123
* X6 table-presence detector src/services/post_ocr_validator.py:72-96
* X7 table-row person rows   src/services/post_ocr_validator.py:98-138
* X8 enrichment merge        src/services/post_ocr_validator.py:140-218
* A1 monto_total             src/ocr_processor/app.py:403
* W1 secuencia               src/ocr_processor/app.py:469,498
"""

from __future__ import annotations

import re
from typing import Any, Iterator, Optional

from . import patterns as P
from .classifier import TAXONOMY
from .normalizers import parse_money


# --------------------------------------------------------------------------
# X4 + X1: general fields with spans
# --------------------------------------------------------------------------
def extract_fields(text: str) -> list[dict[str, Any]]:
    """Emit (field, value, start, end) rows over the extracted text.

    Single-valued fields (first match wins, X4): numero_oficio, autoridad,
    fecha_emision.  Multi-valued fields (all matches, X1 bank): cedula, ruc,
    money, phone, date_es.
    """
    rows: list[dict[str, Any]] = []

    # numero_oficio: prefer the X1 oficio_number pattern (whose matches pass
    # the reference's own X3 validation bank); fall back to the looser X4
    # pattern — which on "Oficio No. JE-..." captures the literal "No", a
    # value X3 would then reject (reference fallback quirk, app.py:555).
    m = P.PANAMA["oficio_number"].search(text)
    if m:
        rows.append(_row("numero_oficio", m.group(0), m.start(), m.end()))
    else:
        m = P.BASIC_OFICIO.search(text)
        if m:
            rows.append(_row("numero_oficio", m.group(1), m.start(1), m.end(1)))

    for pat in P.BASIC_AUTORIDAD:
        m = pat.search(text)
        if m:
            rows.append(_row("autoridad", m.group(1), m.start(1), m.end(1)))
            break

    m = P.BASIC_DATE.search(text)
    if m:
        rows.append(_row("fecha_emision", m.group(1), m.start(1), m.end(1)))

    for field in ("cedula", "ruc", "money", "phone", "date_es"):
        for m in P.PANAMA[field].finditer(text):
            rows.append(_row(field, m.group(0), m.start(), m.end()))

    return rows


def _row(field: str, value: str, start: int, end: int) -> dict[str, Any]:
    return {"field": field, "value": value, "start": start, "end": end}


# --------------------------------------------------------------------------
# X6 + X7: person-table detection and row extraction
# --------------------------------------------------------------------------
def should_have_persons(text: str) -> bool:
    """X6 — any of the 10 table indicators fires (post_ocr_validator.py:72-96)."""
    low = text.lower()
    return any(pat.search(low) for pat in P.TABLE_INDICATORS)


def extract_persons_structured(text: str) -> list[dict[str, Any]]:
    """Primary person source: strict pipe-delimited table rows — the
    deterministic stand-in for the reference's structured OCR output
    (structured_data.lista_clientes, ocr_service.py:331-366).  X8's
    conditional injection falls back to extract_persons (the loose X7
    regex) only when this finds nothing but persons are expected."""
    return _person_rows(P.PERSON_ROW_STRICT, text)


def extract_persons(text: str) -> list[dict[str, Any]]:
    """X7 — table-row person extractor with spans + 1-based secuencia (W1).

    Reference behavior (post_ocr_validator.py:108-127): findall of
    name | identification | amount rows; amount de-comma'd then floated
    (0.0 on failure).
    """
    return _person_rows(P.PERSON_ROW, text)


# One run of the person-row name class, from its first uppercase letter.
_NAME_RUN = re.compile(r"[A-ZÁ-Ú][A-ZÁ-Ú\s\.,/]*")


def _person_matches(pattern: re.Pattern[str], text: str) -> Iterator[re.Match[str]]:
    """`pattern.finditer(text)` for PERSON_ROW / PERSON_ROW_STRICT, in linear
    time.  Both open with a name over `_NAME_RUN`'s class, and that class
    holds whitespace, so a name started at any uppercase letter of a run of
    the class can end anywhere in the rest of that run.  A later start in
    the run therefore has fewer choices than the first: if the first
    uppercase letter of a run starts no match, no letter after it in the
    run does.  finditer would still retry every one of them, each retry
    backtracking over the rest of the run."""
    pos = 0
    run = _NAME_RUN.search
    match = pattern.match
    while True:
        r = run(text, pos)
        if r is None:
            return
        m = match(text, r.start())
        if m is None:
            pos = r.end()
        else:
            yield m
            pos = m.end()


def _person_rows(pattern: re.Pattern[str], text: str) -> list[dict[str, Any]]:
    persons: list[dict[str, Any]] = []
    for idx, m in enumerate(_person_matches(pattern, text)):
        nombre = m.group(1).strip()
        identificacion = m.group(2).strip()
        monto_str = m.group(3).strip().replace(",", "")
        try:
            monto_numerico = float(monto_str)
        except ValueError:
            monto_numerico = 0.0
        persons.append(
            {
                "secuencia": idx + 1,
                "nombre_completo": nombre,
                "numero_identificacion": identificacion,
                "monto": monto_str,
                "monto_numerico": monto_numerico,
                "start": m.start(),
                "end": m.end(),
            }
        )
    return persons


def monto_total(persons: list[dict[str, Any]]) -> float:
    """A1 — sum of monto_numerico over a document's persons."""
    return float(sum(p.get("monto_numerico", 0.0) for p in persons))


# --------------------------------------------------------------------------
# X5: first-page metadata
# --------------------------------------------------------------------------
def extract_metadata(first_page_text: str) -> dict[str, Any]:
    """X5 — 6-field regex bank over the lowered, newline-flattened first page
    (metadata_service.py:49-123).  First matching alternative wins per field.

    Deviation from reference for determinism: `fecha_envio` defaults to ''
    (the reference stamps utcnow, metadata_service.py:95 — wall-clock is
    banned in this rebuild's assertions).
    """
    normalized = first_page_text.lower().replace("\n", " ").replace("\r", " ")
    meta: dict[str, Any] = {
        "empresa": "No especificado",
        "cantidad_oficios_declarada": 0,
        "origen": "No especificado",
        "observaciones": "Procesado automáticamente desde S3",
        "fecha_envio": "",
        "operador": "Sistema automático",
        "extraction_success": False,
    }
    extracted = 0
    for field, pats in P.METADATA.items():
        for pat in pats:
            m = pat.search(normalized)
            if m:
                value = m.group(1).strip()
                if field == "cantidad_oficios":
                    try:
                        meta["cantidad_oficios_declarada"] = int(value)
                        extracted += 1
                    except ValueError:
                        continue
                elif field == "fecha":
                    meta["fecha_envio"] = value
                    extracted += 1
                else:
                    meta[field] = value
                    extracted += 1
                break
    meta["extraction_success"] = extracted > 0
    meta["extracted_fields_count"] = extracted
    return meta


# --------------------------------------------------------------------------
# X3: validation & confidence scoring
# --------------------------------------------------------------------------
def validate_extraction(
    numero_oficio: Optional[str],
    fecha: Optional[str],
    persons: list[dict[str, Any]],
) -> dict[str, Any]:
    """X3 — regex-bank field validation with 0.7 pass threshold
    (ocr_service.py:726-827).

    Each present top-level field counts valid/invalid by its pattern; each
    person is valid iff its cedula-bearing field matches the cedula pattern.
    score = |valid| / (|valid| + |invalid|); pass iff score >= 0.7.
    The reference adds two always-valid entries (clientes_validos,
    total_clientes) whenever a client list exists — kept verbatim.
    """
    valid: dict[str, Any] = {}
    invalid: dict[str, Any] = {}

    if numero_oficio is not None:
        if P.PANAMA["oficio_number"].search(str(numero_oficio)):
            valid["numero_oficio"] = numero_oficio
        else:
            invalid["numero_oficio"] = numero_oficio
    if fecha is not None:
        if P.PANAMA["date_es"].search(str(fecha)):
            valid["fecha"] = fecha
        else:
            invalid["fecha"] = fecha

    if persons:
        valid_clientes = 0
        for p in persons:
            ident = p.get("numero_identificacion")
            ok = True
            if ident is not None and not P.PANAMA["cedula"].search(str(ident)):
                ok = False
                invalid[f"cedula_{p.get('nombre_completo', 'unknown')}"] = ident
            if ok:
                valid_clientes += 1
        valid["clientes_validos"] = valid_clientes
        valid["total_clientes"] = len(persons)

    total = len(valid) + len(invalid)
    score = len(valid) / total if total else 0.0
    return {
        "valid_count": len(valid),
        "invalid_count": len(invalid),
        "confidence_score": score,
        "validation_passed": score >= 0.7,
    }


# --------------------------------------------------------------------------
# keywords (palabras_clave_encontradas — ocr_service.py:271-276 analog)
# --------------------------------------------------------------------------
def find_keywords(text: str) -> list[str]:
    """Legal keywords present in the text: the taxonomy keyword vocabulary,
    in taxonomy order, deduplicated, lowercase."""
    low = text.lower()
    seen: list[str] = []
    for t in TAXONOMY:
        for kw in t.keywords:
            if kw in low and kw not in seen:
                seen.append(kw)
    return seen
