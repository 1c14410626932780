"""Arrow-batched Spark stages (vectorized; no per-row Python UDFs).

The whole of the reference's entry point B (SURVEY.md §3.2: download -> OCR
-> validate -> enrich -> format) collapses into ONE mapInPandas stage here:
a single narrow (shuffle-free) transformation over Arrow batches.  Python is
unavoidable for the DOM/regex work (spans need ``finditer``), so it runs
batched over Arrow, with the regex banks compiled once per executor at module
import (fixing the reference's per-call recompiles, ocr_service.py:829-836).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extraction.classifier import PRIORITY_HIGH_AMOUNT
from ..extraction.document import extract_document
from .schema import EXTRACTION_SCHEMA, RAW_EXTRACTION_SCHEMA

_OUT_COLS = [f.name for f in RAW_EXTRACTION_SCHEMA.fields]

# X8 warning text, verbatim from post_ocr_validator.py:162 (appended to
# observaciones whenever fallback persons are injected).
ENRICHMENT_WARNING_TEXT = (
    "\nADVERTENCIA: Personas extraídas mediante fallback desde texto."
    " Validar manualmente."
)


def _extract_batches(batches: Iterator[pd.DataFrame], pages_per_doc: int) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        records: list[dict] = []
        urls = pdf["url"].tolist()
        htmls = pdf["html"].tolist()
        texts = pdf["text"].tolist()
        langs = pdf["lang"].tolist()
        for url, html, text, lang in zip(urls, htmls, texts, langs):
            records.extend(
                extract_document(
                    url,
                    bytes(html) if html is not None else None,
                    text,
                    lang,
                    pages_per_doc,
                )
            )
        if records:
            yield pd.DataFrame.from_records(records, columns=_OUT_COLS)


def extract_stage(pages: DataFrame, pages_per_doc: int = 1) -> DataFrame:
    """pages(url, html, text, lang[, ...]) -> extractions DataFrame.

    Column-prunes its own input (never drags warc_ts/part_id through Arrow)
    and scans it once: every row enters the one Python stage, and a page
    with neither html payload nor text comes back as an `empty_document`
    quarantine row (DLQ contract, SURVEY.md §2.11).
    """
    extracted = pages.select("url", "html", "text", "lang").mapInPandas(
        lambda it: _extract_batches(it, pages_per_doc), schema=RAW_EXTRACTION_SCHEMA
    )
    return enrich_stage(extracted)


def enrich_stage(raw: DataFrame) -> DataFrame:
    """X8 — conditional enrichment injection, as pure native expressions
    (post_ocr_validator.enrich_ocr_result, reference :140-218):

      * inject the X7 fallback rows into personas iff persons were expected
        (table indicators fired), the primary structured parse found none,
        and the fallback found some — appending the ADVERTENCIA warning to
        observaciones;
      * ALWAYS rebuild the person rollups from the merged list
        (lista_clientes -> lista_personas conversion, :166-172):
        n_personas, monto_total = sum(monto_numerico);
      * priority (C2) from the post-merge monto_total + type urgency
        (crm_integrator/app.py:404-430).

    Narrow (shuffle-free), whole-stage-codegen-able; no Python.
    """
    primary = F.col("personas_primary")
    fallback = F.col("personas_fallback")
    inject = (
        F.col("persons_expected")
        & (F.coalesce(F.size(primary), F.lit(0)) == 0)
        & (F.coalesce(F.size(fallback), F.lit(0)) > 0)
    )
    personas = F.when(inject, fallback).otherwise(primary)
    merged = raw.select(
        "*",
        inject.alias("_inject"),
        personas.alias("personas"),
    )
    empty_personas = F.array().cast(RAW_EXTRACTION_SCHEMA["personas_primary"].dataType)
    monto_total = F.aggregate(
        F.coalesce(F.col("personas"), empty_personas),
        F.lit(0.0),
        lambda acc, p: acc + F.coalesce(p["monto_numerico"], F.lit(0.0)),
    )
    out = merged.select(
        "*",
        F.coalesce(F.size("personas"), F.lit(0)).alias("n_personas"),
        monto_total.alias("monto_total"),
        F.when(
            F.col("_inject"),
            F.concat(F.coalesce(F.col("observaciones"), F.lit("")), F.lit(ENRICHMENT_WARNING_TEXT)),
        ).otherwise(F.col("observaciones")).alias("_observaciones"),
        F.col("_inject").alias("enrichment_warning"),
    )
    out = out.withColumn(
        "priority",
        F.when(F.col("urgente") | (F.col("monto_total") > F.lit(PRIORITY_HIGH_AMOUNT)), F.lit("High"))
        .otherwise(F.lit("Medium")),
    )
    return out.drop("observaciones").withColumnRenamed("_observaciones", "observaciones").select(
        *[f.name for f in EXTRACTION_SCHEMA.fields]
    )


def fields_long(extractions: DataFrame) -> DataFrame:
    """Flatten to the north_star long format:
    (url, doc_type, field, value, span) one row per extracted field."""
    return (
        extractions.select(
            "url",
            "seg_no",
            "doc_type",
            F.posexplode_outer("fields").alias("pos", "f"),
        )
        .select(
            "url",
            "seg_no",
            "doc_type",
            F.col("f.field").alias("field"),
            F.col("f.value").alias("value"),
            F.struct(
                F.col("f.start").alias("start"), F.col("f.end").alias("end")
            ).alias("span"),
        )
        .filter(F.col("field").isNotNull())
    )


def entities_long(extractions: DataFrame) -> DataFrame:
    """Explode personas -> one row per extracted entity (K8 analog), with
    both name-split conventions materialized (N7 for the OCR-stage shape,
    N8 for the CRM sink shape — SURVEY.md §2.6 divergence note)."""
    p = (
        extractions.select("url", "seg_no", "doc_type", "monto_total",
                           F.explode("personas").alias("p"))
        .select(
            "url",
            "seg_no",
            "doc_type",
            F.col("p.secuencia").alias("secuencia"),
            F.col("p.nombre_completo").alias("nombre_completo"),
            F.col("p.numero_identificacion").alias("numero_identificacion"),
            F.col("p.monto").alias("monto"),
            F.col("p.monto_numerico").alias("monto_numerico"),
            F.col("p.start").alias("span_start"),
            F.col("p.end").alias("span_end"),
            "monto_total",
        )
    )
    toks = F.split(F.col("nombre_completo"), " ")
    n = F.size(toks)
    return p.select(
        "*",
        # N7 (ocr_processor/app.py:500-503)
        F.element_at(toks, 1).alias("nombre"),
        F.when(n > 1, F.element_at(toks, 2)).otherwise(F.lit("")).alias("apellido_paterno_v1"),
        F.when(n > 2, F.element_at(toks, 3)).otherwise(F.lit("")).alias("apellido_materno_v1"),
        F.when(n > 3, F.array_join(F.slice(toks, 4, 1000), " ")).otherwise(F.lit("")).alias("nombre_segundo_v1"),
        # N8 (crm_integrator/app.py:389-393)
        F.when(n > 3, F.array_join(F.slice(toks, 2, n - 3), " ")).otherwise(F.lit("")).alias("nombre_segundo_v2"),
        F.when(n >= 2, F.element_at(toks, -2)).otherwise(F.lit("")).alias("apellido_paterno_v2"),
        F.when(n >= 3, F.element_at(toks, -1)).otherwise(F.lit("")).alias("apellido_materno_v2"),
    )
