"""Query registry: every implemented operator from SURVEY.md §2 (plus the
training-data operators) as a (Spark impl, DuckDB oracle SQL) pair.

The driver runs each Spark query AND its oracle at sf=0.01 and compares
row-count + schema + order-insensitive value-hash, so BOTH sides must agree
on column names AND exact values.  Parity rules used throughout:

* shared integer hash  = first 14 hex chars of md5, base-16  (verified equal:
  Spark ``conv(substring(md5(x),1,14),16,10)`` == DuckDB
  ``CAST('0x'||substr(md5(x),1,14) AS BIGINT)``)
* exact money sums via DECIMAL(18,2) accumulate, cast back to double
* doubles rounded (6 dp; cosine 4 dp) before comparison
* regexes restricted to the Java∩RE2 subset
* deterministic ORDER BY + tie-breaks before any LIMIT

Queries with no SQL-expressible twin (full extraction pipeline, LSH
candidate generation) are registered without an oracle -> the driver
records a weaker rows-only check (documented per query).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.io import read_spread

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

QUERY_FNS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


# view-registration memo: re-reading 10 parquet footers (file listing +
# schema) per query call dominates small-query latency (the j1 anomaly in
# BENCH_r01).  Keyed on the SESSION OBJECT (weakly) — not id(spark), which a
# GC'd session's address could alias — so a torn-down session's entry dies
# with it and a fresh session always re-registers its views.
import weakref

_LOADED: "weakref.WeakKeyDictionary[SparkSession, str]" = weakref.WeakKeyDictionary()

# the tables whose queries run regex/Python-heavy narrow stages: each also
# gets a `<table>_spread` view, laid out by read_spread's rule
SPREAD_TABLES = ("documents", "embeddings")


def _load(spark: SparkSession, sf_dir: str) -> None:
    """Register every table of `sf_dir` as a view, once per session: the
    one place that knows where a table lives and how it is scanned.

    The bare view `t` is a plain scan.  Spreading the big tables regressed
    nearly every SQL query (r6 A/B: a2 0.22s -> 0.74s, w1 0.30s -> 0.71s,
    q3 0.76s -> 1.20s at sf0.1): their per-row expressions are cheap and
    the aggregates already do map-side partials, so the exchange costs more
    than the single-task scan it parallelizes.  A driver probe (a first()
    row, a centroid sample) and a small broadcast side input read the bare
    view too (see read_spread).  `t_spread` is for the streamed side of a
    regex/Python-heavy query."""
    if _LOADED.get(spark) == sf_dir:
        return
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    for t in SPREAD_TABLES:
        read_spread(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(f"{t}_spread")
    _LOADED[spark] = sf_dir


def _table(spark: SparkSession, sf_dir: str, view: str) -> DataFrame:
    """The view `_load` registered for `sf_dir` under the name `view`."""
    _load(spark, sf_dir)
    return spark.table(view)


def _sql(name: str, spark_sql: str, duck_sql: str | None) -> None:
    def fn(spark: SparkSession, sf_dir: str, _q=spark_sql) -> DataFrame:
        _load(spark, sf_dir)
        return spark.sql(_q)

    QUERY_FNS[name] = fn
    if duck_sql is not None:
        ORACLES[name] = duck_sql


# ===========================================================================
# shared synthesized legal text (identical SQL fragment in both dialects) —
# turns the word-salad `documents` table into deterministic pseudo-oficios so
# the extraction operators have real values to find, with an exact oracle.
# ===========================================================================
_SNIPPETS = [
    "se decreta el secuestro civil de los bienes",
    "se ordena la aprehension inmediata de los fondos",
    "se solicita el traslado de fondos aprehendidos",
    "se ordena el levantamiento de la medida cautelar",
    "se decreta formal embargo sobre las cuentas del demandado",
    "se declara la adjudicacion de los bienes de la sucesion",
    "dentro del proceso de sucesion se requiere informe",
    "la presente es de solo notificacion para efectos legales",
    "se cita a comparecer mediante citacion formal",
    "en la investigacion civil que se adelanta se solicita",
    "en la investigacion de familia se requiere certificacion",
    "dentro de la investigacion penal se ordena remitir",
    "se emite solicitud de informacion de clientes",
    "se practicara inspeccion ocular en las oficinas",
    "se autoriza el allanamiento del inmueble descrito",
    "se decreta diligencia exhibitoria de los libros",
]
_MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
           "agosto", "septiembre", "octubre", "noviembre", "diciembre"]
_NOMBRES = ["MARIA ELENA GONZALEZ PEREZ", "JOSE RAMIREZ", "ANA LUCIA TORRES FLORES",
            "MINI SUPER EL SOL/PEDRO DIAZ", "CARMEN MORALES CASTILLO", "LUIS ORTEGA"]

# maps a synthesized snippet back to its doc type slug, CASE priority order
# mirroring classifier.TAXONOMY routing keywords (deterministic keyword router
# re-expressed as portable SQL — SURVEY.md §2.4 C1).
_ROUTES = [
    ("secuestro", "secuestro_civil"),
    ("aprehension", "aprehension"),
    ("traslado de fondos", "traslado_fondos"),
    ("levantamiento", "levantamiento"),
    ("embargo", "embargo"),
    ("adjudicacion", "adjudicacion_sucesion"),
    ("sucesion", "investigacion_sucesion"),
    ("solo notificacion", "solo_notificacion"),
    ("citacion", "citacion"),
    ("investigacion civil", "investigacion_civil"),
    ("investigacion de familia", "investigacion_familia"),
    ("investigacion penal", "investigacion_penal"),
    ("informacion de clientes", "informacion_clientes"),
    ("inspeccion ocular", "inspeccion_ocular"),
    ("allanamiento", "allanamiento"),
    ("exhibitoria", "diligencia_exhibitoria"),
]


def _case_mod(expr: str, values: list[str]) -> str:
    n = len(values)
    branches = " ".join(
        f"WHEN {expr} % {n} = {i} THEN '{v}'" for i, v in enumerate(values)
    )
    return f"(CASE {branches} END)"


_S = "string"  # both dialects accept CAST(x AS STRING)? duck prefers VARCHAR

def _legal_text(id_expr: str = "doc_id") -> str:
    """Portable SQL producing the per-doc pseudo-oficio text (same string in
    Spark SQL and DuckDB)."""
    snippet = _case_mod(id_expr, _SNIPPETS)
    month = _case_mod(id_expr, _MONTHS)
    return (
        "concat('Oficio No. JE-', CAST({i} % 9000 + 100 AS {S}), '-2025 del Juzgado ',"
        " CASE WHEN {i} % 2 = 0 THEN 'Primero' ELSE 'Segundo' END,"
        " ' de lo Civil. Panama, ', CAST({i} % 28 + 1 AS {S}), ' de ', {month},"
        " ' de 2025. ', {snippet},"
        " ' del expediente ', CAST({i} % 900 + 100 AS {S}), '-2025.',"
        " ' Cedula ', CAST({i} % 9 + 1 AS {S}), '-', CAST({i} % 900 + 100 AS {S}),"
        " '-', CAST({i} % 9000 + 1000 AS {S}),"
        " ' por un monto de B/. ', CAST(({i} * 137) % 100000 AS {S}), '.50.',"
        " ' Demandado: ', {nombre}, ' | ', CAST({i} % 9 + 1 AS {S}), '-',"
        " CAST({i} % 90 + 10 AS {S}), '-', CAST({i} % 900 + 100 AS {S}),"
        " ' | 1,', CAST({i} % 9 + 1 AS {S}), '00.00')"
    ).format(i=id_expr, S=_S, month=month, snippet=snippet,
             nombre=_case_mod(id_expr, _NOMBRES))


_HEADER_TEXT = (
    "concat(CASE WHEN doc_id % 3 = 0 THEN 'empresa: ' WHEN doc_id % 3 = 1 THEN"
    " 'cliente: ' ELSE 'organizacion: ' END, 'ENTIDAD_', CAST(doc_id % 50 AS {S}),"
    " ' cantidad_oficios: ', CAST(doc_id % 9 + 1 AS {S}),"
    " CASE WHEN doc_id % 2 = 0 THEN concat(' origen: PROV_', CAST(doc_id % 10 AS {S})) ELSE '' END)"
).format(S=_S)


def _classify_case(text_expr: str) -> str:
    branches = " ".join(
        f"WHEN contains({text_expr}, '{kw}') THEN '{slug}'" for kw, slug in _ROUTES
    )
    return f"(CASE {branches} ELSE 'unknown' END)"


# hash64 per dialect (verified identical output)
_H_SPARK = "CAST(conv(substring(md5({x}), 1, 14), 16, 10) AS BIGINT)"
_H_DUCK = "CAST(concat('0x', substr(md5({x}), 1, 14)) AS BIGINT)"

# canonical text normalization (textstats.normalize_for_fingerprint)
_NORM_SPARK = "trim(regexp_replace(lower({x}), '\\\\s+', ' '))"
_NORM_DUCK = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"

_TOKS_SPARK = "split(trim(lower({x})), '\\\\s+')"
_TOKS_DUCK = "regexp_split_to_array(trim(lower({x})), '\\s+')"


# ===========================================================================
# A — aggregations
# ===========================================================================
_sql(
    "a1_monto_total",
    # A1: sum of per-entity amounts per document (ocr_processor/app.py:403),
    # expressed over lineitem: exact DECIMAL accumulate -> double.
    """SELECT l_orderkey,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS monto_total,
              COUNT(*) AS n_items
       FROM lineitem GROUP BY l_orderkey""",
    """SELECT l_orderkey,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS monto_total,
              COUNT(*) AS n_items
       FROM lineitem GROUP BY l_orderkey""",
)

_A2 = """SELECT o_custkey AS batch_id,
              COUNT(*) AS total_jobs,
              CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS completed,
              CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS processing,
              CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
              CASE
                WHEN SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) = COUNT(*) THEN 'completed'
                WHEN SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) > 0 THEN 'partial_completion'
                WHEN SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) > 0 THEN 'processing'
                ELSE 'queued'
              END AS batch_status
       FROM orders GROUP BY o_custkey"""
# A2: batch progress rollup + derived status state machine
# (tracking_service.py:93-147) — conditional hash-agg.
_sql("a2_status_rollup", _A2, _A2)

# Classic pricing-summary / shipping-priority shapes (the canonical OLAP
# agg + join-agg-topk patterns, over the TPC-H-ish tables).  DECIMAL
# accumulate -> DOUBLE for exact cross-engine parity.
_Q1 = """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
              CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
       GROUP BY l_returnflag, l_linestatus"""
_sql("q1_pricing_summary", _Q1, _Q1)

_Q3 = """SELECT o.o_orderkey,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
              CAST(o.o_orderdate AS DATE) AS o_orderdate
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
         AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
       GROUP BY o.o_orderkey, o.o_orderdate
       ORDER BY revenue DESC, o.o_orderkey ASC
       LIMIT 10"""
_sql("q3_shipping_priority", _Q3, _Q3)

_A4 = """SELECT event_type,
              COUNT(*) AS n,
              ROUND(AVG(CASE WHEN value > 100 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS success_rate
       FROM events GROUP BY event_type"""
# A4: handler success tally (ocr_processor/app.py:67-75).
_sql("a4_success_rate", _A4, _A4)

# A5: extracted-field count (metadata_service.py:101-120): sum of non-null
# indicators over the coalesced header extracts.
_A5_BODY = """SELECT doc_id,
              (CASE WHEN coalesce(nullif(regexp_extract(h, 'empresa:\\s*(\\S+)', 1), ''),
                                  nullif(regexp_extract(h, 'cliente:\\s*(\\S+)', 1), ''),
                                  nullif(regexp_extract(h, 'organizacion:\\s*(\\S+)', 1), '')) IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN nullif(regexp_extract(h, 'cantidad_oficios:\\s*(\\d+)', 1), '') IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN nullif(regexp_extract(h, 'origen:\\s*(\\S+)', 1), '') IS NOT NULL THEN 1 ELSE 0 END) AS extracted_fields_count
       FROM headers"""
_sql(
    "a5_field_count",
    f"WITH headers AS (SELECT doc_id, {_HEADER_TEXT} AS h FROM documents) "
    + _A5_BODY.replace("\\s", "\\\\s").replace("\\d", "\\\\d").replace("\\S", "\\\\S"),
    f"WITH headers AS (SELECT doc_id, {_HEADER_TEXT} AS h FROM documents) " + _A5_BODY,
)

# ===========================================================================
# W — window / enumeration
# ===========================================================================
_W1 = """SELECT o_custkey, o_orderkey,
              ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS secuencia
       FROM orders"""
# W1: 1-based enumeration within a group (ocr_processor/app.py:469,498).
_sql("w1_secuencia", _W1, _W1)

_W3 = """SELECT * FROM (
         SELECT o_orderpriority, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders) t WHERE rk <= 3"""
# W3: preview top-k per group (ocr_processor/app.py:652-668).
_sql("w3_topk_per_group", _W3, _W3)

# ===========================================================================
# J — joins
# ===========================================================================
_J1 = """SELECT o.o_orderkey AS job_id, c.c_custkey AS batch_id, c.c_mktsegment,
              CAST(o.o_totalprice AS DOUBLE) AS monto
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_mktsegment = 'BUILDING'"""
# J1: job_id equi-join of message vs stored result (crm_integrator/app.py:89-113);
# small side broadcast (Spark picks BroadcastHashJoin via AQE).
_sql("j1_equi_join", _J1, _J1)

_TAXO_VALUES = (
    "(VALUES ('secuestro_civil','Secuestros','Civil'),('aprehension','Secuestros','Civil'),"
    "('traslado_fondos','Secuestros','Civil'),('levantamiento','Levantamientos','Civil'),"
    "('embargo','Embargos','Civil'),('adjudicacion_sucesion','Juicios de Sucesion','Civil'),"
    "('investigacion_sucesion','Juicios de Sucesion','Civil'),('solo_notificacion','Citaciones','Civil'),"
    "('citacion','Citaciones','Civil'),('investigacion_civil','Investigaciones','Penal'),"
    "('investigacion_familia','Investigaciones','Penal'),('investigacion_penal','Investigaciones','Penal'),"
    "('informacion_clientes','Investigaciones','Penal'),('inspeccion_ocular','Investigaciones','Penal'),"
    "('allanamiento','Investigaciones','Penal'),('diligencia_exhibitoria','Investigaciones','Penal'))"
    " AS taxo(tipo, tramite, departamento)"
)


def _j4(dialect_text: str) -> str:
    return (
        f"WITH docs AS (SELECT doc_id, {_classify_case(dialect_text)} AS doc_type "
        f"FROM (SELECT doc_id, {_legal_text()} AS lt FROM documents) s) "
        f"SELECT d.doc_id, d.doc_type, taxo.tramite, taxo.departamento "
        f"FROM docs d JOIN {_TAXO_VALUES} ON d.doc_type = taxo.tipo"
    )


# J4: 16-row taxonomy broadcast join (ocr_service.py:305-321).
_sql("j4_taxonomy_join", _j4("lt"), _j4("lt"))

# ===========================================================================
# F — filters / projections
# ===========================================================================
_F1 = """SELECT doc_id, n_chars FROM documents
       WHERE n_chars BETWEEN 100 AND 10000 AND text IS NOT NULL AND length(text) > 0"""
# F1: input validity envelope (validators.py:16-44).
_sql("f1_validity_filter", _F1, _F1)

_F5 = """SELECT CASE WHEN event_type IN ('error') THEN false ELSE true END AS success,
              COUNT(*) AS n
       FROM events GROUP BY 1"""
# F5: success/failure split (ocr_processor/app.py:68-69).
_sql("f5_success_split", _F5, _F5)

_F6 = """SELECT c_custkey,
              CASE WHEN length(c_name) > 12 THEN concat(substring(c_name, 1, 9), '...')
                   ELSE c_name END AS contact_name,
              coalesce(c_mktsegment, 'No especificado') AS segment,
              CAST(c_acctbal AS DOUBLE) AS balance,
              CASE WHEN c_acctbal < 0 THEN 0.0
                   WHEN c_acctbal > 999999999 THEN 999999999.0
                   ELSE CAST(c_acctbal AS DOUBLE) END AS balance_clamped
       FROM customer"""
# F6: schema projection with renames/truncation/defaults + N3 clamp
# (crm_integrator/app.py:225-360, :485-488).
_sql("f6_schema_projection", _F6, _F6)

# ===========================================================================
# C — classification / routing
# ===========================================================================
def _c1(text: str) -> str:
    return (
        f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt FROM documents) "
        f"SELECT {_classify_case('lt')} AS doc_type, COUNT(*) AS n FROM d GROUP BY 1"
    )


# C1: 16-type keyword router (deterministic rebuild of ocr_service.py:303-381).
_sql("c1_classify", _c1("lt"), _c1("lt"))

_C2 = (
    "WITH d AS (SELECT doc_id, {cls} AS doc_type,"
    " CAST((doc_id * 137) % 100000 AS DOUBLE) + 0.50 AS monto_total FROM"
    " (SELECT doc_id, {lt} AS lt FROM documents) s) "
    "SELECT doc_id, doc_type, monto_total,"
    " CASE WHEN contains(doc_type, 'secuestro') OR contains(doc_type, 'embargo')"
    "  OR contains(doc_type, 'aprehension') OR contains(doc_type, 'allanamiento')"
    "  OR contains(doc_type, 'citacion') OR contains(doc_type, 'levantamiento') THEN 'High'"
    " WHEN monto_total > 50000 THEN 'High'"
    " WHEN monto_total > 10000 THEN 'Medium' ELSE 'Medium' END AS priority,"
    " (contains(doc_type, 'secuestro') OR contains(doc_type, 'embargo')"
    "  OR contains(doc_type, 'aprehension') OR contains(doc_type, 'allanamiento')"
    "  OR contains(doc_type, 'citacion') OR contains(doc_type, 'levantamiento')) AS urgente"
    " FROM d"
).format(cls=_classify_case("lt"), lt=_legal_text())
# C2+C3: priority routing & urgency flag (crm_integrator/app.py:404-447).
_sql("c2_priority", _C2, _C2)

# ===========================================================================
# X — extraction regex banks (over the synthesized legal text)
# ===========================================================================
def _x(name: str, body: str, comment: str = "") -> None:
    spark = (
        f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt FROM documents) "
        + body.replace("\\s", "\\\\s").replace("\\d", "\\\\d").replace("\\b", "\\\\b").replace("\\.", "\\\\.")
    )
    duck = f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt FROM documents) " + body
    _sql(name, spark, duck)


# X1: cedula pattern (ocr_service.py:747)
_x(
    "x1_extract_cedula",
    """SELECT doc_id, regexp_extract(lt, '\\b\\d{1,2}-\\d{1,4}-\\d{1,4}\\b', 0) AS cedula FROM d""",
)
# X4/X1: oficio number (ocr_service.py:748 via the X1-first strategy)
_x(
    "x4_oficio_number",
    """SELECT doc_id, regexp_extract(lt, '(JE-|DJ-|No\\.?)\\s*\\d{1,6}(-\\d{4})?', 0) AS numero_oficio FROM d""",
)
# X5: metadata bank with first-alternative-wins coalesce (metadata_service.py:49-123)
_sql(
    "x5_metadata_coalesce",
    ("WITH h AS (SELECT doc_id, " + _HEADER_TEXT + " AS ht FROM documents) "
     "SELECT doc_id,"
     " coalesce(nullif(regexp_extract(ht, 'empresa:\\\\s*(\\\\S+)', 1), ''),"
     "          nullif(regexp_extract(ht, 'cliente:\\\\s*(\\\\S+)', 1), ''),"
     "          nullif(regexp_extract(ht, 'organizacion:\\\\s*(\\\\S+)', 1), ''),"
     " 'No especificado') AS empresa,"
     " CAST(coalesce(nullif(regexp_extract(ht, 'cantidad_oficios:\\\\s*(\\\\d+)', 1), ''), '0') AS BIGINT) AS cantidad,"
     " coalesce(nullif(regexp_extract(ht, 'origen:\\\\s*(\\\\S+)', 1), ''), 'No especificado') AS origen"
     " FROM h"),
    ("WITH h AS (SELECT doc_id, " + _HEADER_TEXT + " AS ht FROM documents) "
     "SELECT doc_id,"
     " coalesce(nullif(regexp_extract(ht, 'empresa:\\s*(\\S+)', 1), ''),"
     "          nullif(regexp_extract(ht, 'cliente:\\s*(\\S+)', 1), ''),"
     "          nullif(regexp_extract(ht, 'organizacion:\\s*(\\S+)', 1), ''),"
     " 'No especificado') AS empresa,"
     " CAST(coalesce(nullif(regexp_extract(ht, 'cantidad_oficios:\\s*(\\d+)', 1), ''), '0') AS BIGINT) AS cantidad,"
     " coalesce(nullif(regexp_extract(ht, 'origen:\\s*(\\S+)', 1), ''), 'No especificado') AS origen"
     " FROM h"),
)


def _x6(rlike_spark: bool) -> str:
    pats = [
        "agente\\s+economico", "empleador", "n.?\\s*exp", "r\\.?u\\.?c\\.?",
        "monto\\s+b/", "\\d+-\\d+-\\d+.*\\d+[,.]\\d+",
    ]
    if rlike_spark:
        cond = " OR ".join(f"lower(lt) RLIKE '{p}'".replace("\\", "\\\\") for p in pats)
    else:
        cond = " OR ".join(f"regexp_matches(lower(lt), '{p}')" for p in pats)
    return (
        f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt FROM documents) "
        f"SELECT ({cond}) AS should_have_persons, COUNT(*) AS n FROM d GROUP BY 1"
    )


# X6: person-table presence detector (post_ocr_validator.py:72-96).
_sql("x6_table_detector", _x6(True), _x6(False))


def _x3(spark: bool) -> str:
    esc = (lambda p: p.replace("\\", "\\\\")) if spark else (lambda p: p)
    rx = (lambda c, p: f"{c} RLIKE '{esc(p)}'") if spark else (
        lambda c, p: f"regexp_matches({c}, '{esc(p)}')"
    )
    oficio = rx("lt", "(JE-|DJ-|No\\.?)\\s*\\d{1,6}(-\\d{4})?")
    fecha = rx("lt", "\\d{1,2}\\s+de\\s+\\w+\\s+de\\s+\\d{4}")
    cedula = rx("lt", "\\b\\d{1,2}-\\d{1,4}-\\d{1,4}\\b")
    return (
        f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt FROM documents), "
        "v AS (SELECT doc_id,"
        f" (CASE WHEN {oficio} THEN 1 ELSE 0 END + CASE WHEN {fecha} THEN 1 ELSE 0 END"
        f"  + CASE WHEN {cedula} THEN 1 ELSE 0 END) AS valid,"
        f" (CASE WHEN {oficio} THEN 0 ELSE 1 END + CASE WHEN {fecha} THEN 0 ELSE 1 END"
        f"  + CASE WHEN {cedula} THEN 0 ELSE 1 END) AS invalid FROM d) "
        "SELECT doc_id, valid, invalid,"
        " ROUND(CAST(valid AS DOUBLE) / (valid + invalid), 6) AS confidence_score,"
        " (CAST(valid AS DOUBLE) / (valid + invalid)) >= 0.7 AS validation_passed FROM v"
    )


# X3: field validation & scoring, 0.7 pass threshold (ocr_service.py:726-827).
_sql("x3_validation_score", _x3(True), _x3(False))

# ===========================================================================
# N — normalizers as columns
# ===========================================================================
def _n3(spark: bool) -> str:
    money_pat = "B/\\.\\s*[0-9][0-9,]*\\.?[0-9]{0,2}"
    if spark:
        extract = f"regexp_extract(lt, '{money_pat}', 0)".replace("\\", "\\\\")
    else:
        extract = f"regexp_extract(lt, '{money_pat}', 0)"
    clean = (
        f"trim(replace(replace({extract}, 'B/.', ''), ',', ''))"
    )
    return (
        f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt FROM documents) "
        f"SELECT doc_id, {extract} AS monto_raw,"
        f" CASE WHEN try_cast({clean} AS DOUBLE) IS NULL THEN 0.0"
        f"      WHEN try_cast({clean} AS DOUBLE) < 0 THEN 0.0"
        f"      WHEN try_cast({clean} AS DOUBLE) > 999999999 THEN 999999999.0"
        f"      ELSE try_cast({clean} AS DOUBLE) END AS monto_numerico FROM d"
    )


# N3: money parse with CRM clamp (crm_integrator/app.py:476-491).
_sql("n3_money_parse", _n3(True), _n3(False))


def _n4(spark: bool) -> str:
    pat = "(\\d{1,2}) de (\\w+) de (\\d{4})"
    e = (lambda s: s.replace("\\", "\\\\")) if spark else (lambda s: s)
    month_case = " ".join(
        f"WHEN regexp_extract(lt, '{e(pat)}', 2) = '{m}' THEN '{i + 1:02d}'"
        for i, m in enumerate(_MONTHS)
    )
    return (
        f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt FROM documents) "
        f"SELECT doc_id,"
        f" CASE WHEN regexp_extract(lt, '{e(pat)}', 1) = '' THEN '1900-01-01'"
        f" ELSE concat(regexp_extract(lt, '{e(pat)}', 3), '-',"
        f"  CASE {month_case} ELSE NULL END, '-',"
        f"  lpad(regexp_extract(lt, '{e(pat)}', 1), 2, '0')) END AS fecha_iso FROM d"
    )


# N4: Spanish long-form date -> ISO with month map + sentinel
# (crm_integrator/app.py:692-742).
_sql("n4_date_es", _n4(True), _n4(False))

_N6 = """SELECT s_suppkey,
              CASE WHEN s_name IS NULL OR trim(s_name) = '' THEN 'No especificado'
                   WHEN length(s_name) > 14 THEN concat(substring(s_name, 1, 11), '...')
                   ELSE trim(s_name) END AS safe_name
       FROM supplier"""
# N6: safe_string default/strip/truncate (crm_integrator/app.py:454-464).
_sql("n6_safe_string", _N6, _N6)


def _n78(spark: bool) -> str:
    toks = "split(nm, ' ')" if spark else "string_split(nm, ' ')"
    size = "size(t)" if spark else "len(t)"
    el = (lambda i: f"element_at(t, {i})") if spark else (lambda i: f"t[{i}]")
    return (
        f"WITH p AS (SELECT p_partkey, concat(p_name, ' ', p_type, ' ', p_brand) AS nm FROM part), "
        f"t AS (SELECT p_partkey, nm, {toks} AS t FROM p) "
        f"SELECT p_partkey, nm,"
        f" {el(1)} AS nombre,"
        f" CASE WHEN {size} > 1 THEN {el(2)} ELSE '' END AS apellido_paterno_v1,"
        f" CASE WHEN {size} > 2 THEN {el(3)} ELSE '' END AS apellido_materno_v1,"
        f" CASE WHEN {size} >= 2 THEN {el(f'{size} - 1')} ELSE '' END AS apellido_paterno_v2,"
        f" CASE WHEN {size} >= 3 THEN {el(size)} ELSE '' END AS apellido_materno_v2"
        f" FROM t"
    )


# N7 vs N8: the two divergent name-split conventions
# (ocr_processor/app.py:500-503 vs crm_integrator/app.py:389-393).
_sql("n7_n8_name_split", _n78(True), _n78(False))


def _n9(spark: bool) -> str:
    flags = "" if spark else ", 'g'"
    # (?i) prefix works in both Java regex and RE2
    return (
        "SELECT s_suppkey,"
        f" initcap(trim(regexp_replace(regexp_replace(concat(s_name, ' Corp'),"
        f" '(?i)^(s\\.?a\\.?|ltda\\.?|inc\\.?|corp\\.?)\\s*', ''{flags}),"
        f" '(?i)\\s+(s\\.?a\\.?|ltda\\.?|inc\\.?|corp\\.?)$', ''{flags}))) AS company"
        " FROM supplier"
    ).replace("\\", "\\\\") if spark else (
        # DuckDB has no initcap: emulate Spark's (capitalize first letter of
        # each space-separated word, lowercase the rest)
        "SELECT s_suppkey,"
        " array_to_string(list_transform(string_split("
        "  trim(regexp_replace(regexp_replace(concat(s_name, ' Corp'),"
        "  '(?i)^(s\\.?a\\.?|ltda\\.?|inc\\.?|corp\\.?)\\s*', '', 'g'),"
        "  '(?i)\\s+(s\\.?a\\.?|ltda\\.?|inc\\.?|corp\\.?)$', '', 'g')), ' '),"
        "  w -> concat(upper(substr(w, 1, 1)), lower(substr(w, 2)))), ' ') AS company"
        " FROM supplier"
    )


# N9: company-name normalization (utils.py:87-97).
_sql("n9_company_normalize", _n9(True), _n9(False))


def _n12(spark: bool) -> str:
    cnt = (
        "size(regexp_extract_all(props, '\\\\d+', 0))"
        if spark
        else "len(regexp_extract_all(props, '\\d+'))"
    )
    first = (
        "regexp_extract(props, '(\\\\d+)', 1)" if spark else "regexp_extract(props, '(\\d+)', 1)"
    )
    return (
        f"SELECT event_id, {first} AS first_number, {cnt} AS n_numbers FROM events"
    )


# N12: extract_numbers (utils.py:81-85).
_sql("n12_extract_numbers", _n12(True), _n12(False))


def _n2(spark: bool) -> str:
    # reference order kept: collapse whitespace FIRST, then drop special
    # chars (utils.py:67-79 — the non-idempotence quirk).
    flags = "" if spark else ", 'g'"
    e = (lambda s: s.replace("\\", "\\\\")) if spark else (lambda s: s)
    return (
        "SELECT doc_id, trim(regexp_replace(regexp_replace(concat(text, ' @#$ tail'),"
        f" '{e(chr(92) + 's+')}', ' '{flags}), '{e('[^' + chr(92) + 'w' + chr(92) + 's.,;:!?()-]')}', ''{flags})) AS cleaned"
        " FROM documents"
    )


# N2: clean_text as native columns (utils.py:67-79).
_sql("n2_clean_text", _n2(True), _n2(False))


def _n10(spark: bool) -> str:
    e = (lambda s: s.replace("\\", "\\\\")) if spark else (lambda s: s)
    # synthesize currency-bearing strings from events, then N10 first-match
    # chain ($ / pesos / usd) with stripped-passthrough fallback
    t = ("concat(CASE WHEN event_id % 3 = 0 THEN concat('pague $', CAST(event_id % 999 AS {S}), ',500.25 hoy')"
         " WHEN event_id % 3 = 1 THEN concat('monto ', CAST(event_id % 999 AS {S}), ' pesos netos')"
         " ELSE ' sin moneda aqui ' END)").format(S=_S)
    pat_dollar = e("\\$[\\d,]+\\.?\\d*")
    pat_pesos = e("[\\d,]+\\.?\\d*\\s*pesos")
    return (
        f"WITH d AS (SELECT event_id, {t} AS t FROM events) "
        f"SELECT event_id,"
        f" coalesce(nullif(regexp_extract(t, '{pat_dollar}', 0), ''),"
        f"          nullif(regexp_extract(t, '(?i){pat_pesos}', 0), ''),"
        f"          trim(t)) AS currency FROM d"
    )


# N10: extract_currency first-match chain (utils.py:113-131).
_sql("n10_extract_currency", _n10(True), _n10(False))

# N1: clean_value — None/'null' -> '', strings stripped (shared/utils.py
# clean_value; normalizers.py:66-76).  Input variety synthesized per custkey.
_N1 = """WITH v AS (SELECT c_custkey,
              CASE WHEN c_custkey % 5 = 0 THEN NULL
                   WHEN c_custkey % 5 = 1 THEN 'null'
                   WHEN c_custkey % 5 = 2 THEN concat('   ', c_name, '  ')
                   WHEN c_custkey % 5 = 3 THEN CAST(c_nationkey AS STRING)
                   ELSE c_name END AS raw FROM customer)
       SELECT c_custkey,
              CASE WHEN raw IS NULL OR raw = 'null' THEN '' ELSE trim(raw) END AS cleaned
       FROM v"""
_sql("n1_clean_value", _N1, _N1)


def _n5(spark: bool) -> str:
    iso = (
        "v RLIKE '^\\\\d{4}-\\\\d{2}-\\\\d{2}$'"
        if spark
        else r"regexp_matches(v, '^\d{4}-\d{2}-\d{2}$')"
    )
    return (
        "WITH v AS (SELECT o_orderkey,"
        " CASE WHEN o_orderkey % 4 = 0 THEN NULL"
        "      WHEN o_orderkey % 4 = 1 THEN 'No especificado'"
        "      WHEN o_orderkey % 4 = 2 THEN '15/06/2025'"
        "      ELSE CAST(CAST(o_orderdate AS DATE) AS STRING) END AS v FROM orders) "
        "SELECT o_orderkey,"
        " CASE WHEN v IS NULL OR v IN ('', 'No especificado', 'No especificada', 'null', 'None') THEN '1900-01-01'"
        f"      WHEN {iso} THEN v"
        "       ELSE '1900-01-01' END AS fecha_safe"
        " FROM v"
    )


# N5: safe_date gate — only already-ISO passes, else 1900-01-01 sentinel
# (crm_integrator/app.py:466-474; normalizers.py safe_date_gate).
_sql("n5_safe_date_gate", _n5(True), _n5(False))


def _n11(spark: bool) -> str:
    e = (lambda s: s.replace("\\", "\\\\")) if spark else (lambda s: s)
    dmy = e(r"(\d{1,2}/\d{1,2}/\d{4})")
    ymd = e(r"(\d{4}-\d{1,2}-\d{1,2})")
    dmy2 = e(r"(\d{1,2}-\d{1,2}-\d{4})")
    return (
        "WITH t AS (SELECT doc_id,"
        " CASE WHEN doc_id % 3 = 0 THEN concat('visto el ', CAST(doc_id % 28 + 1 AS STRING),"
        "   '/', CAST(doc_id % 12 + 1 AS STRING), '/2025 y el 2024-01-01 despues')"
        "      WHEN doc_id % 3 = 1 THEN concat('registro 2025-', CAST(doc_id % 9 + 1 AS STRING), '-15 unico')"
        "      ELSE 'sin fecha alguna' END AS s FROM documents) "
        "SELECT doc_id, coalesce("
        f" nullif(regexp_extract(s, '{dmy}', 1), ''),"
        f" nullif(regexp_extract(s, '{ymd}', 1), ''),"
        f" nullif(regexp_extract(s, '{dmy2}', 1), ''),"
        " 'none') AS first_date FROM t"
    )


# N11: generic date extract — first d/m/Y, then Y-m-d, then d-m-Y
# (shared/utils.py:130-143; normalizers.py extract_date).
_sql("n11_extract_date", _n11(True), _n11(False))

# N13: plain prefix truncation (texto_completo[:4000] analog,
# crm_integrator/app.py:294; normalizers.py truncate).
_N13 = """SELECT doc_id, substring(text, 1, 40) AS prefix40, length(text) AS n_chars
       FROM documents"""
_sql("n13_truncate", _N13, _N13)


# ===========================================================================
# N banks — the whole normalizer family as TWO multi-column queries, so the
# driver's 50-row window hash-verifies every scalar normalizer without
# spending 13 slots (the micro-queries above stay registered for granular
# pytest coverage and land after the window).  Same expressions, inputs
# synthesized per doc_id so every branch of every normalizer is exercised.
# ===========================================================================
def _n_scalar_bank(spark: bool) -> str:
    e = (lambda s: s.replace("\\", "\\\\")) if spark else (lambda s: s)
    flags = "" if spark else ", 'g'"
    # --- synthesized inputs (identical SQL both dialects) ---------------
    raw1 = (
        "CASE WHEN doc_id % 5 = 0 THEN NULL"
        " WHEN doc_id % 5 = 1 THEN 'null'"
        " WHEN doc_id % 5 = 2 THEN concat('   ', substring(text, 1, 12), '  ')"
        f" WHEN doc_id % 5 = 3 THEN CAST(doc_id AS {_S})"
        " ELSE substring(text, 1, 12) END"
    )
    v5 = (
        "CASE WHEN doc_id % 4 = 0 THEN NULL"
        " WHEN doc_id % 4 = 1 THEN 'No especificado'"
        " WHEN doc_id % 4 = 2 THEN '15/06/2025'"
        f" ELSE concat('2025-0', CAST(doc_id % 9 + 1 AS {_S}), '-15') END"
    )
    nm6 = (
        "CASE WHEN doc_id % 3 = 0 THEN NULL"
        " WHEN doc_id % 3 = 1 THEN '   '"
        " ELSE substring(text, 1, 20) END"
    )
    comp9 = "concat(substring(text, 1, 8), ' Corp')"
    cur10 = (
        "CASE WHEN doc_id % 3 = 0 THEN concat('pague $', CAST(doc_id % 999 AS {S}), ',500.25 hoy')"
        " WHEN doc_id % 3 = 1 THEN concat('monto ', CAST(doc_id % 999 AS {S}), ' pesos netos')"
        " ELSE ' sin moneda aqui ' END"
    ).format(S=_S)
    s11 = (
        "CASE WHEN doc_id % 3 = 0 THEN concat('visto el ', CAST(doc_id % 28 + 1 AS {S}),"
        " '/', CAST(doc_id % 12 + 1 AS {S}), '/2025 y el 2024-01-01 despues')"
        " WHEN doc_id % 3 = 1 THEN concat('registro 2025-', CAST(doc_id % 9 + 1 AS {S}), '-15 unico')"
        " ELSE 'sin fecha alguna' END"
    ).format(S=_S)
    s12 = (
        f"concat('caso ', CAST(doc_id * 7 AS {_S}), ' y folio ', CAST(doc_id % 13 AS {_S}))"
    )
    # --- normalizer expressions (same semantics as n1..n13) -------------
    n1 = "CASE WHEN raw1 IS NULL OR raw1 = 'null' THEN '' ELSE trim(raw1) END"
    n2 = (
        "trim(regexp_replace(regexp_replace(concat(text, ' @#$ tail'),"
        f" '{e(chr(92) + 's+')}', ' '{flags}),"
        f" '{e('[^' + chr(92) + 'w' + chr(92) + 's.,;:!?()-]')}', ''{flags}))"
    )
    iso = (
        "v5 RLIKE '^\\\\d{4}-\\\\d{2}-\\\\d{2}$'"
        if spark
        else r"regexp_matches(v5, '^\d{4}-\d{2}-\d{2}$')"
    )
    n5 = (
        "CASE WHEN v5 IS NULL OR v5 IN ('', 'No especificado', 'No especificada', 'null', 'None')"
        f" THEN '1900-01-01' WHEN {iso} THEN v5 ELSE '1900-01-01' END"
    )
    n6 = (
        "CASE WHEN nm6 IS NULL OR trim(nm6) = '' THEN 'No especificado'"
        " WHEN length(nm6) > 14 THEN concat(substring(nm6, 1, 11), '...')"
        " ELSE trim(nm6) END"
    )
    stripped9 = (
        "trim(regexp_replace(regexp_replace(comp9,"
        + (
            " '(?i)^(s\\\\.?a\\\\.?|ltda\\\\.?|inc\\\\.?|corp\\\\.?)\\\\s*', ''),"
            " '(?i)\\\\s+(s\\\\.?a\\\\.?|ltda\\\\.?|inc\\\\.?|corp\\\\.?)$', ''))"
            if spark
            else " '(?i)^(s\\.?a\\.?|ltda\\.?|inc\\.?|corp\\.?)\\s*', '', 'g'),"
            " '(?i)\\s+(s\\.?a\\.?|ltda\\.?|inc\\.?|corp\\.?)$', '', 'g'))"
        )
    )
    n9 = (
        f"initcap({stripped9})"
        if spark
        else (
            "array_to_string(list_transform(string_split("
            f"{stripped9}, ' '),"
            " w -> concat(upper(substr(w, 1, 1)), lower(substr(w, 2)))), ' ')"
        )
    )
    pat_dollar = e("\\$[\\d,]+\\.?\\d*")
    pat_pesos = e("[\\d,]+\\.?\\d*\\s*pesos")
    n10 = (
        f"coalesce(nullif(regexp_extract(cur10, '{pat_dollar}', 0), ''),"
        f" nullif(regexp_extract(cur10, '(?i){pat_pesos}', 0), ''), trim(cur10))"
    )
    dmy = e(r"(\d{1,2}/\d{1,2}/\d{4})")
    ymd = e(r"(\d{4}-\d{1,2}-\d{1,2})")
    dmy2 = e(r"(\d{1,2}-\d{1,2}-\d{4})")
    n11 = (
        f"coalesce(nullif(regexp_extract(s11, '{dmy}', 1), ''),"
        f" nullif(regexp_extract(s11, '{ymd}', 1), ''),"
        f" nullif(regexp_extract(s11, '{dmy2}', 1), ''), 'none')"
    )
    first12 = (
        "regexp_extract(s12, '(\\\\d+)', 1)" if spark else "regexp_extract(s12, '(\\d+)', 1)"
    )
    cnt12 = (
        "size(regexp_extract_all(s12, '\\\\d+', 0))"
        if spark
        else "len(regexp_extract_all(s12, '\\d+'))"
    )
    return (
        f"WITH i AS (SELECT doc_id, text, {raw1} AS raw1, {v5} AS v5, {nm6} AS nm6,"
        f" {comp9} AS comp9, {cur10} AS cur10, {s11} AS s11, {s12} AS s12 FROM documents) "
        f"SELECT doc_id,"
        f" {n1} AS cleaned_value,"
        f" {n2} AS cleaned_text,"
        f" {n5} AS fecha_safe,"
        f" {n6} AS safe_name,"
        f" {n9} AS company,"
        f" {n10} AS currency,"
        f" {n11} AS first_date,"
        f" {first12} AS first_number,"
        f" CAST({cnt12} AS BIGINT) AS n_numbers,"
        f" substring(text, 1, 40) AS prefix40,"
        f" CAST(length(text) AS BIGINT) AS n_chars"
        f" FROM i"
    )


# N1/N2/N5/N6/N9/N10/N11/N12/N13 in one driver-window row.
_sql("n_scalar_bank", _n_scalar_bank(True), _n_scalar_bank(False))


def _n_parse_bank(spark: bool) -> str:
    money_pat = "B/\\.\\s*[0-9][0-9,]*\\.?[0-9]{0,2}"
    mex = (
        f"regexp_extract(lt, '{money_pat}', 0)".replace("\\", "\\\\")
        if spark
        else f"regexp_extract(lt, '{money_pat}', 0)"
    )
    clean3 = f"trim(replace(replace({mex}, 'B/.', ''), ',', ''))"
    pat4 = "(\\d{1,2}) de (\\w+) de (\\d{4})"
    e = (lambda s: s.replace("\\", "\\\\")) if spark else (lambda s: s)
    month_case = " ".join(
        f"WHEN regexp_extract(lt, '{e(pat4)}', 2) = '{m}' THEN '{i + 1:02d}'"
        for i, m in enumerate(_MONTHS)
    )
    nm = _case_mod("doc_id", _NOMBRES)
    toks = "split(nm, ' ')" if spark else "string_split(nm, ' ')"
    size = "size(t)" if spark else "len(t)"
    el = (lambda i: f"element_at(t, {i})") if spark else (lambda i: f"t[{i}]")
    return (
        f"WITH d AS (SELECT doc_id, {_legal_text()} AS lt, {nm} AS nm FROM documents), "
        f"t AS (SELECT doc_id, lt, nm, {toks} AS t FROM d) "
        f"SELECT doc_id,"
        f" {mex} AS monto_raw,"
        f" CASE WHEN try_cast({clean3} AS DOUBLE) IS NULL THEN 0.0"
        f"      WHEN try_cast({clean3} AS DOUBLE) < 0 THEN 0.0"
        f"      WHEN try_cast({clean3} AS DOUBLE) > 999999999 THEN 999999999.0"
        f"      ELSE try_cast({clean3} AS DOUBLE) END AS monto_numerico,"
        f" CASE WHEN regexp_extract(lt, '{e(pat4)}', 1) = '' THEN '1900-01-01'"
        f" ELSE concat(regexp_extract(lt, '{e(pat4)}', 3), '-',"
        f"  CASE {month_case} ELSE NULL END, '-',"
        f"  lpad(regexp_extract(lt, '{e(pat4)}', 1), 2, '0')) END AS fecha_iso,"
        f" {el(1)} AS nombre,"
        f" CASE WHEN {size} > 1 THEN {el(2)} ELSE '' END AS apellido_paterno_v1,"
        f" CASE WHEN {size} > 2 THEN {el(3)} ELSE '' END AS apellido_materno_v1,"
        f" CASE WHEN {size} >= 2 THEN {el(f'{size} - 1')} ELSE '' END AS apellido_paterno_v2,"
        f" CASE WHEN {size} >= 3 THEN {el(size)} ELSE '' END AS apellido_materno_v2"
        f" FROM t"
    )


# N3 money parse + N4 Spanish date + the N7/N8 divergent name splits in one
# driver-window row (the parse-family twin of n_scalar_bank).
_sql("n_parse_bank", _n_parse_bank(True), _n_parse_bank(False))

_F2 = """WITH p AS (SELECT doc_id,
              CASE WHEN doc_id % 5 = 0 THEN 'SEPARADOR DE OFICIOS ====='
                   WHEN doc_id % 5 = 1 THEN concat('pagina con contenido real ', repeat('x ', 120))
                   WHEN doc_id % 5 = 2 THEN '--- divisor ---'
                   ELSE 'texto normal de un oficio cualquiera' END AS page FROM documents)
       SELECT doc_id,
              (length(page) < 200 AND (contains(lower(page), 'separador de oficios')
                OR contains(lower(page), 'separador') OR contains(lower(page), 'divisor')
                OR contains(lower(page), '---') OR contains(lower(page), '==='))) AS is_separator
       FROM p"""
# F2: separator-page predicate (pdf_service.py:69-104: marker AND len<200).
_sql("f2_separator_predicate", _F2, _F2)


def _x10(spark: bool) -> str:
    # X10 multi-strategy response parse (ocr_service.py:504-661): coalesce of
    # candidate JSON paths, re-expressed over the events.props JSON column.
    get = (lambda p: f"get_json_object(props, '$.{p}')") if spark else (
        lambda p: f"json_extract_string(props, '$.{p}')"
    )
    return (
        "SELECT event_id,"
        f" CAST(coalesce({get('k')}, {get('missing')}, '-1') AS BIGINT) AS k_value,"
        f" ({get('k')} IS NOT NULL) AS parsed"
        " FROM events"
    )


# X10: multi-strategy JSON parse with candidate-path coalesce.
_sql("x10_json_extract", _x10(True), _x10(False))

_W4 = """SELECT date_trunc('hour', ts) AS window_start, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2"""
# W4: tumbling event-time window aggregation (the Structured Streaming
# windowed-agg shape, run in batch for the oracle check).
_sql("w4_tumbling_window", _W4, _W4)


def _asof_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase event, the value of the user's latest signup event
    at-or-before it (point-in-time correctness — the feature-store shape)."""
    from .operators.asof import asof_join

    ev = _table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    out = asof_join(purchases, signups, on="ts", by="user_id",
                    value_cols=["signup_value"])
    return out.select(
        "event_id", "user_id",
        F.col("signup_value_asof").alias("signup_value"),
    )


ORACLES["j5_asof_join"] = (
    "WITH purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), "
    "signups AS (SELECT user_id, ts, MAX(value) AS signup_value FROM events"
    " WHERE event_type = 'signup' GROUP BY user_id, ts) "
    "SELECT p.event_id, p.user_id, s.signup_value "
    "FROM purchases p ASOF LEFT JOIN signups s"
    " ON p.user_id = s.user_id AND p.ts >= s.ts"
)
QUERY_FNS["j5_asof_join"] = _asof_fn


def _w5(spark: bool) -> str:
    epoch = "unix_timestamp(ts)" if spark else "epoch(ts)"
    epoch_prev = "unix_timestamp(prev)" if spark else "epoch(prev)"
    return (
        "WITH e AS (SELECT event_id, user_id, ts,"
        " lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), "
        "flags AS (SELECT event_id, user_id, ts,"
        f" CASE WHEN prev IS NULL OR {epoch} - {epoch_prev} > 1800 THEN 1 ELSE 0 END AS new_session FROM e) "
        "SELECT event_id, user_id,"
        " CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no"
        " FROM flags"
    )


# W5: gap-based sessionization (30-min inactivity) — lag + running sum.
_sql("w5_sessionize", _w5(True), _w5(False))


def _a8(spark: bool) -> str:
    if spark:
        p50 = "percentile(value, 0.5)"
        p95 = "percentile(value, 0.95)"
    else:
        p50 = "quantile_cont(value, 0.5)"
        p95 = "quantile_cont(value, 0.95)"
    return (
        "SELECT event_type, ROUND({p50}, 6) AS p50, ROUND({p95}, 6) AS p95,"
        " COUNT(*) AS n FROM events GROUP BY event_type"
    ).format(p50=p50, p95=p95)


# A8: exact interpolated percentiles (linear interpolation in both engines).
_sql("a8_percentiles", _a8(True), _a8(False))

_A9 = """SELECT coalesce(o_orderstatus, 'ALL') AS status,
              coalesce(o_orderpriority, 'ALL') AS priority,
              COUNT(*) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
       FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"""
# A9: hierarchical ROLLUP aggregation (grouping-sets family).
_sql("a9_rollup", _A9, _A9)

_TSTATS = """SELECT coalesce(source, 'ALL') AS source,
              coalesce(lang, 'ALL') AS lang,
              COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              CAST(MAX(n_chars) AS BIGINT) AS max_chars,
              ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
       FROM documents GROUP BY ROLLUP(source, lang)"""
# Corpus dashboard: per-(source, lang) + subtotal + grand-total stats in ONE
# pass — the crawl-health rollup every ingest run publishes.  Grouping sets
# make Spark expand the rollup inside a single aggregate (map-side partials
# per grouping set), not three jobs.
_sql("t_corpus_stats", _TSTATS, _TSTATS)

_FCOUNT = """WITH d AS (SELECT doc_id, doc_id % 9 + 1 AS declared,
              GREATEST(0, doc_id % 9 + 1 + (doc_id % 7) - 3) AS extracted FROM documents)
       SELECT doc_id, declared, extracted,
              CASE WHEN extracted = 0 THEN false
                   WHEN declared = 0 THEN true
                   WHEN extracted = declared THEN true
                   WHEN abs(extracted - declared) <= greatest(1, CAST(floor(declared * 0.1) AS INT)) THEN true
                   ELSE false END AS valid
       FROM d"""
# split-count vs declared-count ±10%-or-1 tolerance (validators.py:49-91).
_sql("f_count_tolerance", _FCOUNT, _FCOUNT)

# ===========================================================================
# T — text analysis (training-data ops) over documents.text
# ===========================================================================
def _t_token_duck() -> str:
    bpe = "len(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]'))"
    return (
        f"SELECT doc_id,"
        f" CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS_DUCK.format(x='text')}) END AS n_tokens,"
        f" {bpe} AS n_subwords FROM documents"
    )


def _t_token_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import bpe_ish_token_count, token_count

    df = _table(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_subwords"),
    )


QUERY_FNS["t_token_count"] = _t_token_fn
ORACLES["t_token_count"] = _t_token_duck()


def _t_repetition_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-repetition quality signals (C4/Gopher-style drop rules):
    duplicate-token fraction and adjacent-repeat fraction per document."""
    from .operators.textstats import repetition_stats

    df = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(df).select(
        "doc_id", "n_tokens", "dup_token_frac", "adjacent_repeat_frac"
    )


# shared repetition-stat fragments (textstats.repetition_stats twin) — used
# by BOTH the t_repetition oracle and the curation-funnel gate so the two
# can never drift from each other (or from the one Spark implementation)
_REP_RAW_DUCK = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tok_r, "
    "len(toks) AS n_raw, len(list_distinct(toks)) AS n_distinct, "
    "len(list_filter(range(2, len(toks) + 1), i -> toks[i] = toks[i - 1])) AS adj"
)
_REP_DUP_FRAC_DUCK = (
    "ROUND(CASE WHEN n_tok_r > 0 THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_raw"
    " ELSE 0.0 END, 6)"
)
_REP_ADJ_FRAC_DUCK = (
    "ROUND(CASE WHEN n_tok_r >= 2 THEN CAST(adj AS DOUBLE) / (n_raw - 1)"
    " ELSE 0.0 END, 6)"
)


def _t_repetition_duck() -> str:
    toks = _TOKS_DUCK.format(x="text")
    return f"""
    WITH t AS (SELECT doc_id, text, {toks} AS toks FROM documents),
    s AS (SELECT doc_id, {_REP_RAW_DUCK} FROM t)
    SELECT doc_id, n_tok_r AS n_tokens,
           {_REP_DUP_FRAC_DUCK} AS dup_token_frac,
           {_REP_ADJ_FRAC_DUCK} AS adjacent_repeat_frac
    FROM s"""


QUERY_FNS["t_repetition"] = _t_repetition_fn
ORACLES["t_repetition"] = _t_repetition_duck()


def _t_lang_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import lang_id

    df = _table(spark, sf_dir, "documents")
    return (
        df.select("lang", lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .count()
        .withColumnRenamed("count", "n")
    )


def _t_lang_duck() -> str:
    from .operators.textstats import LANG_MARKERS

    toks = f"list_distinct({_TOKS_DUCK.format(x='text')})"
    scores = {
        lang: f"len(list_intersect({toks}, {list(words)}))"
        for lang, words in LANG_MARKERS.items()
    }
    order = list(LANG_MARKERS)
    cases = []
    for i, lang in enumerate(order):
        rest = [scores[l] for l in order[i + 1 :]]
        ge = " AND ".join([f"s_{lang} >= s_{l}" for l in order[i + 1 :]] + [f"s_{lang} >= 1"])
        cases.append(f"WHEN {ge} THEN '{lang}'")
    score_sel = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    return (
        f"WITH s AS (SELECT lang, {score_sel} FROM documents) "
        f"SELECT lang, (CASE {' '.join(cases)} ELSE 'und' END) AS lang_guess, COUNT(*) AS n "
        f"FROM s GROUP BY 1, 2"
    )


QUERY_FNS["t_lang_id"] = _t_lang_fn
ORACLES["t_lang_id"] = _t_lang_duck()


def _t_quality_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import quality_score

    df = _table(spark, sf_dir, "documents")
    return df.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _t_quality_duck() -> str:
    from .operators.textstats import STOPWORDS_EN

    toks = _TOKS_DUCK.format(x="text")
    hits = f"len(list_filter({toks}, t -> list_contains({list(STOPWORDS_EN)}, t)))"
    n = f"len({toks})"
    stop = f"(CASE WHEN {n} > 0 THEN CAST({hits} AS DOUBLE) / {n} ELSE 0.0 END)"
    punct = (
        "(CASE WHEN length(text) > 0 THEN"
        " CAST(len(regexp_extract_all(text, '[.,;:!?()\\-]')) AS DOUBLE) / length(text)"
        " ELSE 0.0 END)"
    )
    return (
        "SELECT doc_id, ROUND("
        " 0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
        f" + 0.4 * least({stop} * 5.0, 1.0)"
        f" + 0.2 * (1.0 - least({punct} * 10.0, 1.0)), 6) AS quality FROM documents"
    )


QUERY_FNS["t_quality"] = _t_quality_fn
ORACLES["t_quality"] = _t_quality_duck()


def _curate_survivors(df: DataFrame) -> DataFrame:
    """The curation funnel's SURVIVOR stream over any (doc_id, text) frame:
    exact dedup (keep-one) -> quality gate -> repetition gate.  Keeps
    (doc_id, text, quality, rep stats) so downstream consumers (the rollup,
    the shard packer) pick what they need."""
    from .operators.dedup import dedup_keep
    from .operators.textstats import quality_score, repetition_stats

    kept = dedup_keep(df, "exact", text_col="text", id_col="doc_id")
    c = F.col("text")
    return repetition_stats(
        kept.withColumn("quality", quality_score(c)).filter(F.col("quality") >= 0.5)
    ).filter((F.col("dup_token_frac") <= 0.6) & (F.col("adjacent_repeat_frac") <= 0.1))


def _curate_funnel(df: DataFrame) -> DataFrame:
    """The curation funnel over any (doc_id, text) frame: exact dedup
    (keep-one) -> quality gate -> repetition gate -> lang id -> per-lang
    rollup.  Shared by t_curate_corpus (parquet text) and g_wet_curate
    (WET-extracted text)."""
    from .operators.textstats import lang_id, token_count

    c = F.col("text")
    gated = _curate_survivors(df)
    return (
        gated.withColumn("lang_guess", lang_id(c))
        .withColumn("n_toks", token_count(c))
        .groupBy("lang_guess")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.round(
                (F.sum(F.col("quality").cast("decimal(18,6)")).cast("double") / F.count("*")),
                6,
            ).alias("avg_quality"),
        )
    )


def _t_curate_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-corpus curation funnel as ONE composed query — what the
    individual operators exist for: exact dedup (keep-one) -> quality gate
    (score >= 0.5) -> repetition gate (dup_token_frac <= 0.6 AND
    adjacent_repeat_frac <= 0.1, on the rounded stats) -> language id ->
    per-language doc/token rollup.  avg_quality accumulates via
    DECIMAL(18,6) so the cross-engine sum is order-independent (float +=
    is not associative across partitions)."""
    return _curate_funnel(_table(spark, sf_dir, "documents"))


def _curate_survivor_ctes(src_ctes: str = "", src: str = "documents") -> str:
    """CTE chain ending in gated(doc_id, text, quality) — the funnel's
    survivor stream, shared by the rollup oracle and the shard-packing
    composite's oracle."""
    norm = _NORM_DUCK.format(x="text")
    quality = _t_quality_duck().split("SELECT doc_id, ")[1].split(" AS quality FROM")[0]
    rtoks = _TOKS_DUCK.format(x="text")
    return f"""{src_ctes}fp AS (SELECT doc_id, text, md5({norm}) AS fp FROM {src}),
    keep AS (SELECT doc_id, text FROM (
               SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
               FROM fp) t WHERE doc_id = keep_id),
    q AS (SELECT doc_id, text, {quality} AS quality FROM keep),
    qt AS (SELECT doc_id, text, quality, {rtoks} AS toks FROM q WHERE quality >= 0.5),
    rs AS (SELECT doc_id, text, quality, {_REP_RAW_DUCK} FROM qt),
    gated AS (SELECT doc_id, text, quality FROM rs
              WHERE {_REP_DUP_FRAC_DUCK} <= 0.6
                AND {_REP_ADJ_FRAC_DUCK} <= 0.1)"""


def _t_curate_duck(src_ctes: str = "", src: str = "documents") -> str:
    from .operators.textstats import LANG_MARKERS

    toks = f"list_distinct({_TOKS_DUCK.format(x='text')})"
    scores = {
        lang: f"len(list_intersect({toks}, {list(words)}))"
        for lang, words in LANG_MARKERS.items()
    }
    order = list(LANG_MARKERS)
    cases = []
    for i, lang in enumerate(order):
        ge = " AND ".join(
            [f"s_{lang} >= s_{l}" for l in order[i + 1 :]] + [f"s_{lang} >= 1"]
        )
        cases.append(f"WHEN {ge} THEN '{lang}'")
    score_sel = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    ntok = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS_DUCK.format(x='text')}) END"
    return f"""
    WITH {_curate_survivor_ctes(src_ctes, src)},
    g AS (SELECT quality, {ntok} AS n_toks, {score_sel} FROM gated)
    SELECT (CASE {' '.join(cases)} ELSE 'und' END) AS lang_guess,
           COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
    FROM g GROUP BY 1"""


# the curation funnel composite: dedup -> quality -> lang -> token rollup
QUERY_FNS["t_curate_corpus"] = _t_curate_fn
ORACLES["t_curate_corpus"] = _t_curate_duck()

# ===========================================================================
# D — deduplication
# ===========================================================================
def _t_winnow_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import with_winnow_fingerprints

    # deterministic quarter of the corpus: the md5-portable rolling hash is
    # ~300 interpreted HOF evaluations per doc, and this query exists to
    # evidence VALUE parity, not throughput (production swaps xxhash64).
    df = _table(spark, sf_dir, "documents_spread").filter(F.col("doc_id") % 4 == 0)
    out = with_winnow_fingerprints(df, "text", k=8, w=4)
    return out.select("doc_id", F.explode("winnow_fps").alias("fp"))


def _t_winnow_duck(k: int = 8, w: int = 4) -> str:
    s = _NORM_DUCK.format(x="text")
    h = _H_DUCK.format(x=f"substr(s, i, {k})")
    return f"""
    WITH t AS (SELECT doc_id, {s} AS s FROM documents WHERE doc_id % 4 = 0),
    g AS (SELECT doc_id,
                 [{h} FOR i IN range(1, greatest(len(s) - {k - 1}, 1) + 1)] AS h
          FROM t)
    SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(h) - {w - 1} <= 0 THEN [list_min(h)]
                  ELSE [list_min(h[j:j+{w - 1}]) FOR j IN range(1, len(h) - {w - 1} + 1)]
             END)) AS fp
    FROM g"""


# rolling-hash document fingerprinting (winnowing): char k-gram rolling
# hashes, window-min selection — the local-edit-robust fingerprint set.
QUERY_FNS["t_winnow_fingerprint"] = _t_winnow_fn
ORACLES["t_winnow_fingerprint"] = _t_winnow_duck()


def _d_exact_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    df = _table(spark, sf_dir, "documents")
    return exact_dedup(df)


ORACLES["d_exact_dedup"] = (
    f"SELECT md5({_NORM_DUCK.format(x='text')}) AS fp, MIN(doc_id) AS keep_id,"
    " COUNT(*) AS n_copies FROM documents GROUP BY 1"
)
QUERY_FNS["d_exact_dedup"] = _d_exact_fn


def _d_minhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_signatures

    df = _table(spark, sf_dir, "documents_spread")
    sig = minhash_signatures(df, k=4)
    return sig.select(
        F.col("id").alias("doc_id"),
        F.col("sig")[0].alias("h0"),
        F.col("sig")[1].alias("h1"),
        F.col("sig")[2].alias("h2"),
        F.col("sig")[3].alias("h3"),
    )


def _shingles_duck(x: str = "text") -> str:
    t = f"regexp_split_to_array({_NORM_DUCK.format(x=x)}, ' ')"
    return (
        f"(CASE WHEN len({t}) < 3 THEN [array_to_string({t}, ' ')]"
        f" ELSE list_distinct([array_to_string(({t})[i:i+2], ' ')"
        f" FOR i IN range(1, len({t}) - 1)]) END)"
    )


def _d_minhash_duck() -> str:
    h = _H_DUCK.format(x="concat('{i}|', sh)")
    mins = ", ".join(
        f"MIN({h.replace('{i}', str(i))}) AS h{i}" for i in range(4)
    )
    return (
        f"WITH sh AS (SELECT doc_id, unnest({_shingles_duck()}) AS sh FROM documents) "
        f"SELECT doc_id, {mins} FROM sh GROUP BY doc_id"
    )


QUERY_FNS["d_minhash_sig"] = _d_minhash_fn
ORACLES["d_minhash_sig"] = _d_minhash_duck()


def _d_jaccard_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    df = _table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(df, threshold=0.8).withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")


ORACLES["d_ngram_jaccard"] = (
    f"WITH sh AS (SELECT doc_id, unnest({_shingles_duck()}) AS sh FROM documents), "
    "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1), "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i"
    " FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT doc_a, doc_b,"
    " ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard"
    " FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id"
    " WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8"
)
QUERY_FNS["d_ngram_jaccard"] = _d_jaccard_fn


def _d_simhash_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import with_simhash

    df = _table(spark, sf_dir, "documents_spread")
    return with_simhash(df, "text", bits=16).select("doc_id", "sh")


def _d_simhash_duck(bits: int = 16) -> str:
    toks = f"list_distinct(regexp_split_to_array({_NORM_DUCK.format(x='text')}, ' '))"
    hashes = f"list_transform({toks}, t -> {_H_DUCK.format(x='t')})"
    terms = []
    for j in range(bits):
        ones = f"len(list_filter(h, x -> (x >> {j}) & 1 = 1))"
        terms.append(f"CASE WHEN 2 * {ones} - len(h) > 0 THEN {2**j} ELSE 0 END")
    return (
        f"WITH t AS (SELECT doc_id, {hashes} AS h FROM documents) "
        f"SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS sh FROM t"
    )


QUERY_FNS["d_simhash"] = _d_simhash_fn
ORACLES["d_simhash"] = _d_simhash_duck()

# ===========================================================================
# S — similarity search over embeddings
# ===========================================================================
def _s_topk_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import cosine

    df = _table(spark, sf_dir, "embeddings")
    q = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = df.crossJoin(F.broadcast(q)).select(
        "vec_id", F.round(cosine(F.col("embedding"), F.col("qv")), 4).alias("sim")
    )
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(10)


ORACLES["s_topk_cosine"] = (
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
    "SELECT vec_id, ROUND("
    " list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])) /"
    " (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *"
    "  sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 4) AS sim "
    "FROM embeddings, q ORDER BY sim DESC, vec_id ASC LIMIT 10"
)
QUERY_FNS["s_topk_cosine"] = _s_topk_fn


# --- int8 quantization path ------------------------------------------------
_QUANT_DUCK = """
    quant AS (
      SELECT vec_id,
             round(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))), 9) AS scale,
             CASE WHEN round(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                                     x -> abs(x))), 9) = 0
                  THEN list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> CAST(0 AS TINYINT))
                  ELSE list_transform(CAST(embedding AS DOUBLE[]),
                         x -> CAST(least(127.0, greatest(-127.0,
                                round(x * 127.0 /
                                round(list_max(list_transform(
                                  CAST(embedding AS DOUBLE[]), y -> abs(y))), 9),
                                0))) AS TINYINT))
             END AS qemb
      FROM embeddings)"""


def _s_quantize_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding table — 4x
    smaller at rest and through every shuffle; quantization arithmetic is
    oracle-exact (double math, fixed rounding)."""
    from .operators.similarity import quantize_embeddings

    df = _table(spark, sf_dir, "embeddings")
    return quantize_embeddings(df)


ORACLES["s_quantize"] = f"WITH {_QUANT_DUCK} SELECT vec_id, scale, qemb FROM quant"
QUERY_FNS["s_quantize"] = _s_quantize_fn


def _s_topk_quant_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by cosine over the INT8-quantized corpus (query = vec 0's
    quantized row — scales cancel in cosine, so no dequantization
    anywhere).  Ranking differs from s_topk_cosine only by quantization
    error; the oracle is exact because DuckDB quantizes identically."""
    from .operators.similarity import cosine, quantize_embeddings

    df = _table(spark, sf_dir, "embeddings")
    quant = quantize_embeddings(df)
    q = quant.filter(F.col("vec_id") == 0).select(F.col("qemb").alias("qv"))
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    scored = quant.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(cosine(dbl(F.col("qemb")), dbl(F.col("qv"))), 6).alias("qsim"),
    )
    return scored.orderBy(F.col("qsim").desc(), F.col("vec_id").asc()).limit(10)


ORACLES["s_topk_quantized"] = f"""
    WITH {_QUANT_DUCK},
    q AS (SELECT qemb AS qv FROM quant WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(CAST(qemb AS DOUBLE[]), CAST(qv AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(qemb AS DOUBLE[]),
                                        CAST(qemb AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(qv AS DOUBLE[]),
                                        CAST(qv AS DOUBLE[])))), 6) AS qsim
    FROM quant, q ORDER BY qsim DESC NULLS LAST, vec_id ASC LIMIT 10"""
QUERY_FNS["s_topk_quantized"] = _s_topk_quant_fn


def _s_neardup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine, top-20 most-similar pairs.  (The synthetic
    embeddings have max pairwise cosine ~0.51, so a fixed near-dup threshold
    would verify only the empty set; top-k keeps the oracle check dense.
    The thresholded scale path is operators.similarity.near_dup_cosine,
    benched via the LSH queries.)"""
    from .operators.similarity import dot, norm

    # norms once per ROW, not per pair (O(n) instead of O(n^2) norm work);
    # the broadcast side reads the bare view, so only the streamed side
    # pays the round-robin Exchange
    a, b = (
        _table(spark, sf_dir, view).select(
            F.col("vec_id").alias(f"id_{s}"), F.col("embedding").alias(f"v{s}"),
            norm(F.col("embedding")).alias(f"n{s}"),
        )
        for view, s in (("embeddings_spread", "a"), ("embeddings", "b"))
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(20)
    )


ORACLES["s_near_dup_cosine"] = (
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND("
    " list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /"
    " (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *"
    "  sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS sim "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "ORDER BY sim DESC, id_a ASC, id_b ASC LIMIT 20"
)
QUERY_FNS["s_near_dup_cosine"] = _s_neardup_fn


def _s_cosine_clusters_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution composed over the EMBEDDING-cosine pair family
    (same resolve_clusters operator as d_lsh_clusters / d_simhash_clusters
    — connected components are pair-source-agnostic).  Completes the
    keep-one story for the third near-dup family: the top-20 most-similar
    pairs (deterministic tie-break) resolved to canonical groups."""
    from .operators.dedup import resolve_clusters

    pairs = _s_neardup_fn(spark, sf_dir).select("id_a", "id_b")
    return resolve_clusters(pairs)


ORACLES["s_cosine_clusters"] = f"""
    WITH RECURSIVE base AS (SELECT id_a, id_b FROM ({ORACLES["s_near_dup_cosine"]}) t),
    edges AS (SELECT id_a AS a, id_b AS b FROM base
              UNION SELECT id_b, id_a FROM base),
    walk AS (
        SELECT a AS id, a AS reach FROM edges
        UNION
        SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
    )
    SELECT id AS doc_id, MIN(reach) AS canonical_id FROM walk GROUP BY id"""
QUERY_FNS["s_cosine_clusters"] = _s_cosine_clusters_fn


# --- the BUCKETED operator itself (near_dup_cosine), oracle-verified -------
_RHP_ND_PLANES = 4   # 2^4 buckets over the 500-vec test corpus -> ~31/bucket
_RHP_ND_CAP = 16     # < avg bucket, so the salt guard is EXERCISED in the check
_RHP_ND_TAU = 0.35   # below the synthetic max pairwise cosine (~0.51): dense


def _s_rhp_near_dup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup operator (RHP-signature buckets + salted
    bucket cap) — unlike s_near_dup_cosine (the exact-pairwise baseline),
    this verifies the CAPPED bucketed path end-to-end: signature bits,
    per-bucket sizes, the ceil(n/cap) id-hash salt, and in-bucket cosines
    all have to agree with the DuckDB twin for the hash to match."""
    from .operators.similarity import near_dup_cosine

    df = _table(spark, sf_dir, "embeddings_spread")
    return near_dup_cosine(
        df, tau=_RHP_ND_TAU, n_planes=_RHP_ND_PLANES, max_bucket=_RHP_ND_CAP
    )


def _rhp_pair_ctes(
    tau: float, n_planes: int, cap: int, prefix: str = "rp"
) -> tuple[str, str]:
    """(CTE chain, pair-SELECT) for the capped RHP near-dup path —
    parameterized + name-prefixed so composites can embed it flat."""
    from .operators.similarity import deterministic_planes

    planes = deterministic_planes(64, n_planes)
    pl = ["[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes]
    sig_bits = " + ".join(
        f"CASE WHEN list_dot_product(e.ea, {pl[i]}) >= 0 THEN {2**i} ELSE 0 END"
        for i in range(n_planes)
    )
    salt_h = _H_DUCK.format(x="CAST(s.vec_id AS VARCHAR)")
    cos_p = (
        "ROUND(list_dot_product(a.ea, b.ea) /"
        " (sqrt(list_dot_product(a.ea, a.ea)) *"
        "  sqrt(list_dot_product(b.ea, b.ea))), 6)"
    )
    p = prefix
    ctes = f"""{p}e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
    {p}s AS (SELECT vec_id, ea, ({sig_bits}) AS sig FROM {p}e e),
    {p}gz AS (SELECT sig, COUNT(*) AS gn FROM {p}s GROUP BY sig),
    {p}s2 AS (SELECT s.vec_id, s.ea, s.sig,
                  CASE WHEN gz.gn > {cap}
                       THEN {salt_h} % CAST(ceil(gz.gn / {cap}.0) AS BIGINT)
                       ELSE 0 END AS salt
           FROM {p}s s JOIN {p}gz gz ON gz.sig = s.sig)"""
    sel = f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos_p} AS sim
    FROM {p}s2 a JOIN {p}s2 b ON a.sig = b.sig AND a.salt = b.salt
                       AND a.vec_id < b.vec_id
    WHERE {cos_p} >= {tau}"""
    return ctes, sel


def _s_rhp_near_dup_duck() -> str:
    ctes, sel = _rhp_pair_ctes(_RHP_ND_TAU, _RHP_ND_PLANES, _RHP_ND_CAP)
    return f"""
    WITH {ctes}
    {sel}"""


QUERY_FNS["s_rhp_near_dup"] = _s_rhp_near_dup_fn
ORACLES["s_rhp_near_dup"] = _s_rhp_near_dup_duck()


_CP_NEG_LO, _CP_NEG_HI, _CP_CELLS, _CP_CLUSTER_CAP = 0.1, 0.3, 8, 64


def _s_contrastive_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import contrastive_pairs

    df = _table(spark, sf_dir, "embeddings_spread")
    return contrastive_pairs(
        df,
        tau_pos=_RHP_ND_TAU,
        neg_lo=_CP_NEG_LO,
        neg_hi=_CP_NEG_HI,
        n_centroids=_CP_CELLS,
        max_cluster=_CP_CLUSTER_CAP,
        n_planes=_RHP_ND_PLANES,
        max_bucket=_RHP_ND_CAP,
    )


def _s_contrastive_duck() -> str:
    pos_ctes, pos_sel = _rhp_pair_ctes(_RHP_ND_TAU, _RHP_ND_PLANES, _RHP_ND_CAP)
    cos_ec = (
        "ROUND(list_dot_product(ea, ca) / (sqrt(list_dot_product(ea, ea))"
        " * sqrt(list_dot_product(ca, ca))), 6)"
    )
    cos_ab = (
        "ROUND(list_dot_product(a.ea, b.ea) /"
        " (sqrt(list_dot_product(a.ea, a.ea)) *"
        "  sqrt(list_dot_product(b.ea, b.ea))), 6)"
    )
    salt_h = _H_DUCK.format(x="CAST(s.vec_id AS VARCHAR)")
    cap = _CP_CLUSTER_CAP
    return f"""
    WITH {pos_ctes},
    ne AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
    ncent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ca
              FROM embeddings
              ORDER BY {_H_DUCK.format(x="CAST(vec_id AS VARCHAR)")}
              LIMIT {_CP_CELLS}),
    nd AS (SELECT e.vec_id, c.cid, {cos_ec} AS sim
           FROM ne e CROSS JOIN ncent c),
    nbest AS (SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid ASC) AS rk
                FROM nd) t WHERE rk = 1),
    ns AS (SELECT b.vec_id, b.cid, e.ea FROM nbest b
           JOIN ne e ON e.vec_id = b.vec_id),
    ngz AS (SELECT cid, COUNT(*) AS gn FROM ns GROUP BY cid),
    ns2 AS (SELECT s.vec_id, s.ea, s.cid,
                   CASE WHEN gz.gn > {cap}
                        THEN {salt_h} % CAST(ceil(gz.gn / {cap}.0) AS BIGINT)
                        ELSE 0 END AS salt
            FROM ns s JOIN ngz gz ON gz.cid = s.cid)
    SELECT id_a, id_b, sim, 1 AS label FROM ({pos_sel}) pos
    UNION ALL
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos_ab} AS sim, 0 AS label
    FROM ns2 a JOIN ns2 b ON a.cid = b.cid AND a.salt = b.salt
                         AND a.vec_id < b.vec_id
    WHERE {cos_ab} >= {_CP_NEG_LO} AND {cos_ab} < {_CP_NEG_HI}"""


# contrastive pair mining: near-dup positives + same-IVF-cell banded hard
# negatives, both sides inheriting their generators' skew guards.
QUERY_FNS["s_contrastive_pairs"] = _s_contrastive_fn
ORACLES["s_contrastive_pairs"] = _s_contrastive_duck()

# ===========================================================================
# M — multimodal plumbing (binary column feature extraction)
# ===========================================================================
_M1 = """SELECT doc_id, octet_length(text) AS n_bytes, md5(text) AS digest
       FROM documents"""
_M1_DUCK = """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
       FROM documents"""
# M: opaque-binary feature extraction (byte length + digest) — the native
# fast-path twin of the mapInPandas decode stub in operators/multimodal.py.
_sql("m_binary_features", _M1, _M1_DUCK)


def _m_media_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL multimodal Arrow stage (mapInPandas over a binary column,
    fake deterministic decode) vs an md5-arithmetic DuckDB twin — upgrades
    multimodal plumbing from pytest-only to driver-hash-verified.  Feature
    vector flattened to scalar columns (canonicalizer-safe)."""
    from .operators.multimodal import media_features

    docs = _table(spark, sf_dir, "documents_spread")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("blob"))
    feats = media_features(media, "doc_id", "blob", fake=True)
    return feats.select(
        "media_id", "n_bytes", "digest", "width", "height",
        *[F.round(F.col("feature")[i], 6).alias(f"f{i}") for i in range(8)],
    )


def _m_media_duck() -> str:
    byte = lambda i: f"CAST(concat('0x', substr(md5(text), {2 * i + 1}, 2)) AS INT)"  # noqa: E731
    fs = ", ".join(f"ROUND({byte(i)} / 255.0, 6) AS f{i}" for i in range(8))
    return f"""
    SELECT CAST(doc_id AS STRING) AS media_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           1 + {byte(0)} % 64 AS width,
           1 + {byte(1)} % 64 AS height,
           {fs}
    FROM documents"""


QUERY_FNS["m_media_features"] = _m_media_fn
ORACLES["m_media_features"] = _m_media_duck()


def _m_frames_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import frame_sample_plan

    docs = _table(spark, sf_dir, "documents")
    vids = docs.select("doc_id", (F.col("doc_id") % 300).cast("int").alias("n_frames"))
    return frame_sample_plan(vids, "doc_id", "n_frames", every_k=30)


_M_FRAMES_DUCK = """
    SELECT CAST(doc_id AS STRING) AS media_id,
           unnest(generate_series(0, greatest(CAST(doc_id % 300 AS INT) - 1, 0), 30)) AS frame_idx
    FROM documents"""

# video frame-sampling plan: 1->N metadata explode preceding per-frame decode
QUERY_FNS["m_frame_sample"] = _m_frames_fn
ORACLES["m_frame_sample"] = _M_FRAMES_DUCK

def _x8_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 conditional enrichment injection (post_ocr_validator.py:140-218)
    exercised through the REAL enrich_stage operator: deterministic primary/
    fallback person arrays are synthesized per doc_id, merged natively, and
    the scalar outcomes (counts, recomputed monto, warning, priority) are
    hash-compared against a pure-SQL twin of the merge semantics."""
    from .pipeline.schema import RAW_EXTRACTION_SCHEMA
    from .pipeline.stages import enrich_stage

    docs = _table(spark, sf_dir, "documents")
    i = F.col("doc_id")

    def persona(seq: int, monto_expr):
        return F.struct(
            F.lit(seq).cast("int").alias("secuencia"),
            F.lit("NOMBRE X").alias("nombre_completo"),
            F.lit("8-111-222").alias("numero_identificacion"),
            monto_expr.cast("string").alias("monto"),
            monto_expr.cast("double").alias("monto_numerico"),
            F.lit(0).cast("int").alias("start"),
            F.lit(10).cast("int").alias("end"),
        )

    ptype = RAW_EXTRACTION_SCHEMA["personas_primary"].dataType
    empty = F.array().cast(ptype)
    m1 = (i % 1000).cast("double") + F.lit(0.25)
    m2 = F.lit(60000.0)
    primary = (
        F.when(i % 3 == 0, empty)
        .when(i % 3 == 1, F.array(persona(1, m1)).cast(ptype))
        .otherwise(F.array(persona(1, m1), persona(2, m2)).cast(ptype))
    )
    fallback = F.when(i % 2 == 0, F.array(persona(1, F.lit(250.5))).cast(ptype)).otherwise(empty)
    raw = docs.select(
        F.concat(F.lit("doc://"), i.cast("string")).alias("url"),
        F.lit(1).cast("int").alias("seg_no"),
        F.lit("embargo").alias("doc_type"),
        F.lit("Embargos").alias("tramite"),
        F.lit("Civil").alias("departamento"),
        F.lit("t").alias("extracted_text"),
        F.lit(None).cast("string").alias("numero_oficio"),
        F.lit(None).cast("string").alias("fecha"),
        F.lit(None).cast("string").alias("autoridad"),
        F.lit(None).cast(RAW_EXTRACTION_SCHEMA["fields"].dataType).alias("fields"),
        primary.alias("personas_primary"),
        fallback.alias("personas_fallback"),
        F.lit("").alias("observaciones"),
        F.lit(None).cast("array<string>").alias("palabras_clave"),
        F.lit(0.0).alias("validation_score"),
        F.lit(False).alias("validation_passed"),
        (i % 4 < 2).alias("persons_expected"),
        F.lit("baja").alias("confianza"),
        (i % 5 == 0).alias("urgente"),
        F.lit(0).cast("int").alias("declared_count"),
        F.lit(True).alias("count_valid"),
        F.lit(None).cast("string").alias("error"),
    )
    out = enrich_stage(raw)
    return out.select(
        F.col("url"),
        F.col("n_personas"),
        F.round(F.col("monto_total"), 6).alias("monto_total"),
        F.col("enrichment_warning"),
        F.col("priority"),
        F.col("observaciones"),
    )


def _x8_duck() -> str:
    # scalar twin of the merge: counts/sums known by construction
    warn = (
        "concat(chr(10), 'ADVERTENCIA: Personas extraídas mediante fallback"
        " desde texto. Validar manualmente.')"
    )
    return f"""
    WITH base AS (
      SELECT concat('doc://', CAST(doc_id AS VARCHAR)) AS url,
             CASE WHEN doc_id % 3 = 0 THEN 0 WHEN doc_id % 3 = 1 THEN 1 ELSE 2 END AS primary_cnt,
             CASE WHEN doc_id % 3 = 0 THEN 0.0
                  WHEN doc_id % 3 = 1 THEN (doc_id % 1000) + 0.25
                  ELSE (doc_id % 1000) + 0.25 + 60000.0 END AS primary_monto,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS fallback_cnt,
             CASE WHEN doc_id % 2 = 0 THEN 250.5 ELSE 0.0 END AS fallback_monto,
             doc_id % 4 < 2 AS expected,
             doc_id % 5 = 0 AS urgente
      FROM documents),
    merged AS (
      SELECT url, urgente,
             (expected AND primary_cnt = 0 AND fallback_cnt > 0) AS inject,
             CASE WHEN (expected AND primary_cnt = 0 AND fallback_cnt > 0)
                  THEN fallback_cnt ELSE primary_cnt END AS n_personas,
             CASE WHEN (expected AND primary_cnt = 0 AND fallback_cnt > 0)
                  THEN fallback_monto ELSE primary_monto END AS monto
      FROM base)
    SELECT url, n_personas,
           ROUND(monto, 6) AS monto_total,
           inject AS enrichment_warning,
           CASE WHEN urgente OR monto > 50000.0 THEN 'High' ELSE 'Medium' END AS priority,
           CASE WHEN inject THEN {warn} ELSE '' END AS observaciones
    FROM merged"""


QUERY_FNS["x8_enrich_inject"] = _x8_fn
ORACLES["x8_enrich_inject"] = _x8_duck()


# ===========================================================================
# Rows-only queries (no SQL-expressible oracle; driver records row counts) —
# the full extraction pipeline and the scale-path (recall<1) variants.
# ===========================================================================
def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages shape with the deterministic pseudo-oficio header
    grafted on (same enrichment as __spark_entry__.entry), so the full
    extractor chain has real structure to find."""
    docs = _table(spark, sf_dir, "documents_spread")
    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(F.expr(_legal_text("doc_id")), F.lit(" "), F.col("text")).alias("text"),
        F.lit("es").alias("lang"),
    )


def _pipeline_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing registration: the array<struct> columns (fields,
    personas) and array<string> palabras_clave are projected through
    F.to_json — the driver's canonicalizer sorts pandas frames, and Python
    lists are unhashable there.  Internal consumers use extract_stage's
    full schema directly."""
    from .pipeline.stages import extract_stage

    ext = extract_stage(_docs_as_pages(spark, sf_dir))
    arrayish = {"fields", "personas", "palabras_clave"}
    return ext.select(
        *[
            F.to_json(F.col(c)).alias(f"{c}_json") if c in arrayish else F.col(c)
            for c in ext.columns
        ]
    )


QUERY_FNS["pipeline_extract"] = _pipeline_fn


def _pipeline_parity_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP-path hash parity: the REAL Arrow extraction pipeline
    (mapInPandas: segment -> classify -> regex banks -> normalize -> X8
    enrich) vs a pure-SQL twin.  Possible because the synthesized header is
    the only digit/keyword-bearing content (the word-salad body has neither
    — verified per SF), so every extracted value is a closed-form function
    of doc_id."""
    from .pipeline.stages import extract_stage

    ext = extract_stage(_docs_as_pages(spark, sf_dir))
    return ext.select(
        "url",
        "doc_type",
        "numero_oficio",
        "fecha",
        F.round("monto_total", 2).alias("monto_total"),
        "n_personas",
        "urgente",
        "priority",
        "confianza",
        "validation_passed",
    )


def _pipeline_parity_duck() -> str:
    lt = _legal_text("doc_id")
    month_no = _case_mod("doc_id", [f"{m + 1:02d}" for m in range(12)])
    # urgency/priority (C2/C3): tipo carries a high-priority keyword
    # (classifier.HIGH_PRIORITY_KEYWORDS, accent-free slugs); montos are
    # 1100..1900 so the amount branch never fires here.
    urgent = ("('secuestro_civil', 'embargo', 'aprehension', 'allanamiento',"
              " 'citacion', 'levantamiento')")
    return f"""
    WITH t AS (SELECT doc_id, {lt} AS lt FROM documents),
    c AS (SELECT doc_id, {_classify_case("lt")} AS doc_type FROM t)
    SELECT concat('doc://', CAST(t.doc_id AS STRING)) AS url,
           c.doc_type,
           concat('JE-', CAST(t.doc_id % 9000 + 100 AS STRING), '-2025') AS numero_oficio,
           concat('2025-', {month_no.replace("doc_id", "t.doc_id")}, '-', lpad(CAST(t.doc_id % 28 + 1 AS STRING), 2, '0')) AS fecha,
           CAST(1000 + (t.doc_id % 9 + 1) * 100 AS DOUBLE) AS monto_total,
           1 AS n_personas,
           c.doc_type IN {urgent} AS urgente,
           CASE WHEN c.doc_type IN {urgent} THEN 'High' ELSE 'Medium' END AS priority,
           'alta' AS confianza,
           true AS validation_passed
    FROM t JOIN c ON t.doc_id = c.doc_id"""


QUERY_FNS["pipeline_fields_parity"] = _pipeline_parity_fn
ORACLES["pipeline_fields_parity"] = _pipeline_parity_duck()


def _pipeline_cedulas_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All cedula occurrences through the REAL pipeline's fields_long
    (multi-valued X1 bank with spans) vs regexp_extract_all in SQL."""
    from .pipeline.stages import extract_stage, fields_long

    long = fields_long(extract_stage(_docs_as_pages(spark, sf_dir)))
    return long.filter(F.col("field") == "cedula").select("url", "value")


def _pipeline_cedulas_duck() -> str:
    lt = _legal_text("doc_id")
    return f"""
    WITH t AS (SELECT doc_id, concat({lt}, ' ', text) AS ft FROM documents)
    SELECT concat('doc://', CAST(doc_id AS STRING)) AS url,
           unnest(regexp_extract_all(ft, '\\b\\d{{1,2}}-\\d{{1,4}}-\\d{{1,4}}\\b')) AS value
    FROM t"""


QUERY_FNS["pipeline_cedulas"] = _pipeline_cedulas_fn
ORACLES["pipeline_cedulas"] = _pipeline_cedulas_duck()


def _pipeline_text_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE north_rule invariant, driver-hash-verified: byte-identical
    extracted text per url through the REAL pipeline (boilerplate/segment
    path included) vs the closed-form input expression."""
    from .pipeline.stages import extract_stage

    ext = extract_stage(_docs_as_pages(spark, sf_dir))
    return ext.select("url", "extracted_text")


def _pipeline_text_duck() -> str:
    lt = _legal_text("doc_id")
    return (
        f"SELECT concat('doc://', CAST(doc_id AS STRING)) AS url,"
        f" concat({lt}, ' ', text) AS extracted_text FROM documents"
    )


QUERY_FNS["pipeline_text_parity"] = _pipeline_text_fn
ORACLES["pipeline_text_parity"] = _pipeline_text_duck()


def _pipeline_entities_parity_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRM person sink (K8: v2 name split + safe_string + money clamp)
    through the REAL pipeline, spans excluded (offsets have no SQL twin)."""
    from .pipeline.crm import case_entities_projection
    from .pipeline.stages import extract_stage

    e = case_entities_projection(extract_stage(_docs_as_pages(spark, sf_dir)))
    return e.drop("span_start", "span_end")


def _pipeline_entities_parity_duck() -> str:
    nombre = _case_mod("doc_id", _NOMBRES)
    return f"""
    WITH p AS (SELECT doc_id, {nombre} AS nm FROM documents),
    t AS (SELECT doc_id, nm, string_split(nm, ' ') AS t FROM p)
    SELECT concat('doc://', CAST(doc_id AS STRING), '#1') AS case_id,
           1 AS secuencia,
           nm AS nombre_completo,
           t[1] AS nombre,
           CASE WHEN len(t) > 3 THEN array_to_string(t[2:len(t) - 2], ' ') ELSE '' END AS nombre_segundo,
           CASE WHEN len(t) >= 2 THEN t[len(t) - 1] ELSE '' END AS apellido_paterno,
           CASE WHEN len(t) >= 3 THEN t[len(t)] ELSE '' END AS apellido_materno,
           concat(CAST(doc_id % 9 + 1 AS STRING), '-', CAST(doc_id % 90 + 10 AS STRING),
                  '-', CAST(doc_id % 900 + 100 AS STRING)) AS identificacion,
           CAST(1000 + (doc_id % 9 + 1) * 100 AS DOUBLE) AS monto
    FROM t"""


QUERY_FNS["pipeline_entities_parity"] = _pipeline_entities_parity_fn
ORACLES["pipeline_entities_parity"] = _pipeline_entities_parity_duck()


def _pipeline_fields_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.stages import extract_stage, fields_long

    return fields_long(extract_stage(_docs_as_pages(spark, sf_dir)))


QUERY_FNS["pipeline_fields_long"] = _pipeline_fields_fn


def _pipeline_entities_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.stages import entities_long, extract_stage

    return entities_long(extract_stage(_docs_as_pages(spark, sf_dir)))


QUERY_FNS["pipeline_entities_long"] = _pipeline_entities_fn


def _pipeline_cases_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # palabras_clave (array<string>) -> JSON string: canonicalizer-safe.
    from .pipeline.crm import cases_projection
    from .pipeline.stages import extract_stage

    cases = cases_projection(extract_stage(_docs_as_pages(spark, sf_dir)))
    return cases.withColumn(
        "palabras_clave", F.to_json(F.col("palabras_clave"))
    ).withColumnRenamed("palabras_clave", "palabras_clave_json")


QUERY_FNS["pipeline_cases"] = _pipeline_cases_fn


def _pipeline_case_entities_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.crm import case_entities_projection
    from .pipeline.stages import extract_stage

    return case_entities_projection(extract_stage(_docs_as_pages(spark, sf_dir)))


QUERY_FNS["pipeline_case_entities"] = _pipeline_case_entities_fn


def _d_lsh_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash LSH near-dup pairs (xxhash64 signatures) — rows-only
    BY DESIGN: a different hash family yields slightly different candidate
    recall (e.g. 24 vs the portable twin's 25 pairs at sf0.01), so there is
    no exact SQL twin; d_minhash_lsh_portable carries the per-step oracle."""
    from .operators.dedup import minhash_near_dups

    df = _table(spark, sf_dir, "documents_spread")
    return minhash_near_dups(df, threshold=0.5)


QUERY_FNS["d_minhash_lsh_near_dups"] = _d_lsh_fn


def _d_lsh_portable_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME banded-LSH + Jaccard-verify pipeline as
    d_minhash_lsh_near_dups, with md5-portable signatures (k=8, 4 bands of
    r=2) so every step — signatures, banding, bucket cap, candidate pairs,
    set-Jaccard verification — has an exact DuckDB twin.  Upgrades the
    flagship dedup scale path from rows-only to hash-verified."""
    from .operators.dedup import minhash_near_dups

    df = _table(spark, sf_dir, "documents_spread")
    return minhash_near_dups(df, threshold=0.5, k=8, bands=4, fast=False)


def _d_lsh_portable_duck(k: int = 8, bands: int = 4, max_bucket: int = 64) -> str:
    r = k // bands
    h = lambda i: _H_DUCK.format(x=f"concat('{i}|', s)")  # noqa: E731
    sig_cols = ", ".join(
        f"list_min(list_transform(shl, s -> {h(i)})) AS h{i}" for i in range(k)
    )
    banded_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, md5(concat_ws(',', {parts})) AS bucket FROM sig".format(
            b=b,
            parts=", ".join(f"CAST(h{b * r + j} AS VARCHAR)" for j in range(r)),
        )
        for b in range(bands)
    )
    return f"""
    WITH sh AS (SELECT doc_id AS id, {_shingles_duck()} AS shl FROM documents),
    sig AS (SELECT id, shl, {sig_cols} FROM sh),
    banded AS ({banded_selects}),
    ok AS (SELECT band, bucket FROM banded GROUP BY band, bucket
           HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_bucket}),
    pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
              JOIN ok o ON o.band = a.band AND o.bucket = a.bucket
              WHERE a.id < b.id)
    SELECT p.id_a, p.id_b,
           ROUND(CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(sa.shl, sb.shl))) AS DOUBLE), 6) AS jaccard
    FROM pairs p
    JOIN sh sa ON sa.id = p.id_a
    JOIN sh sb ON sb.id = p.id_b
    WHERE CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(sa.shl, sb.shl))) AS DOUBLE) >= 0.5"""


QUERY_FNS["d_minhash_lsh_portable"] = _d_lsh_portable_fn
ORACLES["d_minhash_lsh_portable"] = _d_lsh_portable_duck()


def _d_lsh_clusters_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> groups -> keep-id: the portable LSH near-dup pairs resolved
    to connected components with one canonical id (smallest) per cluster —
    what a corpus dedup actually consumes.  Oracle: DuckDB recursive CTE
    computing the transitive closure over the SAME pair set."""
    from .operators.dedup import minhash_near_dups, resolve_clusters

    df = _table(spark, sf_dir, "documents_spread")
    pairs = minhash_near_dups(df, threshold=0.5, k=8, bands=4, fast=False)
    return resolve_clusters(pairs)


def _d_lsh_clusters_duck() -> str:
    return f"""
    WITH RECURSIVE base AS (SELECT id_a, id_b FROM ({_d_lsh_portable_duck()}) t),
    edges AS (SELECT id_a AS a, id_b AS b FROM base
              UNION SELECT id_b, id_a FROM base),
    walk AS (
        SELECT a AS id, a AS reach FROM edges
        UNION
        SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
    )
    SELECT id AS doc_id, MIN(reach) AS canonical_id FROM walk GROUP BY id"""


QUERY_FNS["d_lsh_clusters"] = _d_lsh_clusters_fn
ORACLES["d_lsh_clusters"] = _d_lsh_clusters_duck()


def _d_lsh_clusters_fast_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of d_lsh_clusters (xxhash64 signatures, k=16):
    rows-only by design — a different hash family gives slightly different
    candidate recall, so there is no exact SQL twin; the portable variant
    above carries the oracle.  This is the variant bench.py times."""
    from .operators.dedup import minhash_near_dups, resolve_clusters

    df = _table(spark, sf_dir, "documents_spread")
    return resolve_clusters(minhash_near_dups(df, threshold=0.5, fast=True))


QUERY_FNS["d_lsh_clusters_fast"] = _d_lsh_clusters_fast_fn


def _d_simhash_nd_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_near_dups

    df = _table(spark, sf_dir, "documents_spread")
    out = simhash_near_dups(df, bits=16, max_hamming=2)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


def _d_simhash_nd_duck(bits: int = 16, max_hamming: int = 2, max_bucket: int = 512) -> str:
    """Exact twin of dedup.simhash_near_dups: same pigeonhole band layout
    (simhash_bands), same per-bucket cap, same hamming verify."""
    from .operators.dedup import simhash_bands

    band_rows = " UNION ALL ".join(
        f"SELECT id, sh, {i} AS band, (sh >> {shift}) & {(1 << width) - 1} AS val FROM s"
        for i, (shift, width) in enumerate(simhash_bands(bits, max_hamming))
    )
    return f"""
    WITH s AS (SELECT doc_id AS id, sh FROM ({_d_simhash_duck(bits)}) t),
    banded AS ({band_rows}),
    ok AS (SELECT band, val FROM banded GROUP BY band, val
           HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_bucket})
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.val = b.val AND a.id < b.id
    JOIN ok ON ok.band = a.band AND ok.val = a.val
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}"""


# simhash near-dup pairs: pigeonhole banding (exact recall at hamming<=2),
# per-bucket cap — the simhash scale path, oracle-verified end to end.
QUERY_FNS["d_simhash_near_dups"] = _d_simhash_nd_fn
ORACLES["d_simhash_near_dups"] = _d_simhash_nd_duck()


def _d_simhash_clusters_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution composed over the SIMHASH pair family (same
    resolve_clusters operator as d_lsh_clusters — connected components are
    pair-source-agnostic)."""
    from .operators.dedup import resolve_clusters, simhash_near_dups

    df = _table(spark, sf_dir, "documents_spread")
    return resolve_clusters(simhash_near_dups(df, bits=16, max_hamming=2))


def _d_simhash_clusters_duck() -> str:
    return f"""
    WITH RECURSIVE base AS (SELECT id_a, id_b FROM ({_d_simhash_nd_duck()}) t),
    edges AS (SELECT id_a AS a, id_b AS b FROM base
              UNION SELECT id_b, id_a FROM base),
    walk AS (
        SELECT a AS id, a AS reach FROM edges
        UNION
        SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
    )
    SELECT id AS doc_id, MIN(reach) AS canonical_id FROM walk GROUP BY id"""


QUERY_FNS["d_simhash_clusters"] = _d_simhash_clusters_fn
ORACLES["d_simhash_clusters"] = _d_simhash_clusters_duck()


def _s_lsh_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import topk_cosine_lsh

    # the driver probe reads the bare view: over the spread frame, first()
    # would run the whole round-robin shuffle to fetch one row
    probe = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    qv = probe.select("embedding").first().embedding
    df = _table(spark, sf_dir, "embeddings_spread")
    return topk_cosine_lsh(df, [float(x) for x in qv], k=10)


def _s_lsh_duck(dim: int = 64, n_planes: int = 6, multiprobe: int = 1, k: int = 10) -> str:
    """Exact DuckDB twin of topk_cosine_lsh: the RHP planes are
    deterministic md5 literals (similarity.deterministic_planes), so the
    oracle embeds them as DOUBLE[] array literals, computes each row's sign
    bits via list_dot_product, and mirrors the probe set — {qsig} plus all
    single-bit flips — as hamming(sig, qsig) <= multiprobe.  Exact cosine
    top-k inside the probed slice with the standard 6-dp/id tie-break.
    (Sign-bit arithmetic: NumPy matmul on the Spark side vs sequential sums
    here — a plane dot would have to land exactly on the float rounding
    boundary of 0 to flip; never observed at bench scale.)"""
    from .operators.similarity import deterministic_planes

    planes = deterministic_planes(dim, n_planes)
    lit = lambda p: "[" + ", ".join(repr(float(x)) for x in p) + "]"  # noqa: E731
    bit_terms = " + ".join(
        f"(CASE WHEN list_dot_product(ea, {lit(p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    cos = (
        "ROUND(list_dot_product(ea, qa) / (sqrt(list_dot_product(ea, ea))"
        " * sqrt(list_dot_product(qa, qa))), 6)"
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
    s AS (SELECT vec_id, ea, {bit_terms} AS sig FROM e),
    q AS (SELECT ea AS qa, sig AS qsig FROM s WHERE vec_id = 0)
    SELECT s.vec_id, {cos} AS sim
    FROM s, q
    WHERE bit_count(xor(s.sig, q.qsig)) <= {multiprobe}
    ORDER BY sim DESC, s.vec_id ASC LIMIT {k}"""


QUERY_FNS["s_topk_cosine_lsh"] = _s_lsh_fn
ORACLES["s_topk_cosine_lsh"] = _s_lsh_duck()


def _s_ivf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ivf_assign, ivf_centroids

    # centroid sample from the bare view (see _s_lsh_fn)
    cents = ivf_centroids(_table(spark, sf_dir, "embeddings"), 8)
    df = _table(spark, sf_dir, "embeddings_spread")
    return (
        ivf_assign(df, n_centroids=8, centroids=cents)
        .groupBy("centroid_id").count().withColumnRenamed("count", "n")
    )


def _s_ivf_duck(n_centroids: int = 8) -> str:
    cos = (
        "ROUND(list_dot_product(ea, ca) / (sqrt(list_dot_product(ea, ea))"
        " * sqrt(list_dot_product(ca, ca))), 6)"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings
                  ORDER BY {_H_DUCK.format(x="CAST(vec_id AS VARCHAR)")} LIMIT {n_centroids}),
    d AS (SELECT e.vec_id, c.cid, {cos} AS sim
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings) e
          CROSS JOIN cent c),
    best AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
               FROM d) t WHERE rk = 1)
    SELECT cid AS centroid_id, COUNT(*) AS n FROM best GROUP BY cid"""


# IVF coarse assignment: deterministic md5-sampled centroids, broadcast
# argmax-cosine assignment — exact DuckDB twin (rounded sim + cid tie-break).
QUERY_FNS["s_ivf_assign"] = _s_ivf_fn
ORACLES["s_ivf_assign"] = _s_ivf_duck()


def _s_ivf_search_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF QUERY half: probe the nprobe=2 centroids nearest the query (the
    vec_id=0 embedding), exact cosine top-k inside their posting lists only.
    Deterministic end to end (md5-sampled centroids, 6-dp rounding, id
    tie-breaks) -> exact DuckDB twin."""
    from .operators.similarity import ivf_centroids, ivf_search

    # query vector and centroid sample from the bare view (see _s_lsh_fn)
    bare = _table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in bare.filter(F.col("vec_id") == 0).first().embedding]
    df = _table(spark, sf_dir, "embeddings_spread")
    return ivf_search(
        df, qv, k=10, nprobe=2, n_centroids=8, centroids=ivf_centroids(bare, 8)
    )


def _s_ivf_search_duck(n_centroids: int = 8, nprobe: int = 2, k: int = 10) -> str:
    cos = lambda a, b: (  # noqa: E731
        f"ROUND(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings
                  ORDER BY {_H_DUCK.format(x="CAST(vec_id AS VARCHAR)")} LIMIT {n_centroids}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qa FROM embeddings WHERE vec_id = 0),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
    d AS (SELECT e.vec_id, c.cid, {cos("ea", "ca")} AS sim FROM e CROSS JOIN cent c),
    best AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
               FROM d) t WHERE rk = 1),
    crank AS (SELECT cid FROM (
               SELECT c.cid,
                      ROW_NUMBER() OVER (ORDER BY {cos("qa", "ca")} DESC, c.cid ASC) AS rk
               FROM cent c CROSS JOIN q) t WHERE rk <= {nprobe})
    SELECT e.vec_id, {cos("ea", "qa")} AS sim
    FROM e JOIN best b ON b.vec_id = e.vec_id
           JOIN crank p ON p.cid = b.cid
           CROSS JOIN q
    ORDER BY sim DESC, e.vec_id ASC LIMIT {k}"""


QUERY_FNS["s_ivf_search"] = _s_ivf_search_fn
ORACLES["s_ivf_search"] = _s_ivf_search_duck()


def _s_topk_batch_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: exact top-5 for every 100th vector as a query set, ONE
    corpus scan amortized over the whole batch (broadcast queries -> narrow
    score -> one query_id-shuffle window top-k)."""
    from .operators.similarity import topk_cosine_batch

    # the broadcast query set reads the bare view: spreading it would add a
    # second round-robin Exchange for 1% of the rows
    qs = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = _table(spark, sf_dir, "embeddings_spread")
    return topk_cosine_batch(df, qs, k=5)


def _s_topk_batch_duck(k: int = 5) -> str:
    cos = (
        "ROUND(list_dot_product(ea, qa) / (sqrt(list_dot_product(ea, ea))"
        " * sqrt(list_dot_product(qa, qa))), 6)"
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
    q AS (SELECT vec_id AS query_id, ea AS qa FROM e WHERE vec_id % 100 = 0),
    s AS (SELECT q.query_id, e.vec_id, {cos} AS sim FROM e CROSS JOIN q),
    r AS (SELECT query_id, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id ASC) AS rank
          FROM s)
    SELECT query_id, vec_id, sim, rank FROM r WHERE rank <= {k}"""


QUERY_FNS["s_topk_batch"] = _s_topk_batch_fn
ORACLES["s_topk_batch"] = _s_topk_batch_duck()


def _d_store_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup: prior crawl = docs with doc_id%3==0
    (fingerprints persisted); new crawl = the remaining docs PLUS re-crawled
    copies (same text, shifted id) of every prior doc with doc_id%9==0.
    Survivors must exclude every re-crawl and any new doc whose text already
    exists in the store, keeping min-id within the new batch."""
    from .operators.dedup import corpus_fingerprints, dedup_against_store

    docs = _table(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    store = corpus_fingerprints(prior, id_col="doc_id").select("fp")
    recrawl = prior.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    new_batch = docs.filter(F.col("doc_id") % 3 != 0).unionByName(recrawl)
    return dedup_against_store(new_batch, store, id_col="doc_id").select("doc_id")


def _d_store_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH fps AS (SELECT doc_id, text, md5({norm}) AS raw_fp FROM documents),
    prior AS (SELECT raw_fp AS fp FROM fps WHERE doc_id % 3 = 0),
    newb AS (
        SELECT doc_id, text, raw_fp FROM fps WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT doc_id + 1000000, text, raw_fp FROM fps
        WHERE doc_id % 3 = 0 AND doc_id % 9 = 0
    ),
    keyed AS (SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0
                          THEN 'empty:' || CAST(doc_id AS VARCHAR)
                          ELSE raw_fp END AS fp
              FROM newb),
    kept AS (SELECT doc_id, fp FROM (
               SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS k
               FROM keyed) t WHERE doc_id = k)
    SELECT doc_id FROM kept WHERE fp NOT IN (SELECT fp FROM prior)"""


QUERY_FNS["d_dedup_against_store"] = _d_store_fn
ORACLES["d_dedup_against_store"] = _d_store_duck()


# --- Bloom admission tier over the same store scenario ---------------------
# d_bloom_hits runs an UNDERSIZED filter (m=1024 over ~190 stored fps) so
# false positives deterministically occur and are oracle-checked; the
# dedup query runs a production-sized filter.  Bloom membership is exactly
# SQL-expressible: bit set <=> some store fp hashes to that position.
_BLOOM_M_SMALL, _BLOOM_M, _BLOOM_K = 1024, 65536, 4


def _bloom_scenario(spark: SparkSession, sf_dir: str):
    from .operators.dedup import corpus_fingerprints

    docs = _table(spark, sf_dir, "documents")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    store = corpus_fingerprints(prior, id_col="doc_id").select("fp")
    recrawl = prior.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    new_batch = docs.filter(F.col("doc_id") % 3 != 0).unionByName(recrawl)
    return new_batch, store


def _d_bloom_hits_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per new-batch doc: did the broadcast Bloom bitset admit it, and is
    it truly in the store — false positives visible, false negatives
    provably absent (the oracle computes both from the same hash math)."""
    from .operators.dedup import bloom_build, bloom_probe_table

    new_batch, store = _bloom_scenario(spark, sf_dir)
    words = bloom_build(store, m_bits=_BLOOM_M_SMALL, k=_BLOOM_K)
    return bloom_probe_table(
        new_batch, words, store, _BLOOM_M_SMALL, _BLOOM_K, id_col="doc_id"
    )


def _d_bloom_hits_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    h = _H_DUCK.format(x="fp || ':' || CAST(j AS VARCHAR)")
    return f"""
    WITH fps AS (SELECT doc_id, md5({norm}) AS fp FROM documents),
    prior AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 0),
    newb AS (
        SELECT doc_id, fp FROM fps WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT doc_id + 1000000, fp FROM fps
        WHERE doc_id % 3 = 0 AND doc_id % 9 = 0
    ),
    js AS (SELECT unnest(range(0, {_BLOOM_K})) AS j),
    spos AS (SELECT DISTINCT {h} % {_BLOOM_M_SMALL} AS p
             FROM prior CROSS JOIN js),
    npos AS (SELECT doc_id, {h} % {_BLOOM_M_SMALL} AS p
             FROM newb CROSS JOIN js),
    hit AS (SELECT n.doc_id, COUNT(s.p) = {_BLOOM_K} AS bloom_hit
            FROM npos n LEFT JOIN spos s ON s.p = n.p GROUP BY n.doc_id)
    SELECT h.doc_id, h.bloom_hit,
           (n.fp IN (SELECT fp FROM prior)) AS is_dup
    FROM hit h JOIN newb n ON n.doc_id = h.doc_id"""


QUERY_FNS["d_bloom_hits"] = _d_bloom_hits_fn
ORACLES["d_bloom_hits"] = _d_bloom_hits_duck()


def _d_bloom_store_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run dedup through the Bloom admission tier: identical result
    to d_dedup_against_store (verify anti-join removes false positives,
    false negatives impossible) with only the bloom-hit slice joining the
    store — the oracle IS the exact path's SQL."""
    from .operators.dedup import dedup_against_store_bloom

    new_batch, store = _bloom_scenario(spark, sf_dir)
    return dedup_against_store_bloom(
        new_batch, store, m_bits=_BLOOM_M, k=_BLOOM_K, id_col="doc_id"
    ).select("doc_id")


QUERY_FNS["d_bloom_store_dedup"] = _d_bloom_store_dedup_fn
ORACLES["d_bloom_store_dedup"] = _d_store_duck()


# ===========================================================================
# Corpus curation beyond whole-doc dedup: line dedup / decontamination /
# domain caps (operators/curation.py)
# ===========================================================================
_CHUNK = 12  # tokens per derived line (the synthetic docs are single-line)


def _t_line_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-doc line dedup.  The synthetic documents are one
    physical line each, so both engines first re-chunk the canonical tokens
    into 12-token lines — then every repeated chunk survives only at its
    first (doc_id, pos) occurrence corpus-wide."""
    from .operators.curation import line_dedup

    docs = _table(spark, sf_dir, "documents_spread")
    tk = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    n_lines = F.ceil(F.size(tk) / F.lit(_CHUNK)).cast("int")
    chunked = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(tk, i * _CHUNK + 1, _CHUNK), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return line_dedup(chunked)


def _t_line_dedup_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    c = _CHUNK
    return f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array({norm}, ' ') AS tk
               FROM documents),
    l AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(tk) / {c}.0) AS INT))) AS pos, tk
          FROM t),
    lines AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                     array_to_string(tk[(pos * {c} + 1):(pos * {c} + {c})], ' ') AS line
              FROM l),
    marked AS (
        SELECT doc_id, pos, line,
               length(trim(line)) > 0 AS part,
               MIN(CASE WHEN length(trim(line)) > 0
                        THEN {{'doc_id': doc_id, 'pos': pos}} END)
                 OVER (PARTITION BY md5({_NORM_DUCK.format(x='line')})) AS w
        FROM lines),
    flagged AS (SELECT doc_id, pos, line,
                       (NOT part) OR (w.doc_id = doc_id AND w.pos = pos) AS keep
                FROM marked),
    rebuilt AS (SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       COUNT(*) AS n_kept
                FROM flagged WHERE keep GROUP BY doc_id),
    dropped AS (SELECT doc_id, COUNT(*) AS n_dropped
                FROM flagged WHERE NOT keep GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.text, '') AS text,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(x.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM documents d
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    LEFT JOIN dropped x ON x.doc_id = d.doc_id"""


QUERY_FNS["t_line_dedup"] = _t_line_dedup_fn
ORACLES["t_line_dedup"] = _t_line_dedup_duck()


_SPAN_N = 12


def _t_span_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (Lee et al. 2022 ExactSubstr): every
    12-token window seen earlier anywhere in the corpus is removed at its
    later positions; docs rebuilt from surviving canonical tokens."""
    from .operators.curation import span_dedup

    docs = _table(spark, sf_dir, "documents_spread")
    return span_dedup(docs, n=_SPAN_N)


def _t_span_dedup_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    n = _SPAN_N
    return f"""
    WITH t AS (SELECT doc_id, {norm} AS nt FROM documents),
    tk AS (SELECT doc_id, nt, string_split(nt, ' ') AS tk,
                  CASE WHEN nt = '' THEN 0 ELSE len(string_split(nt, ' ')) END
                    AS n_tok
           FROM t),
    grams AS (SELECT doc_id,
                     CAST(unnest(range(1, n_tok - {n} + 2)) AS BIGINT) AS pos,
                     tk
              FROM tk WHERE n_tok >= {n}),
    g AS (SELECT doc_id, pos,
                 md5(array_to_string(tk[pos:pos + {n} - 1], ' ')) AS gfp
          FROM grams),
    win AS (SELECT doc_id, pos,
                   MIN({{'doc_id': doc_id, 'pos': pos}})
                     OVER (PARTITION BY gfp) AS w
            FROM g),
    dups AS (SELECT doc_id, pos FROM win
             WHERE NOT (w.doc_id = doc_id AND w.pos = pos)),
    toki AS (SELECT doc_id, CAST(unnest(range(1, n_tok + 1)) AS BIGINT) AS idx,
                    tk
             FROM tk WHERE n_tok > 0),
    tok AS (SELECT doc_id, idx, tk[idx] AS t FROM toki),
    removed AS (SELECT DISTINCT k.doc_id, k.idx
                FROM tok k JOIN dups d
                  ON d.doc_id = k.doc_id
                 AND k.idx BETWEEN d.pos AND d.pos + {n} - 1),
    kept AS (SELECT k.doc_id, k.idx, k.t
             FROM tok k LEFT JOIN removed r
               ON r.doc_id = k.doc_id AND r.idx = k.idx
             WHERE r.doc_id IS NULL),
    rebuilt AS (SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS text,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY doc_id)
    SELECT k.doc_id,
           COALESCE(r.text, '') AS text,
           CAST(k.n_tok AS BIGINT) AS n_tokens,
           CAST(k.n_tok - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM tk k LEFT JOIN rebuilt r ON r.doc_id = k.doc_id"""


QUERY_FNS["t_span_dedup"] = _t_span_dedup_fn
ORACLES["t_span_dedup"] = _t_span_dedup_duck()


def _t_decontaminate_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the 'benchmark' is every doc with
    doc_id%97==0; any other doc sharing a word 5-gram with one of them is
    dropped.  Returns the surviving corpus ids."""
    from .operators.curation import decontaminate

    # the 1/97 probe set reads the bare view (see _s_topk_batch_fn)
    probe = _table(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    docs = _table(spark, sf_dir, "documents_spread")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, probe, n=5).select("doc_id")


def _t_decontaminate_duck(n: int = 5) -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array({norm}, ' ') AS tk
               FROM documents),
    g AS (SELECT doc_id, array_to_string(tk[i:i + {n - 1}], ' ') AS gram
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - {n - 2})) AS i
                FROM t WHERE len(tk) >= {n})),
    probe AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    hit AS (SELECT DISTINCT g.doc_id FROM g
            WHERE g.doc_id % 97 <> 0 AND g.gram IN (SELECT gram FROM probe))
    SELECT doc_id FROM t
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hit)"""


QUERY_FNS["t_decontaminate"] = _t_decontaminate_fn
ORACLES["t_decontaminate"] = _t_decontaminate_duck()


def _t_domain_cap_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: at most 20 docs per source, frozen md5(doc_id)
    sample; under-cap domains bypass the window sort entirely."""
    from .operators.curation import domain_cap

    # bare view (r6 A/B): the per-row work is trivial (an md5 only on the
    # over-cap slice), so spreading measured 2x SLOWER than the single-task
    # scan at sf0.1 (0.43s -> 0.88s)
    docs = _table(spark, sf_dir, "documents")
    return domain_cap(docs, cap=20).select("doc_id", "source")


def _t_domain_cap_duck(cap: int = 20) -> str:
    return f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents) t
    WHERE rn <= {cap}"""


QUERY_FNS["t_domain_cap"] = _t_domain_cap_fn
ORACLES["t_domain_cap"] = _t_domain_cap_duck()


def _t_pii_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: the synthetic docs carry no contact strings, so both
    engines graft a deterministic email + phone + cedula suffix per doc_id,
    then redact and count."""
    from .operators.curation import pii_scrub

    docs = _table(spark, sf_dir, "documents_spread")
    d = F.col("doc_id")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contacto: user"), d.cast("string"),
            F.lit("@mail.example.com tel +507 "),
            F.lpad(((d * 37) % 900 + 100).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((d * 91) % 10000).cast("string"), 4, "0"),
            F.lit(" id 8-"),
            F.lpad(((d * 53) % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((d * 29) % 1000).cast("string"), 3, "0"),
        ).alias("text"),
    )
    return pii_scrub(with_pii)


def _t_pii_duck() -> str:
    from .operators.curation import PII_CEDULA_RE, PII_EMAIL_RE, PII_PHONE_RE

    return f"""
    WITH p AS (SELECT doc_id,
        text || ' contacto: user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com tel +507 '
             || lpad(CAST((doc_id * 37) % 900 + 100 AS VARCHAR), 3, '0') || '-'
             || lpad(CAST((doc_id * 91) % 10000 AS VARCHAR), 4, '0')
             || ' id 8-' || lpad(CAST((doc_id * 53) % 1000 AS VARCHAR), 3, '0')
             || '-' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0') AS text
        FROM documents),
    s1 AS (SELECT doc_id,
              CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
              regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                             '{PII_PHONE_RE}', '<PHONE>', 'g') AS t2
           FROM p)
    SELECT doc_id,
           regexp_replace(t2, '{PII_CEDULA_RE}', '<ID>', 'g') AS text,
           n_emails, n_phones,
           CAST(len(regexp_extract_all(t2, '{PII_CEDULA_RE}')) AS BIGINT) AS n_ids
    FROM s1"""


QUERY_FNS["t_pii_scrub"] = _t_pii_fn
ORACLES["t_pii_scrub"] = _t_pii_duck()


def _d_url_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: both engines synthesize three crawl variants of
    each logical page (uppercased scheme+host / utm-tracking params /
    fragment) that must collapse to ONE canonical url with keep-min-id."""
    from .operators.curation import url_dedup

    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    g = F.floor(d / 3).cast("bigint")
    host = F.concat(F.lit("example"), (g % 20).cast("string"), F.lit(".com"))
    base = F.concat(F.lit("/Articles/"), g.cast("string"))
    url = (
        F.when(d % 3 == 0, F.concat(F.lit("HTTPS://WWW."), F.upper(host), base))
        .when(
            d % 3 == 1,
            F.concat(
                F.lit("https://www."), host, base,
                F.lit("?utm_source=feed&utm_campaign=x&fbclid=abc"),
            ),
        )
        .otherwise(F.concat(F.lit("https://www."), host, base, F.lit("#section-2")))
    )
    pages = docs.select("doc_id", url.alias("url"))
    return url_dedup(pages)


def _d_url_dedup_duck() -> str:
    return r"""
    WITH p AS (
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 0 THEN 'HTTPS://WWW.' || upper(host) || base
                 WHEN 1 THEN 'https://www.' || host || base
                          || '?utm_source=feed&utm_campaign=x&fbclid=abc'
                 ELSE 'https://www.' || host || base || '#section-2'
               END AS url
        FROM (SELECT doc_id,
                     'example' || CAST(CAST(floor(doc_id / 3.0) AS BIGINT) % 20 AS VARCHAR)
                               || '.com' AS host,
                     '/Articles/' || CAST(CAST(floor(doc_id / 3.0) AS BIGINT) AS VARCHAR) AS base
              FROM documents)),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0))
                             || substr(url, length(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) + 1),
                           '#.*$', '', 'g'),
                         '([?&])(utm_[a-zA-Z]+|fbclid)=[^&]*', '\1', 'g'),
                       '\?&+', '?', 'g'),
                     '&{2,}', '&', 'g'),
                   '[?&]+$', '', 'g'),
                 '([^/])/$', '\1', 'g') AS canonical_url
        FROM p)
    SELECT canonical_url, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_variants
    FROM canon GROUP BY canonical_url"""


QUERY_FNS["d_url_dedup"] = _d_url_dedup_fn
ORACLES["d_url_dedup"] = _d_url_dedup_duck()


def _t_tfidf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import tfidf_topk

    docs = _table(spark, sf_dir, "documents_spread")
    # corpus size from the parquet FOOTER (metadata read, not a scan) — the
    # bench/driver analog of "ingest already knows n"; the operator then
    # scans the corpus exactly once (plan-tested)
    import pyarrow.parquet as pq

    n_docs = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    return tfidf_topk(docs, k=3, n_docs=n_docs)


def _t_tfidf_duck(k: int = 3) -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH toks AS (SELECT doc_id AS id,
                         unnest(regexp_split_to_array({norm}, ' ')) AS term
                  FROM documents),
    t2 AS (SELECT id, term FROM toks WHERE term <> ''),
    tf AS (SELECT id, term, COUNT(*) AS tf FROM t2 GROUP BY id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (SELECT tf.id, tf.term,
                      ROUND(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS score
               FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    r AS (SELECT id, term, score,
                 ROW_NUMBER() OVER (PARTITION BY id
                                    ORDER BY score DESC, term ASC) AS rank
          FROM scored)
    SELECT id AS doc_id, term, score, rank FROM r WHERE rank <= {k}"""


QUERY_FNS["t_tfidf_topk"] = _t_tfidf_fn
ORACLES["t_tfidf_topk"] = _t_tfidf_duck()


def _t_mixture_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling: source srcN keeps docs with
    probability (N % 5) * 0.25 — exercising drop-all, fractional, and
    keep-all weights — via the frozen md5-threshold coin."""
    from .operators.curation import mixture_sample

    docs = _table(spark, sf_dir, "documents")
    weights = {f"src{i}": (i % 5) * 0.25 for i in range(20)}
    return mixture_sample(docs, weights).select("doc_id", "source")


def _t_mixture_duck() -> str:
    return """
    WITH w AS (SELECT doc_id, source,
                      (CAST(regexp_extract(source, '[0-9]+') AS INT) % 5) * 0.25 AS wt
               FROM documents)
    SELECT doc_id, source FROM w
    WHERE wt >= 1.0
       OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
          < lpad(lower(hex(CAST(floor(wt * 4294967296) AS BIGINT))), 8, '0')"""


QUERY_FNS["t_mixture_sample"] = _t_mixture_fn
ORACLES["t_mixture_sample"] = _t_mixture_duck()


def _t_pack_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import pack_sequences

    docs = _table(spark, sf_dir, "documents_spread")
    return pack_sequences(docs, seq_len=512, num_parts=8)


def _t_pack_duck(seq_len: int = 512, num_parts: int = 8) -> str:
    ntok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len({_TOKS_DUCK.format(x='text')}) END AS BIGINT)"
    )
    return f"""
    WITH t AS (SELECT doc_id AS id, CAST(doc_id % {num_parts} AS INT) AS part_id,
                      {ntok} AS n_toks
               FROM documents),
    c AS (SELECT id, part_id, n_toks,
                 SUM(n_toks) OVER (PARTITION BY part_id
                                   ORDER BY md5(CAST(id AS VARCHAR)), id
                                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT part_id,
           CAST(floor((cum - n_toks) / {seq_len}.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM c GROUP BY part_id, bin_id"""


QUERY_FNS["t_pack_sequences"] = _t_pack_fn
ORACLES["t_pack_sequences"] = _t_pack_duck()


def _t_pack_assign_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import pack_assignments

    docs = _table(spark, sf_dir, "documents_spread")
    return pack_assignments(docs, seq_len=512, num_parts=8)


def _t_pack_assign_duck(seq_len: int = 512, num_parts: int = 8) -> str:
    ntok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len({_TOKS_DUCK.format(x='text')}) END AS BIGINT)"
    )
    return f"""
    WITH t AS (SELECT doc_id AS id, CAST(doc_id % {num_parts} AS INT) AS part_id,
                      {ntok} AS n_toks
               FROM documents),
    c AS (SELECT id, part_id, n_toks,
                 SUM(n_toks) OVER (PARTITION BY part_id
                                   ORDER BY md5(CAST(id AS VARCHAR)), id
                                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT id AS doc_id, part_id,
           CAST(floor((cum - n_toks) / {seq_len}.0) AS BIGINT) AS bin_id,
           CAST((cum - n_toks) % {seq_len} AS BIGINT) AS offset,
           n_toks
    FROM c"""


# per-doc packing assignment (doc -> part, bin, in-bin offset): the shard-
# writer half of t_pack_sequences, same frozen order/cumsum, exact oracle.
QUERY_FNS["t_pack_assignments"] = _t_pack_assign_fn
ORACLES["t_pack_assignments"] = _t_pack_assign_duck()


_BP_MIN_DOCS = 3  # within-domain distinct-doc threshold for template lines


def _t_boilerplate_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain boilerplate strip: both engines re-chunk the canonical
    tokens into 12-token lines (the synthetic docs are one physical line)
    and graft one deterministic per-domain banner line on top — the site
    template every real crawl has — then strip every line fingerprint
    seen in >= 3 distinct docs of the SAME domain (banner: all 25; the
    organic 2-doc chunk repeats stay, proving the threshold bites)."""
    from .operators.curation import boilerplate_strip

    docs = _table(spark, sf_dir, "documents_spread")
    tk = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    n_lines = F.ceil(F.size(tk) / F.lit(_CHUNK)).cast("int")
    chunked = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("source"),
            F.lit(" portal — términos y cookies\n"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), n_lines - 1),
                    lambda i: F.array_join(F.slice(tk, i * _CHUNK + 1, _CHUNK), " "),
                ),
                "\n",
            ),
        ).alias("text"),
    )
    return boilerplate_strip(chunked, min_docs=_BP_MIN_DOCS)


def _t_boilerplate_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    c = _CHUNK
    return f"""
    WITH t AS (SELECT doc_id, source, regexp_split_to_array({norm}, ' ') AS tk
               FROM documents),
    l AS (SELECT doc_id, source, unnest(range(0, CAST(ceil(len(tk) / {c}.0) AS INT) + 1)) AS pos, tk
          FROM t),
    lines AS (SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
                     CASE WHEN pos = 0
                          THEN source || ' portal — términos y cookies'
                          ELSE array_to_string(tk[((pos - 1) * {c} + 1):((pos - 1) * {c} + {c})], ' ')
                     END AS line
              FROM l),
    bp AS (SELECT source, md5({_NORM_DUCK.format(x='line')}) AS lfp
           FROM lines WHERE length(trim(line)) > 0
           GROUP BY source, md5({_NORM_DUCK.format(x='line')})
           HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}),
    flagged AS (SELECT doc_id, source, pos, line,
                       (length(trim(line)) = 0)
                       OR md5({_NORM_DUCK.format(x='line')}) NOT IN
                          (SELECT lfp FROM bp b WHERE b.source = lines.source) AS keep
                FROM lines),
    rebuilt AS (SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       COUNT(*) AS n_kept
                FROM flagged WHERE keep GROUP BY doc_id),
    dropped AS (SELECT doc_id, COUNT(*) AS n_dropped
                FROM flagged WHERE NOT keep GROUP BY doc_id)
    SELECT d.doc_id, d.source,
           COALESCE(r.text, '') AS text,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(x.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM documents d
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    LEFT JOIN dropped x ON x.doc_id = d.doc_id"""


# per-domain template-line strip (CCNet/RefinedWeb rule): banner grafted in
# both engines; organic 2-doc repeats stay below the min_docs=3 threshold.
QUERY_FNS["t_boilerplate_strip"] = _t_boilerplate_fn
ORACLES["t_boilerplate_strip"] = _t_boilerplate_duck()


def _t_unigram_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import unigram_logprob

    # bare view (r6 A/B): the token explode is cheap, and spreading measured
    # a slight net loss (medians 4.4s vs 3.7s under load; 1.58s vs 1.18s in
    # the clean full-bench window)
    docs = _table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


def _t_unigram_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH toks AS (SELECT doc_id AS id,
                         unnest(regexp_split_to_array({norm}, ' ')) AS term
                  FROM documents),
    t2 AS (SELECT id, term FROM toks WHERE term <> ''),
    tf AS (SELECT id, term, COUNT(*) AS tf FROM t2 GROUP BY id, term),
    vocab AS (SELECT term, SUM(tf) AS c FROM tf GROUP BY term),
    tot AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM vocab),
    logp AS (SELECT term,
                    CAST(ROUND(ln((c + 1.0) / (tot.total + tot.v)), 6)
                         AS DECIMAL(18,6)) AS lp
             FROM vocab CROSS JOIN tot),
    scored AS (SELECT tf.id,
                      CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                      SUM(tf.tf * logp.lp) AS sum_lp
               FROM tf JOIN logp USING (term) GROUP BY tf.id)
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CASE WHEN s.n_tokens > 0
                THEN -CAST((2 * CAST(s.sum_lp * -1000000 AS BIGINT) + s.n_tokens)
                           // (2 * s.n_tokens) AS DOUBLE) / 1000000 + 0.0
           END AS avg_logprob
    FROM documents d LEFT JOIN scored s ON s.id = d.doc_id"""


# corpus-self-trained unigram-LM doc score (CCNet perplexity-gate proxy);
# per-term logp rounded+DECIMAL before the sum so both engines accumulate
# exactly (float sums are not associative across partition orders).
QUERY_FNS["t_unigram_logprob"] = _t_unigram_fn
ORACLES["t_unigram_logprob"] = _t_unigram_duck()


_TOKEN_BUDGET = 1300  # splits sf0.01's 20 domains ~6 under / ~14 over, so the
                      # window-bypass fast path AND the cumsum path both run


def _t_token_budget_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import token_budget_select

    docs = _table(spark, sf_dir, "documents_spread")
    return token_budget_select(docs, budget=_TOKEN_BUDGET)


def _t_token_budget_duck() -> str:
    quality = _t_quality_duck().split("SELECT doc_id, ")[1].split(" AS quality FROM")[0]
    ntok = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len({_TOKS_DUCK.format(x='text')}) END"
    )
    return f"""
    WITH q AS (SELECT doc_id, source, {ntok} AS n_tokens, {quality} AS quality
               FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source
                                     ORDER BY quality DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM q)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM c WHERE cum <= {_TOKEN_BUDGET}"""


# greedy per-domain token-budget selection (data-mixing recipe primitive):
# rank by (quality DESC, id), keep while the running token total fits.
QUERY_FNS["t_token_budget"] = _t_token_budget_fn
ORACLES["t_token_budget"] = _t_token_budget_duck()


def _t_intra_doc_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal: both engines re-chunk the
    canonical tokens into 12-token lines and graft the FIRST chunk again
    at the end of every document (the "repeated intro/footer inside one
    page" shape), so the rule provably bites in every row; organic
    within-doc chunk repeats dedup too."""
    from .operators.curation import intra_doc_dedup

    docs = _table(spark, sf_dir, "documents_spread")
    tk = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    n_lines = F.ceil(F.size(tk) / F.lit(_CHUNK)).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(tk, i * _CHUNK + 1, _CHUNK), " "),
    )
    chunked = docs.select(
        "doc_id",
        F.array_join(
            F.concat(lines_arr, F.slice(lines_arr, 1, 1)), "\n"
        ).alias("text"),
    )
    return intra_doc_dedup(chunked)


def _t_intra_doc_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    c = _CHUNK
    return f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array({norm}, ' ') AS tk
               FROM documents),
    n AS (SELECT doc_id, tk, CAST(ceil(len(tk) / {c}.0) AS INT) AS nl FROM t),
    l AS (SELECT doc_id, unnest(range(0, nl + 1)) AS pos, tk, nl FROM n),
    lines AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                     array_to_string(
                         tk[((pos % nl) * {c} + 1):((pos % nl) * {c} + {c})], ' '
                     ) AS line
              FROM l),
    marked AS (SELECT doc_id, pos, line,
                      length(trim(line)) = 0 AS blank,
                      MIN(CASE WHEN length(trim(line)) > 0 THEN pos END)
                        OVER (PARTITION BY doc_id,
                                           md5({_NORM_DUCK.format(x='line')})
                             ) AS fpos
               FROM lines),
    flagged AS (SELECT doc_id, pos, line, blank OR pos = fpos AS keep
                FROM marked),
    rebuilt AS (SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       COUNT(*) AS n_kept
                FROM flagged WHERE keep GROUP BY doc_id),
    dropped AS (SELECT doc_id, COUNT(*) AS n_dropped
                FROM flagged WHERE NOT keep GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.text, '') AS text,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(x.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM documents d
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    LEFT JOIN dropped x ON x.doc_id = d.doc_id"""


# within-document repeated-line removal (RefinedWeb/MassiveText rule):
# zero-shuffle narrow fold; grafted end-repeat guarantees the rule fires.
QUERY_FNS["t_intra_doc_dedup"] = _t_intra_doc_fn
ORACLES["t_intra_doc_dedup"] = _t_intra_doc_duck()


_DSIR_TARGET_LANG = "es"  # minority slice (73/500 docs at sf0.01) as target


def _t_dsir_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import dsir_weights

    docs = _table(spark, sf_dir, "documents_spread")
    return dsir_weights(docs, docs.filter(F.col("lang") == _DSIR_TARGET_LANG))


def _t_dsir_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH toks AS (SELECT doc_id AS id, lang,
                         unnest(regexp_split_to_array({norm}, ' ')) AS term
                  FROM documents),
    t2 AS (SELECT id, lang, term FROM toks WHERE term <> ''),
    tf AS (SELECT id, term, COUNT(*) AS tf FROM t2 GROUP BY id, term),
    vr AS (SELECT term, SUM(tf) AS c_r FROM tf GROUP BY term),
    vt AS (SELECT term, COUNT(*) AS c_t FROM t2
           WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY term),
    vocab AS (SELECT COALESCE(vr.term, vt.term) AS term,
                     COALESCE(c_r, 0) AS c_r, COALESCE(c_t, 0) AS c_t
              FROM vr FULL OUTER JOIN vt ON vr.term = vt.term),
    tot AS (SELECT SUM(c_r) AS tr, SUM(c_t) AS tt, COUNT(*) AS v FROM vocab),
    delta AS (SELECT term,
                     CAST(ROUND(ln((c_t + 1.0) / (tot.tt + tot.v))
                                - ln((c_r + 1.0) / (tot.tr + tot.v)), 6)
                          AS DECIMAL(18,6)) AS d
              FROM vocab CROSS JOIN tot),
    scored AS (SELECT tf.id,
                      CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                      SUM(tf.tf * delta.d) AS sum_d
               FROM tf JOIN delta USING (term) GROUP BY tf.id)
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CASE WHEN s.n_tokens > 0
                THEN CAST((CASE WHEN s.sum_d < 0 THEN -1 ELSE 1 END)
                          * ((2 * ABS(CAST(s.sum_d * 1000000 AS BIGINT))
                              + s.n_tokens)
                             // (2 * s.n_tokens)) AS DOUBLE) / 1000000 + 0.0
           END AS avg_logratio
    FROM documents d LEFT JOIN scored s ON s.id = d.doc_id"""


# DSIR importance weights (target-vs-corpus unigram log ratio per doc);
# per-term delta rounded+DECIMAL before the sum for exact accumulation.
QUERY_FNS["t_dsir_weights"] = _t_dsir_fn
ORACLES["t_dsir_weights"] = _t_dsir_duck()


def _d_quality_canon_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical election over the SAME portable LSH pair
    set d_lsh_clusters resolves: per duplicate cluster keep the
    max-quality member (id tiebreak) instead of the smallest id."""
    from .operators.dedup import minhash_near_dups, quality_canonical

    df = _table(spark, sf_dir, "documents_spread")
    pairs = minhash_near_dups(df, threshold=0.5, k=8, bands=4, fast=False)
    return quality_canonical(df, pairs)


def _d_quality_canon_duck() -> str:
    quality = _t_quality_duck().split("SELECT doc_id, ")[1].split(" AS quality FROM")[0]
    return f"""
    WITH RECURSIVE base AS (SELECT id_a, id_b FROM ({_d_lsh_portable_duck()}) t),
    edges AS (SELECT id_a AS a, id_b AS b FROM base
              UNION SELECT id_b, id_a FROM base),
    walk AS (
        SELECT a AS id, a AS reach FROM edges
        UNION
        SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
    ),
    clusters AS (SELECT id AS doc_id, MIN(reach) AS cluster_id
                 FROM walk GROUP BY id),
    q AS (SELECT doc_id, {quality} AS quality FROM documents)
    SELECT c.cluster_id,
           (array_agg(c.doc_id ORDER BY q.quality DESC, c.doc_id))[1] AS keep_id,
           ROUND(MAX(q.quality), 6) AS keep_quality,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM clusters c JOIN q ON q.doc_id = c.doc_id
    GROUP BY c.cluster_id"""


# per-cluster best-quality canonical (FineWeb keep-the-best convention);
# argmax encoded as MIN(struct(-q, id)) so both engines elect identically.
QUERY_FNS["d_quality_canonical"] = _d_quality_canon_fn
ORACLES["d_quality_canonical"] = _d_quality_canon_duck()


def _t_gopher_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule bank: docs with doc_id % 3 == 0 get a bullet intro line
    and a trailing ellipsis line grafted in BOTH engines so the line-level
    rules provably fire; the rest run on raw text."""
    from .operators.textstats import gopher_rules

    docs = _table(spark, sf_dir, "documents")
    decorated = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("- intro item\n"), F.col("text"), F.lit("\nto be continued...")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_rules(decorated)


def _t_gopher_duck() -> str:
    text = (
        "CASE WHEN doc_id % 3 = 0 THEN '- intro item' || chr(10) || text"
        " || chr(10) || 'to be continued...' ELSE text END"
    )
    from .operators.textstats import GOPHER_STOPWORDS

    w = "regexp_split_to_array(trim(t.x), '\\s+')"
    wl = f"list_transform({w}, s -> lower(s))"
    lines = "string_split(t.x, chr(10))"
    nw = f"CASE WHEN length(trim(t.x)) = 0 THEN 0 ELSE len({w}) END"
    chars = "length(regexp_replace(trim(t.x), '\\s+', '', 'g'))"
    alpha = f"len(list_filter({w}, s -> regexp_matches(s, '[A-Za-z]')))"
    symbols = (
        "(length(t.x) - length(replace(t.x, '#', '')))"
        " + len(regexp_extract_all(t.x, '(\\.\\.\\.|…)'))"
    )
    bullets = f"len(list_filter({lines}, l -> regexp_matches(trim(l), '^[-*•]')))"
    ellipsis = f"len(list_filter({lines}, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))"
    stops = (
        f"len(list_filter({list(GOPHER_STOPWORDS)}, s -> list_contains({wl}, s)))"
    )
    return f"""
    WITH t AS (SELECT doc_id, {text} AS x FROM documents),
    s AS (SELECT doc_id,
                 CAST({nw} AS BIGINT) AS n_words,
                 CASE WHEN {nw} > 0
                      THEN ROUND(CAST({chars} AS DOUBLE) / ({nw}), 6) END AS mean_word_len,
                 CASE WHEN {nw} > 0
                      THEN ROUND(CAST({symbols} AS DOUBLE) / ({nw}), 6) END AS symbol_word_ratio,
                 CASE WHEN {nw} > 0
                      THEN ROUND(CAST({alpha} AS DOUBLE) / ({nw}), 6) END AS alpha_word_frac,
                 ROUND(CAST({bullets} AS DOUBLE) / len({lines}), 6) AS bullet_line_frac,
                 ROUND(CAST({ellipsis} AS DOUBLE) / len({lines}), 6) AS ellipsis_line_frac,
                 CAST({stops} AS BIGINT) AS stopword_hits
          FROM t)
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, alpha_word_frac,
           bullet_line_frac, ellipsis_line_frac, stopword_hits,
           COALESCE(n_words BETWEEN 50 AND 100000
                    AND mean_word_len BETWEEN 3.0 AND 10.0
                    AND symbol_word_ratio < 0.1
                    AND alpha_word_frac > 0.8
                    AND bullet_line_frac < 0.9
                    AND ellipsis_line_frac < 0.3
                    AND stopword_hits >= 2, FALSE) AS passes_gopher
    FROM s"""


# Gopher rule-bank filter (Rae et al. table A1) — every stat + the
# composite verdict; fully narrow native codegen, no shuffle.
QUERY_FNS["t_gopher_rules"] = _t_gopher_fn
ORACLES["t_gopher_rules"] = _t_gopher_duck()


_DUP_NGRAM_N = 5


def _t_dup_ngram_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import dup_ngram_frac

    docs = _table(spark, sf_dir, "documents_spread")
    return dup_ngram_frac(docs, n=_DUP_NGRAM_N)


def _t_dup_ngram_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    n = _DUP_NGRAM_N
    return f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array({norm}, ' ') AS tk
               FROM documents),
    gi AS (SELECT doc_id, tk,
                  unnest(range(0, CASE WHEN len(tk) >= {n}
                                       THEN len(tk) - {n - 1} ELSE 0 END)) AS i
           FROM t),
    g AS (SELECT doc_id,
                 md5(array_to_string(tk[(i + 1):(i + {n})], ' ')) AS gfp
          FROM gi),
    shared AS (SELECT gfp
               FROM (SELECT DISTINCT doc_id, gfp FROM g)
               GROUP BY gfp HAVING COUNT(*) >= 2),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
    dup AS (SELECT doc_id, COUNT(*) AS dup_grams FROM g
            WHERE gfp IN (SELECT gfp FROM shared) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(t2.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(u.dup_grams, 0) AS BIGINT) AS dup_grams,
           CASE WHEN COALESCE(t2.n_grams, 0) > 0
                THEN ROUND(CAST(COALESCE(u.dup_grams, 0) AS DOUBLE) / t2.n_grams, 6)
           END AS dup_frac
    FROM documents d
    LEFT JOIN tot t2 ON t2.doc_id = d.doc_id
    LEFT JOIN dup u ON u.doc_id = d.doc_id"""


# FineWeb duplicated-n-gram fraction (positions whose gram occurs in >=2
# distinct docs); gram stream localCheckpointed once, shared set NOT
# broadcast (corpus-sized at web scale).
QUERY_FNS["t_dup_ngram_frac"] = _t_dup_ngram_fn
ORACLES["t_dup_ngram_frac"] = _t_dup_ngram_duck()


_SEMDEDUP_CAP = 64  # max_cluster for the oracle-pinned query (guard EXERCISED
                    # at sf0.01's ~62-row average clusters, and load-bearing at
                    # the sf0.1 bench where the skewed k=8 blocks hit ~250 rows)
_SEMDEDUP_SUB_PLANES = 2


def _s_semantic_dedup_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: IVF-cluster embeddings, in-cluster cos>=0.9 pair graph,
    connected components, keep min-id per component; returns survivors.
    The cluster-size guard is ON (max_cluster) so the driver hash-verifies
    the guarded production path, not just the unguarded one."""
    from .operators.similarity import ivf_centroids, semantic_dedup

    df = _table(spark, sf_dir, "embeddings_spread")
    # tau pinned BELOW the synthetic corpus's max pairwise cosine (~0.51)
    # so the driver hash actually rides on the pair graph + guard keys +
    # component resolution (at tau=0.9 nothing qualifies and the check
    # degenerates to an identity scan); production tau stays caller-chosen.
    # The centroid sample reads the bare view (see _s_lsh_fn).
    return semantic_dedup(
        df, tau=0.35, n_centroids=8,
        centroids=ivf_centroids(_table(spark, sf_dir, "embeddings"), 8),
        max_cluster=_SEMDEDUP_CAP, sub_planes=_SEMDEDUP_SUB_PLANES,
    ).select("vec_id")


def _s_semantic_dedup_duck(tau: float = 0.9, n_centroids: int = 8) -> str:
    cos_c = (
        "ROUND(list_dot_product(ea, ca) / (sqrt(list_dot_product(ea, ea))"
        " * sqrt(list_dot_product(ca, ca))), 6)"
    )
    cos_p = (
        "ROUND(list_dot_product(a.ea, b.ea) / (sqrt(list_dot_product(a.ea, a.ea))"
        " * sqrt(list_dot_product(b.ea, b.ea))), 6)"
    )
    # the guard's secondary hyperplanes as literal DOUBLE[] arrays — same
    # deterministic_planes(dim=64) values the Spark side folds sequentially
    # (rhp_subsig_seq), so the sign bits agree bit-for-bit with DuckDB's
    # sequential list_dot_product
    from .operators.similarity import deterministic_planes

    cap = _SEMDEDUP_CAP
    planes = deterministic_planes(64, _SEMDEDUP_SUB_PLANES)
    pl = ["[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes]
    sub_bits = " + ".join(
        f"CASE WHEN list_dot_product(s.ea, {pl[i]}) >= 0 THEN {2**i} ELSE 0 END"
        for i in range(_SEMDEDUP_SUB_PLANES)
    )
    salt_h = _H_DUCK.format(x="CAST(s2.vec_id AS VARCHAR)")
    return f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
    cent AS (SELECT vec_id AS cid, ea AS ca FROM e
             ORDER BY {_H_DUCK.format(x="CAST(vec_id AS VARCHAR)")} LIMIT {n_centroids}),
    d AS (SELECT e.vec_id, c.cid, {cos_c} AS sim FROM e CROSS JOIN cent c),
    best AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rk
               FROM d) t WHERE rk = 1),
    s AS (SELECT b.cid, e.vec_id, e.ea FROM e JOIN best b ON b.vec_id = e.vec_id),
    csize AS (SELECT cid, COUNT(*) AS cn FROM s GROUP BY cid),
    s2 AS (SELECT s.cid, s.vec_id, s.ea,
                  CASE WHEN cz.cn > {cap} THEN ({sub_bits}) ELSE 0 END AS sub
           FROM s JOIN csize cz ON cz.cid = s.cid),
    ssize AS (SELECT cid, sub, COUNT(*) AS sn FROM s2 GROUP BY cid, sub),
    s3 AS (SELECT s2.cid, s2.vec_id, s2.ea, s2.sub,
                  CASE WHEN sz.sn > {cap}
                       THEN {salt_h} % CAST(ceil(sz.sn / {cap}.0) AS BIGINT)
                       ELSE 0 END AS salt
           FROM s2 JOIN ssize sz ON sz.cid = s2.cid AND sz.sub = s2.sub),
    pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM s3 a JOIN s3 b ON a.cid = b.cid AND a.sub = b.sub
                                 AND a.salt = b.salt AND a.vec_id < b.vec_id
              WHERE {cos_p} >= {tau}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk AS (
        SELECT a AS id, a AS reach FROM edges
        UNION
        SELECT w.id, e2.b FROM walk w JOIN edges e2 ON e2.a = w.reach
    ),
    comp AS (SELECT id, MIN(reach) AS canon FROM walk GROUP BY id),
    losers AS (SELECT id FROM comp WHERE id <> canon)
    SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT id FROM losers)"""


QUERY_FNS["s_semantic_dedup"] = _s_semantic_dedup_fn
ORACLES["s_semantic_dedup"] = _s_semantic_dedup_duck(tau=0.35)


def _t_bigram_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import bigram_logprob

    docs = _table(spark, sf_dir, "documents_spread")
    return bigram_logprob(docs)


def _t_bigram_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array({norm}, ' ') AS tk
               FROM documents),
    gi AS (SELECT doc_id, tk,
                  unnest(range(0, CASE WHEN len(tk) >= 2
                                       THEN len(tk) - 1 ELSE 0 END)) AS i
           FROM t),
    bg AS (SELECT doc_id, tk[i + 1] AS v, tk[i + 2] AS w FROM gi),
    tf AS (SELECT doc_id, v, w, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
    model AS (SELECT v, w, CAST(SUM(tf) AS BIGINT) AS cvw FROM tf GROUP BY 1, 2),
    ctx AS (SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv FROM model GROUP BY 1),
    vt AS (SELECT COUNT(*) AS vv FROM
             (SELECT v AS t FROM model UNION SELECT w FROM model)),
    lp AS (SELECT m.v, m.w,
                  CAST(ROUND(ln((m.cvw + 1.0) / (c.cv + vt.vv)), 6)
                       AS DECIMAL(18,6)) AS logp
           FROM model m JOIN ctx c ON c.v = m.v CROSS JOIN vt),
    sc AS (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
                  SUM(tf.tf * lp.logp) AS slp
           FROM tf JOIN lp ON lp.v = tf.v AND lp.w = tf.w GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(sc.n_bigrams, 0) AS n_bigrams,
           CASE WHEN sc.n_bigrams > 0
                THEN -CAST((2 * CAST(sc.slp * -1000000 AS BIGINT) + sc.n_bigrams)
                           // (2 * sc.n_bigrams) AS DOUBLE) / 1000000 + 0.0
           END AS avg_logprob
    FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id"""


# bigram LM score: word-order-sensitive perplexity proxy (unigram's blind
# spot); model joined by (v,w) hash — NOT broadcast (bigram vocab is
# 10^9-rows at web scale).
QUERY_FNS["t_bigram_logprob"] = _t_bigram_fn
ORACLES["t_bigram_logprob"] = _t_bigram_duck()


def _t_stratified_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified sampling: bucket docs by the frozen quality score
    (lo/mid/hi), then keep each bucket at its own rate via the frozen
    md5-coin — mixture_sample composed over a COMPUTED stratum column (the
    FineWeb-style quality-balanced downsample)."""
    from .operators.curation import mixture_sample
    from .operators.textstats import quality_score

    docs = _table(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    bucketed = docs.withColumn(
        "stratum",
        F.when(q < 0.4, "lo").when(q < 0.7, "mid").otherwise("hi"),
    )
    out = mixture_sample(
        bucketed, {"lo": 0.25, "mid": 0.5, "hi": 1.0}, domain_col="stratum"
    )
    return out.select("doc_id", "stratum")


def _t_stratified_duck() -> str:
    # quality_score twin (textstats): reuse the registered t_quality oracle
    # expression by inlining its score column
    thr = lambda w: format(int(w * (1 << 32)), "08x")  # noqa: E731
    return f"""
    WITH q AS ({ORACLES["t_quality"]}),
    b AS (SELECT doc_id,
                 CASE WHEN quality < 0.4 THEN 'lo'
                      WHEN quality < 0.7 THEN 'mid'
                      ELSE 'hi' END AS stratum
          FROM q)
    SELECT doc_id, stratum FROM b
    WHERE (stratum = 'hi')
       OR (stratum = 'lo' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{thr(0.25)}')
       OR (stratum = 'mid' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{thr(0.5)}')"""


QUERY_FNS["t_stratified_sample"] = _t_stratified_fn
ORACLES["t_stratified_sample"] = _t_stratified_duck()


# ===========================================================================
# Spherical k-means (Lloyd, fixed iterations) — the corpus-clustering
# primitive under SemDeDup / cluster-balanced sampling, fully deterministic
# (frozen md5-sample init, 6-dp rounded cosine + cid tie-break, decimal-
# exact per-dim means), so even the ITERATIVE algorithm has an exact SQL
# twin: the oracle unrolls assign->update per iteration as chained CTEs.
# ===========================================================================
_KM_K, _KM_ITERS, _KM_DIM = 4, 2, 64


def _s_kmeans_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import kmeans_fit

    df = _table(spark, sf_dir, "embeddings_spread")
    assigned, _cent = kmeans_fit(df, k=_KM_K, iters=_KM_ITERS)
    return assigned


def _s_kmeans_duck(k: int = _KM_K, iters: int = _KM_ITERS, dim: int = _KM_DIM) -> str:
    cos = (
        "ROUND(list_dot_product(e.ea, c.ca) / (sqrt(list_dot_product(e.ea, e.ea))"
        " * sqrt(list_dot_product(c.ca, c.ca))), 6)"
    )

    def assign(t: int, name: str) -> str:
        return f"""
    {name} AS (SELECT vec_id, cid, sim FROM (
        SELECT vec_id, cid, sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cid ASC) AS rk
        FROM (SELECT e.vec_id, c.cid, {cos} AS sim
              FROM e CROSS JOIN cent{t} c) s) t WHERE rk = 1)"""

    def update(t: int) -> str:
        return f"""
    u{t} AS (SELECT cid, i,
                    CAST(SUM(CAST(ROUND(ea[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*) AS m
             FROM (SELECT a.cid, e.ea, unnest(range(1, {dim + 1})) AS i
                   FROM a{t} a JOIN e ON e.vec_id = a.vec_id)
             GROUP BY cid, i),
    cent{t + 1} AS (SELECT c.cid, COALESCE(m.ca, c.ca) AS ca
                    FROM cent{t} c
                    LEFT JOIN (SELECT cid, list(m ORDER BY i) AS ca
                               FROM u{t} GROUP BY cid) m ON m.cid = c.cid)"""

    steps = "".join(f"{assign(t, f'a{t}')},{update(t)}," for t in range(iters))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
    cent0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings
              ORDER BY {_H_DUCK.format(x="CAST(vec_id AS VARCHAR)")} LIMIT {k}),
    {steps}
    {assign(iters, "afinal").lstrip()}
    SELECT vec_id, cid AS cluster_id, sim FROM afinal"""


QUERY_FNS["s_kmeans"] = _s_kmeans_fn
ORACLES["s_kmeans"] = _s_kmeans_duck()


# ===========================================================================
# Cross-run NEAR-dup dedup against a persisted MinHash signature store —
# the near-dup analog of d_dedup_against_store's exact tier: re-crawled
# pages whose text DRIFTED (and so beat the exact-fp anti-join) are caught
# by LSH band buckets + the signature-agreement Jaccard estimator.  Store =
# docs with doc_id % 3 == 0 (the simulated prior crawl), probe = the rest;
# portable md5 hash path so every step has an exact DuckDB twin.
# ===========================================================================
_NS_K, _NS_BANDS, _NS_TH = 8, 4, 0.5


def _near_store_parts(spark: SparkSession, sf_dir: str):
    from .operators.dedup import minhash_signatures

    docs = _table(spark, sf_dir, "documents_spread")
    store_docs = docs.filter(F.col("doc_id") % 3 == 0)
    new_docs = docs.filter(F.col("doc_id") % 3 != 0)
    store_sigs = minhash_signatures(store_docs, k=_NS_K, fast=False)
    return new_docs, store_sigs


def _d_near_store_matches_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import near_store_matches

    new_docs, store_sigs = _near_store_parts(spark, sf_dir)
    return near_store_matches(
        new_docs, store_sigs, k=_NS_K, bands=_NS_BANDS,
        sim_threshold=_NS_TH, fast=False,
    )


def _near_store_duck(max_bucket: int = 64) -> str:
    k, bands = _NS_K, _NS_BANDS
    r = k // bands
    h = lambda i: _H_DUCK.format(x=f"concat('{i}|', s)")  # noqa: E731
    sig_cols = ", ".join(
        f"list_min(list_transform(shl, s -> {h(i)})) AS h{i}" for i in range(k)
    )
    band_rows = lambda src: " UNION ALL ".join(  # noqa: E731
        "SELECT id, {b} AS band, md5(concat_ws(',', {parts})) AS bucket, "
        "{hs} FROM {src}".format(
            b=b,
            parts=", ".join(f"CAST(h{b * r + j} AS VARCHAR)" for j in range(r)),
            hs=", ".join(f"h{i}" for i in range(k)),
            src=src,
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN n.h{i} = s.h{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
    sh AS (SELECT doc_id AS id, doc_id % 3 = 0 AS in_store,
                  {_shingles_duck()} AS shl FROM documents),
    sig AS (SELECT id, in_store, {sig_cols} FROM sh),
    nb AS ({band_rows("(SELECT * FROM sig WHERE NOT in_store) tn")}),
    sb AS ({band_rows("(SELECT * FROM sig WHERE in_store) ts")}),
    okb AS (SELECT id, band, bucket FROM
              (SELECT id, band, bucket,
                      COUNT(*) OVER (PARTITION BY band, bucket) AS n FROM sb)
            WHERE n <= {max_bucket}),
    cand AS (SELECT DISTINCT n.id AS id, o.id AS store_id
             FROM nb n JOIN okb o ON n.band = o.band AND n.bucket = o.bucket),
    m AS (SELECT c.id, c.store_id,
                 ROUND(({agree}) / {float(k)}, 6) AS est_jaccard
          FROM cand c
          JOIN sig n ON n.id = c.id
          JOIN sig s ON s.id = c.store_id)
    """


def _d_near_store_matches_duck() -> str:
    return f"""
    WITH {_near_store_duck()}
    SELECT id, store_id, est_jaccard FROM m WHERE est_jaccard >= {_NS_TH}"""


QUERY_FNS["d_near_store_matches"] = _d_near_store_matches_fn
ORACLES["d_near_store_matches"] = _d_near_store_matches_duck()


def _d_near_dedup_store_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import near_dedup_against_store

    new_docs, store_sigs = _near_store_parts(spark, sf_dir)
    out = near_dedup_against_store(
        new_docs, store_sigs, k=_NS_K, bands=_NS_BANDS,
        sim_threshold=_NS_TH, fast=False,
    )
    return out.select("doc_id")


def _d_near_dedup_store_duck() -> str:
    return f"""
    WITH {_near_store_duck()}
    SELECT doc_id FROM documents
    WHERE doc_id % 3 <> 0
      AND doc_id NOT IN (SELECT id FROM m WHERE est_jaccard >= {_NS_TH})"""


QUERY_FNS["d_near_dedup_store"] = _d_near_dedup_store_fn
ORACLES["d_near_dedup_store"] = _d_near_dedup_store_duck()


def _d_near_store_fast_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin (xxhash64 signatures, k=16) — rows-only like
    d_minhash_lsh_near_dups: a different hash family shifts estimator
    values, so the portable d_near_dedup_store carries the exact oracle."""
    from .operators.dedup import near_dedup_against_store, minhash_signatures

    docs = _table(spark, sf_dir, "documents_spread")
    store_sigs = minhash_signatures(
        docs.filter(F.col("doc_id") % 3 == 0), k=16, fast=True
    )
    return near_dedup_against_store(
        docs.filter(F.col("doc_id") % 3 != 0), store_sigs, k=16, bands=4,
        sim_threshold=0.5, fast=True,
    ).select("doc_id")


QUERY_FNS["d_near_store_fast"] = _d_near_store_fast_fn


# ===========================================================================
# Web-graph family (operators/webgraph.py): link extraction from raw html,
# host-graph edges/degrees, UT1-style blocklist, latest-snapshot url dedup.
# Both engines synthesize the SAME closed-form html/urls from doc_id (the
# established pages-from-documents pattern), so the regex extraction, host
# resolution, and graph rollups are value-exact across engines.
# ===========================================================================
_G_URL = (
    "concat('https://host', CAST(doc_id % 11 AS STRING), '.example.org/d/', "
    "CAST(doc_id AS STRING))"
)
# anchors cover every kind the classifier knows: relative nav links, an
# absolute cross-host article link (hosts mod 7 vs page hosts mod 11 -> a
# real bipartite-ish host graph), a proto-relative CDN link, mailto, and a
# fragment — all closed-form in doc_id.
_G_HTML = (
    "concat('<html><body><nav><a href=\"/inicio\">Inicio</a>"
    "<a href=\"/seccion/', CAST(doc_id % 13 AS STRING), '\">Sección</a></nav>', "
    "'<a href=\"https://host', CAST(doc_id % 7 AS STRING), '.example.org/art/', "
    "CAST(doc_id AS STRING), '\">Artículo ', CAST(doc_id AS STRING), '</a>', "
    "CASE WHEN doc_id % 3 = 0 THEN concat('<a href=\"//cdn', "
    "CAST(doc_id % 5 AS STRING), '.example.net/l.js\">cdn</a>') ELSE '' END, "
    "CASE WHEN doc_id % 4 = 0 THEN concat('<a href=\"mailto:u', "
    "CAST(doc_id AS STRING), '@example.com\">correo</a>') ELSE '' END, "
    "CASE WHEN doc_id % 6 = 0 THEN '<a href=\"#top\">subir</a>' ELSE '' END, "
    "'</body></html>')"
)
_G_LINK_RE = '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
_G_ABS_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"


def _g_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table(spark, sf_dir, "documents_spread").selectExpr(
        "doc_id", f"{_G_URL} AS url", f"CAST({_G_HTML} AS BINARY) AS html"
    )


# shared oracle CTE: pages -> one row per link with kind + resolved host,
# mirroring webgraph._classify_href case-for-case.
_G_LINKS_CTE = f"""
    p AS (SELECT doc_id, {_G_URL} AS url, {_G_HTML} AS html FROM documents),
    l AS (SELECT url,
                 lower(regexp_extract(url, '{_G_ABS_RE}', 1)) AS src_host,
                 regexp_extract_all(html, '{_G_LINK_RE}', 1) AS hrefs,
                 regexp_extract_all(html, '{_G_LINK_RE}', 2) AS anchors
          FROM p),
    i AS (SELECT url, src_host, hrefs, anchors,
                 unnest(range(0, len(hrefs))) AS i
          FROM l),
    x AS (SELECT url, src_host, CAST(i AS INT) AS link_no,
                 hrefs[i + 1] AS href, anchors[i + 1] AS anchor,
                 lower(regexp_extract(hrefs[i + 1],
                       '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme
          FROM i),
    k AS (SELECT url, src_host, link_no, href, anchor,
                 CASE WHEN href = '' OR starts_with(lower(href), '#')
                        THEN 'fragment'
                      WHEN scheme IN ('mailto', 'javascript', 'tel', 'data')
                        THEN 'special'
                      WHEN scheme IN ('http', 'https') THEN 'absolute'
                      WHEN starts_with(lower(href), '//') THEN 'proto_relative'
                      WHEN scheme <> '' THEN 'other_scheme'
                      ELSE 'relative' END AS kind
          FROM x),
    links AS (SELECT url, src_host, link_no, href, anchor, kind,
                     CASE WHEN kind = 'absolute'
                            THEN nullif(lower(regexp_extract(href, '{_G_ABS_RE}', 1)), '')
                          WHEN kind = 'proto_relative'
                            THEN nullif(lower(regexp_extract(href, '^//([^/?#]+)', 1)), '')
                          WHEN kind = 'relative' THEN nullif(src_host, '')
                     END AS dst_host
              FROM k)"""


def _g_link_extract_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import extract_links

    return extract_links(_g_pages(spark, sf_dir))


def _g_link_extract_duck() -> str:
    return f"""
    WITH {_G_LINKS_CTE}
    SELECT url, link_no, href, anchor, kind, dst_host FROM links"""


QUERY_FNS["g_link_extract"] = _g_link_extract_fn
ORACLES["g_link_extract"] = _g_link_extract_duck()


def _g_host_edges_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import extract_links, host_edges

    return host_edges(extract_links(_g_pages(spark, sf_dir)))


def _g_host_edges_duck() -> str:
    return f"""
    WITH {_G_LINKS_CTE}
    SELECT nullif(src_host, '') AS src_host, dst_host,
           COUNT(*) AS n_links,
           nullif(src_host, '') <> dst_host AS external
    FROM links
    WHERE kind IN ('absolute', 'proto_relative', 'relative')
      AND dst_host IS NOT NULL AND nullif(src_host, '') IS NOT NULL
    GROUP BY 1, 2"""


QUERY_FNS["g_host_edges"] = _g_host_edges_fn
ORACLES["g_host_edges"] = _g_host_edges_duck()


def _g_host_degrees_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import extract_links, host_degrees, host_edges

    return host_degrees(host_edges(extract_links(_g_pages(spark, sf_dir))))


def _g_host_degrees_duck() -> str:
    return f"""
    WITH {_G_LINKS_CTE},
    e AS (SELECT nullif(src_host, '') AS src_host, dst_host,
                 COUNT(*) AS n_links
          FROM links
          WHERE kind IN ('absolute', 'proto_relative', 'relative')
            AND dst_host IS NOT NULL AND nullif(src_host, '') IS NOT NULL
          GROUP BY 1, 2),
    o AS (SELECT src_host AS host, COUNT(*) AS out_hosts,
                 CAST(SUM(n_links) AS BIGINT) AS out_links
          FROM e GROUP BY 1),
    n AS (SELECT dst_host AS host, COUNT(*) AS in_hosts,
                 CAST(SUM(n_links) AS BIGINT) AS in_links
          FROM e GROUP BY 1)
    SELECT COALESCE(o.host, n.host) AS host,
           COALESCE(out_hosts, 0) AS out_hosts,
           COALESCE(out_links, 0) AS out_links,
           COALESCE(in_hosts, 0) AS in_hosts,
           COALESCE(in_links, 0) AS in_links
    FROM o FULL OUTER JOIN n ON o.host = n.host"""


QUERY_FNS["g_host_degrees"] = _g_host_degrees_fn
ORACLES["g_host_degrees"] = _g_host_degrees_duck()


# blocklist: every 9th page lives on a subdomain of badhost.example (suffix
# match must catch it) and host3.example.org is blocked exactly; the literal
# 2-entry list lets the oracle express the suffix rule as =/LIKE terms.
_G_BLOCK_URL = (
    "CASE WHEN doc_id % 9 = 0 THEN concat('https://ads.tr', "
    "CAST(doc_id % 3 AS STRING), '.badhost.example/p/', CAST(doc_id AS STRING)) "
    f"ELSE {_G_URL} END"
)


def _g_blocklist_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import blocklist_filter

    pages = _table(spark, sf_dir, "documents_spread").selectExpr("doc_id", f"{_G_BLOCK_URL} AS url")
    blocked = spark.createDataFrame(
        [("badhost.example",), ("host3.example.org",)], "domain string"
    )
    return blocklist_filter(pages, blocked)


def _g_blocklist_duck() -> str:
    return f"""
    WITH p AS (SELECT doc_id, {_G_BLOCK_URL} AS url FROM documents),
    h AS (SELECT doc_id, url,
                 lower(regexp_extract(url, '{_G_ABS_RE}', 1)) AS host
          FROM p)
    SELECT doc_id, url FROM h
    WHERE NOT (host = 'badhost.example' OR host LIKE '%.badhost.example'
               OR host = 'host3.example.org' OR host LIKE '%.host3.example.org')"""


QUERY_FNS["g_blocklist"] = _g_blocklist_fn
ORACLES["g_blocklist"] = _g_blocklist_duck()


def _g_latest_snapshot_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot url dedup over the SAME 3-variants-per-page synth as
    d_url_dedup, plus a closed-form warc_ts — the freshness convention
    (max ts, id tiebreak) vs url_dedup's provenance convention (min id)."""
    from .operators.webgraph import latest_snapshot_dedup

    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    g = F.floor(d / 3).cast("bigint")
    host = F.concat(F.lit("example"), (g % 20).cast("string"), F.lit(".com"))
    base = F.concat(F.lit("/Articles/"), g.cast("string"))
    url = (
        F.when(d % 3 == 0, F.concat(F.lit("HTTPS://WWW."), F.upper(host), base))
        .when(
            d % 3 == 1,
            F.concat(
                F.lit("https://www."), host, base,
                F.lit("?utm_source=feed&utm_campaign=x&fbclid=abc"),
            ),
        )
        .otherwise(F.concat(F.lit("https://www."), host, base, F.lit("#section-2")))
    )
    ts = F.expr(
        "timestamp'2025-01-01 00:00:00' + make_interval(0, 0, 0, "
        "CAST(doc_id % 7 AS INT), CAST(doc_id % 24 AS INT), 0, 0)"
    )
    pages = docs.select("doc_id", url.alias("url"), ts.alias("warc_ts"))
    return latest_snapshot_dedup(pages)


def _g_latest_snapshot_duck() -> str:
    # canon CTE shared verbatim with _d_url_dedup_duck (same rules)
    return r"""
    WITH p AS (
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 0 THEN 'HTTPS://WWW.' || upper(host) || base
                 WHEN 1 THEN 'https://www.' || host || base
                          || '?utm_source=feed&utm_campaign=x&fbclid=abc'
                 ELSE 'https://www.' || host || base || '#section-2'
               END AS url,
               TIMESTAMP '2025-01-01 00:00:00'
                 + (doc_id % 7) * INTERVAL 1 DAY
                 + (doc_id % 24) * INTERVAL 1 HOUR AS warc_ts
        FROM (SELECT doc_id,
                     'example' || CAST(CAST(floor(doc_id / 3.0) AS BIGINT) % 20 AS VARCHAR)
                               || '.com' AS host,
                     '/Articles/' || CAST(CAST(floor(doc_id / 3.0) AS BIGINT) AS VARCHAR) AS base
              FROM documents)),
    canon AS (
        SELECT doc_id, warc_ts,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0))
                             || substr(url, length(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) + 1),
                           '#.*$', '', 'g'),
                         '([?&])(utm_[a-zA-Z]+|fbclid)=[^&]*', '\1', 'g'),
                       '\?&+', '?', 'g'),
                     '&{2,}', '&', 'g'),
                   '[?&]+$', '', 'g'),
                 '([^/])/$', '\1', 'g') AS canonical_url
        FROM p),
    r AS (SELECT canonical_url, doc_id, warc_ts,
                 ROW_NUMBER() OVER (PARTITION BY canonical_url
                                    ORDER BY warc_ts DESC, doc_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY canonical_url) AS n_snapshots
          FROM canon)
    SELECT canonical_url, doc_id AS keep_id, warc_ts AS keep_ts, n_snapshots
    FROM r WHERE rn = 1"""


def _g_crawl_diff_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style snapshot diff: prev crawl = docs with doc_id%5 != 4, curr
    crawl = docs with doc_id%5 != 0 with every %7==0 doc's text revised —
    so all four statuses (new / gone / changed / unchanged) occur
    deterministically.  URLs are already-canonical closed forms (the
    canonicalizer's own behavior is pinned by d_url_dedup)."""
    from .operators.webgraph import crawl_diff

    # bare view (r6 A/B): spreading each side's (url, text, id) rows measured
    # 2x SLOWER than the single-task scan at sf0.1 (0.57s -> 1.31s) — the
    # exchange ships the text payload to parallelize one md5
    docs = _table(spark, sf_dir, "documents").selectExpr("doc_id", f"{_G_URL} AS url", "text")
    prev = docs.filter(F.col("doc_id") % 5 != 4)
    curr = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return crawl_diff(prev, curr)


def _g_crawl_diff_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    norm2 = _NORM_DUCK.format(x="text || CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END")
    return f"""
    WITH prev AS (SELECT {_G_URL} AS canonical_url, doc_id AS prev_id,
                         md5({norm}) AS pfp
                  FROM documents WHERE doc_id % 5 <> 4),
    curr AS (SELECT {_G_URL} AS canonical_url, doc_id AS curr_id,
                    md5({norm2}) AS cfp
             FROM documents WHERE doc_id % 5 <> 0)
    SELECT COALESCE(p.canonical_url, c.canonical_url) AS canonical_url,
           CASE WHEN p.canonical_url IS NULL THEN 'new'
                WHEN c.canonical_url IS NULL THEN 'gone'
                WHEN p.pfp IS DISTINCT FROM c.cfp THEN 'changed'
                ELSE 'unchanged' END AS status,
           p.prev_id, c.curr_id
    FROM prev p FULL OUTER JOIN curr c ON p.canonical_url = c.canonical_url"""


QUERY_FNS["g_crawl_diff"] = _g_crawl_diff_fn
ORACLES["g_crawl_diff"] = _g_crawl_diff_duck()





QUERY_FNS["g_latest_snapshot"] = _g_latest_snapshot_fn
ORACLES["g_latest_snapshot"] = _g_latest_snapshot_duck()


def _g_host_components_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the host link graph — the same
    pointer-jumping min-label machinery that resolves near-dup clusters
    (dedup.resolve_clusters) applied to web topology: mirror networks and
    link rings collapse to one component id (string labels work because
    every update is F.least — lexicographic min is as valid a canonical
    element as a numeric min)."""
    from .operators.dedup import resolve_clusters
    from .operators.textstats import hash64
    from .operators.webgraph import extract_links, host_edges

    # lazy localCheckpoint: the edge list feeds BOTH the component loop and
    # the hosts branch — without it the link-extraction regex pass re-runs
    # per consumer (r6)
    edges = host_edges(extract_links(_g_pages(spark, sf_dir))).localCheckpoint(
        eager=False
    )
    # hash hosts to the portable 56-bit id space first (fixed-width ids in
    # every round's shuffles), then map component ids back onto host strings
    comp = resolve_clusters(
        edges.select(
            hash64(F.col("src_host")).alias("id_a"),
            hash64(F.col("dst_host")).alias("id_b"),
        )
    )
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .withColumn("_h", hash64(F.col("host")))
    )
    return hosts.join(comp, hosts["_h"] == comp["doc_id"]).select(
        "host", F.col("canonical_id").alias("component_id")
    )


def _g_host_components_duck() -> str:
    ha = _H_DUCK.format(x="a")
    hb = _H_DUCK.format(x="b")
    hh = _H_DUCK.format(x="host")
    return f"""
    WITH RECURSIVE {_G_LINKS_CTE},
    e AS (SELECT DISTINCT nullif(src_host, '') AS a, dst_host AS b
          FROM links
          WHERE kind IN ('absolute', 'proto_relative', 'relative')
            AND dst_host IS NOT NULL AND nullif(src_host, '') IS NOT NULL),
    e2 AS (SELECT DISTINCT {ha} AS ha, {hb} AS hb FROM e),
    sym AS (SELECT ha AS a, hb AS b FROM e2 UNION SELECT hb, ha FROM e2),
    walk AS (
        SELECT a AS id, a AS reach FROM sym
        UNION
        SELECT w.id, s.b FROM walk w JOIN sym s ON s.a = w.reach
    ),
    comp AS (SELECT id, MIN(reach) AS cid FROM walk GROUP BY id),
    hosts AS (SELECT DISTINCT host
              FROM (SELECT a AS host FROM e UNION ALL SELECT b FROM e))
    SELECT h.host, c.cid AS component_id
    FROM hosts h JOIN comp c ON c.id = {hh}"""


QUERY_FNS["g_host_components"] = _g_host_components_fn
ORACLES["g_host_components"] = _g_host_components_duck()


_HR_DAMPING, _HR_ITERS = 0.85, 3


def _g_host_rank_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import extract_links, host_edges, host_rank

    edges = host_edges(extract_links(_g_pages(spark, sf_dir)))
    return host_rank(edges, damping=_HR_DAMPING, iters=_HR_ITERS)


def _g_host_rank_duck(damping: float = _HR_DAMPING, iters: int = _HR_ITERS) -> str:
    # every arithmetic site mirrors host_rank bit-for-bit: double division
    # for weights, ROUND(rank*w,12)::DECIMAL(28,12) exact sums, double
    # (1-d)/N + d*s recombination — all literals forced to DOUBLE so DuckDB
    # does not fall into decimal-literal arithmetic.
    d = f"CAST({damping} AS DOUBLE)"
    base = f"(CAST(1.0 AS DOUBLE) - {d}) / (SELECT c FROM cnt)"
    steps = []
    for t in range(iters):
        steps.append(f"""
    c{t} AS (SELECT ew.dst,
                    SUM(CAST(ROUND(r.rank * ew.w, 12) AS DECIMAL(28,12))) AS s
             FROM ew JOIN r{t} r ON ew.src = r.host GROUP BY ew.dst),
    r{t + 1} AS (SELECT nd.host,
                        ROUND({base} + {d} * COALESCE(CAST(c.s AS DOUBLE),
                                                      CAST(0.0 AS DOUBLE)), 12) AS rank
                 FROM nodes nd LEFT JOIN c{t} c ON c.dst = nd.host)""")
    return f"""
    WITH {_G_LINKS_CTE},
    e AS (SELECT nullif(src_host, '') AS src, dst_host AS dst,
                 COUNT(*) AS n_links
          FROM links
          WHERE kind IN ('absolute', 'proto_relative', 'relative')
            AND dst_host IS NOT NULL AND nullif(src_host, '') IS NOT NULL
          GROUP BY 1, 2),
    o AS (SELECT src, CAST(SUM(n_links) AS BIGINT) AS t FROM e GROUP BY src),
    ew AS (SELECT e.src, e.dst,
                  CAST(e.n_links AS DOUBLE) / CAST(o.t AS DOUBLE) AS w
           FROM e JOIN o ON o.src = e.src),
    nodes AS (SELECT DISTINCT host FROM
              (SELECT src AS host FROM e UNION ALL SELECT dst AS host FROM e)),
    cnt AS (SELECT COUNT(*) AS c FROM nodes),
    r0 AS (SELECT host, CAST(1.0 AS DOUBLE) / (SELECT c FROM cnt) AS rank
           FROM nodes),{",".join(steps)}
    SELECT host, rank FROM r{iters}"""


QUERY_FNS["g_host_rank"] = _g_host_rank_fn
ORACLES["g_host_rank"] = _g_host_rank_duck()


def _g_frontier_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier planning — the operators composing into the next
    crawl's work list: the snapshot diff's 'new'+'changed' urls (the
    incremental fetch set) prioritized by the target host's PageRank
    (seed scheduling / politeness-budget allocation).  The rank table is
    host-cardinality-sized and BROADCASTS onto the url work list; hosts
    absent from the link graph get priority 0."""
    from .operators.webgraph import extract_links, host_edges, host_of, host_rank

    diff = _g_crawl_diff_fn(spark, sf_dir)
    work = diff.filter(F.col("status").isin("new", "changed")).select(
        "canonical_url", "status", "curr_id"
    )
    ranks = host_rank(
        host_edges(extract_links(_g_pages(spark, sf_dir))),
        damping=_HR_DAMPING,
        iters=_HR_ITERS,
    )
    w = work.withColumn("host", host_of(F.col("canonical_url")))
    return w.join(F.broadcast(ranks), "host", "left").select(
        "canonical_url",
        "status",
        "curr_id",
        "host",
        F.coalesce(F.col("rank"), F.lit(0.0)).alias("priority"),
    )


def _g_frontier_duck() -> str:
    return f"""
    WITH work AS (SELECT canonical_url, status, curr_id
                  FROM ({_g_crawl_diff_duck()}) d
                  WHERE status IN ('new', 'changed')),
    hr AS (SELECT host, rank FROM ({_g_host_rank_duck()}) r)
    SELECT w.canonical_url, w.status, w.curr_id,
           lower(regexp_extract(w.canonical_url, '{_G_ABS_RE}', 1)) AS host,
           COALESCE(hr.rank, 0.0) AS priority
    FROM work w LEFT JOIN hr
      ON hr.host = lower(regexp_extract(w.canonical_url, '{_G_ABS_RE}', 1))"""


# crawl-frontier composite: diff work list x broadcast host-rank priority.
QUERY_FNS["g_frontier"] = _g_frontier_fn
ORACLES["g_frontier"] = _g_frontier_duck()


# --- WET conversion (webgraph.html_to_text): html -> main text ------------
# Both engines synthesize the SAME closed-form html around the REAL document
# text (title/style/script/comment/entities/list/footer all exercised), so
# the strip/decode/line-normalize chain is value-exact across engines.
_G_WET_HTML = (
    "concat('<html><head><title>Doc ', CAST(doc_id AS STRING), '</title>', "
    "'<style>body { color: #333; }</style>', "
    "'<script type=\"text/javascript\">var p = \"<p>not text</p>\";</script>', "
    "'</head><body><h1>Doc &amp; title ', CAST(doc_id AS STRING), '</h1>', "
    "'<!-- hidden ', CAST(doc_id % 5 AS STRING), ' -->', "
    "'<p>', text, '</p>', "
    "CASE WHEN doc_id % 2 = 0 THEN concat('<ul><li>item&nbsp;', "
    "CAST(doc_id % 7 AS STRING), "
    "'</li><li>&quot;quoted&#39;s&quot;</li></ul>') ELSE '' END, "
    "'<div class=\"footer\">pie &lt;fin&gt;</div></body></html>')"
)


def _g_html_text_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET conversion: strip script/style/comments, block tags -> line
    breaks, inline tags dropped, entities decoded, lines trimmed/collapsed
    /non-empty — the WARC->WET step every web corpus pipeline starts from."""
    from .operators.webgraph import html_to_text

    pages = _table(spark, sf_dir, "documents_spread").selectExpr(
        "doc_id", f"CAST({_G_WET_HTML} AS BINARY) AS html"
    )
    return html_to_text(pages)


def _wet_ctes() -> str:
    # the IDENTICAL RE2-safe pattern bank as webgraph.html_text, stage for
    # stage; DuckDB needs the 'g' option (Spark regexp_replace is global)
    # and COALESCE (array_to_string of an empty list yields NULL there).
    # Ends in s8(doc_id, text) — the WET output shape.
    return rf"""p AS (SELECT doc_id, {_G_WET_HTML} AS s FROM documents),
    s1 AS (SELECT doc_id, regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s
           FROM p),
    s2 AS (SELECT doc_id,
                  regexp_replace(s, '(?is)<script\b[^>]*>.*?</script>', ' ',
                                 'g') AS s FROM s1),
    s3 AS (SELECT doc_id,
                  regexp_replace(s, '(?is)<style\b[^>]*>.*?</style>', ' ',
                                 'g') AS s FROM s2),
    s4 AS (SELECT doc_id, regexp_replace(s, '\s+', ' ', 'g') AS s FROM s3),
    s5 AS (SELECT doc_id,
                  regexp_replace(s,
                    '(?i)</?(p|br|hr|div|li|ul|ol|dl|dt|dd|h[1-6]|tr|td|th'
                    '|table|thead|tbody|blockquote|pre|section|article|aside'
                    '|nav|header|footer|form|figure|figcaption|main)\b[^>]*>',
                    chr(10), 'g') AS s FROM s4),
    s6 AS (SELECT doc_id, regexp_replace(s, '<[^>]*>', '', 'g') AS s FROM s5),
    s7 AS (SELECT doc_id,
                  replace(replace(replace(replace(replace(replace(replace(s,
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
                    '&amp;', '&') AS s FROM s6),
    s8 AS (SELECT doc_id,
                  COALESCE(array_to_string(list_filter(list_transform(
                    string_split(s, chr(10)),
                    x -> trim(regexp_replace(x, ' +', ' ', 'g'))),
                    x -> x <> ''), chr(10)), '') AS text
           FROM s7)"""


def _g_html_text_duck() -> str:
    return f"""
    WITH {_wet_ctes()}
    SELECT doc_id, text,
           CAST(CASE WHEN text = '' THEN 0
                     ELSE len(string_split(text, chr(10))) END AS INT)
             AS n_lines,
           CAST(length(text) AS INT) AS n_chars
    FROM s8"""


QUERY_FNS["g_html_text"] = _g_html_text_fn
ORACLES["g_html_text"] = _g_html_text_duck()


def _g_wet_curate_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END web pipeline in one plan: raw html -> WET main-text
    extraction -> exact dedup -> quality gate -> repetition gate -> lang id
    -> per-language doc/token rollup.  The WET output is lazily
    localCheckpointed before the funnel: the funnel consumes its input
    TWICE (the |dups|-sized loser branch and the survivor stream), and
    without the checkpoint Spark re-runs the whole WET regex chain per
    consumer — the shared-subtree trap.  Checkpointed, the html corpus is
    scanned and converted exactly once (plan-tested)."""
    wet = _g_html_text_fn(spark, sf_dir).select("doc_id", "text").localCheckpoint(eager=False)
    return _curate_funnel(wet)


QUERY_FNS["g_wet_curate"] = _g_wet_curate_fn
ORACLES["g_wet_curate"] = _t_curate_duck(
    src_ctes=_wet_ctes().lstrip() + ",\n    ", src="s8"
)





def _t_ccnet_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import ccnet_buckets

    docs = _table(spark, sf_dir, "documents")
    return ccnet_buckets(docs)


def _t_ccnet_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH toks AS (SELECT doc_id AS id, lang,
                         unnest(regexp_split_to_array({norm}, ' ')) AS term
                  FROM documents),
    t2 AS (SELECT * FROM toks WHERE term <> ''),
    tf AS (SELECT id, lang, term, COUNT(*) AS tf FROM t2 GROUP BY id, lang, term),
    vocab AS (SELECT lang, term, SUM(tf) AS c FROM tf GROUP BY lang, term),
    tot AS (SELECT lang, SUM(c) AS total, COUNT(*) AS v FROM vocab GROUP BY lang),
    logp AS (SELECT vocab.lang, vocab.term,
                    CAST(ROUND(ln((c + 1.0) / (tot.total + tot.v)), 6)
                         AS DECIMAL(18,6)) AS lp
             FROM vocab JOIN tot ON tot.lang = vocab.lang),
    scored AS (SELECT tf.id, tf.lang,
                      CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                      SUM(tf.tf * logp.lp) AS sum_lp
               FROM tf JOIN logp ON logp.lang = tf.lang AND logp.term = tf.term
               GROUP BY tf.id, tf.lang),
    sc AS (SELECT d.doc_id, d.lang,
                  CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                  CASE WHEN s.n_tokens > 0
                       THEN -CAST((2 * CAST(s.sum_lp * -1000000 AS BIGINT)
                                   + s.n_tokens)
                                  // (2 * s.n_tokens) AS DOUBLE) / 1000000 + 0.0
                  END AS avg_logprob
           FROM documents d LEFT JOIN scored s ON s.id = d.doc_id),
    cells AS (SELECT *,
                     CASE WHEN avg_logprob IS NOT NULL
                          THEN CAST(FLOOR(ROUND(avg_logprob * 1e6) / 1000.0)
                                    AS BIGINT) END AS cell
              FROM sc),
    hist AS (SELECT lang, cell, COUNT(*) AS cnt FROM cells
             WHERE cell IS NOT NULL GROUP BY lang, cell),
    hb AS (SELECT lang, cell,
                  COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY cell DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS strt,
                  SUM(cnt) OVER (PARTITION BY lang) AS n
           FROM hist),
    bk AS (SELECT lang, cell,
                  CASE WHEN strt * 3 < n THEN 'head'
                       WHEN strt * 3 < 2 * n THEN 'middle'
                       ELSE 'tail' END AS bucket
           FROM hb)
    SELECT c.doc_id, c.lang, c.n_tokens, c.avg_logprob,
           COALESCE(bk.bucket, 'tail') AS bucket
    FROM cells c LEFT JOIN bk ON bk.lang = c.lang AND bk.cell = c.cell"""


# CCNet head/middle/tail per-language LM-score tertiles; boundaries from a
# bounded (lang, quantized-score) histogram — no corpus sort at any scale.
QUERY_FNS["t_ccnet_buckets"] = _t_ccnet_fn
ORACLES["t_ccnet_buckets"] = _t_ccnet_duck()


_CCNET_MIX = {"head": 1.0, "middle": 0.5, "tail": 0.1}


def _t_ccnet_mix_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import ccnet_mixture

    docs = _table(spark, sf_dir, "documents")
    return ccnet_mixture(docs, weights=_CCNET_MIX)


def _t_ccnet_mix_duck() -> str:
    def thr(w: float) -> str:
        return format(min(max(int(w * (1 << 32)), 0), (1 << 32) - 1), "08x")

    coin = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    conds = " OR ".join(
        f"(bucket = '{b}' AND "
        + ("TRUE" if w >= 1.0 else f"{coin} < '{thr(w)}'")
        + ")"
        for b, w in sorted(_CCNET_MIX.items())
    )
    return f"""
    SELECT * FROM ({_t_ccnet_duck()}) b
    WHERE {conds}"""


# CCNet's downstream recipe: tertile buckets -> frozen-coin weighted keep
# (head 1.0 / middle 0.5 / tail 0.1); sampling adds no shuffle.
QUERY_FNS["t_ccnet_mixture"] = _t_ccnet_mix_fn
ORACLES["t_ccnet_mixture"] = _t_ccnet_mix_duck()


def _a_hll_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.sketches import hll_distinct

    docs = _table(spark, sf_dir, "documents")
    return hll_distinct(docs, F.col("text"), p=12)


def _a_hll_duck(p: int = 12) -> str:
    m = 1 << p
    rem_bits = 56 - p
    h = _H_DUCK.format(x="text")
    alpha = f"(0.7213 / (1.0 + 1.079 / {m}.0))"
    raw = (
        f"{alpha} * {m}.0 * {m}.0 * 9007199254740992.0"
        " / CAST(sum_scaled AS DOUBLE)"
    )
    return f"""
    WITH h AS (SELECT {h} AS h FROM documents),
    b AS (SELECT CAST(h % {m} AS INT) AS bucket, (h >> {p}) AS rem FROM h),
    r AS (SELECT bucket,
                 MAX(CASE WHEN rem = 0 THEN {rem_bits + 1}
                     ELSE {rem_bits} - length(bin(rem)) + 1 END) AS mx
          FROM b GROUP BY bucket),
    f AS (SELECT COUNT(*) AS present,
                 CAST(SUM(CAST(POWER(2, 53 - mx) AS DECIMAL(20,0)))
                      AS DECIMAL(38,0)) AS sp
          FROM r),
    z AS (SELECT {m} AS m_registers,
                 CAST({m} - present AS BIGINT) AS v_zero,
                 CAST(COALESCE(sp, 0)
                      + CAST({m} - present AS DECIMAL(38,0))
                        * CAST(9007199254740992 AS DECIMAL(38,0))
                      AS DECIMAL(38,0)) AS sum_scaled
          FROM f)
    SELECT m_registers, v_zero, sum_scaled,
           CAST(FLOOR(CASE WHEN {raw} <= {2.5 * m!r} AND v_zero > 0
                      THEN {m}.0 * ln({m}.0 / v_zero)
                      ELSE {raw} END) AS BIGINT) AS est_distinct
    FROM z"""


# portable HyperLogLog over document texts: registers AND estimate are
# bit-identical across engines (md5 hash, exact decimal harmonic sum).
QUERY_FNS["a_hll_distinct"] = _a_hll_fn
ORACLES["a_hll_distinct"] = _a_hll_duck()


def _t_pack_shards_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import pack_shards

    docs = _table(spark, sf_dir, "documents_spread")
    return pack_shards(docs, seq_len=512, num_parts=8)


def _t_pack_shards_duck(
    seq_len: int = 512,
    num_parts: int = 8,
    src_ctes: str = "",
    src: str = "documents",
) -> str:
    # CASE-PRESERVING split: the packer's textstats.tokens() does not
    # lowercase (_TOKS_DUCK does — a divergence invisible on the all-
    # lowercase parquet corpus, caught by the mixed-case WET composite)
    toks = r"regexp_split_to_array(trim(text), '\s+')"
    ntok = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len({toks}) END AS BIGINT)"
    )
    return f"""
    WITH {src_ctes}t AS (SELECT doc_id AS id, CAST(doc_id % {num_parts} AS INT) AS part_id,
                      {ntok} AS n_toks, {toks} AS tk
               FROM {src}),
    c AS (SELECT id, part_id, n_toks, tk,
                 CAST(SUM(n_toks) OVER (PARTITION BY part_id
                                        ORDER BY md5(CAST(id AS VARCHAR)), id
                                        ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM t),
    e AS (SELECT part_id, tk, cum, cum - n_toks AS s FROM c WHERE n_toks > 0),
    x AS (SELECT part_id, s, cum, tk,
                 unnest(generate_series(s // {seq_len},
                                        (cum - 1) // {seq_len})) AS b
          FROM e),
    f AS (SELECT part_id, b AS bin_id, s, tk,
                 GREATEST(s, b * {seq_len}) AS lo,
                 LEAST(cum, (b + 1) * {seq_len}) AS hi
          FROM x),
    g AS (SELECT part_id, bin_id, s, hi - lo AS n,
                 array_to_string(list_slice(tk, CAST(lo - s + 1 AS BIGINT),
                                                CAST(hi - s AS BIGINT)),
                                 ' ') AS frag
          FROM f)
    SELECT part_id, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_frags,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           string_agg(frag, ' ' ORDER BY s) AS text
    FROM g GROUP BY part_id, bin_id"""


# materialized sequence packing: every 512-token block's actual text,
# docs split mid-document at block boundaries (GPT packing contract).
QUERY_FNS["t_pack_shards"] = _t_pack_shards_fn
ORACLES["t_pack_shards"] = _t_pack_shards_duck()


def _t_inverted_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.indexing import inverted_postings

    docs = _table(spark, sf_dir, "documents_spread")
    return inverted_postings(docs, max_postings=16)


def _t_inverted_duck(cap: int = 16) -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH raw AS (SELECT doc_id AS id,
                        unnest(regexp_split_to_array({norm}, ' ')) AS term
                 FROM documents),
    pairs AS (SELECT DISTINCT term, id FROM raw WHERE term <> ''),
    w AS (SELECT term, id,
                 ROW_NUMBER() OVER (PARTITION BY term ORDER BY id) AS rn,
                 COUNT(*) OVER (PARTITION BY term) AS n
          FROM pairs)
    SELECT term, CAST(MAX(n) AS BIGINT) AS n_docs,
           list(id ORDER BY id) AS postings,
           MAX(n) > {cap} AS truncated
    FROM w WHERE rn <= {cap} GROUP BY term"""


# inverted index with capped posting lists: true df + the cap smallest doc
# ids per term — the cap applies BEFORE assembly (a stopword's postings
# never materialize corpus-wide), one term-shuffle total.
QUERY_FNS["t_inverted_index"] = _t_inverted_fn
ORACLES["t_inverted_index"] = _t_inverted_duck()


_BM25_TERMS = ["spark", "filter", "window"]


def _t_bm25_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.indexing import bm25_topk

    docs = _table(spark, sf_dir, "documents_spread")
    return bm25_topk(docs, _BM25_TERMS, k=10)


def _t_bm25_duck(k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    norm = _NORM_DUCK.format(x="text")
    dl = (
        "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        r"len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)"
    )
    terms = ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))
    return f"""
    WITH tk AS (SELECT doc_id AS id, {dl} AS dl,
                       unnest(regexp_split_to_array({norm}, ' ')) AS term
                FROM documents),
    cand AS (SELECT id, dl, term FROM tk WHERE term IN ({terms})),
    tf AS (SELECT id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM cand
           GROUP BY id, term),
    st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM({dl}) AS DOUBLE) / COUNT(*) AS avgdl
           FROM documents),
    dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dfr FROM tf
            GROUP BY term),
    sc AS (SELECT tf.id, COUNT(*) AS n_terms_hit,
                  SUM(CAST(ROUND(
                        ln((st.n - dfq.dfr + 0.5) / (dfq.dfr + 0.5) + 1.0)
                        * (tf.tf * ({k1!r} + 1.0))
                        / (tf.tf + {k1!r} * (1.0 - {b!r}
                                             + {b!r} * tf.dl / st.avgdl)),
                        6) AS DECIMAL(18,6))) AS s
           FROM tf JOIN dfq USING (term) CROSS JOIN st
           GROUP BY tf.id)
    SELECT id AS doc_id, CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
           CAST(s AS DOUBLE) AS score
    FROM sc ORDER BY s DESC, id LIMIT {k}"""


# BM25 top-k retrieval: query-hit-sized aggregation (term filter inside
# the explode stage), decimal-exact per-doc score accumulation.
QUERY_FNS["t_bm25_topk"] = _t_bm25_fn
ORACLES["t_bm25_topk"] = _t_bm25_duck()


def _a_cm_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.sketches import cm_estimate, cm_sketch
    from .operators.textstats import normalize_for_fingerprint

    docs = _table(spark, sf_dir, "documents_spread")
    toks = (
        docs.select(
            F.explode(
                F.split(normalize_for_fingerprint(F.col("text")), " ")
            ).alias("term")
        )
        .filter(F.col("term") != "")
        # feeds both the sketch and the true-count branch: materialize once
        .localCheckpoint(eager=False)
    )
    sk = cm_sketch(toks, F.col("term"), d=4, w=1024)
    tc = toks.groupBy("term").agg(F.count("*").cast("long").alias("true_n"))
    top = tc.orderBy(F.col("true_n").desc(), F.col("term")).limit(10)
    est = cm_estimate(sk, top, "term", d=4, w=1024)
    return top.join(F.broadcast(est), top.term == est.item).select(
        "term", "true_n", "est_n"
    )


def _a_cm_duck(d: int = 4, w: int = 1024) -> str:
    norm = _NORM_DUCK.format(x="text")
    h = _H_DUCK.format(x="concat(CAST(i.i AS VARCHAR), ':', term)")
    return f"""
    WITH toks AS (SELECT unnest(regexp_split_to_array({norm}, ' ')) AS term
                  FROM documents),
    t2 AS (SELECT term FROM toks WHERE term <> ''),
    tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS true_n FROM t2
           GROUP BY term),
    top AS (SELECT term, true_n FROM tc ORDER BY true_n DESC, term LIMIT 10),
    cells AS (SELECT i.i AS row, CAST({h} % {w} AS INT) AS bucket
              FROM t2 CROSS JOIN range({d}) i(i)),
    sk AS (SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells
           GROUP BY row, bucket),
    keys AS (SELECT top.term, top.true_n, i.i AS row,
                    CAST({h} % {w} AS INT) AS bucket
             FROM top CROSS JOIN range({d}) i(i)),
    est AS (SELECT term, true_n, MIN(COALESCE(sk.cnt, 0)) AS est_n
            FROM keys LEFT JOIN sk ON sk.row = keys.row
                                  AND sk.bucket = keys.bucket
            GROUP BY term, true_n)
    SELECT term, true_n, CAST(est_n AS BIGINT) AS est_n FROM est"""


# Count-Min heavy-hitter probe: sketch the token stream into d*w cells,
# point-query the exact top-10 terms — est_n >= true_n always (one-sided
# error), both engines reproduce every cell and estimate exactly.
QUERY_FNS["a_cm_topk_terms"] = _a_cm_fn
ORACLES["a_cm_topk_terms"] = _a_cm_duck()


def _g_anchor_topk_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import anchor_topk, extract_links

    return anchor_topk(extract_links(_g_pages(spark, sf_dir)), k=3)


def _g_anchor_topk_duck(k: int = 3) -> str:
    norm = _NORM_DUCK.format(x="anchor")
    return f"""
    WITH {_G_LINKS_CTE},
    ok AS (SELECT dst_host, {norm} AS anchor FROM links
           WHERE kind IN ('absolute', 'proto_relative', 'relative')
             AND dst_host IS NOT NULL),
    c AS (SELECT dst_host, anchor, COUNT(*) AS n_links FROM ok
          WHERE anchor <> '' GROUP BY dst_host, anchor),
    r AS (SELECT dst_host, anchor, n_links,
                 CAST(ROW_NUMBER() OVER (PARTITION BY dst_host
                      ORDER BY n_links DESC, anchor ASC) AS INT) AS rank
          FROM c)
    SELECT dst_host, rank, anchor, n_links FROM r WHERE rank <= {k}"""


# anchor-text top-k per destination host (the anchor-text dataset rollup).
QUERY_FNS["g_anchor_topk"] = _g_anchor_topk_fn
ORACLES["g_anchor_topk"] = _g_anchor_topk_duck()


def _g_robots_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import parse_robots, robots_filter

    pages = _g_pages(spark, sf_dir).select("url")
    i = F.col("id").cast("string")
    nl = F.lit("\n")
    robots = (
        spark.range(11)
        .filter(F.col("id") % 3 != 2)  # every third host publishes none
        .select(
            F.concat(F.lit("host"), i, F.lit(".example.org")).alias("host"),
            F.concat(
                F.lit("User-agent: *"), nl,
                F.lit("Disallow: /d/"), i, nl,
                F.lit("Allow: /d/"), i, F.lit("7"), nl,
                # empty Disallow = allow-all per REP: parses to NO rule
                F.when(F.col("id") % 2 == 0, F.concat(F.lit("Disallow:"), nl))
                .otherwise(F.lit("")),
                F.lit("# crawl politely"),
            ).alias("robots_txt"),
        )
    )
    return robots_filter(pages, parse_robots(robots))


def _g_robots_duck() -> str:
    rx = r"(?i)^\s*(allow|disallow)\s*:\s*(\S+)"
    path_rx = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)?"
    return f"""
    WITH p AS (SELECT {_G_URL} AS url FROM documents),
    rb AS (SELECT concat('host', CAST(i AS VARCHAR), '.example.org') AS host,
                  concat('User-agent: *', chr(10),
                         'Disallow: /d/', CAST(i AS VARCHAR), chr(10),
                         'Allow: /d/', CAST(i AS VARCHAR), '7', chr(10),
                         CASE WHEN i % 2 = 0 THEN concat('Disallow:', chr(10))
                              ELSE '' END,
                         '# crawl politely') AS robots_txt
           FROM range(11) t(i) WHERE i % 3 <> 2),
    lines AS (SELECT host, unnest(string_split(robots_txt, chr(10))) AS line
              FROM rb),
    rl AS (SELECT host,
                  lower(regexp_extract(line, '{rx}', 1)) AS m,
                  regexp_extract(line, '{rx}', 2) AS prefix
           FROM lines),
    r2 AS (SELECT host, m = 'allow' AS allow, prefix FROM rl
           WHERE m <> '' AND prefix <> ''),
    pg AS (SELECT url, lower(regexp_extract(url, '{_G_ABS_RE}', 1)) AS host,
                  COALESCE(nullif(regexp_extract(url, '{path_rx}', 1), ''),
                           '/') AS path
           FROM p),
    sc AS (SELECT pg.url,
                  MAX(len(prefix) * 2 + CASE WHEN allow THEN 1 ELSE 0 END)
                    AS win
           FROM pg JOIN r2 ON r2.host = pg.host
                          AND starts_with(pg.path, r2.prefix)
           GROUP BY pg.url)
    SELECT pg.url, COALESCE(sc.win % 2 = 1, TRUE) AS allowed
    FROM pg LEFT JOIN sc ON sc.url = pg.url"""


# robots.txt admission (REP longest-prefix precedence, Allow wins ties;
# integer-encoded winner over per-host rule lists joined on host, one pass).
QUERY_FNS["g_robots_filter"] = _g_robots_fn
ORACLES["g_robots_filter"] = _g_robots_duck()


def _g_dup_ratio_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.webgraph import host_dup_ratio

    pages = _table(spark, sf_dir, "documents_spread").selectExpr(f"{_G_URL} AS url", "text")
    return host_dup_ratio(pages)


def _g_dup_ratio_duck() -> str:
    norm = _NORM_DUCK.format(x="text")
    return f"""
    WITH p AS (SELECT {_G_URL} AS url, text FROM documents),
    pr AS (SELECT nullif(lower(regexp_extract(url, '{_G_ABS_RE}', 1)), '')
                    AS host,
                  md5({norm}) AS fp
           FROM p),
    pf AS (SELECT host, fp, COUNT(*) AS c FROM pr
           WHERE host IS NOT NULL GROUP BY host, fp),
    r AS (SELECT host, CAST(SUM(c) AS BIGINT) AS n_pages,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct
          FROM pf GROUP BY host)
    SELECT host, n_pages, n_distinct,
           CAST((2 * (n_pages - n_distinct) * 1000000 + n_pages)
                // (2 * n_pages) AS DOUBLE) / 1000000 + 0.0 AS dup_ratio
    FROM r"""


# per-host exact-dup ratio (mirror/spam demotion signal); exact integer
# half-away rounding for the small-quotient ratio.
QUERY_FNS["g_host_dup_ratio"] = _g_dup_ratio_fn
ORACLES["g_host_dup_ratio"] = _g_dup_ratio_duck()


def _g_crawl_shards_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE engine in one plan — crawl to training shards: raw html
    -> WET main-text extraction -> exact dedup -> quality gate ->
    repetition gate -> materialized 256-token packed blocks.  The WET
    output is lazily checkpointed (the funnel's dedup consumes it twice —
    same shared-subtree trap as g_wet_curate); the survivor stream feeds
    pack_shards' single stream-window consumer directly."""
    from .operators.curation import pack_shards

    wet = _g_html_text_fn(spark, sf_dir).select("doc_id", "text").localCheckpoint(eager=False)
    surv = _curate_survivors(wet).select("doc_id", "text")
    return pack_shards(surv, seq_len=256, num_parts=4)


QUERY_FNS["g_crawl_to_shards"] = _g_crawl_shards_fn
ORACLES["g_crawl_to_shards"] = _t_pack_shards_duck(
    seq_len=256,
    num_parts=4,
    src_ctes=_curate_survivor_ctes(_wet_ctes().lstrip() + ",\n    ", "s8")
    + ",\n    ",
    src="gated",
)


# ===========================================================================
# Driver-window ordering
# ===========================================================================
# The correctness driver records the FIRST 50 registered queries
# (CORRECTNESS_r01-r03 hold exactly the first 50 in registration order), so
# re-insert the registry with the flagship parity invariants
# (pipeline_text_parity — the north_rule byte-identical-text check — entity
# and field parity) and the training-data operators (dedup / clusters / ANN)
# ahead of the normalizer micro-queries.  Everything still runs in the
# pytest parity gate regardless of position.
_DRIVER_PRIORITY = [
    # flagship parity invariants (the north_rule byte-identical checks)
    "pipeline_text_parity",
    "pipeline_entities_parity",
    "pipeline_fields_parity",
    "pipeline_cedulas",
    # dedup family (d_minhash_sig / d_simhash / d_simhash_near_dups are
    # subsumed in-window by the composites built directly on them; still
    # pytest-oracle-verified below the fold)
    "d_lsh_clusters",
    "d_minhash_lsh_portable",
    "d_simhash_clusters",
    # (d_exact_dedup displaced by d_bloom_hits: its keep-one-min-id rule is
    # pinned in-window by d_dedup_against_store's in-batch tier and the
    # t_curate_corpus funnel; still pytest-gated)
    "d_bloom_hits",
    "d_dedup_against_store",
    # (d_near_dedup_store displaced by a_hll_distinct — a brand-new family
    # (mergeable cardinality sketches) earns the row; the near-store probe
    # shape stays in-window via d_bloom_hits + d_dedup_against_store and
    # the whole near-dup store family remains pytest-oracle-gated)
    "a_hll_distinct",
    "d_url_dedup",
    # (d_ngram_jaccard displaced by t_span_dedup: its Jaccard-verify shape
    # stays in-window inside d_minhash_lsh_portable; still pytest-gated)
    "t_span_dedup",
    # similarity / ANN (s_topk_cosine, s_ivf_assign, s_near_dup_cosine are
    # subsumed by the batch/search/cluster composites over the same math)
    "s_topk_batch",
    "s_ivf_search",
    "s_topk_cosine_lsh",
    "s_cosine_clusters",
    "s_semantic_dedup",
    "s_kmeans",
    # curation / training-data tiers (lang-id, quality, repetition, token
    # counts all hash-verify inside t_curate_corpus's funnel rollup)
    "t_curate_corpus",
    "t_line_dedup",
    "t_decontaminate",
    "t_domain_cap",
    "t_pii_scrub",
    "t_tfidf_topk",
    "t_bigram_logprob",
    "t_pack_sequences",
    # (t_boilerplate_strip displaced by t_bm25_topk — the retrieval family
    # earns a row; the per-domain template-line shape stays pinned by
    # t_line_dedup's first-occurrence window + t_domain_cap's grouping)
    "t_bm25_topk",
    # (t_unigram_logprob displaced by g_crawl_diff: the decimal-exact LM
    # accumulation shape stays in-window via t_bigram_logprob;
    # t_token_budget displaced by t_ccnet_buckets — the CCNet head/middle/
    # tail tertile primitive composes the per-lang LM on top of the same
    # decimal discipline, and the greedy-budget cumsum shape stays pinned
    # by t_pack_sequences' identical per-stream cumsum window)
    "t_ccnet_buckets",
    "t_gopher_rules",
    # (t_dup_ngram_frac displaced by g_robots_filter — REP admission is a
    # new family; the gram-position-multiplicity shape stays pinned by
    # t_span_dedup's gram-window composite)
    "g_robots_filter",
    # web-graph family (host degrees composes link-extract + edges; the
    # blocklist row pins the broadcast suffix anti-join)
    "g_host_degrees",
    "g_blocklist",
    # multimodal: the real Arrow decode stage (m_binary_features' opaque
    # fingerprint/len shape hash-verifies inside it; still pytest-gated)
    "m_media_features",
    # int8 quantized ANN (composes s_quantize — the quantization arithmetic
    # hash-verifies through the top-k scores)
    "s_topk_quantized",
    # extraction operator families
    "x8_enrich_inject",
    "c1_classify",
    "x10_json_extract",
    "f1_validity_filter",
    "f_count_tolerance",
    # the whole normalizer family as two multi-column banks
    "n_scalar_bank",
    "n_parse_bank",
    # aggregates / windows / joins
    "a1_monto_total",
    "a2_status_rollup",
    "a8_percentiles",
    # (a9_rollup displaced by t_corpus_stats: the same grouping-sets /
    # subtotal shape over the corpus dashboard — newer and web-relevant)
    "t_corpus_stats",
    "w4_tumbling_window",
    "w5_sessionize",
    # CDX-style crawl snapshot diff (full-outer join + url-keyed reduces)
    "g_crawl_diff",
    # (g_html_text displaced by g_wet_curate in wave 3; wave 4 extends the
    # same chain again: g_crawl_to_shards = WET -> funnel survivors ->
    # materialized packed blocks, strictly more pipeline than g_wet_curate,
    # whose rollup-aggregate shape stays pinned by t_curate_corpus; j4's
    # broadcast equi-join shape stays in-window via x8_enrich_inject)
    "g_crawl_to_shards",
    "j5_asof_join",
    # --- 50-row window boundary: everything below still runs in the pytest
    # all-oracle parity gate (x1's bank is in-window via pipeline_cedulas;
    # q1/w1/j1 displaced by the gopher/dup-ngram/web-graph families, their
    # agg/window/join shapes remain via a1-a9/w4-w5/j4-j5; x3's validation
    # columns hash-verify inside pipeline_fields_parity; winnow/mixture
    # displaced by kmeans/near-store/bigram, families in-window via
    # m_binary_features fingerprint + domain_cap/token_budget sampling) ---
    "d_exact_dedup",
    "j4_taxonomy_join",
    "d_bloom_store_dedup",
    "x3_validation_score",
    "t_winnow_fingerprint",
    "t_mixture_sample",
    "x1_extract_cedula",
    "q1_pricing_summary",
    "w1_secuencia",
    "j1_equi_join",
    "d_simhash_near_dups",
    "c2_priority",
    "a4_success_rate",
    "w3_topk_per_group",
    "t_token_count",
    "t_repetition",
    "t_lang_id",
    "t_quality",
    "f5_success_split",
    "f6_schema_projection",
]


def _reorder_for_driver() -> None:
    front = [n for n in _DRIVER_PRIORITY if n in QUERY_FNS]
    rest = [n for n in QUERY_FNS if n not in set(front)]
    for d in (QUERY_FNS, ORACLES):
        ordered = {n: d[n] for n in front + rest if n in d}
        d.clear()
        d.update(ordered)


_reorder_for_driver()
