"""Scalar function surface (SURVEY.md §2.8): strings, dates, math, casts,
JSON, arrays, higher-order lambdas, maps, hashing, null-handling.

All functions run JVM-side inside whole-stage codegen — no Python UDFs in
this module. Oracle-parity notes are inline where Spark and DuckDB semantics
diverge (dayofweek numbering, floor/ceil return types, double→int cast
rounding, list_position null behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kse.queries._util import r6, t
from kse.registry import register

# ---------------------------------------------------------------------------
# strings
# ---------------------------------------------------------------------------


@register(
    "q_fn_string",
    oracle="""
SELECT doc_id,
       upper(substr(text, 1, 12)) AS head_u,
       length(text) AS n_len,
       concat_ws('-', lang, source) AS tag,
       lpad(lang, 5, '_') AS lang_pad,
       CAST(instr(text, 'a') AS BIGINT) AS pos_a,
       replace(substr(text, 1, 20), ' ', '_') AS head_us,
       trim(' ' || lang || ' ') AS lang_trim,
       regexp_extract(text, '^([a-z]+)', 1) AS first_word,
       regexp_replace(substr(text, 1, 20), '[aeiou]', '*', 'g') AS devowel,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
FROM documents
""",
    doc="String function battery over documents (concat/substr/case/trim/"
    "pad/instr/replace/regexp/split).",
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_u"),
        F.length("text").cast("bigint").alias("n_len"),
        F.concat_ws("-", "lang", "source").alias("tag"),
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.instr(F.col("text"), "a").cast("bigint").alias("pos_a"),
        F.replace(F.substring("text", 1, 20), F.lit(" "), F.lit("_")).alias("head_us"),
        F.trim(F.concat(F.lit(" "), F.col("lang"), F.lit(" "))).alias("lang_trim"),
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.substring("text", 1, 20), "[aeiou]", "*").alias("devowel"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# dates / timestamps
# ---------------------------------------------------------------------------


@register(
    "q_fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(day(o_orderdate) AS INT) AS d,
       CAST(quarter(o_orderdate) AS INT) AS q,
       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
       CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
       CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow
FROM orders
""",
    doc=(
        "Date/timestamp functions on o_orderdate. Parity notes: Spark "
        "dayofweek is 1=Sunday..7, DuckDB dow is 0=Sunday..6 → Spark side "
        "subtracts 1; date outputs serialize as ISO strings (never raw "
        "timestamps — SURVEY.md §7.6)."
    ),
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    od = F.col("o_orderdate")
    odate = od.cast("date")
    return o.select(
        "o_orderkey",
        F.year(od).alias("y"),
        F.month(od).alias("m"),
        F.dayofmonth(od).alias("d"),
        F.quarter(od).alias("q"),
        F.date_trunc("month", od).cast("date").cast("string").alias("month_start"),
        F.datediff(odate, F.lit("1995-01-01").cast("date")).alias("days_since"),
        # Spark serializes years >9999 with an ISO-8601 expanded-year sign
        # ('+10000-01-30'); DuckDB doesn't. Strip the sign so a date that
        # overflows 4 digits (planted by the timestamp-extremes battery:
        # 9999-12-31 + 30 days) renders identically on both engines.
        F.regexp_replace(F.date_add(odate, 30).cast("string"), r"^\+", "").alias("plus30"),
        F.last_day(odate).cast("string").alias("eom"),
        (F.dayofweek(odate) - 1).alias("dow"),
    )


@register(
    "q_fn_date_events",
    oracle="""
SELECT CAST(hour(ts) AS INT) AS h, CAST(minute(ts) AS INT) AS mi,
       CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       count(*) AS n
FROM events
GROUP BY 1, 2, 3
""",
    doc="Sub-day time parts over the event stream's ns-precision timestamps.",
)
def q_fn_date_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            F.hour("ts").alias("h"),
            F.minute("ts").alias("mi"),
            F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("day"),
        )
        .groupBy("h", "mi", "day")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# math
# ---------------------------------------------------------------------------


@register(
    "q_fn_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_extendedprice BETWEEN -90000000000000.0 AND 90000000000000.0
            THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) / 100.0
            ELSE l_extendedprice END AS price_r2,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       abs(l_discount - 0.05) AS disc_dev,
       l_quantity * l_quantity AS qty_sq,
       CASE WHEN l_quantity >= 0 THEN sqrt(l_quantity) END AS qty_sqrt,
       round(exp(l_discount), 6) AS disc_exp,
       CASE WHEN l_extendedprice > 0 THEN round(ln(l_extendedprice), 6) END AS price_ln,
       CASE WHEN l_extendedprice > 0 THEN round(log10(l_extendedprice), 6) END AS price_log10,
       l_linenumber % 3 AS ln_mod,
       CAST(sign(l_discount - 0.03) AS INT) AS disc_sign,
       greatest(l_quantity, 25.0) AS qty_hi,
       least(l_quantity, 25.0) AS qty_lo
FROM lineitem
""",
    doc=(
        "Math battery. Parity: floor/ceil cast to BIGINT on both sides "
        "(Spark returns LONG, DuckDB DOUBLE); squares via x*x not pow() "
        "(libm pow may differ in the last ulp across engines); "
        "transcendentals rounded to 6 dp; sqrt is IEEE-correctly-rounded "
        "in both so it needs no rounding. Cent rounding is the IEEE "
        "floor device, not round(x, 2): both engines hold the identical "
        "stored double, but Spark rounds via exact BigDecimal HALF_UP "
        "while DuckDB scales in floating point, and a value within an "
        "ulp of a .xx5 cent boundary flips between them (seed-10 fuzz "
        "find: 676891.54 vs .55). floor(x*100+0.5) is the same IEEE op "
        "sequence on both engines — deterministic, and exact while "
        "|x| <= 9e13 keeps the scaled value under 2^53; beyond that the "
        "double's own resolution is coarser than a cent and the raw "
        "value passes through (also covers NaN/±Inf, which fail "
        "BETWEEN on both engines). The 6-dp transcendental roundings "
        "stay round(): their INPUTS may already differ by an ulp "
        "(libm), so no device can pin them — the 6-dp quantum absorbs "
        "the difference instead."
    ),
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(p.between(-9.0e13, 9.0e13), F.floor(p * 100 + 0.5) / 100.0)
        .otherwise(p)
        .alias("price_r2"),
        F.floor(p).alias("price_floor"),
        F.ceil(p).alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (q * q).alias("qty_sq"),
        # domain-guarded: DuckDB sqrt/ln THROW on negatives while Spark
        # yields NaN/NULL — both sides define the out-of-domain result
        # as NULL, keeping the pair total over adversarial numerics
        F.when(q >= 0, F.sqrt(q)).alias("qty_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log(p), 6).alias("price_ln"),
        F.round(F.log10(p), 6).alias("price_log10"),
        (F.col("l_linenumber") % 3).alias("ln_mod"),
        F.signum(F.col("l_discount") - 0.03).cast("int").alias("disc_sign"),
        F.greatest(q, F.lit(25.0)).alias("qty_hi"),
        F.least(q, F.lit(25.0)).alias("qty_lo"),
    )


@register(
    "q_fn_cast",
    oracle="""
SELECT l_orderkey,
       CAST(l_linenumber AS DOUBLE) AS ln_d,
       CAST(l_orderkey AS VARCHAR) AS ok_s,
       CAST(CAST(l_linenumber AS VARCHAR) AS INT) AS ln_rt,
       CAST(floor(l_quantity) AS INT) AS qty_trunc,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day
FROM lineitem
""",
    doc=(
        "Cast battery. Parity trap: CAST(double AS INT) truncates in Spark "
        "but rounds in DuckDB — truncation is expressed as floor() on both "
        "sides (values are positive); double→string is avoided entirely "
        "(formatting differs)."
    ),
)
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("double").alias("ln_d"),
        F.col("l_orderkey").cast("string").alias("ok_s"),
        F.col("l_linenumber").cast("string").cast("int").alias("ln_rt"),
        F.floor("l_quantity").cast("int").alias("qty_trunc"),
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
    )


# ---------------------------------------------------------------------------
# JSON
# ---------------------------------------------------------------------------


@register(
    "q_fn_json",
    oracle="""
SELECT event_type,
       CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS INT) AS k,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
GROUP BY event_type, k
""",
    doc=(
        "JSON extraction from events.props ({\"k\": int} — FIXTURES.md), "
        "the core KSE transform [R]: parse → project → aggregate. "
        "Single-key extraction re-measured on Spark 4.1.2 at sf0.1 "
        "(cached input, best-of-7): get_json_object 39.6 ms, "
        "from_json('k INT') 44.3 ms, "
        "try_variant_get(try_parse_json(...)) 59.8 ms — the round-3 "
        "ordering (variant fastest) inverted, so the streaming JsonPath "
        "parser ships here. A regexp_extract shortcut is ~2x faster "
        "still but rejected: it reads JSON as text, so escaped quotes, "
        "nested objects with the same key, or whitespace variants "
        "silently corrupt it. from_json with an explicit schema — never "
        "inference — stays the multi-key / nested path, and the variant "
        "path remains the parse-once-extract-many shape (q_fn_variant). "
        "CLOSED (r10): the last untried lever on the 15-19x comparator "
        "ratio — shipping the parse to Python workers as Arrow batches "
        "and parsing with orjson (OPTIMIZATION_r10.md, value parity "
        "asserted, interleaved best-of-7 at the 10x tier) — LOSES: "
        "mapInPandas+orjson 618 ms best / 698 ms median vs "
        "get_json_object 385 / 509. The Arrow round-trip of props both "
        "ways plus Python worker dispatch exceeds orjson's ~10x "
        "per-object parse win at this value shape; the residual ratio "
        "is the JVM JSON-parse constant, priced and accepted."
    ),
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            # get_json_object: malformed/non-JSON props yield NULL (the
            # oracle's json_valid guard), and the value arrives as a
            # string — try_cast keeps a non-integer k NULL instead of an
            # ANSI error (same exposure as the oracle's CAST, which no
            # valid fixture row exercises: props' k is integer by schema)
            F.expr("try_cast(get_json_object(props, '$.k') AS int)").alias("k"),
            "value",
        )
        .groupBy("event_type", "k")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# arrays + higher-order functions
# ---------------------------------------------------------------------------


@register(
    "q_fn_array",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       string_split(text, ' ')[1] AS first_token,
       list_contains(string_split(text, ' '), 'the') AS has_the,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(coalesce(list_position(string_split(text, ' '), 'the'), 0) AS BIGINT)
       END AS the_pos,
       array_to_string(list_slice(string_split(text, ' '), 1, 3), ',') AS head3,
       array_to_string(list_sort(list_distinct(list_slice(string_split(text, ' '), 1, 8))), ',') AS head_vocab
FROM documents
""",
    doc=(
        "Array functions over tokenized text. Parity: Spark array_position "
        "returns 0 when absent, DuckDB list_position returns NULL → oracle "
        "coalesces; arrays serialize via array_to_string so the hash is "
        "representation-independent."
    ),
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.element_at(tok, 1).alias("first_token"),
        F.array_contains(tok, "the").alias("has_the"),
        F.array_position(tok, "the").alias("the_pos"),
        F.array_join(F.slice(tok, 1, 3), ",").alias("head3"),
        F.array_join(F.array_sort(F.array_distinct(F.slice(tok, 1, 8))), ",").alias(
            "head_vocab"
        ),
    )


@register(
    "q_fn_array_higher_order",
    oracle="""
SELECT vec_id, label,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
       CASE WHEN embedding IS NOT NULL THEN
         round(coalesce(list_sum(list_transform(list_filter(embedding, x -> x > 0),
               x -> CAST(x AS DOUBLE))), 0.0), 6)
       END AS sum_pos
FROM embeddings
""",
    doc=(
        "Higher-order lambdas (transform/filter/aggregate) computing vector "
        "norms JVM-side — no Python crossing. float32*float32 promoted to "
        "double is exact (24-bit mantissas), both engines fold "
        "left-to-right, so only the final round(6) guards the hash."
    ),
)
def q_fn_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "embeddings")
    sq_sum = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    pos_sum = F.expr(
        "aggregate(filter(embedding, x -> x > 0), CAST(0 AS DOUBLE),"
        " (acc, x) -> acc + CAST(x AS DOUBLE))"
    )
    return d.select(
        "vec_id",
        "label",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(pos_sum, 6).alias("sum_pos"),
    )


@register(
    "q_fn_map",
    oracle="""
SELECT event_id,
       array_to_string(map_keys(map(['type','k'], [event_type, CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END])), ',') AS keys_s,
       map(['type','k'], [event_type, CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END])['type'][1] AS type_val,
       CAST(cardinality(map(['type','k'], [event_type, CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END])) AS INT) AS m_size
FROM events
""",
    doc="Map functions over a map synthesized from events columns "
    "(create_map/map_keys/element_at/size); keys serialized to a string "
    "so the hash is representation-free (no map column in testdata).",
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("k"), F.get_json_object("props", "$.k")
    )
    return e.select(
        "event_id",
        F.concat_ws(",", F.map_keys(m)).alias("keys_s"),
        F.element_at(m, F.lit("type")).alias("type_val"),
        F.size(m).alias("m_size"),
    )


# ---------------------------------------------------------------------------
# hashing / null handling
# ---------------------------------------------------------------------------


@register(
    "q_fn_hash",
    oracle="""
SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256
FROM documents
""",
    doc="Content hashing for dedup keys (md5/sha256 are cross-engine "
    "stable; xxhash64 is Spark-internal and used only inside "
    "q_llm_dedup_* where no oracle parity is needed).",
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
    )


@register(
    "q_fn_null",
    oracle="""
SELECT o_orderkey,
       coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_c,
       ifnull(nullif(o_orderpriority, '5-LOW'), 'low') AS prio_c,
       nullif(o_orderstatus, 'F') IS NULL AS was_f
FROM orders
""",
    doc="coalesce / nullif / ifnull / null-predicates.",
)
def q_fn_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.expr("nullif(o_orderstatus, 'P')"), F.lit("pending")).alias("status_c"),
        F.ifnull(F.expr("nullif(o_orderpriority, '5-LOW')"), F.lit("low")).alias("prio_c"),
        F.expr("nullif(o_orderstatus, 'F')").isNull().alias("was_f"),
    )


@register(
    "q_fn_to_json",
    oracle="""
SELECT o_orderkey,
       to_json(struct_pack(
         id := o_orderkey,
         status := o_orderstatus,
         priority := o_orderpriority,
         yr := year(o_orderdate)
       )) AS doc
FROM orders
""",
    doc=(
        "Document assembly: each order rendered as the JSON document an "
        "indexer sink ships (the batch image of the pipeline's ES doc "
        "build — kse/streaming/pipeline.py does the same for window "
        "aggregates). to_json(struct(...)) emits byte-identical compact "
        "JSON in both engines for int/string fields (verified), so the "
        "serialized text itself is hash-checked, not just the values. "
        "ignoreNullFields=false: NULL fields serialize as explicit JSON "
        "nulls the way DuckDB's to_json does, instead of Spark's default "
        "field-dropping — an indexed document keeps its schema even when "
        "a value is missing. Map-only, embarrassingly parallel."
    ),
)
def q_fn_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
                F.year("o_orderdate").alias("yr"),
            ),
            {"ignoreNullFields": "false"},
        ).alias("doc"),
    )


@register(
    "q_fn_binary",
    oracle="""
SELECT doc_id,
       base64(encode(substring(text, 1, 16))) AS b64,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       CAST(bit_length(substring(text, 1, 8)) AS INT) AS n_bits
FROM documents
""",
    doc=(
        "Binary-type function surface: string→bytes encode, base64 "
        "rendering (the wire format binary payloads ship in — the "
        "multimodal columns' transport twin), and byte/bit lengths. "
        "Map-only; byte semantics agree across engines on the UTF-8 "
        "corpus."
    ),
)
def q_fn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.base64(F.encode(F.substring("text", 1, 16), "utf-8")).alias("b64"),
        F.octet_length("text").alias("n_bytes"),
        F.bit_length(F.substring("text", 1, 8)).alias("n_bits"),
    )


@register(
    "q_fn_variant",
    oracle="""
WITH j AS (
  SELECT event_id,
         '{"p": ' || props || ', "u": ' || CAST(user_id AS VARCHAR)
         || ', "tags": ["' || event_type || '"]}' AS doc
  FROM events
)
SELECT event_id,
       CAST(CASE WHEN json_valid(doc) THEN json_extract(doc, '$.p.k') END AS INT) AS k,
       CAST(CASE WHEN json_valid(doc) THEN json_extract(doc, '$.u') END AS BIGINT) AS u,
       CASE WHEN json_valid(doc) THEN json_extract_string(doc, '$.tags[0]') END AS tag0
FROM j
""",
    doc=(
        "Spark 4 VARIANT type: parse_json into the shredded binary "
        "variant encoding, then typed path extraction with variant_get "
        "('$.p.k' as int, '$.u' as bigint, '$.tags[0]' as string) over a "
        "nested document assembled from event fields. VARIANT is the "
        "scale answer to schema-on-read JSON columns — parse once into a "
        "binary form, then path access without per-query string "
        "re-parsing; the oracle runs the same paths through DuckDB's "
        "JSON extraction on the identical assembled text."
    ),
)
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"p": '),
        F.col("props"),
        F.lit(', "u": '),
        F.col("user_id").cast("string"),
        F.lit(', "tags": ["'),
        F.col("event_type"),
        F.lit('"]}'),
    )
    # try_parse_json: malformed payloads become a NULL variant (and NULL
    # extractions) instead of failing the batch — the ingest-robust form;
    # identical to parse_json on every well-formed row
    v = F.try_parse_json(doc)
    return e.select(
        "event_id",
        F.variant_get(v, "$.p.k", "int").alias("k"),
        F.variant_get(v, "$.u", "bigint").alias("u"),
        F.variant_get(v, "$.tags[0]", "string").alias("tag0"),
    )


@register(
    "q_fn_xml",
    # The Spark side assembles the fragment with F.concat, which
    # null-propagates: a NULL event_type OR value makes the whole XML
    # string NULL, so from_xml yields a NULL struct and BOTH extracted
    # children are NULL. The oracle mirrors that exactly instead of
    # projecting the raw columns — parity holds under NULL-riddled data,
    # not just the current NULL-free testdata.
    oracle="""
SELECT event_id,
       CASE WHEN event_type IS NULL OR value IS NULL THEN NULL
            ELSE trim(event_type) END AS t,
       CASE WHEN event_type IS NULL OR value IS NULL THEN NULL
            ELSE value END AS v
FROM events
""",
    doc=(
        "XML parse surface (from_xml, Spark 4): serialize event fields "
        "into an XML fragment, then parse it back with an explicit struct "
        "schema and extract typed children — the ingest shape for "
        "feed/config XML columns. The oracle projects the original "
        "columns (with the assembly's concat null-propagation mirrored: "
        "any NULL input nulls the whole parsed struct), so the hash gate "
        "proves a bit-exact round-trip (including double -> "
        "shortest-repr text -> double). Map-only; the parse happens "
        "inside codegen, no shuffle."
    ),
)
def q_fn_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><t>"),
        F.col("event_type"),
        F.lit("</t><v>"),
        F.col("value").cast("string"),
        F.lit("</v></e>"),
    )
    parsed = F.from_xml(xml, "t STRING, v DOUBLE")
    return e.select(
        "event_id",
        parsed.getField("t").alias("t"),
        parsed.getField("v").alias("v"),
    )


@register(
    "q_fn_from_csv",
    oracle="""
SELECT event_id, event_id AS a, event_type AS b, value AS c
FROM events
""",
    doc=(
        "Embedded-CSV parse surface (from_csv): assemble a CSV line from "
        "event fields and parse it back with an explicit schema — the "
        "pattern for CSV-in-a-column payloads (log lines, legacy exports) "
        "without a second read. Oracle projects the source columns: the "
        "hash gate verifies the full serialize->parse round-trip typing. "
        "Map-only, stays in codegen."
    ),
)
def q_fn_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    # NOT concat_ws: it SKIPS nulls, which would shift later fields left
    # (a NULL event_type would make `value` parse as column b). Explicit
    # comma concat keeps field positions; a NULL field yields an empty
    # slot that from_csv reads back as NULL, matching the oracle's raw
    # projection even on NULL-riddled data.
    # RFC-4180-quote the free-text field: a delimiter/quote/newline inside
    # event_type must survive the round-trip, so wrap-and-double-quotes at
    # assembly and parse with escape='"' (univocity's doubled-quote mode).
    # The numeric fields serialize to [-0-9.]-only text and need no quoting.
    # NULL writes a BARE empty slot (parses back to NULL), the empty
    # STRING writes a quoted "" (parses back to '') — the RFC convention
    # that keeps '' and NULL distinct through the round-trip
    b = F.col("event_type")
    b_quoted = (
        F.when(b.isNull(), F.lit(""))
        .when(b == "", F.lit('""'))
        .when(
            b.rlike('[",\n\r]'),
            F.concat(F.lit('"'), F.replace(b, F.lit('"'), F.lit('""')), F.lit('"')),
        )
        .otherwise(b)
    )
    line = F.concat(
        F.coalesce(F.col("event_id").cast("string"), F.lit("")),
        F.lit(","),
        b_quoted,
        F.lit(","),
        F.coalesce(F.col("value").cast("string"), F.lit("")),
    )
    # nullValue sentinel + emptyValue='': a bare empty slot parses to
    # NULL while a quoted "" parses to the empty string — without the
    # sentinel both collapse to NULL (nullValue defaults to '')
    parsed = F.from_csv(
        line,
        "a LONG, b STRING, c DOUBLE",
        {"escape": '"', "nullValue": "\\N", "emptyValue": ""},
    )
    return e.select(
        "event_id",
        parsed.getField("a").alias("a"),
        parsed.getField("b").alias("b"),
        parsed.getField("c").alias("c"),
    )
