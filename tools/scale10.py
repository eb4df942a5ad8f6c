"""Scaling-headroom harness: headline ops at 10x the bench tier.

Synthesizes sf~1 data (6M lineitem / 1.5M orders / 1M events / 50k docs /
20k vecs) with deterministic generators, writes it through the engine's
multi-file layout, and times the headline queries on Spark and DuckDB over
the *same* files. This is the repro behind DESIGN.md's "measured scaling
headroom" table: the claim under test is that plans are shuffle-bounded
(sub-linear wall-clock in rows on fixed cores) and that Spark's gap to an
in-process engine narrows as data grows.

Usage:  python tools/scale10.py [--rows-mult N] [--spark-only] [--ops a,b]
        (default mult 10; --spark-only skips the DuckDB comparison and the
        headline-ratio table — the mode for the 100x scale-failure hunt,
        where the question is "does the Spark plan survive", not "what is
        the ratio"; --ops restricts the timed list to a comma-separated
        subset for triage)
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from bench import HEADLINE  # noqa: E402
from kse import catalog, registry  # noqa: E402
from kse.session import get_session  # noqa: E402

# Scale-safe rewrites measured separately: their value is the plan shape
# (distributed prefix sum, banded equi-join, window-dedup composite, LSH
# candidate generation), so the 10x run is the evidence the rewrite
# actually scales. The near-dup family runs against the Zipfian generator
# below (a 30k-surface-form vocabulary with planted near-duplicate pairs);
# candidate counts and planted-pair recall are asserted after timing —
# a bounded candidate set is the property that keeps LSH dedup O(n) at
# 100 TB, so the run fails loudly if a generator or operator change
# reintroduces quadratic candidates.
SCALE_OPS = [
    "q_llm_shard_assign",
    "q_join_theta_banded",
    "q_join_theta_cdf",
    "q_agg_percentile_dist",
    "q_agg_percentile_disc_dist",
    "q_agg_winsorize_dist",
    "q_agg_pareto_dist",
    "q_win_range_between_dist",
    "q_win_ntile_percent_dist",
    "q_llm_curate",
    "q_win_sessionize",
    "q_ts_zscore",
    "q_ts_ewma",
    "q_llm_dedup_minhash",
    "q_llm_dedup_minhash_fast",
    "q_llm_dedup_cluster",
    "q_llm_dedup_cluster_bigstar",
    "q_llm_dedup_simhash",
    "q_llm_dedup_simhash_scaled",
    "q_udf_simhash_arrow",
    "q_llm_dedup_ngram_jaccard",
    "q_llm_kmeans",
    "q_llm_chunk",
    "q_llm_domain_cap",
    "q_llm_dedup_url",
    "q_graph_triangles",
    "q_graph_jaccard_neighbors",
    # embedding family at 20k vectors: brute force must stay
    # WindowGroupLimit-bounded, the bucketed variants must stay
    # equi-join-bounded, and the evaluator measures both probes' recall
    "q_llm_sim_knn_batch",
    "q_llm_sim_lsh_ann",
    "q_llm_sim_ivf",
    "q_llm_dedup_embed",
    "q_llm_dedup_semantic",
    "q_llm_dedup_semantic_arrow",
    "q_llm_dedup_substring",
    "q_llm_sim_ann_recall",
    "q_llm_dedup_incremental",
    "q_sql_scd2_incremental",
    # decision-support heavies at 6M lineitem rows: the fact table only
    # shuffles on its join/agg keys, dims broadcast, Q1 is one codegen
    # span, Q21 runs semi+anti over the same 6M-row fact
    "q_tpch_q1",
    "q_tpch_q2",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q13",
    "q_tpch_q16",
    "q_tpch_q20",
    "q_tpch_q21",
    # Graph-op timings run on the eagerly localCheckpoint-ed edge table
    # (_copurchase_edges), so they measure the ALGORITHM on materialized
    # edges while DuckDB's oracle re-derives edges inside every run. The
    # one-time derivation cost is therefore timed and printed separately
    # below — read spark_graph_total = derivation + per-op times when
    # comparing end-to-end. q_graph_pagerank stays out of the ratio table
    # (6 chained iterations make its oracle CTE-materialization-bound, a
    # recursion-engine comparison already covered by dedup_cluster).
    # q_llm_dedup_editdist stays at the sf0.1 tier: length-banding blocks
    # O(n²) only when lengths cluster; on this corpus's uniform 100-600
    # char spread, 50k docs put ~1.6k docs per 16-char band, i.e. ~10⁸
    # thresholded levenshtein calls (and DuckDB's levenshtein has no
    # threshold arg, so the oracle pays full-DP). The honest 100 TB path
    # for edit-distance dedup is LSH/minhash candidate generation FIRST,
    # then editdist verification on those candidates — which is exactly
    # what q_llm_dedup_ngram_jaccard measures above.
]

# Documents vocabulary: ranks sampled log-uniformly over 30k surface forms
# (P(rank r) ∝ 1/r — Zipf s≈1, the empirical shape of natural-language
# token frequency). The previous 16-word uniform vocab made every doc an
# LSH candidate of every other, so a dedup timing measured the generator's
# degeneracy, not the operator (DESIGN.md's round-2 exclusion). 2% of docs
# (id % 50 == 1) are planted near-duplicates of their predecessor: same
# word sequence with ~4% of positions resampled, landing shingle-Jaccard
# around 0.8-0.9 — inside MinHash's 4x4 banding sweet spot.
_VOCAB = 30_000
_DUP_EVERY = 50  # id % 50 == 1 -> near-dup of id-1
_MUT_ONE_IN = 40  # per-position resample probability for planted dups
# (1/40 per token -> 3-shingle survival 0.975^3 ≈ 0.93 -> Jaccard ≈ 0.86
#  -> 4x4-band hit probability ≈ 0.96, comfortably above the recall gate)


def _zipf_word(base, i, seed: int):
    u = F.pmod(F.xxhash64(base, i, F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0
    return F.concat(
        F.lit("w"), F.floor(F.pow(F.lit(float(_VOCAB)), u)).cast("long")
    )


def synthesize(spark, dest: str, mult: int) -> None:
    """Deterministic generators shaped like FIXTURES.md's domains."""
    n_li, n_ord, n_cust = 600_000 * mult, 150_000 * mult, 15_000 * mult
    n_ev, n_doc, n_vec = 100_000 * mult, 5_000 * mult, 2_000 * mult

    def w(df, name, n_files):
        df.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(dest, f"{name}.parquet")
        )

    r = spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        F.concat(F.lit("REGION#"), F.col("id")).alias("r_name"),
    )
    w(r, "region", 1)
    n = spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION#"), F.col("id")).alias("n_name"),
        (F.col("id") % 5).cast("int").alias("n_regionkey"),
    )
    w(n, "nation", 1)
    c = spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id")).alias("c_name"),
        (F.col("id") % 25).cast("int").alias("c_nationkey"),
        (F.pmod(F.xxhash64("id"), F.lit(100000)) / 100.0 - 100.0).alias("c_acctbal"),
        F.element_at(
            F.array(*[F.lit(s) for s in ["AUTO", "BUILD", "HOUSE", "MACH", "FURN"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("c_mktsegment"),
    )
    w(c, "customer", 2)
    s = spark.range(1_000 * mult).select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id")).alias("s_name"),
        (F.col("id") % 25).cast("int").alias("s_nationkey"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100000)) / 100.0).alias("s_acctbal"),
    )
    w(s, "supplier", 1)
    p = spark.range(20_000 * mult).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.lit("part "), F.col("id")).alias("p_name"),
        F.concat(F.lit("Brand#"), (F.col("id") % 50 + 1)).alias("p_brand"),
        F.concat(F.lit("TYPE "), (F.col("id") % 30)).alias("p_type"),
        (F.col("id") % 50 + 1).cast("int").alias("p_size"),
        (900.0 + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(120000)) / 100.0).alias(
            "p_retailprice"
        ),
    )
    w(p, "part", 2)
    o = spark.range(n_ord).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n_cust)).alias("o_custkey"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F"), F.lit("P")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("o_orderstatus"),
        (1000.0 + F.pmod(F.xxhash64("id", F.lit(4)), F.lit(50_000_000)) / 100.0).alias(
            "o_totalprice"
        ),
        F.timestamp_micros(
            (F.lit(694224000_000_000) + F.pmod(F.xxhash64("id", F.lit(5)), F.lit(220_000_000)) * F.lit(1_000_000)).cast("long")
        ).cast("timestamp_ntz").alias("o_orderdate"),
        F.concat(F.lit("PRIORITY-"), (F.col("id") % 5)).alias("o_orderpriority"),
    )
    w(o, "orders", 4 * max(1, mult // 2))
    li = spark.range(n_li).select(
        F.pmod(F.xxhash64("id", F.lit(6)), F.lit(n_ord)).alias("l_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(20_000 * mult)).alias("l_partkey"),
        F.pmod(F.xxhash64("id", F.lit(8)), F.lit(1_000 * mult)).alias("l_suppkey"),
        (F.col("id") % 7 + 1).cast("int").alias("l_linenumber"),
        (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(50)) + 1).cast("double").alias("l_quantity"),
        (901.0 + F.pmod(F.xxhash64("id", F.lit(10)), F.lit(10_000_000)) / 100.0).alias(
            "l_extendedprice"
        ),
        (F.pmod(F.xxhash64("id", F.lit(11)), F.lit(11)) / 100.0).alias("l_discount"),
        (F.pmod(F.xxhash64("id", F.lit(12)), F.lit(9)) / 100.0).alias("l_tax"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("l_returnflag"),
        F.element_at(
            F.array(F.lit("O"), F.lit("F")), (F.col("id") % 2 + 1).cast("int")
        ).alias("l_linestatus"),
        F.timestamp_micros(
            (F.lit(788918400_000_000) + F.pmod(F.xxhash64("id", F.lit(13)), F.lit(215_000_000)) * F.lit(1_000_000)).cast("long")
        ).cast("timestamp_ntz").alias("l_shipdate"),
    )
    w(li, "lineitem", 16 * max(1, mult // 2))
    ev = spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(1704067200_000_000) + F.pmod(F.xxhash64("id", F.lit(14)), F.lit(2_592_000)) * F.lit(1_000_000)).cast("long")
        ).cast("timestamp_ntz").alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(15)), F.lit(1000 * mult)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(s) for s in ["click", "view", "purchase", "signup", "error"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(16)), F.lit(100000)) / 1000.0).alias("value"),
        F.concat(F.lit('{"k": '), F.pmod(F.xxhash64("id", F.lit(17)), F.lit(100)), F.lit("}")).alias("props"),
    )
    w(ev, "events", 8 * max(1, mult // 2))
    is_dup = (F.col("id") % _DUP_EVERY == 1) & (F.col("id") > 0)
    base = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    docs = spark.range(n_doc).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), (F.pmod(F.xxhash64(base, F.lit(18)), F.lit(80)) + 20).cast("int")),
                lambda i: F.when(
                    is_dup
                    & (F.pmod(F.xxhash64(F.col("id"), i, F.lit(999)), F.lit(_MUT_ONE_IN)) == 0),
                    _zipf_word(F.col("id"), i, 777),
                ).otherwise(_zipf_word(base, i, 18)),
            ),
        ).alias("text"),
        F.element_at(
            F.array(*[F.lit(s) for s in ["de", "en", "es", "fr", "zh"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src-"), (F.col("id") % 7)).alias("source"),
        F.lit(0).cast("long").alias("n_chars"),
    ).withColumn("n_chars", F.length("text"))
    w(docs, "documents", 4)
    emb = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) / 1000.0 - 1.0).cast("float"),
        ).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    )
    w(emb, "embeddings", 4)


CANARY_THRESHOLD = 1.5

# Timing columns EXCLUDED from the trailing-median reference, as
# (artifact-basename, column) pairs. An invalid column that stays in the
# reference poisons every later round's canary: the first r9 run flagged
# 12 queries whose readings sat within 1.3x of r7 — they only looked
# drifted because r8's ballooned DuckDB column (declared "flattering
# noise ... the comparator ballooned 2.6x mid-run" by the r8 verdict,
# 2-10x above BOTH its r7 and r9 neighbours on 10 of the 12) had dragged
# the 2-sample median up.
EXCLUDED_COLUMNS = {("SCALE_r08.json", "duckdb")}


def _artifact_status(pdata: dict, column: str) -> dict[str, str] | None:
    """Per-query flag status for ``column`` in one committed artifact:
    ``{name: "up" | "down"}`` for the rows its failed canary named,
    ``{}`` when the column is clean, ``None`` for "whole column invalid"
    (legacy artifacts whose whole-artifact canary_ok flag is False carry
    no per-query map, and a failed canary dict with an empty/missing
    flagged map names nothing, so everything stays suspect).

    Naming ONLY the flagged rows (r10) keeps the un-flagged readings in
    the reference — they passed the same drift check as a fully-green
    run's; dropping the whole column (the pre-r10 behavior) drained the
    pool to a single round (the r10 advisor's finding). Direction is
    read from the flag record itself (value vs its then-median); a flag
    with no direction information counts as "down" (unknowable stays
    excluded)."""
    key = "canary" if column == "duckdb" else "canary_spark"
    if key in pdata:
        c = pdata.get(key) or {}
        if c.get("ok") is False:
            flagged = c.get("flagged")
            if not flagged:
                return None
            label = "duckdb" if column == "duckdb" else "spark"
            out = {}
            for name, fl in flagged.items():
                val = (fl or {}).get(label)
                med = (fl or {}).get("trailing_median")
                up = val is not None and med is not None and val > med
                out[name] = "up" if up else "down"
            return out
        return {}
    if column == "duckdb" and pdata.get("canary_ok") is False:
        return None
    return {}


# Band reference window: the band is the (min, max) of the last K included
# artifacts only. An all-time band can only widen monotonically, so canary
# sensitivity would degrade round over round (r11 advisor); windowing lets
# a one-off wide committed reading age out of the gate after K rounds.
_BAND_WINDOW = 4

# Durable-shift healing: a query upward-flagged in this many CONSECUTIVE
# committed artifacts is a durable shift (host characteristic, engine or
# comparator), not load — its flagged readings join the reference (median
# AND band) so it stops re-flagging forever. One flagged round alone never
# enters the band (r11 advisor: a single load-ballooned round must not
# raise the silent-pass ceiling).
_HEAL_RUNS = 2


def _trailing_values(
    repo_root: str, mult: int, column: str = "duckdb", band: bool = False
) -> dict[str, list[float]]:
    """Per-query list of ``column`` readings across committed
    SCALE_r*.json artifacts at the same rows_mult. Skips (artifact,
    column) pairs in EXCLUDED_COLUMNS and applies the per-row flag rules:

    - unflagged readings feed both the median and the band; the BAND
      additionally windows to the last ``_BAND_WINDOW`` included
      artifacts (``band=True``) so it cannot widen monotonically forever;
    - an UPWARD-flagged comparator row still feeds the MEDIAN (r10: its
      recorded value is a min-of->=4 that ambient load can only inflate,
      and permanent exclusion drained q_llm_dedup_simhash_scaled's
      reference to one pre-shift round) but NOT the band — one ballooned
      round must not raise the band's silent-pass ceiling (r11 advisor);
    - a query upward-flagged in >= ``_HEAL_RUNS`` consecutive artifacts
      is a confirmed durable shift: those readings join the reference
      fully, for BOTH columns — this is the healing path for the
      engine-side host-characteristic shift the r10 artifact documents
      (q_llm_dedup_semantic_arrow, flagged r9 and r10), which could
      otherwise never stop re-flagging (r11 advisor);
    - DOWNWARD-flagged rows (the timer-glitch class) stay excluded."""
    import glob as _glob
    import json as _json

    arts: list[tuple[dict[str, str], dict[str, float]]] = []
    for prior in sorted(_glob.glob(os.path.join(repo_root, "SCALE_r*.json"))):
        if (os.path.basename(prior), column) in EXCLUDED_COLUMNS:
            continue
        try:
            with open(prior) as f:
                pdata = _json.loads(f.read())
        except Exception:
            continue
        if pdata.get("rows_mult") != mult:
            continue
        status = _artifact_status(pdata, column)
        if status is None:
            continue
        vals = {
            qname: (row or {}).get(column)
            for qname, row in (pdata.get("queries") or {}).items()
        }
        arts.append((dict(status), {q: v for q, v in vals.items() if v}))

    # durable-shift healing: runs of >= _HEAL_RUNS consecutive "up" flags
    # (consecutive among the artifacts where the query has a reading)
    # reclassify to "ok" in place
    seq: dict[str, list[tuple[int, str]]] = {}
    for i, (status, vals) in enumerate(arts):
        for q in vals:
            seq.setdefault(q, []).append((i, status.get(q, "ok")))
    for q, entries in seq.items():
        run: list[int] = []
        for i, s in entries + [(-1, "ok")]:  # sentinel flushes the tail run
            if s == "up":
                run.append(i)
                continue
            if len(run) >= _HEAL_RUNS:
                for j in run:
                    arts[j][0][q] = "ok"
            run = []

    trailing: dict[str, list[float]] = {}
    for status, vals in arts[-_BAND_WINDOW:] if band else arts:
        for qname, dt in vals.items():
            s = status.get(qname, "ok")
            if s == "ok" or (s == "up" and column == "duckdb" and not band):
                trailing.setdefault(qname, []).append(dt)
    return trailing


def trailing_medians(
    repo_root: str, mult: int, column: str = "duckdb"
) -> dict[str, float]:
    """Per-query median of ``column`` across committed SCALE_r*.json
    artifacts at the same rows_mult — the drift reference for
    canary_check (see _trailing_values for the inclusion rules)."""
    import statistics as _stats

    return {
        q: _stats.median(v)
        for q, v in _trailing_values(repo_root, mult, column).items()
        if _stats.median(v) > 0
    }


def trailing_bands(
    repo_root: str, mult: int, column: str = "duckdb"
) -> dict[str, tuple[float, float]]:
    """Per-query (min, max) of ``column`` across the same included
    readings as trailing_medians — the committed VARIANCE BAND the canary
    measures drift against since r10. Rationale, from five full 10x runs
    this round on one quiet box: sub-second queries' committed readings
    legitimately span >2x across rounds (q_graph_triangles spark:
    0.32/0.53/0.81 s in r7/r8/r9), so a 1.5x gate on the MEDIAN flags a
    different near-line query almost every run — run 4 flagged a
    triangles reading (0.714 s) FASTER than r9's committed 0.815 s for
    the same unchanged plan. Measuring drift from the band edges instead
    (> threshold x trailing max, or < trailing min / threshold) stops
    condemning readings that sit inside the already-committed historical
    range while still catching the r8 failure class (the comparator
    balloon read 2-10x above BOTH its neighbours, far outside any band)."""
    return {
        q: (min(v), max(v))
        for q, v in _trailing_values(repo_root, mult, column, band=True).items()
        if min(v) > 0
    }


def canary_check(
    col_t,
    medians,
    remeasure,
    threshold=CANARY_THRESHOLD,
    label="duckdb",
    flag_down=True,
    floor_abs=0.010,
    bands=None,
) -> dict:
    """Drift-check one timing column in place (r8 verdict item #2; run on
    BOTH columns since r9 — the engine side drifts too, see canary_spark).

    A reading that drifts >``threshold``x (either direction) from its
    trailing-round median is re-measured once via ``remeasure(name)``
    (direction-aware: upward drift keeps the BEST of the two — a fast
    re-run heals a load spike; downward drift keeps the WORST — a
    normal-speed re-run heals a too-fast glitch); a reading that STAYS
    drifted lands in the returned dict's
    ``flagged`` map so the artifact self-describes which rows are suspect.
    ``ok`` is True iff no unresolved drift remains. SCALE_r08's 0.67x
    headline (comparator ballooned 2.6x mid-run) and the phantom r8 q16
    regression (DuckDB 71.5 -> 51 ms across rounds, Spark flat) are the
    failure class this closes. Pure function over the timing dicts plus an
    injected re-measure callback — unit-tested without Spark or DuckDB in
    tests/test_contract.py.

    ``flag_down=False`` (the engine column) treats downward drift as a
    legitimate plan improvement — the rounds exist to push those readings
    down — and only records it informationally in ``improved``; upward
    drift (ambient load, JIT cold start, a plan regression) still
    re-measures and flags. The comparator keeps both directions suspect:
    its engine never changes between rounds.

    ``floor_abs``: readings within this many SECONDS of their median are
    in-band regardless of ratio — a 1.5x RATIO gate on a dispatch-floor
    reading flags pure timer jitter (the third r9 run's only "drift" was
    domain_cap's comparator at 17 vs 11 ms: 1.6x, six milliseconds). A
    genuine balloon on a tiny query still flags the moment it exceeds
    the floor in absolute terms.

    ``bands``: optional per-query (min, max) of the same trailing
    readings the median came from (trailing_bands). When given, drift is
    measured from the BAND EDGES — upward means > threshold x trailing
    max, downward means < trailing min / threshold — instead of from the
    median. See trailing_bands' docstring for the five-run evidence
    behind this (r10): committed sub-second readings legitimately span
    >2x across rounds, so a median-anchored 1.5x gate flags a different
    near-line query almost every run, including readings FASTER than the
    previous round's committed value. With ``bands=None`` the band
    collapses to (median, median) and behavior is unchanged."""
    canary = {"threshold": threshold, "flagged": {}, "ok": True}
    for name, cur in list(col_t.items()):
        med = medians.get(name)
        if not med:
            continue
        lo, hi = (bands or {}).get(name, (med, med))
        lo, hi = min(lo, med), max(hi, med)
        if abs(cur - med) < floor_abs or (lo - floor_abs) <= cur <= (hi + floor_abs):
            continue
        drift = cur / hi if cur > hi else lo / cur
        if drift <= threshold:
            continue
        if cur < lo and not flag_down:
            canary.setdefault("improved", {})[name] = {
                label: round(cur, 4),
                "trailing_median": round(med, 4),
            }
            continue
        # Direction-aware healing: for UPWARD drift keep the best of
        # (current, re-measure) — a faster re-run proves the spike was
        # transient load. For DOWNWARD drift keep the WORST — a
        # normal-speed re-run proves the too-fast reading was a glitch
        # (cache-hot page, timer skip) and adopts the confirmed-normal
        # value; min() here could never heal (re-measure can only lower
        # the kept value), so every transient fast glitch persisted to
        # ok=False — the r9 q_llm_sim_knn_batch flag, and the r10
        # advisor's medium finding.
        re_t = remeasure(name)
        rerun = min(cur, re_t) if cur > hi else max(cur, re_t)
        col_t[name] = rerun
        re_drift = rerun / hi if rerun > hi else (lo / rerun if rerun < lo else 1.0)
        if re_drift > threshold:
            canary["ok"] = False
            canary["flagged"][name] = {
                label: round(rerun, 4),
                "trailing_median": round(med, 4),
                "trailing_band": [round(lo, 4), round(hi, 4)],
                "drift": round(re_drift, 3),
            }
            print(
                f"# CANARY drift persists for {name}: {label} "
                f"{rerun*1000:.0f} ms vs trailing band "
                f"[{lo*1000:.0f}, {hi*1000:.0f}] ms"
            )
        else:
            print(
                f"# canary re-measured {name} ({label}): {cur*1000:.0f} -> "
                f"{rerun*1000:.0f} ms (trailing band "
                f"[{lo*1000:.0f}, {hi*1000:.0f}] ms)"
            )
    return canary


def scd2_reference(root: str) -> tuple[float, float] | None:
    """(min, median) of the q_sql_scd2_incremental Spark readings in the
    committed 10x SCALE_r*.json artifacts under ``root``; None when there
    are none. For an even count the median is the mean of the middle two
    readings, so it never sits above the upper-middle one."""
    import glob
    import json

    out = []
    for p in sorted(glob.glob(os.path.join(root, "SCALE_r*.json"))):
        try:
            with open(p) as f:
                pdata = json.loads(f.read())
        except Exception:
            continue
        row = (pdata.get("queries") or {}).get("q_sql_scd2_incremental")
        if pdata.get("rows_mult") == 10 and row and row.get("spark"):
            out.append(row["spark"])
    return (min(out), statistics.median(out)) if out else None


def overall_canary_ok(canary: dict, canary_spark: dict) -> bool | None:
    """The artifact's ``canary_ok``: both timing columns survived their drift
    checks. None when neither was checked (``--spark-only`` with ``--once``),
    so an unchecked artifact never reads as a passing one."""
    if "skipped" in canary and "skipped" in canary_spark:
        return None
    return canary["ok"] and canary_spark["ok"]


def main() -> None:
    mult = 10
    if "--rows-mult" in sys.argv:
        mult = int(sys.argv[sys.argv.index("--rows-mult") + 1])
    spark_only = "--spark-only" in sys.argv
    once = "--once" in sys.argv  # 0 warm-ups, 1 timed run: the survival
    # sweep (does every plan COMPLETE at this tier), not a measurement
    registry_sweep = "--registry" in sys.argv  # survival-run every
    # registered query NOT already in the timed lists (implies the skip
    # list below: queries whose 100x degeneracy is a documented property
    # of the GENERATOR, not the plan)
    only_ops = None
    if "--ops" in sys.argv:
        only_ops = set(sys.argv[sys.argv.index("--ops") + 1].split(","))
    json_path = None  # --json PATH: machine-readable SCALE_r{N}.json artifact
    if "--json" in sys.argv:
        json_path = sys.argv[sys.argv.index("--json") + 1]
    dest = f"/tmp/kse-scale{mult}x"
    spark = get_session("kse-scale10")
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(os.path.join(dest, "_DONE")):
        shutil.rmtree(dest, ignore_errors=True)
        t0 = time.perf_counter()
        synthesize(spark, dest, mult)
        open(os.path.join(dest, "_DONE"), "w").close()
        print(f"# synthesized {mult}x at {dest} in {time.perf_counter()-t0:.1f}s")

    # the generated dir IS the engine layout (multi-file, micros timestamps)
    catalog._LAYOUTS[dest] = dest

    # fact tables additionally land as bucketed tables, mirroring
    # prepare_local_layout's full _LAYOUT_BUCKETS map (events by user_id
    # for the per-user window ops; lineitem/orders by orderkey so the
    # join-heavy ops measure the CO-LOCATED plan they'd run at 100 TB —
    # bucket-pruned scans, no fact-side Exchange before the join)
    import hashlib

    tag = hashlib.md5(dest.encode()).hexdigest()[:8]
    for tname, key in catalog._LAYOUT_BUCKETS.items():
        tbl = f"kse_s10_{tname}_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            spark.read.parquet(os.path.join(dest, f"{tname}.parquet"))
            .repartition(16, key)
            .write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(dest, f"{tname}_bucketed"))
            .bucketBy(16, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
        catalog._LAYOUT_TABLES[(dest, tname)] = tbl

    def mat(df):
        df.write.mode("overwrite").format("noop").save()

    qs = registry.all_queries()
    timed = HEADLINE + SCALE_OPS
    if registry_sweep:
        # Documented exclusions, each a generator-degeneracy, not a plan
        # property (see the SCALE_OPS comment block for editdist):
        # - q_join_theta: the RAW BroadcastNestedLoop strategy, kept
        #   registered for genuinely broadcast-small sides; at 100x the
        #   fixed value domain makes its output quadratic (2e11 compares)
        #   — q_join_theta_banded/_cdf are its scale shapes, both timed.
        # - q_llm_dedup_editdist: length-banding can't block a uniform
        #   100-600 char spread; the 100 TB path is LSH-first (timed).
        # - q_agg_percentile: Spark's exact `percentile` aggregate buffers
        #   a value->count map per group — ~10M distinct prices at 100x
        #   OOMed the 8g heap (measured by this sweep). Operator property,
        #   not a plan bug; its two scale shapes ARE timed:
        #   q_agg_approx_percentile (GK sketch, bounded) and
        #   q_agg_percentile_dist (exact histogram rank-selection).
        # - q_agg_percentile_disc: same buffering aggregate class as
        #   q_agg_percentile (55 s at 100x, measured; OOMs past that) —
        #   its bounded-memory twin q_agg_percentile_disc_dist IS timed
        #   (21.7 s at 100x, identical output and oracle).
        # - q_win_range_between: the canonical RANGE-frame window form
        #   PARTITIONs BY the 3-value status column, so at any scale the
        #   sort runs on at most 3 tasks (761 s at 100x, measured by this
        #   sweep) — an operator-shape property, not a plan bug. Its
        #   scale shape q_win_range_between_dist (prefix-sum value-range
        #   counts, 32-way stages) IS timed: 24 s at 100x.
        skip = {
            "q_join_theta",
            "q_llm_dedup_editdist",
            "q_agg_percentile",
            "q_agg_percentile_disc",
            "q_win_range_between",
        }
        # ONE artifact covering every registered query (r9 verdict item
        # 6): the sweep includes the HEADLINE/SCALE_OPS names too — under
        # --once they cost one cold run like everyone else, and the
        # resulting JSON lists a completion time (or a documented skip
        # above) for the full registry instead of "everything except the
        # 53 already-timed names".
        timed = sorted(n for n in qs if n not in skip)
        sweep_skips = sorted(skip & set(qs))
        for name in sweep_skips:
            print(f"# registry sweep skip (documented generator degeneracy): {name}")
    if only_ops is not None:
        unknown = only_ops - set(qs)
        if unknown:
            raise SystemExit(f"--ops names not registered: {sorted(unknown)}")
        timed = [n for n in timed if n in only_ops] + sorted(
            only_ops - set(timed)
        )
    for _ in range(0 if once else 2):
        for name in timed:
            print(f"# warm {name}", flush=True)
            mat(qs[name].fn(spark, dest))
    spark_t: dict[str, float] = {}
    spark_err: dict[str, str] = {}
    for name in timed:
        best = float("inf")
        for _ in range(1 if once else 3):
            print(f"# run {name}", flush=True)
            t0 = time.perf_counter()
            try:
                mat(qs[name].fn(spark, dest))
            except Exception as exc:
                if not once:
                    raise
                # Survival sweep: a query that cannot COMPLETE at this
                # tier is the sweep's most important possible finding —
                # record it per-name and keep sweeping instead of dying
                # with a partial artifact (the first r10 100x sweep died
                # 96 queries in when q_llm_overlap_matrix's shuffled-hash
                # build exhausted execution memory, losing the record of
                # everything after it in the alphabet).
                msg = f"{type(exc).__name__}: {exc}"
                spark_err[name] = msg.splitlines()[0][:300]
                print(f"# SURVIVAL FAIL {name}: {spark_err[name]}", flush=True)
                break
            best = min(best, time.perf_counter() - t0)
        if name not in spark_err:
            spark_t[name] = best

    # Spark-column canary, symmetric with the comparator one below: the
    # second r9 battery proved the ENGINE column drifts too — its early
    # (headline) ops read uniformly 1.3-2.7x above the same-day first run
    # while the late TPC-H ops matched, the signature of a colder JVM
    # (that run skipped synthesis, so timing started thousands of tasks
    # earlier in the JIT's life). Same mechanism: >1.5x from the trailing
    # per-query median re-measures best-of-3 (by then the JVM is warm, so
    # a JIT artifact heals in place); persistent drift is flagged in
    # canary_spark. Skipped for --once survival sweeps — cold single
    # runs are the point there, not measurements.
    _root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def spark_best(name: str, runs: int = 3) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            mat(qs[name].fn(spark, dest))
            best = min(best, time.perf_counter() - t0)
        return best

    if once:
        canary_spark = {"threshold": CANARY_THRESHOLD, "flagged": {}, "ok": True, "skipped": "--once"}
    else:
        canary_spark = canary_check(
            spark_t,
            trailing_medians(_root, mult, "spark"),
            spark_best,
            label="spark",
            flag_down=False,
            bands=trailing_bands(_root, mult, "spark"),
        )

    # Fixed-cost invariance pin (r8 verdict item #6): scd2_incremental's
    # docstring prices the op as constant-bound — dispatch + a few
    # delta/history scans, data work negligible. Make that claim a
    # regression-pinned fact instead of prose: at the 100x survival tier
    # the op's ABSOLUTE time must stay under 4x its committed 10x-tier
    # reading (10x more data at <4x the time = the sublinear signature;
    # a rebuild-shaped regression would scale ~linearly and trip this).
    _SCD2 = "q_sql_scd2_incremental"
    if mult >= 50 and _SCD2 in spark_t:
        ref10 = scd2_reference(_root)
        if ref10:
            # Reference = MEDIAN of the committed 10x readings, not the min:
            # the min mixes postures — the 10x artifact is warm best-of-3
            # while this tier is once-cold, so one fast-host draw (r11's
            # 0.37 s after the single-lookup rewrite) drags a min-anchored
            # bound below the 100x COLD floor (JIT + first-plan codegen)
            # and flags a run whose 100x absolute actually IMPROVED
            # (r10 2.07 s -> r11 1.63 s). Same robust-reference rationale
            # as the band canary's r11 ADVICE fixes; a genuine rebuild-
            # shaped regression adds >= one full-feed scan per lookup at
            # this tier and still lands far past 4x the median.
            lo, ref = ref10
            bound = 4 * ref
            status = "OK" if spark_t[_SCD2] < bound else "FAIL"
            print(
                f"# scd2 fixed-cost invariance: {spark_t[_SCD2]:.2f} s at "
                f"{mult}x vs committed 10x readings min {lo:.2f} / "
                f"median {ref:.2f} s (bound 4x median = {bound:.2f} s) "
                f"-> {status}"
            )
            assert spark_t[_SCD2] < bound, (
                "q_sql_scd2_incremental lost its fixed-cost shape: "
                f"{spark_t[_SCD2]:.2f} s at {mult}x vs {ref:.2f} s median "
                "committed at 10x — the apply is scaling with the feed, "
                "which means a rebuild-shaped scan crept in"
            )
        else:
            print("# scd2 fixed-cost invariance: no committed 10x reading, skipped")

    duck_t: dict[str, float] = {}
    if spark_only:
        # --spark-only still writes the --json artifact (the 100x
        # registry survival sweep is spark-only by design — its point is
        # completion, not a comparator ratio); duckdb fields emit None.
        print("# duckdb comparison skipped: --spark-only")
        canary = {
            "threshold": CANARY_THRESHOLD,
            "flagged": {},
            "ok": True,
            "skipped": "--spark-only",
        }
    else:
      try:
        import duckdb

        con = duckdb.connect()
        for t in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dest}/{t}.parquet/*.parquet')"
            )
        for _ in range(1):
            for name in timed:
                if qs[name].oracle:
                    con.execute(qs[name].oracle).fetchall()
        def duck_best(name, runs=3):
            best = float("inf")
            for _ in range(runs):
                t0 = time.perf_counter()
                con.execute(qs[name].oracle).fetchall()
                best = min(best, time.perf_counter() - t0)
            return best

        for name in timed:
            if not qs[name].oracle:
                continue
            duck_t[name] = duck_best(name)

        # Comparator canary (r8 verdict item #2): a committed SCALE
        # artifact must never carry flattering (or damning) ambient noise
        # silently — SCALE_r08's 0.67x headline came from the DuckDB side
        # ballooning 2.6x mid-run, and r8's "q16 regression" was the same
        # effect inverted (DuckDB 71.5 -> 51 ms across rounds with the
        # Spark side flat). Every current reading is checked against the
        # trailing per-query median of prior SCALE_r*.json artifacts at
        # the same rows_mult; >1.5x drift in either direction triggers an
        # immediate re-measure (best of 3 more), and a reading that STAYS
        # drifted is recorded by name in canary.flagged so the artifact
        # self-describes which rows are suspect. canary.ok == true means
        # no unresolved drift anywhere in the comparator column.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        canary = canary_check(
            duck_t,
            trailing_medians(repo_root, mult),
            duck_best,
            bands=trailing_bands(repo_root, mult),
        )
      except Exception as exc:  # pragma: no cover
        print(f"# duckdb comparison skipped: {exc}")
        canary = {"threshold": CANARY_THRESHOLD, "flagged": {}, "ok": False}

    if json_path:
        import json as _json

        payload = {
            "metric": "scale_tier_once_cold" if once else "scale_tier_best_of_3",
            "rows_mult": mult,
            "unit": "sec",
            **(
                {"registry_sweep": True, "registry_skips": sweep_skips}
                if registry_sweep
                else {}
            ),
            "queries": {
                name: (
                    {"spark": None, "error": spark_err[name]}
                    if name in spark_err
                    else {
                        "spark": round(spark_t[name], 4),
                        "duckdb": round(duck_t[name], 4)
                        if name in duck_t
                        else None,
                        "ratio": round(spark_t[name] / duck_t[name], 3)
                        if name in duck_t
                        else None,
                    }
                )
                for name in timed
            },
            "headline_total_spark": round(sum(spark_t[n] for n in HEADLINE), 4)
            if all(n in spark_t for n in HEADLINE)
            else None,
            # same completeness guard as the spark total: if the duckdb
            # comparison was skipped (import/exception path) or any
            # HEADLINE query is missing, emit None — never a silent 0.0
            # or partial sum into a file used for round-over-round diffs
            "headline_total_duckdb": round(
                sum(duck_t[n] for n in HEADLINE), 4
            )
            if all(n in duck_t for n in HEADLINE)
            else None,
            # self-describing honesty fields (r8 verdict item #2): the
            # headline ratio lives IN the artifact, and canary_ok says
            # whether BOTH timing columns survived their drift checks
            # (canary = comparator, both directions suspect; canary_spark
            # = engine, upward-only since improvements drift down by
            # design — r9)
            "headline_ratio": round(
                sum(spark_t[n] for n in HEADLINE)
                / sum(duck_t[n] for n in HEADLINE),
                3,
            )
            if all(n in duck_t for n in HEADLINE)
            and all(n in spark_t for n in HEADLINE)
            else None,
            "canary_ok": overall_canary_ok(canary, canary_spark),
            "canary": canary,
            "canary_spark": canary_spark,
        }
        with open(json_path, "w") as f:
            f.write(_json.dumps(payload) + "\n")
        print(f"# wrote {json_path}")
    print(f"| query | spark {mult}x | duckdb {mult}x | ratio |")
    print("| --- | --- | --- | --- |")
    for name in timed:
        if name in spark_err:
            print(f"| {name} | FAILED: {spark_err[name]} | — | — |")
            continue
        st = spark_t[name]
        dt = duck_t.get(name)
        ratio = f"{st / dt:.2f}x" if dt else "—"
        print(
            f"| {name} | {st*1000:.0f} ms | "
            f"{(dt*1000):.0f} ms | {ratio} |" if dt else f"| {name} | {st*1000:.0f} ms | — | — |"
        )
    if all(n in spark_t for n in HEADLINE):
        h_spark = sum(spark_t[n] for n in HEADLINE)
        if all(n in duck_t for n in HEADLINE):
            h_duck = sum(duck_t[n] for n in HEADLINE)
            print(
                f"| HEADLINE TOTAL | {h_spark*1000:.0f} ms | "
                f"{h_duck*1000:.0f} ms | {h_spark/h_duck:.2f}x |"
            )
        else:
            print(f"| HEADLINE TOTAL | {h_spark*1000:.0f} ms | — | — |")
    _scale_gates(spark, dest)


def _scale_gates(spark, dest: str) -> None:
    # One-time graph edge derivation (shared by triangles / jaccard /
    # pagerank via the plan cache; DuckDB pays it inside every graph query
    # above). Timed on a fresh build so the checkpoint cost is visible.
    from kse.queries.graphs import _copurchase_edges

    t0 = time.perf_counter()
    n_edges = _copurchase_edges(spark, dest).count()
    print(
        f"# graph edge derivation (one-time, checkpointed): "
        f"{(time.perf_counter() - t0) * 1000:.0f} ms for {n_edges} edges"
    )

    # LSH-dedup scale evidence: the candidate set must stay O(n) and the
    # planted near-dup pairs must actually be found. Loud failure beats a
    # quietly-quadratic rerun.
    from kse.queries.llm import minhash_candidate_pairs

    d = catalog.load(spark, dest, "documents")
    n_docs = d.count()
    cand = minhash_candidate_pairs(d).cache()
    n_cand = cand.count()
    planted = (
        spark.range(n_docs)
        .filter((F.col("id") % _DUP_EVERY == 1) & (F.col("id") > 0))
        .select((F.col("id") - 1).alias("doc_a"), F.col("id").alias("doc_b"))
    )
    n_planted = planted.count()
    n_found = planted.join(cand, ["doc_a", "doc_b"]).count()
    cand.unpersist()
    print(f"# minhash candidates: {n_cand} ({n_cand / n_docs:.2f}/doc; bound 20/doc)")
    print(f"# planted near-dup recall: {n_found}/{n_planted}")
    assert n_cand < 20 * n_docs, "candidate blow-up: LSH no longer O(n) on this corpus"
    assert n_found >= 0.85 * n_planted, "LSH recall collapsed on planted near-dups"

    # Same gates for the xxhash64 production path: candidate volume must
    # stay in the same O(n) regime and planted recall must hold — the
    # whole point of the fast path is identical banding SEMANTICS at ~3x
    # less signature cost, so a regression here means the swap broke it.
    cand_f = minhash_candidate_pairs(d, fast=True).cache()
    n_cand_f = cand_f.count()
    n_found_f = planted.join(cand_f, ["doc_a", "doc_b"]).count()
    cand_f.unpersist()
    print(f"# minhash-fast candidates: {n_cand_f} ({n_cand_f / n_docs:.2f}/doc)")
    print(f"# minhash-fast planted recall: {n_found_f}/{n_planted}")
    assert n_cand_f < 20 * n_docs, "fast-path candidate blow-up"
    assert n_found_f >= 0.85 * n_planted, "fast-path LSH recall collapsed"


if __name__ == "__main__":
    main()
