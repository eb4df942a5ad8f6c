"""LLM-training-data pipeline operators (SURVEY.md §2.10, driver-mandated).

Deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
near-dup), similarity search (brute-force kNN + LSH-bucketed ANN), text
analysis (token stats, language-ID, quality gates, TF-IDF, fingerprints),
and multimodal column plumbing.

Design rules for 100 TB (stated per operator below):

- Everything is shuffle-bounded DataFrame ops; no driver-side loops, no
  collect() of data-scale results. Randomness (LSH planes, hash seeds) is
  derived from deterministic hash functions of literals, never an RNG, so
  results are reproducible across runs and cluster sizes.
- Candidate-pair generation always goes through a bucketing key (hash band,
  LSH bucket) so the self-join is an equi-join on the bucket — never an
  all-pairs cross join.
- Python appears only where vector math genuinely beats JVM lambdas
  (see kse/queries/udfs.py for the Arrow-vectorized variants).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kse.queries._util import r4, t
from kse.registry import register
from kse.session import truncate_lineage

# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@register(
    "q_llm_dedup_exact",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
""",
    doc=(
        "Exact dedup: keep the lowest doc_id per distinct text, as a hash "
        "aggregate (min + min_by per text) rather than a window — the "
        "partial aggregate collapses duplicates MAP-SIDE, so a 30%-dup "
        "corpus shuffles 30% fewer rows and no per-group sort runs; a "
        "row_number window would shuffle every row then sort each group. "
        "In production the grouping key is xxhash64(text) so 100 KB "
        "documents shuffle as 8-byte keys + a residual equality check. "
        "sf0.1 contains 8 duplicate pairs (FIXTURES.md) which this removes."
    ),
)
def q_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
        )
        .select("doc_id", "lang", "n_chars")
    )


def _shingle() -> F.Column:
    return F.expr(
        "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)),"
        " i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"
    )


def _shingles_exploded(d: DataFrame) -> DataFrame:
    """(doc_id, s) — one row per 3-token shingle, identical shingle set to
    ``explode(_shingle())`` but ~6x faster at the 10x tier (measured:
    0.69 s vs 4.0 s for the same 2.88M shingles). The HOF ``transform``
    lambda is an interpreted expression that re-evaluates
    ``split(text)``/``slice`` per output shingle — O(tokens^2) string
    work per doc outside codegen. This form splits once, explodes
    tokens, and assembles each shingle from two ``lead()`` peeks over a
    per-doc window: all codegen, and the window's hashpartitioning on
    doc_id is exactly the partitioning every downstream per-doc
    aggregate wants, so the 'extra' shuffle replaces one the consumer
    would have paid anyway. Docs shorter than 3 tokens degenerate to one
    shingle of the whole text, same as the slice semantics."""
    from pyspark.sql.window import Window

    tok = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("i", "w"))
    wspec = Window.partitionBy("doc_id").orderBy("i")
    return (
        tok.select(
            "doc_id",
            "i",
            F.concat_ws(
                " ", "w", F.lead("w", 1).over(wspec), F.lead("w", 2).over(wspec)
            ).alias("s"),
            F.lead("w", 2).over(wspec).alias("_w2"),
            F.max("i").over(Window.partitionBy("doc_id")).alias("_mx"),
        )
        .filter(F.col("_w2").isNotNull() | ((F.col("_mx") < 2) & (F.col("i") == 0)))
        .select("doc_id", "s")
    )


def _shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, sh) with sh = the DISTINCT shingle array per doc —
    the input the exact Jaccard/containment verifiers intersect. Built
    from the exploded fast path (order is irrelevant to set math)."""
    return _shingles_exploded(d).groupBy("doc_id").agg(
        F.array_distinct(F.collect_list("s")).alias("sh")
    )

_NUM_HASHES = 16
_BAND_ROWS = 4  # 4 bands x 4 rows; P(candidate) = 1-(1-j^4)^4 — steep at j≈0.8

# Per-seed universal-hash multipliers, derived from md5 so any engine can
# recompute them: a_s / b_s = first 7 hex chars of md5('a'+s) / md5('b'+s)
# as integers (< 2^28). The per-shingle hash is then
#     h(s, seed) = a_seed * hi + b_seed * lo + seed
# over the 60-bit shingle value v = first 15 hex chars of md5(shingle),
# split as hi = v >> 30, lo = v & (2^30 - 1). Everything stays < 2^59, so
# 64-bit arithmetic is overflow-free on engines that wrap (Spark) AND on
# engines that raise (DuckDB). One md5 per SHINGLE instead of one per
# (shingle, seed): 16x fewer digests for the same independence-per-seed
# structure (a 2-universal mix of two 30-bit halves).
import hashlib as _hashlib

_MH_A = [int(_hashlib.md5(f"a{s}".encode()).hexdigest()[:7], 16) for s in range(_NUM_HASHES)]
_MH_B = [int(_hashlib.md5(f"b{s}".encode()).hexdigest()[:7], 16) for s in range(_NUM_HASHES)]


def minhash_candidate_pairs(d: DataFrame, fast: bool = False) -> DataFrame:
    """LSH banding on the WHOLE-STAGE-CODEGEN path: explode shingles (one
    md5 digest per shingle — the universal-hash mixing still means no
    per-(shingle, seed) digests), generate the 16 per-seed hash rows with
    the multipliers looked up from literal arrays, take the per-(doc,
    seed) min through a hash aggregate whose map-side combiner collapses
    the generation to 16 rows per doc before the shuffle, and reassemble
    the signature array ordered by seed. Band signatures (md5 of each
    band's 4 minhashes in seed order) and the (band, sig) equi-join are
    unchanged: docs sharing any bucket become candidate pairs
    (doc_a < doc_b); never a cross join.

    Why not the no-explode form (per-doc aggregate() folds over the
    shingle array)? Measured at the 10x tier: 11.8 s for the fold vs
    6.2 s for the generate-and-aggregate form, identical pairs.
    Higher-order-function lambdas run as interpreted expressions outside
    codegen, so 48M fold steps cost more than 48M generated rows
    streaming through a codegen'd min-aggregate — the same lesson as
    _simhash_fingerprints. Round-4 profiling then moved the remaining
    cost: (a) shingle generation now comes from _shingles_exploded
    (window-lead form, ~6x faster than the HOF transform it replaces),
    and (b) the 16 per-seed minima are 16 PARALLEL min() aggregates in
    ONE groupBy(doc_id) — no 16x seed-row explosion, no (doc, seed)
    shuffle, and the groupBy rides the window's existing doc_id
    partitioning, so the signature stage adds zero exchanges. The
    minima are over the same per-seed hash set, so signatures (and the
    DuckDB oracle) are bit-identical to the previous form; measured
    10x: md5 path 6.5 s -> ~2.3 s, fast path -> ~1.3 s.

    ``fast=True`` is the production hashing path: the per-shingle 60-bit
    value comes from ``xxhash64`` (one JVM-intrinsic hash, no hex digest
    + string conv) masked to 60 bits, and band signatures are xxhash64 of
    the joined minhashes instead of md5 hex strings. Identical plan
    shape, universal-hash mixing, and banding — only the base hash
    differs, so signatures differ from the md5 path but candidate
    SEMANTICS (which Jaccard levels collide) don't; pytest asserts the
    two paths agree pair-for-pair at sf0.01 and both find every planted
    sf0.1 duplicate. md5 stays the default because DuckDB can recompute
    it for the exact driver oracle; xxhash64 has no cross-engine twin."""
    sh = _shingles_exploded(d)
    if fast:
        # mask the signed 64-bit xxhash64 down to a nonnegative 60-bit
        # value so the hi/lo universal mixing below stays overflow-free
        v = sh.select(
            "doc_id",
            F.expr("xxhash64(s) & 1152921504606846975").alias("v"),
        )
    else:
        v = sh.select(
            "doc_id",
            F.expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)").alias("v"),
        )
    mins = [
        F.min(
            F.lit(_MH_A[s]) * F.expr("shiftright(v, 30)")
            + F.lit(_MH_B[s]) * F.expr("v & 1073741823")
            + F.lit(s)
        ).alias(f"mh{s}")
        for s in range(_NUM_HASHES)
    ]
    arr = (
        v.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[F.col(f"mh{s}") for s in range(_NUM_HASHES)]).alias("_mh"),
        )
    )
    band_hash = "xxhash64" if fast else "md5"
    bands = arr.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, 3), band -> {band_hash}(concat_ws(',',"
                " element_at(_mh, band * 4 + 1), element_at(_mh, band * 4 + 2),"
                " element_at(_mh, band * 4 + 3), element_at(_mh, band * 4 + 4))))"
            )
        ).alias("band", "sig"),
    )
    a = bands.alias("a")
    # shuffle_hash pin: BOTH sides of the bucket self-join scale with the
    # corpus (4 band rows per doc), so neither may ever be a driver-built
    # broadcast — Catalyst's static size estimate of the derived bands
    # frame stays under the autoBroadcastJoinThreshold while the real
    # HashedRelation grows without bound (measured: the 100x tier OOMed an
    # 8g driver building it). The hint forces a partitioned hash join on
    # the (band, sig) equi-keys: per-partition builds, no sort, no driver
    # materialization — the shape that survives any scale-up.
    b = bands.alias("b").hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


_MINHASH_ORACLE = """
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents
            WHERE text IS NOT NULL),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(tok) - 2, 1) + 1),
            i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2])) AS shingles
  FROM tk
),
sd AS (
  SELECT t.seed,
         CAST(concat('0x', substr(md5('a' || CAST(t.seed AS VARCHAR)), 1, 7)) AS BIGINT) AS a,
         CAST(concat('0x', substr(md5('b' || CAST(t.seed AS VARCHAR)), 1, 7)) AS BIGINT) AS b
  FROM (SELECT unnest(range(16)) AS seed) t
),
sv AS (
  SELECT doc_id,
         list_transform(shingles,
            s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS vals
  FROM sh
),
hx AS (
  SELECT doc_id, sd.seed,
         list_min(list_transform(vals,
            v -> sd.a * (v >> 30) + sd.b * (v & 1073741823) + sd.seed)) AS minhash
  FROM sv, sd
),
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS sig
  FROM hx GROUP BY doc_id, CAST(seed // 4 AS INT)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
"""


@register(
    "q_llm_dedup_minhash",
    oracle=_MINHASH_ORACLE
    + """,
cnt AS (
  SELECT doc_id, count(*) AS n_candidates
  FROM (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(cnt.n_candidates, 0) AS BIGINT) AS n_candidates
FROM documents d LEFT JOIN cnt USING (doc_id)
""",
    doc=(
        "MinHash + LSH near-dup detection (Broder '97), pure DataFrame ops: "
        "3-token shingles → one 60-bit md5 value per shingle → 16 minhashes "
        "via per-seed universal-hash folds (all map-side; every engine "
        "derives identical signatures — swap xxhash64 at 100 TB when parity "
        "isn't needed) → 4 bands of 4 → equi-join on (band, signature). "
        "Output: one row per doc with its candidate-duplicate count (0 for "
        "unique docs), so the result is non-empty at every sf; pytest "
        "asserts the 8 planted sf0.1 duplicate pairs are all found."
    ),
)
def q_llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(d)
    # one pass over pairs: explode both endpoints instead of UNIONing the
    # same candidate-generation subplan twice (Catalyst re-executes union
    # branches — the signatures would be computed twice)
    cnt = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_candidates"))
    )
    return (
        d.select("doc_id")
        .join(cnt, "doc_id", "left")
        .select("doc_id", F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"))
    )


@register(
    "q_llm_dedup_minhash_fast",
    # Rows-only by design: xxhash64 has no DuckDB twin, and measurement
    # (not assumption) shows the two hash families agree only on
    # high-Jaccard pairs — the mid-similarity candidate tail is sampled
    # differently per family (sym-diff ~2x the overlap at sf0.01), which
    # is inherent to LSH, not a bug. The contract is therefore recall,
    # not set equality: pytest asserts every planted sf0.1 duplicate
    # pair is found by the fast path AND candidate volume stays within
    # 2x of the md5 path (same O(n) candidate regime).
    doc=(
        "Production-hash MinHash+LSH twin: identical shingling, universal "
        "mixing, 4x4 banding, and (band, sig) equi-join as "
        "q_llm_dedup_minhash, but the per-shingle base value is a single "
        "xxhash64 JVM intrinsic (masked to 60 bits) instead of an md5 hex "
        "digest + string conv, and band signatures are xxhash64 bigints "
        "instead of md5 strings — the swap DESIGN.md priced at ~3x less "
        "signature cost, which dominates the operator at 100 TB. md5 stays "
        "in the default variant purely for cross-engine oracle parity."
    ),
)
def q_llm_dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(d, fast=True)
    # one pass over pairs: explode both endpoints instead of UNIONing the
    # same candidate-generation subplan twice (Catalyst re-executes union
    # branches — the signatures would be computed twice)
    cnt = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_candidates"))
    )
    return (
        d.select("doc_id")
        .join(cnt, "doc_id", "left")
        .select("doc_id", F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"))
    )


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation over an
    undirected pair list ``(doc_a, doc_b)``; returns ``(node, label)`` with
    label = smallest member id of the node's component. Each round is one
    equi-join + groupBy-min, lineage truncated per round; early-stops the
    round nothing changes (rounds needed = graph diameter)."""
    # symmetrize by exploding both orientations in ONE pass over the pair
    # generation (a self-UNION would execute it twice), then checkpoint
    edges = pairs.select(
        F.explode(
            F.expr(
                "array(named_struct('src', doc_a, 'dst', doc_b),"
                " named_struct('src', doc_b, 'dst', doc_a))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = truncate_lineage(edges)  # pair generation runs once
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    max_rounds = 10_000  # runaway backstop only; convergence is guaranteed
    for rounds in range(1, max_rounds + 1):
        prop = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        new_labels = (
            labels.union(prop).groupBy("node").agg(F.min("label").alias("label"))
        )
        new_labels = truncate_lineage(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min_label_components did not converge in {max_rounds} rounds"
    )


@register(
    "q_llm_dedup_cluster",
    oracle=_MINHASH_ORACLE.replace("WITH tk", "WITH RECURSIVE tk", 1)
    + """,
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS cid FROM reach GROUP BY a
)
SELECT d.doc_id, CAST(coalesce(comp.cid, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp USING (doc_id)
""",
    doc=(
        "Duplicate-cluster assignment: connected components over the "
        "MinHash-LSH candidate-pair graph, each doc labeled with the "
        "smallest doc_id in its component (the canonical survivor a dedup "
        "pipeline keeps; singletons label themselves). Spark side is the "
        "iterative min-label-propagation idiom (min_label_components "
        "above): per round, every node takes the min of its own and its "
        "neighbors' labels (one equi-join + groupBy-min), with "
        "localCheckpoint truncating the lineage and an early stop when a "
        "round changes nothing. Rounds needed = graph diameter; near-dup "
        "components are tiny (pairs/triangles), so 2-3 rounds in "
        "practice, and only docs that appear in some candidate pair enter "
        "the loop at all — the corpus-sized table is touched once at the "
        "end. At 100 TB swap the propagation for large-star/small-star "
        "(O(log n) rounds, same join shape). Oracle: DuckDB recursive CTE "
        "computing the same transitive closure — an iterative Spark "
        "algorithm checked value-for-value against recursive SQL."
    ),
)
def q_llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    labels = min_label_components(minhash_candidate_pairs(d))
    return (
        d.select("doc_id")
        .join(labels, d.doc_id == labels.node, "left")
        .select("doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id"))
    )


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (u, v) with u > v, self-loops gone."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node links its STRICTLY-LARGER neighbors to
    the minimum of its closed neighborhood. One symmetrize + groupBy-min +
    equi-join — no sort, no window."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return _canonical_edges(
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node links its smaller-or-equal neighbors
    (and itself) to the minimum of those. Same join shape as large-star."""
    e = _canonical_edges(edges)  # oriented u > v
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    nbrs = e.join(mins, "u").select(F.col("v").alias("u"), F.col("mn").alias("v"))
    selfs = mins.select("u", F.col("mn").alias("v"))
    return _canonical_edges(nbrs.union(selfs))


def bigstar_components(pairs: DataFrame) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., 'Connected Components in MapReduce and Beyond',
    SoCC'14): converges in O(log^2 n) rounds REGARDLESS of graph diameter —
    the 100 TB-scale variant of min_label_components, whose round count is
    the diameter. Each round is two groupBy-min + equi-joins; lineage is
    truncated per round. At convergence the edge set is a forest of stars
    centered at each component's minimum id; labels read straight off the
    edges. Returns (node, label) like min_label_components."""
    edges = _canonical_edges(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    edges = truncate_lineage(edges)
    max_rounds = 200  # >> log^2(n) for any conceivable n; backstop only
    for _ in range(max_rounds):
        nxt = truncate_lineage(_small_star(_large_star(edges)))
        changed = (
            nxt.exceptAll(edges).union(edges.exceptAll(nxt)).limit(1).count()
        )
        edges = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(f"bigstar_components did not converge in {max_rounds} rounds")
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    centers = labels.select(F.col("label").alias("node"), F.col("label"))
    return labels.union(centers).groupBy("node").agg(F.min("label").alias("label"))


@register(
    "q_llm_dedup_cluster_bigstar",
    oracle=_MINHASH_ORACLE.replace("WITH tk", "WITH RECURSIVE tk", 1)
    + """,
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS doc_id, least(a, min(b)) AS cid FROM reach GROUP BY a
)
SELECT d.doc_id, CAST(coalesce(comp.cid, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp USING (doc_id)
""",
    doc=(
        "Duplicate-cluster assignment, scale variant: same candidate graph "
        "and same output contract as q_llm_dedup_cluster, but components "
        "are computed with alternating large-star/small-star contraction "
        "(bigstar_components above) — O(log^2 n) rounds independent of "
        "component diameter, vs min-label propagation's O(diameter). This "
        "is the variant you run at 100 TB where adversarial chain-shaped "
        "duplicate clusters (serial near-identical crawls) make diameter "
        "unbounded. Oracle: the same DuckDB recursive-CTE transitive "
        "closure, so both variants are value-checked against recursive SQL."
    ),
)
def q_llm_dedup_cluster_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    labels = bigstar_components(minhash_candidate_pairs(d))
    return (
        d.select("doc_id")
        .join(labels, d.doc_id == labels.node, "left")
        .select("doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id"))
    )


@register(
    "q_llm_dedup_simhash",
    oracle="""
WITH tok AS (
  SELECT doc_id, token, count(*) AS cnt,
         CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS thl
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
contrib AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (thl >> CAST(b.bit AS INT)) & 1 = 1
             THEN cnt ELSE -cnt END) AS s
  FROM tok, (SELECT unnest(range(60)) AS bit) b
  GROUP BY doc_id, b.bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
                ELSE 0 END) AS BIGINT) AS simhash
FROM contrib GROUP BY doc_id
""",
    doc=(
        "SimHash document fingerprint (60-bit, Charikar '02), all JVM-side: "
        "per-token 60-bit md5 value (first 15 hex chars) → bit i read by shift → "
        "per-bit ±count contributions (posexplode of a 60-slot lambda "
        "array) → sign → weighted bit reassembly into one BIGINT per doc. "
        "md5 (not xxhash64) keeps the fingerprint engine-independent — the "
        "oracle recomputes it bit-for-bit. Near-dup groups = equal "
        "fingerprints (or small Hamming distance via 4-segment bucketing "
        "at scale). The 60x row blow-up collapses in map-side partial "
        "aggregation."
    ),
)
def q_llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_fingerprints(t(spark, sf_dir, "documents"))


def _simhash_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the 60-bit Charikar fingerprint, the
    WHOLE-STAGE-CODEGEN path: one 60-bit value (first 15 md5 hex chars)
    per token occurrence, then the 60 per-bit ±1 counters as 60 PARALLEL
    sum() aggregates in a single groupBy(doc_id) — each partition's
    combiner holds one 60-counter row per doc, so exactly 60 longs per
    doc cross the one shuffle, and the sign/reassembly step is a flat
    projection over the 60 columns.

    This is the third measured form of the same computation at the 10x
    tier (bit-equal results all three ways): nested aggregate() HOF fold
    42 s (interpreted lambdas, 180M steps outside codegen); explode of a
    (doc, bit) stream + two-level aggregate 4.9 s (codegen, but 180M
    generated rows + a (doc, bit)-keyed shuffle); 60 parallel aggregates
    1.8 s (codegen, zero generated rows, one doc-keyed shuffle). The
    lesson compounds the UDF family's: stay on codegen, THEN stop
    materializing rows you can fold into aggregate slots."""
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tkn"))
    h = tok.select(
        "doc_id",
        F.expr("cast(conv(substring(md5(tkn), 1, 15), 16, 10) as bigint)").alias("h"),
    )
    sums = [
        F.sum(F.expr(f"IF((shiftright(h, {b}) & 1) = 1, 1, -1)")).alias(f"s{b}")
        for b in range(60)
    ]
    agg = h.groupBy("doc_id").agg(*sums)
    simhash = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(60),
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", simhash.alias("simhash"))


_HAMMING_K = 3  # near-dup threshold; 4 segments of 15 bits (pigeonhole: k+1 segs)


_SIMHASH_HAMMING_ORACLE = """
WITH tok AS (
  SELECT doc_id, token, count(*) AS cnt,
         CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS thl
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
contrib AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (thl >> CAST(b.bit AS INT)) & 1 = 1
             THEN cnt ELSE -cnt END) AS s
  FROM tok, (SELECT unnest(range(60)) AS bit) b
  GROUP BY doc_id, b.bit
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT))
                  ELSE 0 END) AS BIGINT) AS simhash
  FROM contrib GROUP BY doc_id
),
seg AS (
  SELECT doc_id, simhash, x.seg_idx,
         (simhash >> CAST(x.seg_idx * 15 AS INT)) & 32767 AS seg_val
  FROM fp, (SELECT unnest(range(4)) AS seg_idx) x
),
prs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM seg a JOIN seg b
    ON a.seg_idx = b.seg_idx AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
cnt AS (
  SELECT doc_id, count(*) AS n_near
  FROM (SELECT doc_a AS doc_id FROM prs UNION ALL SELECT doc_b FROM prs)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(cnt.n_near, 0) AS BIGINT) AS n_near
FROM documents d LEFT JOIN cnt USING (doc_id)
"""


@register(
    "q_llm_dedup_simhash_hamming",
    oracle=_SIMHASH_HAMMING_ORACLE,
    doc=(
        "SimHash near-dup detection WITHIN Hamming distance k=3 — the "
        "at-scale grouping q_llm_dedup_simhash's docstring promises: split "
        "the 60-bit fingerprint into 4 disjoint 15-bit segments; by "
        "pigeonhole, any two fingerprints differing in <= 3 bits agree on "
        "at least one whole segment, so the candidate join is an EQUI-join "
        "on (segment_index, segment_value) — never an all-pairs scan — "
        "followed by an exact bit_count(xor) verify. That is exactly "
        "Manku/Jain/Sarma's WWW'07 web-dedup construction. Output: one row "
        "per doc with its near-dup count (0 for unique docs), so the "
        "result is non-empty at every sf. At 100 TB each segment bucket "
        "holds only fingerprint-colliding docs, so the verify stays "
        "bounded; the oracle recomputes fingerprints, segments and pairs "
        "bit-for-bit in DuckDB."
    ),
)
def q_llm_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fp = _simhash_fingerprints(d)
    seg = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr("transform(sequence(0, 3), s -> shiftright(simhash, s * 15) & 32767)")
        ).alias("seg_idx", "seg_val"),
    )
    a, b = seg.alias("a"), seg.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            F.expr("bit_count(a.simhash ^ b.simhash)") <= F.lit(_HAMMING_K)
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # explode endpoints in one pass — a self-UNION would run the banded
    # hamming join twice
    cnt = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        d.select("doc_id")
        .join(cnt, "doc_id", "left")
        .select("doc_id", F.coalesce("n_near", F.lit(0)).alias("n_near"))
    )


# C(6,3) block triples for the scaled simhash scheme: 6 disjoint 10-bit
# blocks of the 60-bit fingerprint; a pair within Hamming distance 3 has
# its differing bits inside at most 3 blocks, so at least one of the 20
# untouched triples agrees exactly — total recall, like the 4x15 scheme.
_SIMHASH_BLOCK_TRIPLES = [
    (i, j, k)
    for i in range(6)
    for j in range(i + 1, 6)
    for k in range(j + 1, 6)
]


@register(
    "q_llm_dedup_simhash_scaled",
    oracle=_SIMHASH_HAMMING_ORACLE,
    doc=(
        "Corpus-scale twin of q_llm_dedup_simhash_hamming — identical "
        "output (and byte-identical oracle: candidate generation is "
        "recall-total under BOTH schemes, so the result is scheme-"
        "independent), different candidate key. The canonical 4x15-bit "
        "pigeonhole has a FIXED 2^15-bucket key space per segment: bucket "
        "occupancy grows linearly with the corpus, in-bucket candidate "
        "pairs quadratically — the same fixed-parameter class the 100x "
        "sweep caught in the LSH/k-means ops (23 s of its 36 s at 100x "
        "is the candidate join; 1000x puts ~150 docs in every bucket). "
        "This twin uses Manku/Jain/Sarma's multi-table generalization: "
        "6 disjoint 10-bit blocks, join key = one of the C(6,3)=20 block "
        "TRIPLES (30 bits -> 2^30 buckets). Any pair within Hamming "
        "distance 3 damages at most 3 blocks, so at least one untouched "
        "triple agrees exactly — recall stays total while random "
        "collisions drop by 2^15x; the exact bit_count(xor)<=3 verify is "
        "unchanged. Cost trade: 20 key rows per doc instead of 4 (a 5x "
        "narrow-row shuffle), bought back once occupancy matters — "
        "interleaved runs: 24.8 -> 17.5 s at 100x (500k docs, ~15/"
        "bucket), 58.7 -> 43.0 s at 300x (~46/bucket, candidate-stage "
        "delta doubling 7.3 -> 15.6 s while the shared fingerprint stage "
        "dominates both). The old scheme's in-bucket pairs grow with "
        "occupancy^2 (~1.5e9 at 1000x); this twin stays linear until "
        "~2^30-doc occupancy. Wider corpora scale the same knob: b "
        "blocks, C(b, b-k) key tuples, key space 2^(60*(b-k)/b)."
    ),
)
def q_llm_dedup_simhash_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fp = _simhash_fingerprints(d)

    def blk(s: int):
        return F.shiftright(F.col("simhash"), s * 10).bitwiseAND(F.lit(1023))

    keys = F.array(
        *[
            (blk(i) + blk(j) * F.lit(1024) + blk(k) * F.lit(1048576)).cast("long")
            for (i, j, k) in _SIMHASH_BLOCK_TRIPLES
        ]
    )
    seg = fp.select(
        "doc_id", "simhash", F.posexplode(keys).alias("combo", "key")
    )
    # shuffle_hash pin, same rationale as the minhash family: both sides
    # of the candidate self-join scale with the corpus — never broadcast
    a = seg.alias("a").hint("shuffle_hash")
    b = seg.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.combo") == F.col("b.combo"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.expr("bit_count(a.simhash ^ b.simhash)") <= F.lit(_HAMMING_K))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    cnt = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        d.select("doc_id")
        .join(cnt, "doc_id", "left")
        .select("doc_id", F.coalesce("n_near", F.lit(0)).alias("n_near"))
    )


@register(
    "q_llm_dedup_ngram_jaccard",
    oracle=_MINHASH_ORACLE
    + """,
dsh AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh),
jac AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         / (len(a.sh) + len(b.sh)
            - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jaccard
  FROM pairs p
  JOIN dsh a ON p.doc_a = a.doc_id
  JOIN dsh b ON p.doc_b = b.doc_id
),
per_doc AS (
  SELECT doc_id, max(jaccard) AS max_jaccard
  FROM (SELECT doc_a AS doc_id, jaccard FROM jac
        UNION ALL SELECT doc_b, jaccard FROM jac)
  GROUP BY doc_id
)
SELECT d.doc_id, round(coalesce(per_doc.max_jaccard, 0.0), 6) AS max_jaccard
FROM documents d LEFT JOIN per_doc USING (doc_id)
""",
    doc=(
        "Exact n-gram Jaccard verification over MinHash candidates: per "
        "doc, the max 3-gram Jaccard among its LSH candidate partners "
        "(0.0 when it has none — output is one row per doc, never empty). "
        "Jaccard runs on shingle arrays via array_intersect/array_union "
        "sizes — JVM lambdas, only on the candidate set, never all pairs."
    ),
)
def q_llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    shingled = _shingle_sets(d)  # exploded fast path; set math is order-free
    pairs = minhash_candidate_pairs(d)
    # shuffle_hash pin on the shingle-array sides: the verify joins must
    # never broadcast the shingled corpus — its static estimate hides the
    # array payload (~1 KB/doc), and building it as a driver-side
    # HashedRelation OOMed the 100x tier. Partitioned hash join on doc_id
    # keeps each build a corpus-fraction per partition at any scale.
    a = shingled.alias("a").hint("shuffle_hash")
    b = shingled.alias("b").hint("shuffle_hash")
    jac = (
        pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
        .join(b, pairs.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("jaccard"),
        )
    )
    # explode endpoints in one pass — a self-UNION would run the verify
    # join (set intersections included) twice
    per_doc = (
        jac.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"), "jaccard")
        .groupBy("doc_id")
        .agg(F.max("jaccard").alias("max_jaccard"))
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select("doc_id", F.round(F.coalesce("max_jaccard", F.lit(0.0)), 6).alias("max_jaccard"))
    )


@register(
    "q_llm_containment",
    oracle=_MINHASH_ORACLE
    + """,
dsh AS (SELECT doc_id, list_distinct(shingles) AS sh FROM sh),
cont AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
         / least(len(a.sh), len(b.sh)) AS containment
  FROM pairs p
  JOIN dsh a ON p.doc_a = a.doc_id
  JOIN dsh b ON p.doc_b = b.doc_id
),
per_doc AS (
  SELECT doc_id, max(containment) AS max_containment
  FROM (SELECT doc_a AS doc_id, containment FROM cont
        UNION ALL SELECT doc_b, containment FROM cont)
  GROUP BY doc_id
)
SELECT d.doc_id, round(coalesce(per_doc.max_containment, 0.0), 6) AS max_containment
FROM documents d LEFT JOIN per_doc USING (doc_id)
""",
    doc=(
        "Broder containment over MinHash candidates: |A∩B| / min(|A|,|B|) "
        "on distinct-shingle sets — the asymmetric companion to Jaccard "
        "that catches SUB-DOCUMENT duplication (a doc fully embedded in a "
        "longer one scores ~1.0 here but low Jaccard, because the union "
        "in Jaccard's denominator is dominated by the longer doc). Same "
        "scale shape as q_llm_dedup_ngram_jaccard: exact set math runs "
        "only on LSH candidate pairs via JVM array lambdas, never "
        "all-pairs; output is one row per doc (max containment, 0.0 when "
        "no candidates)."
    ),
)
def q_llm_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    shingled = _shingle_sets(d)  # exploded fast path; set math is order-free
    pairs = minhash_candidate_pairs(d)
    # same shuffle_hash pin as q_llm_dedup_ngram_jaccard: never broadcast
    # the shingled corpus (array payload invisible to the size estimate).
    a = shingled.alias("a").hint("shuffle_hash")
    b = shingled.alias("b").hint("shuffle_hash")
    cont = (
        pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
        .join(b, pairs.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.least(F.size("a.sh"), F.size("b.sh"))
            ).alias("containment"),
        )
    )
    # explode endpoints in one pass — a self-UNION would run the verify
    # join twice
    per_doc = (
        cont.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"), "containment"
        )
        .groupBy("doc_id")
        .agg(F.max("containment").alias("max_containment"))
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce("max_containment", F.lit(0.0)), 6).alias(
                "max_containment"
            ),
        )
    )


_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    "q_llm_chunk",
    oracle=f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
st AS (
  SELECT doc_id, tok, unnest(range(1, len(tok) + 1, {_CHUNK_STRIDE})) AS start
  FROM tk
)
SELECT doc_id,
       CAST((start - 1) // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(len(list_slice(tok, start, start + {_CHUNK_SIZE - 1})) AS INT) AS n_tokens,
       array_to_string(list_slice(tok, start, start + {_CHUNK_SIZE - 1}), ' ') AS chunk_text
FROM st
""",
    doc=(
        f"Sliding-window token chunking ({_CHUNK_SIZE}-token chunks, "
        f"stride {_CHUNK_STRIDE}, {_CHUNK_SIZE - _CHUNK_STRIDE}-token "
        "overlap) — the RAG/embedding-prep segmentation pass. Map-only: "
        "per doc, explode a start-offset sequence and slice the token "
        "array per start — no shuffle at all; chunk ids derive "
        "arithmetically from the offset, so no window or ordinality "
        "dependence. At 100 TB output size is corpus x (1+overlap/stride) "
        "and each task streams through its own documents."
    ),
)
def q_llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.split("text", " ").alias("tok"),
        )
        .select(
            "doc_id",
            "tok",
            F.explode(
                F.expr(f"sequence(1, size(tok), {_CHUNK_STRIDE})")
            ).alias("start"),
        )
        .select(
            "doc_id",
            F.expr(f"CAST((start - 1) DIV {_CHUNK_STRIDE} AS INT)").alias("chunk_idx"),
            F.expr(f"CAST(size(slice(tok, start, {_CHUNK_SIZE})) AS INT)").alias(
                "n_tokens"
            ),
            F.expr(f"concat_ws(' ', slice(tok, start, {_CHUNK_SIZE}))").alias(
                "chunk_text"
            ),
        )
    )


@register(
    "q_llm_fingerprint",
    oracle="""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents
            WHERE text IS NOT NULL),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(tok) - 2, 1) + 1),
            i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2])) AS shingles
  FROM tk
)
SELECT doc_id,
       list_min(list_transform(shingles, s -> md5(s))) AS fingerprint,
       CAST(len(list_distinct(shingles)) AS INT) AS n_shingles
FROM sh
""",
    doc=(
        "Rolling 3-gram document fingerprint: min-md5 over shingles (a "
        "1-perm MinHash with a cross-engine-stable hash). Identical texts "
        "⇒ identical fingerprints; used as a cheap pre-cluster key. "
        "Computed as min/count-distinct aggregates over the exploded "
        "shingle stream (codegen) rather than per-row HOF lambdas "
        "(interpreted, O(tokens^2) re-splitting — see _shingles_exploded)."
    ),
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return _shingles_exploded(d).groupBy("doc_id").agg(
        F.min(F.md5("s")).alias("fingerprint"),
        F.countDistinct("s").cast("int").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _dot_q() -> F.Column:
    return F.expr(
        "aggregate(zip_with(embedding, q_embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
_NORM = "sqrt(aggregate(transform({c}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),\
 CAST(0 AS DOUBLE), (acc, v) -> acc + v))"


@register(
    "q_llm_sim_knn",
    oracle="""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, label,
         list_sum(list_transform(range(1, 65),
            i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         AS cos_raw
  FROM embeddings, q
  WHERE vec_id <> 0
)
SELECT vec_id, label, round(cos_raw, 4) AS cos_sim
FROM scored
QUALIFY row_number() OVER (ORDER BY cos_raw DESC NULLS LAST, vec_id) <= 10
""",
    doc=(
        "Brute-force top-k cosine kNN: broadcast the query vector, score "
        "every row with JVM higher-order lambdas (no Python), take global "
        "top-10 via TakeOrdered (per-partition top-k + driver merge of k "
        "rows — never a global sort). This is the exact baseline; "
        "q_llm_sim_lsh_ann is the sub-linear scale path. Batch-of-queries "
        "variant: broadcast the query *table* and window per query_id."
    ),
)
def q_llm_sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # Query norm computed once in the broadcast row, corpus norm once per
    # row — the projection pays one fold per row, not three.
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"),
        F.expr(_NORM.format(c="embedding")).alias("q_nrm"),
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .withColumn("nrm", F.expr(_NORM.format(c="embedding")))
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", F.try_divide(_dot_q(), F.col("nrm") * F.col("q_nrm")))
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cos_sim"))
    )


@register(
    "q_llm_sim_knn_batch",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_sum(list_transform(range(1, 65),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
         AS cos_raw
  FROM embeddings e, q
  WHERE e.vec_id >= 5
)
SELECT query_id, vec_id, round(cos_raw, 4) AS cos_sim
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC NULLS LAST, vec_id) <= 3
""",
    doc=(
        "Batched kNN — the ANN-serving shape: a TABLE of query vectors "
        "(broadcast, it is the small side) against the corpus, top-3 per "
        "query via a per-query_id window. Catalyst inserts WindowGroupLimit "
        "on both sides of the shuffle, so each partition forwards at most k "
        "rows per query — the shuffle carries O(|queries| * k), never the "
        "scored corpus. At 100 TB: corpus stays put, queries broadcast, and "
        "the LSH/IVF variants (below) bound the candidate set first."
    ),
)
def q_llm_sim_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    # Norms hoisted to one fold per corpus row / per query (identical
    # fold, identical inputs => bit-identical doubles); the pairwise
    # projection pays only the dot-product fold.
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.expr(_NORM.format(c="embedding")).alias("q_nrm"),
    )
    scored = (
        e.filter(F.col("vec_id") >= 5)
        .withColumn("nrm", F.expr(_NORM.format(c="embedding")))
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", F.try_divide(_dot_q(), F.col("nrm") * F.col("q_nrm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


_N_PLANES = 8
_MAX_PLANES = 16
_LSH_TARGET = 100  # vectors per bucket the in-bucket rerank is sized for


def _plane_sign(j: int, i: int) -> float:
    """±1 component i of hyperplane j, derived from md5 of the literal
    indices — deterministic across processes, engines, and cluster sizes."""
    import hashlib

    return 1.0 if hashlib.md5(f"{j}:{i}".encode()).digest()[0] & 1 else -1.0


_PLANES = [[_plane_sign(j, i) for i in range(64)] for j in range(_MAX_PLANES)]


def _lsh_sig(col_name: str, n_planes: int = _N_PLANES) -> F.Column:
    """Deterministic random-hyperplane LSH signature (``n_planes`` bits).

    The ±1 planes are precomputed driver-side from md5 of literal indices
    and inlined as constant arrays — zero per-row hash work, no broadcast,
    and any engine (the DuckDB oracle included) reproduces the identical
    bucket assignment from the same literals. The left-fold aggregate
    fixes the summation order so the sign test is bit-identical across
    engines. Plane j maps to bit j, so ``sig % 2**b`` equals the
    b-plane signature exactly — the property the corpus-scaled bucket
    count below relies on."""
    bits = []
    for j, plane in enumerate(_PLANES[:n_planes]):
        arr = "array(" + ",".join(f"{v:.1f}D" for v in plane) + ")"
        proj = F.expr(
            f"aggregate(zip_with({col_name}, {arr}, (x, p) -> CAST(x AS DOUBLE) * p),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _lsh_bucket(col_name: str) -> F.Column:
    """8-bit LSH bucket id (fixed 256 buckets) — see :func:`_lsh_sig`."""
    return _lsh_sig(col_name, _N_PLANES).alias("bucket")


def _lsh_sig_sql(col: str, n_planes: int = _N_PLANES) -> str:
    """DuckDB expression computing the same signature as :func:`_lsh_sig`
    (same literal planes, same left-fold summation order via list_reduce)."""
    terms = []
    for j, plane in enumerate(_PLANES[:n_planes]):
        lst = "[" + ",".join(f"{v:.1f}" for v in plane) + "]"
        proj = (
            f"list_reduce(list_transform(range(1, 65),"
            f" i -> CAST({col}[i] AS DOUBLE) * ({lst}[i])), (a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _lsh_bucket_sql(col: str) -> str:
    return _lsh_sig_sql(col, _N_PLANES)


def _lsh_npow_sql(n_expr: str) -> str:
    """Bucket-count CASE shared by engine and oracle: the smallest power
    of two 2^b (8 <= b <= 16) with n <= _LSH_TARGET * 2^b. Pure integer
    comparisons on count(*) — no log2/pow boundary-rounding risk — and
    identical text parses on both Spark and DuckDB."""
    arms = "".join(
        f" WHEN {n_expr} > {_LSH_TARGET * (1 << (b - 1))} THEN {1 << b}"
        for b in range(_MAX_PLANES, 8, -1)
    )
    return f"(CASE{arms} ELSE {1 << _N_PLANES} END)"


_DOT_SQL = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM_SQL = "sqrt(list_sum(list_transform({c}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@register(
    "q_llm_sim_lsh_ann",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, label, embedding, {_lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS q_bucket
      FROM bucketed WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, b.vec_id,
         {_DOT_SQL.format(a='b.embedding', b='q.qe')}
         / ({_NORM_SQL.format(c='b.embedding')} * {_NORM_SQL.format(c='q.qe')}) AS cos_raw
  FROM bucketed b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.query_id
)
SELECT query_id, vec_id AS neighbor_id, round(cos_raw, 4) AS cos_sim,
       CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, vec_id) AS rn
      FROM scored)
WHERE rn <= 3
""",
    doc=(
        "Approximate NN via random-hyperplane LSH: 8 deterministic planes "
        "(literal ±1 arrays derived from md5 — the oracle reproduces the "
        "exact buckets) → 256 buckets → exact cosine rerank only within "
        "the query's bucket (equi-join on bucket id, no cross join). "
        "Returns top-3 neighbours for each of 8 query vectors. At 100 TB: "
        "multi-probe (flip lowest-margin bits) to trade recall for "
        "fan-out, and bucket-partitioned parquet so probes prune "
        "partitions."
    ),
)
def q_llm_sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # Per-side norms hoisted above the bucket join (one fold per row /
    # per query instead of two per candidate pair; bit-identical values).
    bucketed = e.select(
        "vec_id",
        "label",
        "embedding",
        _lsh_bucket("embedding"),
        F.expr(_NORM.format(c="embedding")).alias("nrm"),
    )
    queries = bucketed.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("bucket").alias("q_bucket"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = bucketed.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.withColumn(
        "cos_raw", F.try_divide(_dot_q(), F.col("nrm") * F.col("q_nrm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_raw", 4).alias("cos_sim"),
            F.col("rn").alias("rank"),
        )
    )


@register(
    "q_llm_dedup_embed",
    oracle=f"""
WITH np AS (SELECT {_lsh_npow_sql('count(*)')} AS npow FROM embeddings),
bucketed AS (
  SELECT vec_id, embedding,
         {_lsh_sig_sql('embedding', _MAX_PLANES)} % (SELECT npow FROM np) AS bucket
  FROM embeddings
),
scored AS (
  SELECT a.vec_id,
         {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
         / ({_NORM_SQL.format(c='a.embedding')} * {_NORM_SQL.format(c='b.embedding')}) AS cos_raw
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
mx AS (SELECT vec_id, round(max(cos_raw), 4) AS max_bucket_cos
       FROM scored GROUP BY vec_id)
SELECT e.vec_id, coalesce(mx.max_bucket_cos, -1.0) AS max_bucket_cos
FROM embeddings e LEFT JOIN mx USING (vec_id)
""",
    doc=(
        "Embedding-cosine near-dup: per vector, the max cosine to any "
        "*other* vector in its LSH bucket (bucket equi-self-join — the "
        "all-pairs O(n²) never materializes; the oracle reproduces the "
        "identical buckets from the same literal planes). Vectors in "
        "singleton buckets report -1.0. Output: one row per vector at "
        "every sf. The bucket COUNT scales with the corpus: the smallest "
        "power of two holding the mean bucket under ~100 vectors "
        "(integer CASE over count(*), identical on both engines; plane j "
        "is bit j, so `16-bit sig % 2^b` IS the b-plane signature and "
        "small corpora keep today's exact 256 buckets). A fixed bucket "
        "count makes in-bucket pair volume grow n²/256 — the 100x "
        "survival sweep measured 421 s; scaled buckets hold mean "
        "occupancy flat so pair work grows ~linearly (32 s at the same "
        "tier, 13x). The standard recall tradeoff (more planes = fewer "
        "same-bucket near-dups) is the corpus owner's dial: raise "
        "_LSH_TARGET or band-OR signatures as q_llm_dedup_minhash does; "
        "q_llm_sim_ann_recall measures exactly this curve."
    ),
)
def q_llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    npow = e.agg(F.expr(_lsh_npow_sql("count(*)")).alias("npow"))
    # Norm computed once per VECTOR before the pair join (identical fold,
    # identical inputs => bit-identical double as the former per-pair
    # recomputation), so each candidate pair costs one lambda fold.
    bucketed = e.crossJoin(F.broadcast(npow)).select(
        "vec_id",
        "embedding",
        F.pmod(_lsh_sig("embedding", _MAX_PLANES), F.col("npow")).alias("bucket"),
        F.expr(_NORM.format(c="embedding")).alias("nrm"),
    )
    a = bucketed.alias("a")
    b = bucketed.select(
        F.col("vec_id").alias("b_vec_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("bucket").alias("b_bucket"),
        F.col("nrm").alias("b_nrm"),
    )
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b_bucket")) & (F.col("a.vec_id") != F.col("b_vec_id"))
    )
    scored = pairs.withColumn(
        "cos_raw",
        F.try_divide(
            F.expr(
                "aggregate(zip_with(a.embedding, q_embedding,"
                " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            ),
            F.col("a.nrm") * F.col("b_nrm"),
        ),
    )
    mx = scored.groupBy(F.col("a.vec_id").alias("vec_id")).agg(
        F.round(F.max("cos_raw"), 4).alias("max_bucket_cos")
    )
    return (
        e.select("vec_id")
        .join(mx, "vec_id", "left")
        .select("vec_id", F.coalesce("max_bucket_cos", F.lit(-1.0)).alias("max_bucket_cos"))
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "q_llm_text_stats",
    oracle="""
WITH per_doc AS (
  SELECT lang, source, n_chars,
         len(string_split(text, ' ')) AS ws_tokens,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens
  FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS sum_ws_tokens,
       CAST(sum(re_tokens) AS BIGINT) AS sum_re_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       round(avg(CAST(n_chars AS DOUBLE) / ws_tokens), 4) AS avg_chars_per_token,
       count(DISTINCT source) AS n_sources
FROM per_doc GROUP BY lang
""",
    doc=(
        "Corpus statistics per language: whitespace + regex ('BPE-ish') "
        "token counts, char/token ratios, source diversity. Single "
        "map+aggregate pass; the per-doc lambda work never leaves the JVM."
    ),
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("re_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("sum_ws_tokens"),
        F.sum("re_tokens").cast("bigint").alias("sum_re_tokens"),
        r4(F.avg("n_chars"), "avg_chars"),
        r4(F.avg(F.col("n_chars").cast("double") / F.col("ws_tokens")), "avg_chars_per_token"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "q_llm_text_tokens",
    oracle="""
SELECT token, count(*) AS cnt
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 20
""",
    doc=(
        "Corpus word-count, top-20 (the classic Spark demo op [R]): "
        "explode → map-side partial count → shuffle 1 row per distinct "
        "token per partition → TakeOrdered top-20."
    ),
)
def q_llm_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "q_llm_token_cms",
    oracle=None,  # sketch estimates can't hash-match exact counts
    doc=(
        "Count-min sketch frequency estimation — the second mergeable "
        "sketch in the repo (HLL covers distinct counting; CMS covers "
        "frequencies): 4 hash rows x 4096 buckets of counters built in "
        "ONE aggregation over the exploded token stream, fixed size "
        "regardless of corpus scale, mergeable across partitions/days by "
        "cell-wise addition. Estimates (min over the 4 rows' cells) are "
        "computed for the exact top-20 tokens and held within 5% of true "
        "counts by the local harness — CMS only over-counts, by at most "
        "~2N/width with high probability, so heavy hitters estimate "
        "tightly while the sketch stays 16k cells at 100 TB."
    ),
    check_oracle="""
SELECT token, count(*) AS est_cnt
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
GROUP BY token
ORDER BY count(*) DESC, token
LIMIT 20
""",
    check_rel_tol=0.05,
)
def q_llm_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    width, depth = 4096, 4
    d = t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))

    def buckets():
        return F.array(
            *[F.pmod(F.xxhash64("token", F.lit(s)), F.lit(width)) for s in range(depth)]
        )

    # the sketch: one aggregation, (depth x width) counter cells
    cells = tok.select(F.posexplode(buckets()).alias("seed", "bucket"))
    sketch = cells.groupBy("seed", "bucket").agg(F.count("*").alias("c"))
    # probes: the exact top-20 tokens (deterministic tiebreak on token)
    probes = (
        tok.groupBy("token")
        .agg(F.count("*").alias("exact"))
        .orderBy(F.col("exact").desc(), F.col("token"))
        .limit(20)
    )
    probe_cells = probes.select(
        "token", F.posexplode(buckets()).alias("seed", "bucket")
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("token")
        .agg(F.min("c").alias("est_cnt"))
    )


@register(
    "q_llm_token_cms_exact",
    oracle="""
WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token
             FROM documents),
seeds AS (SELECT unnest(range(4)) AS seed),
sketch AS (
  SELECT seed,
         CAST(concat('0x', substr(md5(token || '#' || CAST(seed AS VARCHAR)),
                                  1, 12)) AS BIGINT) % 4096 AS bucket,
         count(*) AS c
  FROM tok, seeds
  GROUP BY 1, 2
),
probes AS (
  SELECT token, count(*) AS exact
  FROM tok GROUP BY token
  ORDER BY exact DESC, token LIMIT 20
),
pc AS (
  SELECT token, seed,
         CAST(concat('0x', substr(md5(token || '#' || CAST(seed AS VARCHAR)),
                                  1, 12)) AS BIGINT) % 4096 AS bucket
  FROM probes, seeds
)
SELECT token, min(c) AS est_cnt
FROM pc JOIN sketch USING (seed, bucket)
GROUP BY token
""",
    doc=(
        "Count-min sketch with a cross-engine hash family — the "
        "hash-verifiable twin of q_llm_token_cms, following the "
        "q_agg_sketch_merge_exact pattern: a CMS is a fixed-width array "
        "of integer counters, so with a hash both engines can compute "
        "(48-bit md5 prefix via conv(), the minhash-oracle technique) the "
        "whole sketch AND the min-over-rows estimates are deterministic "
        "integers that hash-match exactly. Same plan shape as the "
        "xxhash64 production variant (one aggregation builds the "
        "depth x width = 4 x 4096 counter table; probes for the exact "
        "top-20 tokens join it broadcast), so this twin certifies the "
        "sketch construction while q_llm_token_cms keeps the ~3x cheaper "
        "JVM-intrinsic hashing under its 5%-tolerance contract."
    ),
)
def q_llm_token_cms_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    width, depth = 4096, 4
    d = t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))

    def buckets():
        # 12 hex chars = 48 bits: exact in BIGINT on both engines
        return F.array(
            *[
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.col("token"), F.lit(f"#{s}"))), 1, 12
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                    F.lit(width),
                )
                for s in range(depth)
            ]
        )

    cells = tok.select(F.posexplode(buckets()).alias("seed", "bucket"))
    sketch = cells.groupBy("seed", "bucket").agg(F.count("*").alias("c"))
    probes = (
        tok.groupBy("token")
        .agg(F.count("*").alias("exact"))
        .orderBy(F.col("exact").desc(), F.col("token"))
        .limit(20)
    )
    probe_cells = probes.select(
        "token", F.posexplode(buckets()).alias("seed", "bucket")
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("token")
        .agg(F.min("c").alias("est_cnt"))
    )


@register(
    "q_llm_char_classes",
    oracle="""
SELECT doc_id,
       round(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
             / n_chars, 6) AS alpha_ratio,
       round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / n_chars, 6) AS digit_ratio,
       round(CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
             / n_chars, 6) AS space_ratio
FROM documents
""",
    doc=(
        "Character-class composition per document (alpha / digit / "
        "whitespace ratios) — the cheapest corpus-quality screen there "
        "is: code and tables skew digit-heavy, OCR junk skews "
        "symbol-heavy, natural prose sits in a narrow alpha band. "
        "Map-only regexp counting in whole-stage codegen; integer "
        "character counts divide exactly, so the rounded ratios are "
        "engine-identical."
    ),
)
def q_llm_char_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")

    def ratio(pattern: str, src) -> F.Column:
        # try_divide: an empty document (n_chars = 0) gets NULL ratios
        # instead of failing the whole pass under ANSI mode
        return F.round(
            F.try_divide(
                F.length(F.regexp_replace(src, pattern, "")).cast("double"),
                F.col("n_chars"),
            ),
            6,
        )

    return d.select(
        "doc_id",
        ratio("[^a-z]", F.lower("text")).alias("alpha_ratio"),
        ratio("[^0-9]", F.col("text")).alias("digit_ratio"),
        ratio("[^ ]", F.col("text")).alias("space_ratio"),
    )


@register(
    "q_llm_entropy",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
tot AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY doc_id)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)) / ln(2), 6)
         AS entropy_bits
FROM tf JOIN tot USING (doc_id)
GROUP BY doc_id, n
""",
    doc=(
        "Token-distribution Shannon entropy per document (bits): low "
        "entropy flags repetitive/templated text, implausibly high "
        "entropy flags token soup — a standard two-sided quality gate "
        "alongside the unigram log-prob score (that one scores tokens "
        "against the CORPUS model; this one needs only the doc itself). "
        "Per-doc term frequencies collapse map-side, the entropy sum "
        "runs over the doc's own vocabulary — both shuffles key on "
        "doc_id, embarrassingly parallel across documents."
    ),
)
def q_llm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    tot = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        tf.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(F.round(-F.sum(p * F.log(p)) / F.log(F.lit(2.0)), 6).alias("entropy_bits"))
        .select("doc_id", F.col("n").cast("bigint").alias("n_tokens"), "entropy_bits")
    )


@register(
    "q_llm_stopword_strip",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
df AS (
  SELECT token, count(DISTINCT doc_id) AS n_docs FROM tok GROUP BY token
),
nd AS (SELECT count(*) AS total_docs FROM documents)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN n_docs <= 0.5 * total_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN n_docs <= 0.5 * total_docs THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS kept_ratio
FROM tok JOIN df USING (token), nd
GROUP BY doc_id
""",
    doc=(
        "Corpus-driven stopword stripping: a token is 'stop' when it "
        "appears in more than half of all documents — the DATA decides "
        "the stopword list, no hand-curated lexicon, which is how "
        "multilingual curation pipelines do it. Document frequencies are "
        "one distinct-aggregate (the [token -> df] table is vocabulary-"
        "sized, broadcast or bucketed at 100 TB exactly like the TF-IDF "
        "df table), then each doc reports how much of it survives — the "
        "kept ratio doubles as a boilerplate-ness signal."
    ),
)
def q_llm_stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    df_tbl = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("n_docs"))
    nd = d.agg(F.count("*").alias("total_docs"))
    kept = F.when(F.col("n_docs") <= 0.5 * F.col("total_docs"), 1).otherwise(0)
    return (
        tok.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.round(F.sum(kept).cast("double") / F.count("*"), 6).alias("kept_ratio"),
        )
    )


@register(
    "q_llm_dedup_prefix",
    oracle="""
SELECT md5(substring(text, 1, 32)) AS prefix_hash,
       count(*) AS n_docs,
       min(doc_id) AS first_doc
FROM documents
GROUP BY md5(substring(text, 1, 32))
HAVING count(*) > 1
""",
    doc=(
        "Shared-prefix (boilerplate) detection: documents opening with an "
        "identical 32-char prefix form a group — the cheap screen for "
        "template headers, scraped navigation chrome, and licence "
        "preambles that near-dup similarity misses when the BODIES "
        "differ. One hash-groupBy on the md5 of the prefix (fixed-width "
        "key regardless of document length); in a curation pipeline the "
        "flagged prefix is then stripped rather than the doc dropped. "
        "Complements exact dedup (whole text) and MinHash (global "
        "similarity) as the third dedup granularity."
    ),
)
def q_llm_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pfx = F.md5(F.substring("text", 1, 32))
    return (
        d.groupBy(pfx.alias("prefix_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
    )


@register(
    "q_llm_feature_hash",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
b AS (
  SELECT doc_id,
         ((strpos('0123456789abcdef', md5(token)[1]) - 1) * 16
          + strpos('0123456789abcdef', md5(token)[2]) - 1) % 64 AS dim
  FROM tok
)
SELECT doc_id, CAST(dim AS INT) AS dim, count(*) AS cnt
FROM b GROUP BY doc_id, dim
""",
    doc=(
        "Feature hashing (the 'hashing trick', Weinberger et al. '09): "
        "tokens hash into a fixed 64-dim bucket space, yielding a sparse "
        "bag-of-words vector per document with NO vocabulary table — the "
        "memoryless featurizer for training pipelines. Emitted sparse "
        "(doc_id, dim, cnt), the layout a feature store ingests. Bucket = "
        "first md5 byte mod 64 so the oracle recomputes it exactly (swap "
        "xxhash64 at 100 TB when engine parity isn't needed). Map-side "
        "collapse: the token blow-up partial-aggregates to <=64 rows per "
        "doc before the shuffle."
    ),
)
def q_llm_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    dim = (F.conv(F.substring(F.md5("token"), 1, 2), 16, 10).cast("int") % 64).alias("dim")
    return (
        tok.select("doc_id", dim)
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "q_llm_vocab",
    oracle="""
WITH freq AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
  GROUP BY token
),
tot AS (SELECT sum(cnt) AS total FROM freq)
SELECT token, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
       round(sum(cnt) OVER (ORDER BY cnt DESC, token
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / (SELECT total FROM tot), 6) AS cum_coverage
FROM freq
QUALIFY rank <= 50
""",
    doc=(
        "Vocabulary construction with coverage accounting — the tokenizer-"
        "building step of a training pipeline: token frequencies, ranked, "
        "with each prefix's cumulative share of the corpus (read off the "
        "vocab size needed for, say, 95% coverage). The corpus-sized work "
        "is one partially-aggregated groupBy; the ordered cum-coverage "
        "window then runs over the VOCABULARY (one row per distinct "
        "token), which is metadata-scale next to the corpus — same "
        "single-reducer-on-metadata budget as the prefix-sum bucket "
        "offsets. Top-50 emitted; scalar total via broadcast."
    ),
)
def q_llm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    tot = freq.agg(F.sum("cnt").alias("total"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "cnt",
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.round(F.sum("cnt").over(wsum) / F.col("total"), 6).alias("cum_coverage"),
        )
        .filter(F.col("rank") <= 50)
    )


@register(
    "q_llm_repetition",
    oracle="""
WITH b AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(string_split(lower(text), ' ')) - 1),
                        i -> string_split(lower(text), ' ')[i] || ' ' ||
                             string_split(lower(text), ' ')[i + 1]) AS bg
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 2
)
SELECT doc_id,
       CAST(len(bg) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct,
       round(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 4) AS dup_ratio
FROM b
""",
    doc=(
        "Within-document repetition ratio (Gopher-style quality signal): "
        "fraction of word bigrams that are duplicates of an earlier bigram "
        "in the same doc. Computed entirely in-row with array lambdas "
        "(transform over sequence + array_distinct) — a map-only scan with "
        "NO explode and NO shuffle, so at 100 TB it costs one pass over "
        "the text column regardless of document count."
    ),
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # split ONCE into a column the lambda references: the previous form
    # re-split the whole text inside the transform lambda per element
    # (Catalyst does not CSE through lambda bodies), making each doc
    # O(words^2) — the 100x sweep measured 89 s; hoisted it reads 9 s.
    bg = F.expr(
        "transform(sequence(1, size(ws) - 1), "
        "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"
    )
    return (
        d.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 2)
        .select("doc_id", bg.alias("bg"))
        .select(
            "doc_id",
            F.size("bg").cast("bigint").alias("n_bigrams"),
            F.size(F.array_distinct("bg")).cast("bigint").alias("n_distinct"),
            r4(
                F.lit(1.0) - F.size(F.array_distinct("bg")) / F.size("bg"),
                "dup_ratio",
            ),
        )
    )


@register(
    "q_llm_token_bpe",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
         AS sum_bpe_tokens,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_word_tokens,
       round(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) * 1.0
             / sum(len(string_split(text, ' '))), 4) AS bpe_per_word
FROM documents
GROUP BY lang
""",
    doc=(
        "Token counting with a BPE-style pre-tokenizer regex (letter runs, "
        "digit runs, single punctuation/CJK chars) vs plain whitespace "
        "words, aggregated per language. The pattern uses only constructs "
        "Java regex and RE2 interpret identically, so the DuckDB oracle "
        "hash-matches. At 100 TB this is a map-only scan of the text "
        "column (count computed inside the row, no explode) followed by a "
        "5-group shuffle — the cheapest possible corpus-wide token budget "
        "estimate before committing to a real BPE vocabulary."
    ),
)
def q_llm_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bpe = F.size(
        F.expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    ).cast("long")
    words = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        d.select("lang", bpe.alias("b"), words.alias("w"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("b").cast("bigint").alias("sum_bpe_tokens"),
            F.sum("w").cast("bigint").alias("sum_word_tokens"),
            r4(F.sum("b") / F.sum("w"), "bpe_per_word"),
        )
    )


@register(
    "q_llm_inverted_index",
    oracle="""
SELECT token,
       count(DISTINCT doc_id) AS doc_freq,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE len(token) >= 6
GROUP BY token
""",
    doc=(
        "Inverted-index build — the batch image of what the reference's "
        "Elasticsearch sink materializes per document: term -> sorted "
        "posting list + document frequency. explode -> groupBy(term) with "
        "collect_set collapses map-side, so the shuffle carries one "
        "(term, partial postings) row per partition, never the corpus. At "
        "100 TB: postings for stop-words would dominate a partition — "
        "filter them (here: short tokens) or range-bucket hot terms; serve "
        "lookups from the materialized table, not the raw corpus. Postings "
        "serialize to a comma-joined string (house rule, registry docstring "
        "+ q_agg_collect precedent) so the differential hash — and the "
        "driver's pandas canonicalizer, which cannot factorize list cells "
        "(CORRECTNESS_r07) — sees a scalar column."
    ),
)
def q_llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.length("token") >= 6)
        .groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.concat_ws(",", F.array_sort(F.collect_set("doc_id"))).alias(
                "postings"
            ),
        )
    )


@register(
    "q_llm_inverted_index_sharded",
    oracle="""
SELECT token,
       CAST((doc_id - (doc_id % 1000)) // 1000 AS BIGINT) AS shard,
       count(DISTINCT doc_id) AS doc_freq_shard,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE len(token) >= 6
GROUP BY token, CAST((doc_id - (doc_id % 1000)) // 1000 AS BIGINT)
""",
    doc=(
        "The range-bucketed posting-list build q_llm_inverted_index's "
        "docstring prescribes for hot terms, made concrete: postings "
        "shard by (token, doc_id-range of 1000), so NO output row ever "
        "holds more than 1000 ids — a stop-word's postings at 100 TB "
        "become many bounded shard rows (Lucene-segment style) instead "
        "of one corpus-sized array in a single aggregation buffer, and "
        "the full sorted list is the shard-ordered concatenation. Shard "
        "count grows with the corpus, row size never does; the aggregate "
        "still collapses map-side. The shard id uses (doc_id - doc_id % "
        "1000) / 1000 on BOTH engines — the subtraction makes the "
        "quotient exactly divisible, so Spark's truncating `div` and "
        "DuckDB's flooring `//` agree for negative ids too, with no "
        "float quotient at any magnitude. 7.1 s -> 4.8 s at 100x "
        "(interleaved; the bounded buffers also sort shorter arrays). "
        "Postings serialize to a comma-joined string per the house rule "
        "(driver's hash canonicalizer needs scalar cells, CORRECTNESS_r07)."
    ),
)
def q_llm_inverted_index_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.length("token") >= 6)
        .groupBy(
            "token",
            F.expr("CAST((doc_id - (doc_id % 1000)) div 1000 AS BIGINT)").alias(
                "shard"
            ),
        )
        .agg(
            F.countDistinct("doc_id").alias("doc_freq_shard"),
            F.concat_ws(",", F.array_sort(F.collect_set("doc_id"))).alias(
                "postings"
            ),
        )
    )


@register(
    "q_llm_index_lookup",
    oracle="""
WITH hits AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ('scan', 'column')
  GROUP BY doc_id, token
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
FROM hits
GROUP BY doc_id
HAVING count(DISTINCT token) = 2
""",
    doc=(
        "Full-text AND search over the corpus — the query side of the "
        "reference's Elasticsearch role: docs containing ALL terms, ranked "
        "by summed term frequency. The IN-list predicate lands before the "
        "explode's shuffle, so only matching (doc, term) rows move; served "
        "from the materialized q_llm_inverted_index table at scale, this "
        "becomes a |terms|-row posting-list intersection instead of a scan."
    ),
)
def q_llm_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    hits = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token").isin("scan", "column"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.countDistinct("token").alias("_nt"),
        )
        .filter(F.col("_nt") == 2)
        .select("doc_id", "total_tf")
    )


@register(
    "q_llm_embed_quantize",
    oracle="""
WITH per_vec AS (
  SELECT label,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s,
         embedding
  FROM embeddings
), err AS (
  SELECT label,
         list_transform(embedding,
            x -> abs(CAST(x AS DOUBLE)
                 - floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) * s / 127.0)) AS e
  FROM per_vec
  WHERE s > 0
)
SELECT label,
       count(*) AS n_vecs,
       round(avg(list_sum(e) / 64.0), 6) AS mean_err,
       round(max(list_max(e)), 6) AS max_err
FROM err
GROUP BY label
""",
    doc=(
        "Symmetric per-vector int8 quantization audit: q_i = "
        "floor(x_i*127/s + 0.5) with s = max|x_i|, reconstruction "
        "x'_i = q_i*s/127 — the 4x storage/IO cut that makes 100 TB "
        "similarity scans affordable (int8 corpus + fp32 rerank of the "
        "top candidates). Reports reconstruction-error stats per label; "
        "error is bounded by s/254 per element, which the pytest asserts. "
        "All elementwise math is JVM higher-order lambdas, identical IEEE "
        "ops in both engines; only the per-group averages are rounded."
    ),
)
def q_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    abs_max = "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    errs = (
        "transform(embedding, x -> abs(CAST(x AS DOUBLE)"
        " - floor(CAST(x AS DOUBLE) * 127.0D / s + 0.5D) * s / 127.0D))"
    )
    per_vec = e.withColumn("s", F.expr(abs_max)).filter(F.col("s") > 0)
    err = per_vec.select("label", F.expr(errs).alias("e"))
    agg_sum = "aggregate(e, CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    return err.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg(F.expr(agg_sum) / 64.0), 6).alias("mean_err"),
        F.round(F.max(F.expr("array_max(e)")), 6).alias("max_err"),
    )


@register(
    "q_llm_dedup_editdist",
    oracle="""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM documents a JOIN documents b
  ON b.n_chars BETWEEN a.n_chars - 10 AND a.n_chars + 10
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 10
""",
    doc=(
        "Edit-distance near-dup verification with BANDED-LENGTH BLOCKING: "
        "dist(a,b) <= k implies |len(a)-len(b)| <= k, so docs are bucketed "
        "into length bands wider than the threshold (band = floor(n_chars/"
        "16), 16 > k=10) and one side additionally emits its two neighbor "
        "bands — every qualifying pair therefore meets in exactly one "
        "equi-join bucket, including near-dups of UNEQUAL length that an "
        "exact-length key would miss. Only candidates (band hit + length "
        "filter) pay the quadratic levenshtein, with the threshold pushed "
        "into the function for early exit. The all-pairs form never runs: "
        "at 100 TB the blocking equi-join is the entire design — "
        "candidates per band are bounded, so the quadratic stays inside a "
        "partition."
    ),
)
def q_llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    thresh = 10
    band_w = 16  # strictly greater than thresh: qualifying pairs are in the same or adjacent band
    band = F.floor(F.col("n_chars") / band_w)
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("n_chars").alias("len_a"),
        band.alias("band"),
    )
    # b emits band-1/band/band+1: a pair meets in exactly one bucket (the
    # three keys are distinct), so no post-join dedup is needed
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("n_chars").alias("len_b"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    return (
        a.join(b, "band")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= thresh)
        )
        # thresholded levenshtein: early-exits and returns -1 past thresh
        .withColumn(
            "dist",
            F.levenshtein("text_a", "text_b", thresh).cast("bigint"),
        )
        .filter(F.col("dist") >= 0)
        .select("doc_a", "doc_b", "dist")
    )


@register(
    "q_llm_shard_assign",
    oracle="""
SELECT doc_id,
       CAST(floor((sum(n_chars) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                  / 50000.0) AS BIGINT) AS shard
FROM documents
""",
    doc=(
        "Deterministic shard assignment for training-data export: running "
        "n_chars total in stable doc_id order, shard = floor((cumsum-1)/"
        "budget) — every engine and every rerun produces the same packing. "
        "Implemented as a two-pass distributed prefix sum, NOT a global "
        "ORDER BY window: pass 1 buckets doc_id into coarse ranges and "
        "aggregates per-bucket totals (tiny: one row per bucket); the "
        "exclusive prefix sum over THAT metadata-sized table is the only "
        "single-partition step. Pass 2 broadcast-joins the base offsets "
        "back and runs the cumsum per bucket (parallel partitioned "
        "window). Identical output to the global window; the full corpus "
        "is never range-sorted onto one reducer. Greedy size-aware bin "
        "packing is deliberately NOT used: it is order-dependent and "
        "unstable under repartitioning."
    ),
)
def q_llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    budget = 50000.0
    with_cum = dist_prefix_sum(d, "doc_id", F.col("n_chars"))
    return with_cum.select(
        "doc_id",
        F.floor((F.col("cum") - 1) / budget).cast("bigint").alias("shard"),
    )


def dist_prefix_sum(d: DataFrame, id_col: str, weight, width: int = 1024) -> DataFrame:
    """Inclusive running sum of ``weight`` in ``id_col`` order as column
    ``cum`` — WITHOUT a global sort. Coarse deterministic range bucket on
    the (unique, dense) id: per-bucket totals aggregate in parallel, the
    exclusive prefix over that one-row-per-bucket metadata is the only
    unpartitioned window in the plan, and the per-bucket running sum is a
    partitioned (fully parallel) window after a broadcast join of the base
    offsets. Bucket width is constant: bucket count scales with corpus
    size, per-bucket work stays bounded."""
    from pyspark.sql import Window

    b = d.withColumn("bkt", F.floor(F.col(id_col) / width)).withColumn(
        "__w", weight
    )
    totals = b.groupBy("bkt").agg(F.sum("__w").alias("bkt_total"))
    w_base = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bkt",
        F.coalesce(F.sum("bkt_total").over(w_base), F.lit(0)).alias("base"),
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(offsets), "bkt")
        .withColumn("cum", F.col("base") + F.sum("__w").over(w_in))
        .drop("__w", "base", "bkt")
    )


@register(
    "q_llm_pack_sequences",
    oracle="""
WITH tk AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tk
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // 256 AS BIGINT) AS first_seq,
       CAST((cum - 1) // 256 AS BIGINT) AS last_seq
FROM c
""",
    doc=(
        "Fixed-length training-sequence packing: documents concatenate in "
        "stable doc_id order into 256-token sequences, docs split across "
        "boundaries — each doc reports the first and last sequence it "
        "lands in (a doc spanning k boundaries spans k+1 sequences). This "
        "is the token-budget twin of q_llm_shard_assign's char-budget "
        "packing, and both ride the same dist_prefix_sum: per-bucket "
        "totals → metadata-sized exclusive prefix → broadcast base + "
        "partitioned window; the corpus is never globally sorted. "
        "Deterministic: every engine and rerun produces the same packing, "
        "which is what makes the resulting training shards reproducible."
    ),
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq_len = 256
    d = t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("bigint")
    )
    with_cum = dist_prefix_sum(d, "doc_id", F.col("n_tokens"))
    return with_cum.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / seq_len)
        .cast("bigint")
        .alias("first_seq"),
        F.floor((F.col("cum") - 1) / seq_len).cast("bigint").alias("last_seq"),
    )


@register(
    "q_llm_sample_stratified",
    doc=(
        "Stratified sampling by source — the data-mixing op of a training "
        "pipeline (upweight curated sources, downsample crawl). The draw "
        "is a TRUE per-row Bernoulli against a seeded hash of the row's "
        "key: keep iff xxhash64(doc_id, seed) mod 1e6 < fraction·1e6. "
        "No shuffle, embarrassingly parallel, and — unlike Spark's "
        "df.sampleBy, whose seeded RNG streams are per-PARTITION and so "
        "re-draw a different sample under every repartitioning (caught by "
        "tools/layout_invariance.py) — the selected set is a pure function "
        "of the data: the same shards come out of 1 file or 10,000 files, "
        "which is what makes a 100 TB training mix reproducible. "
        "rows-only (the hash stream has no DuckDB twin); the pytest "
        "asserts per-stratum rates land in tolerance, the draw is "
        "reproducible, and the audit holds it layout-invariant."
    ),
)
def q_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # sources are src0..src19 (measured); mix: keep every 4th source
    # fully, halve even ones, quarter the rest
    fractions = {
        f"src{i}": (1.0 if i % 4 == 0 else 0.5 if i % 2 == 0 else 0.25)
        for i in range(20)
    }
    frac_map = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )
    u = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(42)), F.lit(1_000_000))
    sampled = d.where(
        u < F.coalesce(frac_map[F.col("source")], F.lit(0.0)) * 1_000_000
    )
    return sampled.groupBy("source").agg(F.count("*").alias("n_sampled"))


@register(
    "q_llm_lang_id",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang AS actual_lang,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')), ['the', 'of', 'and', 'to', 'in', 'is', 'it', 'that'])) AS s_en,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')), ['der', 'die', 'das', 'und', 'ist', 'nicht', 'ein', 'zu'])) AS s_de,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')), ['el', 'la', 'de', 'que', 'y', 'en', 'un', 'es'])) AS s_es,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')), ['le', 'la', 'de', 'et', 'un', 'est', 'que', 'pour'])) AS s_fr,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')), ['de5', 'shi4', 'le5', 'zai4', 'you3', 'wo3', 'ta1', 'men5'])) AS s_zh
  FROM documents
), ranked AS (
  SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM scored
)
SELECT doc_id, actual_lang,
       CASE WHEN best <= 0 THEN 'und' WHEN s_en = best THEN 'en' WHEN s_de = best THEN 'de' WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr' WHEN s_zh = best THEN 'zh' END AS pred_lang,
       CAST(best AS INT) AS score
FROM ranked
""",
    doc=(
        "Heuristic language-ID: score = stopword-lexicon hit count per "
        "candidate language over the token set, argmax wins ('und' when "
        "all scores are 0). Lexicons are literal arrays shipped in the "
        "plan; per-row lambda work only, embarrassingly parallel. (The "
        "testdata's text is English-ish for every lang label — "
        "FIXTURES.md — so this demonstrates mechanism, not accuracy.)"
    ),
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    lexicons = {
        "en": ["the", "of", "and", "to", "in", "is", "it", "that"],
        "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
        "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
        "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
        "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"],
    }
    d = t(spark, sf_dir, "documents")
    tok = F.split(F.lower("text"), " ")
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[
            F.size(F.array_intersect(F.array_distinct(tok), F.array(*map(F.lit, words)))).alias(
                f"score_{lang}"
            )
            for lang, words in lexicons.items()
        ],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in lexicons])
    pred = F.when(best <= 0, "und")
    for lang in lexicons:  # first max wins, fixed iteration order = deterministic
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return scored.select("doc_id", "actual_lang", pred.alias("pred_lang"), best.alias("score"))


@register(
    "q_llm_quality_filter",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_filter(string_split(lower(text), ' '),
              x -> list_contains(['the','of','and','to','in','a','is','it'], x))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
  FROM documents
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens, stop_ratio
FROM scored
WHERE n_tokens BETWEEN 8 AND 120 AND chars_per_token BETWEEN 3 AND 12
""",
    doc=(
        "Heuristic quality gates (length band, chars-per-token band, "
        "stopword ratio reported) — standard LLM-corpus cleaning. Pure "
        "filter chain: predicate-pushdown-friendly, no shuffle at all."
    ),
)
def q_llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    stops = F.array(*map(F.lit, ["the", "of", "and", "to", "in", "a", "is", "it"]))
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tok).alias("n_tokens"),
        (
            F.size(F.filter(F.split(F.lower("text"), " "), lambda x: F.array_contains(stops, x))).cast(
                "double"
            )
            / F.size(tok)
        ).alias("stop_ratio"),
        (F.col("n_chars").cast("double") / F.size(tok)).alias("chars_per_token"),
    )
    return scored.filter(
        F.col("n_tokens").between(8, 120) & F.col("chars_per_token").between(3, 12)
    ).select("doc_id", "lang", "n_tokens", "stop_ratio")


@register(
    "q_llm_unigram_logprob",
    oracle="""
WITH tokc AS (
  SELECT doc_id, token, count(*) AS k
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
freq AS (SELECT token, sum(k) AS cnt FROM tokc GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM freq)
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
       round(sum(k * -ln(CAST(cnt AS DOUBLE) / total)) / sum(k), 6) AS avg_neg_logp
FROM tokc JOIN freq USING (token), tot
GROUP BY doc_id
""",
    doc=(
        "Perplexity-proxy quality score: average negative log-probability "
        "of each document's tokens under the corpus's own unigram model — "
        "the cheap statistical stand-in for LM-based quality filtering "
        "(low = repetitive/common text, high = rare-token soup; both "
        "tails get dropped in curation). Token occurrences collapse to "
        "(doc_id, token, k) FIRST — a map-side-combining aggregate — so "
        "the token-keyed frequency join and the doc-keyed score "
        "aggregation both shuffle distinct pairs, not occurrences (a "
        "Zipf corpus repeats its head words constantly: 36.7 s in the "
        "100x registry sweep -> 27.3 s collapsed, same tier and --once "
        "conditions). The per-term k * -ln(p) weighting is mirrored "
        "verbatim in the oracle so both engines multiply identical "
        "doubles. At 100 TB the unigram table is a broadcast or bucketed "
        "dimension, exactly like the TF-IDF document-frequency table."
    ),
)
def q_llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tokc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("k"))
    )
    freq = tokc.groupBy("token").agg(F.sum("k").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    freq = freq.crossJoin(F.broadcast(tot))
    return (
        tokc.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("k") * -F.log(F.col("cnt").cast("double") / F.col("total"))
                )
                / F.sum("k"),
                6,
            ).alias("avg_neg_logp"),
        )
    )


@register(
    "q_llm_curate",
    oracle="""
WITH gated AS (
  SELECT doc_id, text, lang, source, n_chars,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
  WHERE lang IN ('en', 'de', 'es', 'fr')
    AND n_chars BETWEEN 50 AND 550
    AND len(string_split(text, ' ')) >= 8
),
kept AS (
  SELECT * FROM gated
  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
       round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
FROM kept GROUP BY lang, source
""",
    doc=(
        "End-to-end corpus curation — the composite a training-data "
        "pipeline actually ships: language keep-list + length/token "
        "quality gates (pure pushdown-friendly filters, map-only) → exact "
        "dedup keeping the lowest doc_id per text → per-(lang, source) "
        "yield report with document counts and token budget. The dedup is "
        "min_by(attrs-struct, doc_id) grouped by text — identical row to "
        "the oracle's row_number()=1 (doc_id is unique; note min_by also "
        "DEPENDS on doc_id being non-null within every text group — "
        "min_by ignores NULL ordering keys, so an all-NULL-doc_id group "
        "would vanish where row_number keeps a row; the generator "
        "guarantees non-null unique doc_id, same contract q_llm_dedup_"
        "exact already leans on); partial_min_by "
        "collapses duplicate texts map-side before the shuffle (as the "
        "previous WindowGroupLimit plan also did) but replaces its "
        "post-shuffle Window + rn-filter passes with the aggregate "
        "itself — measured 10% at 10x (0.486 vs 0.537 s best-of-3 "
        "interleaved; the struct buffer keeps it a SortAggregate, and a "
        "hash-prefixed group-key variant measured no better, 0.501 s; "
        "values bit-identical across all three). One shuffle for the "
        "dedup, one (partial-aggregated) for "
        "the report; every stage upstream of the dedup is embarrassingly "
        "parallel, so the composition inherits each stage's 100 TB "
        "posture. The yield report is what a data engineer reads to "
        "decide mixing weights."
    ),
)
def q_llm_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    gated = d.filter(
        F.col("lang").isin("en", "de", "es", "fr")
        & F.col("n_chars").between(50, 550)
    ).withColumn("n_tokens", F.size(F.split("text", " ")))
    gated = gated.filter(F.col("n_tokens") >= 8)
    kept = gated.groupBy("text").agg(
        F.min_by(
            F.struct("lang", "source", "n_chars", "n_tokens"), F.col("doc_id")
        ).alias("r")
    )
    return kept.groupBy(
        F.col("r.lang").alias("lang"), F.col("r.source").alias("source")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("r.n_tokens").cast("bigint")).alias("total_tokens"),
        F.round(F.avg(F.col("r.n_chars").cast("double")), 4).alias("avg_chars"),
    )


@register(
    "q_llm_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
       round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, token) <= 5
""",
    doc=(
        "TF-IDF, top-5 terms per document: two aggregations (tf, df) + "
        "broadcast-joined df table + window top-k. df is vocabulary-sized "
        "(≪ corpus) so it broadcasts at any corpus scale; n_docs is a "
        "1-row broadcast cross join."
    ),
)
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_raw", F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_raw").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.round("tfidf_raw", 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# embeddings stats + multimodal
# ---------------------------------------------------------------------------


@register(
    "q_llm_embed_stats",
    oracle="""
WITH valid AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL),
dims AS (
  SELECT label, r.range AS pos, CAST(embedding[r.range + 1] AS DOUBLE) AS val, vec_id
  FROM valid, range(64) r
),
centroid AS (
  SELECT label, pos, avg(val) AS c FROM dims GROUP BY label, pos
),
norms AS (
  SELECT vec_id, label,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM valid
)
SELECT n.label,
       count(*) AS n_vecs,
       round(avg(n.nrm), 6) AS avg_norm,
       round(any_value(c.cnorm), 6) AS centroid_norm
FROM norms n
JOIN (SELECT label, sqrt(sum(c * c)) AS cnorm FROM centroid GROUP BY label) c
  ON n.label = c.label
GROUP BY n.label
""",
    doc=(
        "Per-label embedding statistics: average L2 norm and centroid "
        "norm. Centroid via posexplode → (label, dim) partial avg — a "
        "64x row blow-up that collapses map-side; the 640-row centroid "
        "table then broadcasts. No Python, no driver collection."
    ),
)
def q_llm_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    centroid = (
        dims.groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
        .groupBy("label")
        .agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cnorm"))
    )
    norms = e.select("vec_id", "label", F.expr(_NORM.format(c="embedding")).alias("nrm"))
    return (
        norms.join(F.broadcast(centroid), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            # cnorm is CONSTANT within each label group (it arrives via the
            # broadcast equi-join on label), so first() is deterministic
            # here by construction, not by ordering
            F.round(F.first("cnorm"), 6).alias("centroid_norm"),
        )
    )


@register(
    "q_llm_multimodal",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(substring(text, 1, 32))) AS BIGINT) AS n_bytes,
       CAST(n_chars % 64 + 16 AS INT) AS width,
       CAST(n_chars % 48 + 12 AS INT) AS height,
       CAST(list_aggregate(list_transform(string_split(substring(text, 1, 32), ''),
            c -> CASE
              WHEN c = '' THEN 0
              WHEN unicode(c) < 128 THEN unicode(c)
              WHEN unicode(c) < 2048 THEN
                192 + (unicode(c) // 64) + 128 + (unicode(c) % 64)
              WHEN unicode(c) < 65536 THEN
                224 + (unicode(c) // 4096)
                + 128 + ((unicode(c) // 64) % 64) + 128 + (unicode(c) % 64)
              ELSE
                240 + (unicode(c) // 262144) + 128 + ((unicode(c) // 4096) % 64)
                + 128 + ((unicode(c) // 64) % 64) + 128 + (unicode(c) % 64)
            END), 'sum') % 65536 AS BIGINT) AS checksum
FROM documents
""",
    doc=(
        "Multimodal column plumbing: documents gain a BINARY payload + "
        "typed metadata struct (the image/audio/video pattern — at 100 TB "
        "these are parquet binary columns or binaryFile-format pointers). "
        "The 'decode' stage is a mapInPandas Arrow pass with a REAL "
        "schema/batch contract and a deterministic fake decoder (media "
        "codecs aren't in this container — SURVEY.md §2.10); swap "
        "`_fake_decode` for PIL/ffmpeg on a real cluster. Batch shape, "
        "partitioning, and UDF signature are production-real, and because "
        "the fake decode is deterministic (byte count + byte-sum checksum "
        "of the payload), even the Python-side Arrow path is value-"
        "checked against a DuckDB recomputation — the oracle derives each "
        "codepoint's UTF-8 byte sum arithmetically, so parity holds on "
        "non-ASCII text too (hostile-string battery)."
    ),
)
def q_llm_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    with_blob = d.select(
        "doc_id",
        F.encode(F.substring("text", 1, 32), "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 64 + 16).cast("int").alias("w"),
            (F.col("n_chars") % 48 + 12).cast("int").alias("h"),
            F.lit("image/fake").alias("mime"),
        ).alias("meta"),
    )

    def _fake_decode(batches):
        # Deterministic stand-in for an image decode: consumes Arrow batches
        # of (doc_id, payload, meta), emits per-item features. A real
        # decoder would call PIL here; the Spark-side contract is identical.
        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            # null-guard every field: a NULL text row arrives as None
            # payload / None meta fields, and must yield NULLs, not crash
            out["n_bytes"] = pdf["payload"].map(
                lambda b: None if b is None else len(b)
            )
            out["width"] = pdf["meta"].map(
                lambda m: None if m is None or m["w"] is None else int(m["w"])
            )
            out["height"] = pdf["meta"].map(
                lambda m: None if m is None or m["h"] is None else int(m["h"])
            )
            out["checksum"] = pdf["payload"].map(
                lambda b: None if b is None else sum(b) % 65536
            )
            yield out

    return with_blob.mapInPandas(
        _fake_decode,
        schema="doc_id bigint, n_bytes bigint, width int, height int, checksum bigint",
    )


_IVF_DIST_SQL = (
    "list_reduce(list_transform(range(1, 65),"
    " i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


@register(
    "q_llm_sim_ivf",
    oracle=f"""
WITH ve AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL),
cents AS (SELECT vec_id AS cent_id, embedding AS ce
               FROM ve WHERE vec_id < 8),
dists AS (
  SELECT e.vec_id, c.cent_id,
         {_IVF_DIST_SQL.format(a='e.embedding', b='c.ce')} AS dist
  FROM ve e, cents c
),
lists AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
    FROM dists) WHERE rn = 1
),
probes AS (
  SELECT cent_id AS probe_cent FROM (
    SELECT cent_id, row_number() OVER (ORDER BY dist, cent_id) AS rn
    FROM dists WHERE vec_id = 0) WHERE rn <= 2
),
q AS (SELECT embedding AS qe FROM ve WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, e.label, e.embedding
  FROM ve e
  JOIN lists l USING (vec_id)
  JOIN probes p ON l.cent_id = p.probe_cent
  WHERE e.vec_id <> 0
)
SELECT c.vec_id, c.label,
       round({_DOT_SQL.format(a='c.embedding', b='q.qe')}
             / ({_NORM_SQL.format(c='c.embedding')} * {_NORM_SQL.format(c='q.qe')}),
             4) AS cos_sim
FROM cand c, q
ORDER BY {_DOT_SQL.format(a='c.embedding', b='q.qe')}
         / ({_NORM_SQL.format(c='c.embedding')} * {_NORM_SQL.format(c='q.qe')}) DESC,
         c.vec_id
LIMIT 10
""",
    doc=(
        "IVF-style ANN (inverted-file coarse quantizer): 8 deterministic "
        "coarse centroids (the embeddings of vec_id 0..7 — a stand-in for "
        "k-means centroids, which at scale are trained once offline and "
        "broadcast), every vector assigned to its nearest centroid via a "
        "broadcast argmin (the inverted lists), then the query probes its "
        "nprobe=2 nearest lists and reranks exactly inside them. Search "
        "cost scales with 2/8 of the corpus instead of all of it; at 100 "
        "TB the lists are parquet partitions keyed by centroid id, so a "
        "probe is partition pruning."
    ),
)
def q_llm_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("q_embedding")
    )

    def nearest_centroids(vecs: DataFrame, id_col: str, keep: int) -> DataFrame:
        """(id, cent_id, rank) of each vector's `keep` nearest centroids.

        Map-only: the k centroids collapse to one broadcast row, each
        vector sorts its k struct(dist, cent_id) distances in-place
        (array_sort == the former window's (dist, cent_id) order,
        bit-identical doubles) and keeps the head — no n*k row shuffle,
        no per-vector window. Same rewrite as `_km_assign`."""
        cents_row = cents.groupBy().agg(
            F.collect_list(F.struct("cent_id", "q_embedding")).alias("cs")
        )
        picks = F.expr(
            "slice(array_sort(transform(cs, c -> struct("
            "aggregate(zip_with(embedding, c.q_embedding,"
            " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS dist,"
            f" c.cent_id AS cent_id))), 1, {keep})"
        )
        return (
            vecs.crossJoin(F.broadcast(cents_row))
            .select(F.col(id_col), F.posexplode(picks).alias("pos", "pick"))
            .select(
                id_col,
                F.col("pick.cent_id").alias("cent_id"),
                (F.col("pos") + 1).alias("crank"),
            )
        )

    # inverted lists: every vector -> its single nearest centroid
    lists = nearest_centroids(e, "vec_id", keep=1).drop("crank")
    # query = vec_id 0 probes its 2 nearest lists
    qvec = e.filter(F.col("vec_id") == 0)
    probes = nearest_centroids(qvec, "vec_id", keep=2).select(
        F.col("cent_id").alias("probe_cent")
    )
    candidates = (
        e.join(lists, "vec_id")
        .join(F.broadcast(probes), F.col("cent_id") == F.col("probe_cent"))
        .filter(F.col("vec_id") != 0)
    )
    q_emb = qvec.select(
        F.col("embedding").alias("q_embedding"),
        F.expr(_NORM.format(c="embedding")).alias("q_nrm"),
    )
    scored = (
        candidates.withColumn("nrm", F.expr(_NORM.format(c="embedding")))
        .crossJoin(F.broadcast(q_emb))
        .withColumn("cos_raw", F.try_divide(_dot_q(), F.col("nrm") * F.col("q_nrm")))
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cos_sim"))
    )


@register(
    "q_llm_embed_normalize",
    oracle="""
SELECT vec_id,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
       round(CAST(embedding[1] AS DOUBLE) /
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS e1_normed
FROM embeddings
""",
    doc="L2 normalization of the embedding column (the prep step before "
    "cosine reduces to a dot product) — JVM lambdas, per-row only.",
)
def q_llm_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    nrm = F.expr(_NORM.format(c="embedding"))
    return e.select(
        "vec_id",
        F.round(nrm, 6).alias("l2_norm"),
        F.round(
            F.try_divide(F.expr("CAST(embedding[0] AS DOUBLE)"), nrm), 6
        ).alias("e1_normed"),
    )


# PII patterns written in the common subset of Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, \b word boundaries.
_PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "[PHONE]"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
]


@register(
    "q_llm_pii_redact",
    oracle="""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b', '[PHONE]', 'g'),
         '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '[SSN]', 'g') AS red_text,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
       + CAST(len(regexp_extract_all(text,
         '\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b')) AS BIGINT)
       + CAST(len(regexp_extract_all(text,
         '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS BIGINT) AS n_pii
FROM documents
""",
    doc=(
        "PII redaction (email / phone / SSN patterns -> typed placeholder "
        "tokens) with a per-doc redaction count -- the standard scrubbing "
        "pass before corpus release. Pure per-row regexp_replace: narrow "
        "transform, no shuffle, trivially parallel at 100 TB. The synthetic "
        "testdata contains no PII (count is 0 everywhere), so the redaction "
        "semantics themselves are pinned by tests/test_llm.py on documents "
        "with planted PII."
    ),
)
def q_llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", *_pii_columns(F.col("text")))


def _pii_columns(text):
    """(red_text, n_pii) columns for any string column -- shared by the
    registered query and the unit tests so both pin the same semantics."""
    red = text
    n = F.lit(0).cast("bigint")
    for pat, token in _PII_PATTERNS:
        n = n + F.regexp_count(red, F.lit(pat)).cast("bigint")
        red = F.regexp_replace(red, pat, token)
    return [red.alias("red_text"), n.alias("n_pii")]


@register(
    "q_llm_ngram",
    oracle="""
WITH w AS (
  SELECT string_split(lower(text), ' ') AS ws FROM documents
),
bi AS (
  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i + 1])) AS bigram
  FROM w WHERE len(ws) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM bi GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
""",
    doc=(
        "N-gram mining: top-20 corpus bigrams (ties broken lexically for "
        "determinism). The per-doc expansion is a JVM lambda over the "
        "token array (transform over sequence -- no Python, no shuffle); "
        "the count is one hash aggregate; the top-k is TakeOrdered. At "
        "100 TB the expansion multiplies rows ~word-count x, but partial "
        "aggregation collapses them map-side before the single shuffle."
    ),
)
def q_llm_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.col("text")), " ")
    bigrams = d.select(ws.alias("ws")).filter(F.size("ws") >= 2).select(
        F.explode(
            F.expr("transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i + 1]))")
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "q_llm_overlap_matrix",
    oracle="""
WITH w AS (
  SELECT source, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT DISTINCT source,
         unnest(list_transform(generate_series(1, len(ws) - 4),
                i -> array_to_string(ws[i:i+4], ' '))) AS gram
  FROM w WHERE len(ws) >= 5
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_grams
FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
GROUP BY a.source, b.source
""",
    doc=(
        "Cross-source contamination matrix: for every source pair, how "
        "many distinct word-level 5-grams they share — the leakage map a "
        "curation team reads before declaring train/eval splits by "
        "source. Per-source gram sets are DISTINCTed first (map-side "
        "collapse of the shingle blow-up), then pairs meet in an "
        "equi-join keyed on the gram itself — per-gram fan-out is "
        "bounded by the number of sources carrying it, never a "
        "cross-join of corpora. Generalizes the one-vs-rest benchmark "
        "decontamination query (q_llm_contamination) to all pairs."
    ),
)
def q_llm_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    grams = (
        d.select("source", F.split(F.lower(F.col("text")), " ").alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 4),
                    lambda i: F.concat_ws(" ", F.slice("ws", i, 5)),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    # merge pin (r10; was shuffle_hash, before that broadcast): BOTH
    # sides of this self-join are the corpus's distinct (source, gram)
    # frame. Catalyst's post-aggregate size estimate hides the
    # gram-string payload, so left alone it broadcast a corpus-sized
    # HashedRelation (r9 100x sweep: heap OOM). The shuffle_hash pin
    # fixed that tier but re-OOMed one tier up: at the r10 100x sweep the
    # PER-PARTITION build (distinct grams / shuffle partitions) times 32
    # concurrent tasks exhausted execution memory
    # (UNABLE_TO_ACQUIRE_MEMORY in the build stage) — the documented SHJ
    # failure mode, and partition count is a config constant while the
    # gram table grows with the corpus, so any fixed partitioning
    # eventually re-OOMs. Sort-merge is the strategy whose per-task state
    # is bounded by spillable sorts at every scale; value parity and the
    # 100x completion are re-proven in this round's artifacts.
    a = grams.select(F.col("source").alias("source_a"), "gram").hint("merge")
    b = grams.select(F.col("source").alias("source_b"), "gram").hint("merge")
    return (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_grams"))
    )


@register(
    "q_llm_contamination",
    oracle="""
WITH w AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(ws) - 4),
                i -> array_to_string(ws[i:i+4], ' '))) AS gram
  FROM w WHERE len(ws) >= 5
),
b AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
c AS (SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM c JOIN b USING (gram) GROUP BY doc_id
""",
    doc=(
        "Benchmark decontamination: corpus docs sharing >= 1 word-level "
        "5-gram with a held-out set (source 'src0' stands in for the "
        "benchmark), with the count of distinct shared shingles per doc. "
        "The held-out gram set is DISTINCTed and broadcast -- benchmark "
        "suites are KBs-to-MBs while the corpus is the 100 TB side, so the "
        "contamination check is a map-side semi-join over the corpus "
        "shingle stream; only the tiny per-doc counts shuffle."
    ),
)
def q_llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("ws"))
        .filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr("transform(sequence(1, size(ws) - 4), i -> array_join(slice(ws, i, 5), ' '))")
            ).alias("gram"),
        )
    )
    bench = grams.filter(F.col("source") == "src0").select("gram").distinct()
    corpus = grams.filter(F.col("source") != "src0").select("doc_id", "gram").distinct()
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


@register(
    "q_llm_mixture_sample",
    oracle="""
WITH counts AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
mn AS (SELECT min(n_lang) AS n_min FROM counts)
SELECT d.doc_id, d.lang
FROM documents d JOIN counts USING (lang) CROSS JOIN mn
WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000000 * n_lang
      < n_min * 1000000
""",
    doc=(
        "Dataset-mixture balancing — downsample every language to the "
        "minority language's share (documents are ~44% en; training "
        "mixtures want controlled proportions). Acceptance is a pure "
        "integer predicate per row: md5(doc_id)-bucket * n_lang < n_min "
        "* 1e6 — deterministic across engines, runs, and repartitioning "
        "(the same doc always lands in the same split), with NO float "
        "rate computation to diverge. The per-language counts are a "
        "5-row broadcast; the filter evaluates map-side, so at 100 TB "
        "this is one tiny agg + one streaming pass. Generalizes to "
        "arbitrary target weights by replacing n_min with a per-group "
        "target table."
    ),
)
def q_llm_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    mn = counts.agg(F.min("n_lang").alias("n_min"))
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "long"
    ) % 1000000
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mn))
        .filter(bucket * F.col("n_lang") < F.col("n_min") * 1000000)
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# web-crawl curation: URL canonicalization dedup, per-domain caps
# ---------------------------------------------------------------------------

# The documents table carries no URL column, so both engines derive the
# same synthetic crawl URL from (doc_id, source) — with deliberate
# scheme-case / trailing-slash / tracking-param variants — and the operator
# under test is the canonicalize-then-dedup pipeline, not the derivation.
_URL_SQL = """concat(
  CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://' ELSE 'https://' END,
  CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END,
  '.example.com/doc/', CAST(doc_id % 50 AS STRING),
  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END)"""


@register(
    "q_llm_dedup_url",
    oracle=f"""
WITH raw AS (
  SELECT doc_id,
         CASE WHEN source IS NOT NULL
              THEN {_URL_SQL.replace("AS STRING", "AS VARCHAR")} END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(url), '\\?utm[^#]*$', ''),
                        '/$', '') AS url
  FROM raw
)
SELECT url, count(*) AS n_variants, min(doc_id) AS keep_doc_id
FROM canon GROUP BY url
""",
    doc=(
        "URL-canonicalization dedup — the first dedup pass of every "
        "web-crawl pipeline (CCNet / RefinedWeb): lowercase, strip "
        "tracking query-params, strip the trailing slash, then keep one "
        "doc per canonical URL. Canonicalization is a map-only chain of "
        "JVM regex/string ops; the dedup is one partial-aggregating "
        "groupBy on the canonical string (at 100 TB: on xxhash64 of it), "
        "so the full pass is one shuffle of 8-byte keys. Scheme-case, "
        "slash and utm variants of the same path collapse to one row — "
        "the oracle derives identical URLs and canonicalizes with the "
        "same regexes. Priced constant (r11 profile, 10x tier, 50k docs, "
        "~51 ms/job dispatch floor): full query 167-174 ms in 2 jobs "
        "(~102 ms floor), the canonicalization projection alone 129 ms "
        "(~64 ms of per-row chain over the scan), the bare scan 65 ms — "
        "no pass to remove. Two per-row-CPU rewrites measured and "
        "REJECTED in the same session (parity asserted on 350 rows "
        "each): fusing the two anchored regexes into one optional-group "
        "pattern '/?(\\?utm[^#]*)?$' reads 282/355 ms best/median vs "
        "189/239 registered — the optional prefix defeats the regex "
        "engine's literal-first-char scan and backtracks at every "
        "position; an endswith+substring trailing-slash strip reads "
        "229/297 vs 191/212 — the duplicated regex subtree is not "
        "CSE'd. Two sequential anchored literal-prefix regexes are the "
        "fast form."
    ),
)
def q_llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    canon = F.regexp_replace(
        F.regexp_replace(F.lower(F.expr(_URL_SQL)), r"\?utm[^#]*$", ""), "/$", ""
    )
    return (
        d.select("doc_id", canon.alias("url"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_variants"), F.min("doc_id").alias("keep_doc_id"))
    )


@register(
    "q_llm_domain_cap",
    oracle="""
WITH kept AS (
  SELECT source, n_chars FROM documents
  QUALIFY row_number() OVER (PARTITION BY source
                             ORDER BY n_chars DESC, doc_id) <= 200
)
SELECT source AS domain, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       min(n_chars) AS floor_chars
FROM kept GROUP BY source
""",
    doc=(
        "Per-domain document cap — crawl-mix balancing: no domain "
        "contributes more than N documents, keeping its highest-quality "
        "ones (quality := n_chars here; any score column drops in). One "
        "window partitioned by domain with rank<=N — Spark plans it as "
        "WindowGroupLimit, so each partition keeps a bounded top-N heap "
        "and never materializes the full per-domain sort — followed by a "
        "tiny per-domain summary aggregate. The hot-domain skew this "
        "guards against (a few domains dominating a crawl) is exactly "
        "what the group-limit pushdown bounds at 100 TB. Priced "
        "constant (r11 profile, 10x tier, ~51 ms/job dispatch floor): "
        "full query 181-189 ms in 2 jobs (~102 ms floor), the bare "
        "3-column scan 58 ms, window+filter alone statistically "
        "indistinguishable from the full query (the summary aggregate "
        "reuses the window's partitioning, no second exchange) — the "
        "residual ~80 ms is the one exchange plus the bounded per-"
        "domain top-N heaps; there is no redundant pass, and the "
        "comparator gap at this size is ~54% dispatch floor."
    ),
)
def q_llm_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        d.select("source", "n_chars", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 200)
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
            F.min("n_chars").alias("floor_chars"),
        )
    )


# ---------------------------------------------------------------------------
# k-means clustering (Lloyd's iterations as DataFrame plans)
# ---------------------------------------------------------------------------

_KM_K = 8  # clusters
_KM_UPDATES = 2  # centroid-update rounds before the final assignment
_KM_DIMS = 64  # embedding dimensionality (TESTDATA.md)
_KM_TARGET = 2500  # vectors per cluster the semdedup pair stage is sized for
_KM_MAX = 512

# Corpus-scaled k for SemDeDup: ceil(n / target) clamped to [8, 512],
# in PURE INTEGER arithmetic (ceiling division) so both engines derive the
# identical k from the identical count — no FP log/div boundary risk.
# DuckDB `//` and Spark `DIV` are both floor division on integers.
_KM_K_DUCK = (
    f"least({_KM_MAX}, greatest({_KM_K}, (count(*) + {_KM_TARGET - 1}) // {_KM_TARGET}))"
)
_KM_K_SPARK = (
    f"least({_KM_MAX}, greatest({_KM_K}, (count(1) + {_KM_TARGET - 1}) DIV {_KM_TARGET}))"
)


def _kmeans_ctes(k_sql: str = str(_KM_K)) -> str:
    """Unrolled Lloyd's iterations as a DuckDB CTE chain, bit-identical to
    the Spark plan: squared-L2 distances fold over dimensions in index
    order (list_sum(list_transform(...)) == aggregate(zip_with(...)) —
    same left-to-right double accumulation, the parity the kNN family
    already relies on), and centroid means go through integer-scaled
    coordinate sums (exact, order-independent) so the only float ops are
    deterministic element-wise arithmetic on identical inputs. Returns
    the CTE body (reused by q_llm_kmeans and q_llm_dedup_semantic); the
    final assignment lives in CTE ``assign{_KM_UPDATES + 1}``. ``k_sql``
    is the cluster-count expression — a literal for the fixed-k
    clustering query, a count-derived scalar subquery for the
    corpus-scaled SemDeDup pair."""
    dist = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])))"
    )
    ctes = [
        "vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e "
        "FROM embeddings WHERE embedding IS NOT NULL)",
        # k_sql is interpolated bare so the fixed-k default reproduces the
        # previous oracle text byte-for-byte (no cosmetic pair change for
        # q_llm_kmeans); the scaled caller passes its own parentheses.
        f"cent0 AS (SELECT vec_id AS cid, e AS c FROM vecs WHERE vec_id < {k_sql})",
    ]
    for i in range(1, _KM_UPDATES + 2):
        ctes.append(
            f"assign{i} AS (SELECT vec_id, cid, e FROM ("
            "SELECT vec_id, cid, e, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn "
            f"FROM (SELECT v.vec_id, c.cid, v.e, {dist} AS dist "
            f"FROM vecs v CROSS JOIN cent{i - 1} c)) WHERE rn = 1)"
        )
        if i <= _KM_UPDATES:
            ctes.append(
                f"cent{i} AS (SELECT cid, list(cval ORDER BY dim) AS c FROM ("
                "SELECT cid, dim, "
                "(CAST(sum(CAST(floor(val * 1000000 + 0.5) AS BIGINT)) AS BIGINT)"
                " / 1000000.0) / count(*) AS cval "
                f"FROM (SELECT cid, i AS dim, e[i] AS val "
                f"FROM assign{i}, (SELECT unnest(range(1, 65)) AS i)) "
                "GROUP BY cid, dim) GROUP BY cid)"
            )
    return ",\n".join(ctes)


def _kmeans_oracle() -> str:
    return (
        "WITH "
        + _kmeans_ctes()
        + f"\nSELECT vec_id, cid AS cluster FROM assign{_KM_UPDATES + 1}"
    )


def _scaled_k_init(vecs: DataFrame) -> DataFrame:
    """SemDeDup centroid init with corpus-scaled k: the first
    k = clamp(ceil(n/_KM_TARGET), 8, 512) vectors by id. The count
    collapses to one broadcast row; the filter is the same shape as the
    fixed-k `vec_id < 8` — no collect, k never touches the driver."""
    kdf = vecs.agg(F.expr(_KM_K_SPARK).alias("kk"))
    return (
        vecs.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("kk"))
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("c"))
    )


def _km_assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    # Map-only argmin: the k centroids collapse to ONE broadcast row
    # holding array<struct<cid, c>>, each vector computes its k squared-L2
    # distances in a single projection, and `array_min` over
    # struct(dist, cid) picks the assignment with exactly the (dist, cid)
    # ordering the previous window formulation used — but with ZERO
    # shuffle and no n*k row explosion carrying the 64-double arrays.
    # The distance fold is the identical expression, so every double is
    # bit-identical and the oracle CTEs are untouched.
    cents = cent.groupBy().agg(F.collect_list(F.struct("cid", "c")).alias("cents"))
    pick = F.expr(
        "array_min(transform(cents, ct -> struct("
        "aggregate(zip_with(e, ct.c, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS dist,"
        " ct.cid AS cid)))"
    )
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", pick.getField("cid").alias("cid"), "e")
    )


def _km_update(assign: DataFrame) -> DataFrame:
    ex = assign.select("cid", F.posexplode("e").alias("pos", "val"))
    sums = ex.groupBy("cid", (F.col("pos") + 1).alias("dim")).agg(
        F.sum(F.floor(F.col("val") * 1000000.0 + 0.5)).alias("s"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        sums.select(
            "cid",
            "dim",
            (F.col("s") / F.lit(1000000.0) / F.col("cnt")).alias("cval"),
        )
        .groupBy("cid")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, cval))), s -> s.cval)"
            ).alias("c")
        )
    )


@register(
    "q_llm_kmeans",
    oracle=_kmeans_oracle(),
    doc=(
        f"K-means semantic clustering of the embedding corpus (k={_KM_K}, "
        f"{_KM_UPDATES} Lloyd updates + final assignment) as pure "
        "DataFrame plans — the MLlib shape without the RDD API. Per "
        "round: assignment is vectors x broadcast(k centroids) with a "
        "JVM-lambda squared-L2 fold and a k-row per-vector window (no "
        "shuffle of the vectors beyond the window's partition-by-id); "
        "the update is one partially-aggregating groupBy over (cluster, "
        "dim) of integer-scaled coordinates — exact and order-independent, "
        "which is what lets an iterative float algorithm sit under the "
        "exact hash gate: every float either comes from a deterministic "
        "element-wise op on identical inputs or from an exact integer sum. "
        "Init is the first k vectors (k-means|| at 100 TB; init choice "
        "does not change the plan shape). Empty clusters drop out of the "
        "centroid table identically on both engines. At 100 TB: "
        "assignment is map-side (broadcast k*d doubles), the update "
        "shuffles k*d*partitions partial sums — both invariant in corpus "
        "size per partition."
    ),
)
def q_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    vecs = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    cent = vecs.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    for _ in range(_KM_UPDATES):
        cent = _km_update(_km_assign(vecs, cent))
    return _km_assign(vecs, cent).select("vec_id", F.col("cid").alias("cluster"))


_SEMDEDUP_TAU = 0.9

_E_DOT = (
    "aggregate(zip_with(a.e, b.e, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_E_NORM = (
    "sqrt(aggregate(transform({c}, x -> x * x),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
)


def _semdedup_oracle() -> str:
    return (
        "WITH "
        + _kmeans_ctes(k_sql=f"(SELECT {_KM_K_DUCK} FROM vecs)")
        + f""",
fin AS (SELECT vec_id, cid, e FROM assign{_KM_UPDATES + 1}),
prs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
         / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
          * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i])))) AS cos
  FROM fin a JOIN fin b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
per AS (
  SELECT vec_id, max(cos) AS m
  FROM (SELECT va AS vec_id, cos FROM prs UNION ALL SELECT vb, cos FROM prs)
  GROUP BY vec_id
)
SELECT f.vec_id, f.cid AS cluster,
       round(coalesce(per.m, -2.0), 4) AS max_cluster_cos,
       coalesce(per.m, -2.0) > {_SEMDEDUP_TAU} AS would_drop
FROM fin f LEFT JOIN per USING (vec_id)
"""
    )


@register(
    "q_llm_dedup_semantic",
    oracle=_semdedup_oracle(),
    doc=(
        "SemDeDup (Abbas et al. 2023): semantic dedup with K-MEANS "
        "CLUSTERS AS THE BUCKETING — embed, cluster, then compare "
        "cosines only WITHIN each cluster and drop near-identical "
        f"members above tau={_SEMDEDUP_TAU}. Composes this registry's "
        "own k-means (identical centroids, same oracle CTEs) with the "
        "cosine machinery of the kNN family; output is one row per "
        "vector (max within-cluster cosine, -2 sentinel for singleton "
        "clusters, and the drop verdict), so the result is total and "
        "non-empty at every sf. Scale shape: the pair join is an "
        "equi-join on cluster id — n^2/k per cluster, the paper's own "
        "tradeoff — and k now SCALES WITH THE CORPUS: "
        "k = clamp(ceil(n/2500), 8, 512) in pure integer arithmetic "
        "derived from count(*) on both engines (small corpora keep the "
        "exact k=8 of before), so per-cluster pair volume stays "
        "~bounded instead of growing n²/8 — the 100x survival sweep "
        "measured the fixed-k form at 1248 s, the scaled form at 214 s "
        "(5.8x; the residual is Lloyd's n*k assignment cost, shared "
        "with the arrow twin; k-means|| init at 100 TB). Contrast "
        "q_llm_dedup_embed, which buckets by "
        "LSH instead — the two ends of the recall/cost spectrum for "
        "embedding dedup."
    ),
)
def q_llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    vecs = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    cent = _scaled_k_init(vecs)
    for _ in range(_KM_UPDATES):
        cent = _km_update(_km_assign(vecs, cent))
    # Hoist the norm to one fold PER VECTOR (same fold over the same
    # values == bit-identical double), so the O(n^2/k) pair join pays one
    # 64-dim lambda fold per pair, not three; measured 88.7 s -> see
    # DESIGN.md at the 10x tier. persist() lets the three consumers of
    # the Lloyd's pipeline (both join sides + the final left join) share
    # one materialization instead of re-running k-means per branch.
    fin = _km_assign(vecs, cent).withColumn("nrm", F.expr(_E_NORM.format(c="e"))).persist()
    # Salt the within-cluster pair join: with only k=8 distinct join keys,
    # an unsalted equi-join caps at k-way parallelism (and AQE coalesces
    # the tiny pre-explosion shuffle further — the O(n^2/k) work explodes
    # AFTER the exchange, where the planner can't see it). One side keys
    # each vector to a fixed salt, the other replicates to all salts, so
    # every pair still matches exactly once but the fold work spreads over
    # k*R tasks — the same discipline q_join_skew_salted documents, and
    # the required shape once a single cluster outgrows one executor.
    # The EXPLICIT partition count is load-bearing: AQE sizes the exchange
    # from its pre-join byte count and would coalesce the tiny vector
    # table to ~1 partition, serializing the post-join fold work (measured
    # 44 s vs 7 s at the 10x tier). R=32/128 partitions measured best
    # among {8,32,64}x{auto,64,128}; replication volume grows with R, so
    # prefer the smallest R that saturates the cluster.
    _R = 32
    a = (
        fin.withColumn("salt", F.pmod(F.col("vec_id"), F.lit(_R)))
        .repartition(128, "cid", "salt")
        .alias("a")
    )
    b = (
        fin.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_R - 1))))
        .repartition(128, "cid", "salt")
        .alias("b")
    )
    prs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        F.try_divide(
            F.expr(_E_DOT), F.col("a.nrm") * F.col("b.nrm")
        ).alias("cos"),
    )
    # One pass over prs: explode each scored pair to its two endpoints
    # instead of UNIONing the same subplan twice (which executes the
    # expensive pair join twice — Catalyst does not dedup union branches).
    per = (
        prs.select(F.explode(F.array("va", "vb")).alias("vec_id"), "cos")
        .groupBy("vec_id")
        .agg(F.max("cos").alias("m"))
    )
    return (
        fin.join(per, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").alias("cluster"),
            F.round(F.coalesce("m", F.lit(-2.0)), 4).alias("max_cluster_cos"),
            (F.coalesce("m", F.lit(-2.0)) > _SEMDEDUP_TAU).alias("would_drop"),
        )
    )


@register(
    "q_llm_dedup_semantic_arrow",
    oracle=None,  # float accumulation order differs from the SQL fold
    check_oracle=_semdedup_oracle(),
    check_rel_tol=0.001,
    doc=(
        "SemDeDup, BLAS tier: identical clustering to q_llm_dedup_"
        "semantic, but the within-cluster scoring runs as ONE matrix "
        "multiply per cluster inside an Arrow-batched applyInPandas "
        "(E @ E.T over the cluster's n_c x 64 block, diagonal masked, "
        "per-row nanmax) instead of the JVM pair join. This is the "
        "production shape once clusters are dense enough that per-pair "
        "lambda folds dominate: the pair matrix never leaves the numpy "
        "block, so the only shuffle is the groupBy(cid) that forms the "
        "cluster, and per-cluster cost drops from n_c^2 interpreted "
        "folds to one BLAS gemm. numpy's gemm accumulates in a "
        "different order than the SQL left fold, so this is tolerance-"
        "contracted (0.1%) against the exact oracle rather than "
        "hash-exact; a pytest additionally pins its would_drop set to "
        "the exact twin's. Zero-norm rows mirror the exact twin's NULL "
        "semantics via NaN masking (singletons and all-NULL groups "
        "report the -2 sentinel). At 100 TB a cluster that outgrows one "
        "Arrow batch splits via the salted-join twin; the two variants "
        "bracket the recall/cost spectrum of executing the same "
        "algorithm."
    ),
)
def q_llm_dedup_semantic_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = t(spark, sf_dir, "embeddings")
    vecs = emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    cent = _scaled_k_init(vecs)
    for _ in range(_KM_UPDATES):
        cent = _km_update(_km_assign(vecs, cent))
    fin = _km_assign(vecs, cent)
    tau = _SEMDEDUP_TAU

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        # NULL embeddings (and the rows they'd pair with) mirror the exact
        # twin's JVM null propagation: a NULL vector contributes no cos to
        # anyone and itself reports the -2 sentinel. Building E from the
        # non-null rows only also keeps np.array rectangular — a NULL in
        # the column would otherwise make the ndarray construction ragged.
        m = np.full(n, -2.0)
        valid = pdf["e"].notna().to_numpy()
        if valid.sum() >= 2:
            E = np.array(pdf.loc[valid, "e"].tolist(), dtype=np.float64)
            nrm = np.sqrt(np.nansum(E * E, axis=1))
            denom = np.outer(nrm, nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0.0, (E @ E.T) / denom, np.nan)
            np.fill_diagonal(C, np.nan)
            all_nan = np.isnan(C).all(axis=1)
            C[:, 0] = np.where(
                all_nan & np.isnan(C[:, 0]), -np.inf, C[:, 0]
            )  # keep nanmax quiet on all-NaN rows
            mv = np.nanmax(C, axis=1)
            m[valid] = np.where(all_nan, -2.0, mv)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "cluster": pdf["cid"].astype("Int64"),
                "max_cluster_cos": np.round(m, 4),
                "would_drop": m > tau,
            }
        )

    return fin.groupBy("cid").applyInPandas(
        score, "vec_id bigint, cluster bigint, max_cluster_cos double, would_drop boolean"
    )


@register(
    "q_llm_length_filter",
    oracle="""
WITH bounds AS (
  SELECT quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
  FROM documents
)
SELECT lang, count(*) AS n_kept,
       min(n_chars) AS len_min, max(n_chars) AS len_max
FROM documents, bounds
WHERE n_chars >= lo AND n_chars <= hi
GROUP BY lang
""",
    doc=(
        "Percentile-bounded length filtering — the Gopher/C4-style outlier "
        "gate: drop documents outside the [p5, p95] length band, with the "
        "bounds computed FROM THE CORPUS rather than hard-coded, then "
        "report the surviving mix per language. The exact interpolated "
        "percentile (Spark `percentile` == DuckDB `quantile_cont`, same "
        "index-interpolation definition on identical integer inputs) is a "
        "one-row aggregate broadcast to a map-side filter — at 100 TB the "
        "quantile would come from an approx sketch (q_agg_approx_"
        "percentile's machinery) with the same two-phase shape: tiny "
        "global statistic, then one streaming pass."
    ),
)
def q_llm_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bounds = d.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("len_min"),
            F.max("n_chars").alias("len_max"),
        )
    )


_IB_M = 1 << 22  # bloom bits (sized ~10 bits/key at corpus scale -> <1% fp)
_IB_K = 4        # hash functions


def dedup_key() -> F.Column:
    """The 5-token prefix fingerprint both the batch query and the
    streaming foreachBatch apply use as the dedup key.

    NULL-preserving: concat_ws null-skips, so an unguarded key turns a
    NULL document into '' — which then exact-matches every other NULL
    document (and every genuinely-empty document) as a phantom
    duplicate, where the SQL oracle's NULL key matches nothing. The r4
    NULL battery fixed this class across the shingle family; this site
    survived because that battery's alternating pattern never put a
    NULL text in the one-doc batch partition — the seeded-random fuzz
    battery (decorrelated NULLs) caught it.
    """
    return F.when(
        F.col("text").isNotNull(),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5)),
    )


def bloom_dup_flags(batch: DataFrame, hist: DataFrame) -> DataFrame:
    """(doc_id, is_dup) for a ``batch`` of (doc_id, k) rows against a
    ``hist`` of (k) rows — the reusable core of the incremental dedup:
    distributed Bloom prefilter (K=4 xxhash64 bit positions, distinct
    set-bit table as the filter) + exact semi-join verify. No false
    negatives, so the output equals plain exact containment; the Bloom
    stage only prunes the probe side of the wide exact-key join. Used
    by q_llm_dedup_incremental (batch) and the streaming foreachBatch
    test (per-micro-batch apply against an accumulating history).

    Both inputs materialize once (truncate_lineage): hist feeds the
    bit-position build AND the exact verify, batch feeds the candidate
    probe, the verify, and the final flag join — and exchange reuse does
    not span the diamond, so the lazy form re-derived each (a documents
    re-scan + tokenize per consumer, 5 scans total). Both frames are
    key-sized (doc_id + a 5-token prefix), and a REAL incremental
    pipeline keeps its history key set materialized anyway — that is
    the thing the daily batch dedups against. 10x tier, interleaved
    median-of-5: 1.86 s -> 1.46 s (cold 5.1 s -> 2.7 s)."""
    from kse.session import truncate_lineage

    hist = truncate_lineage(hist.select("k").distinct(), eager=True)
    batch = truncate_lineage(batch, eager=True)

    def positions(df: DataFrame, *keep: str) -> DataFrame:
        pos = F.array_distinct(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("k"), F.lit(s)), F.lit(_IB_M))
                    for s in range(_IB_K)
                ]
            )
        )
        return df.select(*keep, F.explode(pos).alias("pos"))

    hist_bits = positions(hist).select("pos").distinct().withColumn("hit", F.lit(1))
    cand = (
        positions(batch, "doc_id")
        .join(hist_bits, "pos", "left")
        .groupBy("doc_id")
        .agg((F.count(F.lit(1)) == F.count("hit")).alias("all_set"))
        .filter(F.col("all_set"))
        .select("doc_id")
    )
    dup = (
        batch.join(cand, "doc_id", "left_semi")  # bloom-candidates only
        .join(hist, "k", "left_semi")            # exact verify
        .select("doc_id", F.lit(True).alias("is_dup"))
    )
    return (
        batch.select("doc_id")
        .join(dup, "doc_id", "left")
        .select("doc_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


@register(
    "q_llm_dedup_incremental",
    oracle="""
WITH hist AS (
  SELECT DISTINCT array_to_string(string_split(text, ' ')[1:5], ' ') AS k
  FROM documents WHERE doc_id % 10 <> 0
),
batch AS (
  SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], ' ') AS k
  FROM documents WHERE doc_id % 10 = 0
)
SELECT b.doc_id, (h.k IS NOT NULL) AS is_dup
FROM batch b LEFT JOIN hist h ON b.k = h.k
""",
    doc=(
        "Incremental dedup of a NEW batch against a HISTORICAL corpus "
        "through a Bloom-filter prefilter — the daily-ingest shape of a "
        "training-data pipeline, where re-joining the full corpus per "
        "batch is the thing you cannot afford at 100 TB. Key: 5-token "
        "prefix fingerprint (CCNet-style template/boilerplate catcher; "
        "exact-text keys drop in unchanged). The Bloom filter is built "
        "DISTRIBUTIVELY as data: each history key sets K=4 bit positions "
        "(xxhash64 seeds 0..3 mod M=2^22), the distinct set-bit table IS "
        "the filter (<= M rows, broadcast-sized by construction), and a "
        "batch doc is a candidate iff ALL its positions hit — one "
        "equi-join + one all-positions-set aggregate, no serialized "
        "filter object and no driver round-trip, and the same shape "
        "Structured Streaming's foreachBatch would run per micro-batch. "
        "Bloom filters have NO false negatives, so the exact verify "
        "(semi join of the candidates against true history keys) makes "
        "the final answer exact — the oracle is plain exact containment "
        "and the hash gate proves the prefilter lost nothing. False "
        "positives only cost verify-join traffic (~1% at 10 bits/key); "
        "the win is that the wide exact-key shuffle runs over the "
        "candidate subset, not the whole batch."
    ),
)
def q_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % 10 != 0).select(dedup_key().alias("k"))
    batch = d.filter(F.col("doc_id") % 10 == 0).select("doc_id", dedup_key().alias("k"))
    return bloom_dup_flags(batch, hist)


@register(
    "q_llm_quality_classifier",
    oracle="""
WITH feat AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS cpt,
         CAST(len(list_filter(string_split(lower(text), ' '),
              x -> list_contains(['the','of','and','to','in','a','is','it'], x))) AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
           / greatest(n_chars, 1) AS digit_ratio
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         -1.2 + 0.8 * (n_tokens / 100.0) + 0.35 * cpt
              + 2.5 * stop_ratio - 6.0 * digit_ratio AS logit
  FROM feat
)
SELECT doc_id, lang, round(logit, 6) AS logit, (logit > 0.0) AS keep
FROM scored
""",
    doc=(
        "Model-based quality scoring — the linear-classifier stage "
        "(fastText/logreg-style quality filters in CCNet/RefinedWeb "
        "pipelines) with FIXED published-style weights over four cheap "
        "features: token count, chars/token, stopword ratio, digit "
        "ratio. Deliberately transcendental-free: the decision runs on "
        "the raw LOGIT (sigmoid is monotone, so 'score > 0.5' IS "
        "'logit > 0'), and the logit is only +,*,/ over identical "
        "parquet doubles — bit-identical across engines, so an ML-ish "
        "scoring stage sits under the exact hash gate instead of a "
        "tolerance check. Map-only: no shuffle at any scale; at 100 TB "
        "this is the shape you want for a first-pass filter (a real "
        "learned model drops in as a broadcast weight vector + the same "
        "dot product, or an Arrow pandas_udf for a nonlinear one)."
    ),
)
def q_llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    stops = F.array(*map(F.lit, ["the", "of", "and", "to", "in", "a", "is", "it"]))
    feat = d.select(
        "doc_id",
        "lang",
        F.size(tok).alias("n_tokens"),
        (F.col("n_chars").cast("double") / F.size(tok)).alias("cpt"),
        (
            F.size(
                F.filter(F.split(F.lower("text"), " "), lambda x: F.array_contains(stops, x))
            ).cast("double")
            / F.size(tok)
        ).alias("stop_ratio"),
        (
            F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0)).cast("double")
            # greatest(n_chars, 1): a zero-length doc must score, not
            # throw ANSI DIVIDE_BY_ZERO (caught by the tiny-table sweep);
            # mirrored in the oracle so both engines stay bit-equal
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("digit_ratio"),
    )
    logit = (
        F.lit(-1.2)
        + 0.8 * (F.col("n_tokens") / 100.0)
        + 0.35 * F.col("cpt")
        + 2.5 * F.col("stop_ratio")
        - 6.0 * F.col("digit_ratio")
    )
    return feat.select(
        "doc_id",
        "lang",
        F.round(logit, 6).alias("logit"),
        (logit > 0.0).alias("keep"),
    )


@register(
    "q_llm_split_assign",
    oracle="""
WITH assigned AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100
           AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM assigned GROUP BY 1, lang
""",
    doc=(
        "Deterministic train/val/test split assignment (90/5/5) by "
        "content-independent hash bucket — the leakage-safe way to split "
        "a corpus: md5(doc_id) buckets are stable across reruns, "
        "engines, and partitionings (no sampling RNG, no order "
        "dependence), so a doc can never migrate between splits when "
        "data is added or repartitioned. Output is the split x language "
        "composition table (doc and token counts) a pipeline logs for "
        "every freeze. One map + one small aggregate; the md5-derived "
        "bucket reproduces identically in DuckDB, so even the split "
        "assignment itself is hash-gate-verified."
    ),
)
def q_llm_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % 100"
    )
    return (
        d.select(
            F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias("split"),
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "q_llm_sim_ann_recall",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS q_bucket
      FROM bucketed WHERE vec_id < 8),
probes AS (
  SELECT query_id, unnest([q_bucket, xor(q_bucket, 1), xor(q_bucket, 2),
    xor(q_bucket, 4), xor(q_bucket, 8), xor(q_bucket, 16), xor(q_bucket, 32),
    xor(q_bucket, 64), xor(q_bucket, 128)]) AS probe
  FROM q
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_DOT_SQL.format(a='b.embedding', b='q.qe')}
             / ({_NORM_SQL.format(c='b.embedding')} * {_NORM_SQL.format(c='q.qe')})
             DESC, b.vec_id) AS rn
    FROM bucketed b, q WHERE b.vec_id <> q.query_id
  ) WHERE rn <= 3
),
ann1 AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_DOT_SQL.format(a='b.embedding', b='q.qe')}
             / ({_NORM_SQL.format(c='b.embedding')} * {_NORM_SQL.format(c='q.qe')})
             DESC, b.vec_id) AS rn
    FROM bucketed b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.query_id
  ) WHERE rn <= 3
),
annm AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_DOT_SQL.format(a='b.embedding', b='q.qe')}
             / ({_NORM_SQL.format(c='b.embedding')} * {_NORM_SQL.format(c='q.qe')})
             DESC, b.vec_id) AS rn
    FROM bucketed b
    JOIN probes p ON b.bucket = p.probe
    JOIN q ON q.query_id = p.query_id AND b.vec_id <> q.query_id
  ) WHERE rn <= 3
)
SELECT e.query_id,
       CAST(count(a1.vec_id) AS BIGINT) AS hits_1probe,
       CAST(count(am.vec_id) AS BIGINT) AS hits_multiprobe,
       round(CAST(count(am.vec_id) AS DOUBLE) / 3.0, 4) AS recall_multiprobe
FROM exact e
LEFT JOIN ann1 a1 ON e.query_id = a1.query_id AND e.vec_id = a1.vec_id
LEFT JOIN annm am ON e.query_id = am.query_id AND e.vec_id = am.vec_id
GROUP BY e.query_id
""",
    doc=(
        "ANN quality evaluation as a first-class query: recall@3 of the "
        "random-hyperplane LSH index against brute-force exact top-3 "
        "ground truth, per query vector, for BOTH probing strategies — "
        "single-bucket (q_llm_sim_lsh_ann's shape) and multi-probe "
        "(query bucket + all 8 one-bit flips, the standard recall/fan-out "
        "dial). This is the measurement loop every vector-index "
        "deployment runs before trusting an index, and it is itself "
        "deterministic (literal planes, fixed fold order, unique "
        "tie-breaks), so even the recall numbers sit under the exact "
        "driver hash gate. On this synthetic corpus the honest result IS "
        "the lesson: near-random embeddings have no angular structure, "
        "single-probe recall@3 is 0 and multi-probe lifts it to ~0.13 — "
        "the evaluator exists precisely to catch an index this bad "
        "before serving. Plan shape: ground truth is the broadcast-query "
        "brute-force scan (WindowGroupLimit caps shuffle at queries x "
        "k), both ANN sides are bucket equi-joins, and the comparison is "
        "a queries-x-k-sized left join."
    ),
)
def q_llm_sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # Norms hoisted above all three candidate generators (one fold per
    # corpus row / per query; bit-identical doubles).
    bucketed = e.select(
        "vec_id",
        "embedding",
        _lsh_bucket("embedding"),
        F.expr(_NORM.format(c="embedding")).alias("nrm"),
    )
    q = bucketed.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("bucket").alias("q_bucket"),
        F.col("nrm").alias("q_nrm"),
    )
    probes = q.select(
        "query_id",
        "q_embedding",
        "q_nrm",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[F.expr(f"q_bucket ^ {1 << j}") for j in range(8)],
            )
        ).alias("probe"),
    )
    cos = F.try_divide(_dot_q(), F.col("nrm") * F.col("q_nrm"))

    def top3(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_raw").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("query_id", "vec_id")
        )

    exact = top3(
        bucketed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", cos)
    )
    ann1 = top3(
        bucketed.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        ).withColumn("cos_raw", cos)
    )
    annm = top3(
        bucketed.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe"))
            & (F.col("vec_id") != F.col("query_id")),
        ).withColumn("cos_raw", cos)
    )
    return (
        exact.join(ann1.withColumn("h1", F.lit(1)), ["query_id", "vec_id"], "left")
        .join(annm.withColumn("hm", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("h1").alias("hits_1probe"),
            F.count("hm").alias("hits_multiprobe"),
            F.round(F.count("hm").cast("double") / 3.0, 4).alias("recall_multiprobe"),
        )
    )


# ---------------------------------------------------------------------------
# exact duplicated-passage detection (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr signal,
# here as rolling w-token grams instead of a monolithic suffix array)
# ---------------------------------------------------------------------------

_SUBSTR_W = 10  # gram width in tokens


@register(
    "q_llm_dedup_substring",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
grams AS (
  SELECT doc_id, i AS pos,
         substr(md5(array_to_string(tk[i:i + {_SUBSTR_W - 1}], ' ')), 1, 16) AS g
  FROM toks, LATERAL (
    SELECT unnest(range(1, greatest(len(tk) - {_SUBSTR_W - 1}, 0) + 1)) AS i
  )
)
SELECT g AS gram_hash,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(min(pos) AS BIGINT) AS min_pos
FROM grams
GROUP BY g
HAVING count(DISTINCT doc_id) > 1
""",
    doc=(
        f"Exact duplicated-passage detection (Lee et al. 2022's "
        f"ExactSubstr signal): every {_SUBSTR_W}-token rolling window "
        "hashes to a gram id, and grams appearing in MORE THAN ONE "
        "document are reported with occurrence counts and the earliest "
        "(doc, pos) site — the passage-level complement to document-"
        "level MinHash: it catches boilerplate, quotes, and licenses "
        "embedded in otherwise-distinct documents. The suffix-array "
        "formulation of the paper is a single-machine construction; the "
        "distributed equivalent is exactly this shape — gram emission is "
        "map-only codegen (split once, slice per window, one md5 per "
        "gram), the only shuffle groups by gram hash with map-side "
        "partial aggregation, and the >1-doc filter is a HAVING on the "
        "aggregate. At 100 TB: ~n_tokens rows shuffle once at 16 bytes "
        "of key each (the gram text itself never shuffles — only its "
        "hash), hot grams (the same license everywhere) are exactly the "
        "hash-aggregate's best case since duplicates collapse map-side, "
        "and the window width trades recall for row count linearly. "
        "Production swaps md5 for xxhash64 (kept here for oracle "
        "parity, same discipline as MinHash). Aggregate shape A/B'd "
        "(r10, OPTIMIZATION_r10.md, parity-asserted interleaved "
        "best-of-5 at 10x): this single mixed countDistinct+plain "
        "aggregate, 3.14 s best / 3.26 s median, BEATS a manual "
        "two-level (gram,doc)-then-gram aggregation, 3.32 / 3.49 — "
        "Spark's RewriteDistinctAggregates partial-aggregates the "
        "distinct pair map-side already, and the two-level form's "
        "second full exchange costs more than the rewrite's row "
        "expansion saves."
    ),
)
def q_llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _SUBSTR_W
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tk"))
    # sequence(a, b) runs DESCENDING when b < a, so the short-doc case
    # must be an explicit empty array, mirroring the oracle's range()
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(tk) >= {w} THEN "
                f"transform(sequence(1, size(tk) - {w - 1}),"
                f" i -> concat_ws(' ', slice(tk, i, {w}))) "
                "ELSE array() END"
            )
        ).alias("p", "gram"),
    ).select(
        "doc_id",
        (F.col("p") + 1).cast("long").alias("pos"),
        F.substring(F.md5("gram"), 1, 16).alias("g"),
    )
    return (
        grams.groupBy("g")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.min("pos").alias("min_pos"),
        )
        .filter(F.col("n_docs") > 1)
        .select(
            F.col("g").alias("gram_hash"),
            "n_docs",
            "n_occurrences",
            "first_doc",
            "min_pos",
        )
    )
