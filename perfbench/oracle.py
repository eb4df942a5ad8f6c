"""The stream check's reference: the index the pipeline must produce,
computed by DuckDB straight from the generated JSON-lines files."""

from __future__ import annotations

import duckdb

import datagen

STREAM_ORACLE = """
WITH raw AS (
  SELECT filename AS f, line FROM read_csv('{src}/*.json', columns={{'line': 'VARCHAR'}},
    delim='{delim}', quote='', escape='', header=false, auto_detect=false, filename=true)
), parsed AS (
  SELECT CASE WHEN f LIKE '%/backlog-%' THEN 0
              ELSE 2 + CAST(regexp_extract(f, 'tail-([0-9]+)\\.json', 1) AS INTEGER) END AS batch,
         CASE WHEN json_valid(line) THEN line->>'$.event_type' END AS event_type,
         CASE WHEN json_valid(line) THEN CAST(line->>'$.ts' AS TIMESTAMP) END AS ts,
         CASE WHEN json_valid(line) THEN CAST(line->>'$.value' AS DOUBLE) END AS value
  FROM raw
), kept AS (
  SELECT batch, event_type, ts, value,
         epoch_us(ts) - epoch_us(ts) % {window_us} AS wstart
  FROM parsed
  WHERE event_type IN {types} AND value >= 0 AND ts IS NOT NULL
), wm AS (
  SELECT batch, max(max_ms) OVER (ORDER BY batch RANGE BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                - {watermark_ms} AS wm_ms
  FROM (SELECT batch, max(epoch_ms(ts)) AS max_ms FROM kept GROUP BY batch)
)
SELECT CAST(wstart AS VARCHAR) || ':' || event_type AS doc_id,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM kept JOIN wm USING (batch)
WHERE wm_ms IS NULL OR wstart + {window_us} > wm_ms * 1000
GROUP BY ALL
"""


def stream_oracle(src_dir: str) -> dict[str, tuple[int, float]]:
    """The index the pipeline must produce, computed by DuckDB straight
    from the generated files: malformed lines and the events the watermark
    must drop left out.

    Trigger ids follow the run: the backlog is trigger 0, the catch-up's
    no-data trigger is 1, tail file i is trigger i + 2. A trigger's
    late-row filter uses the previous trigger's watermark, i.e. the max
    event time of triggers up to two before it, minus 15 minutes
    (datagen.watermark_model states the same rule).
    """
    sql = STREAM_ORACLE.format(
        src=src_dir,
        delim=chr(31),
        window_us=datagen.WINDOW_US,
        watermark_ms=datagen.WATERMARK_MS,
        types=str(tuple(datagen.EVENT_TYPES)),
    )
    con = duckdb.connect()
    try:
        return {d: (int(n), float(s)) for d, n, s in con.execute(sql).fetchall()}
    finally:
        con.close()


def compare_index(got: dict[str, dict], want: dict[str, tuple[int, float]]) -> list[str]:
    errs = []
    if set(got) != set(want):
        extra, missing = set(got) - set(want), set(want) - set(got)
        errs.append(f"doc ids: {len(extra)} unexpected, {len(missing)} missing")
    for doc_id in sorted(set(got) & set(want)):
        n, s = want[doc_id]
        src = got[doc_id]
        if src["n_events"] != n or abs(src["sum_value"] - s) > 1e-6 * max(1.0, abs(s)):
            errs.append(f"{doc_id}: got ({src['n_events']}, {src['sum_value']}) want ({n}, {s})")
            break
    return errs
