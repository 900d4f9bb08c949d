"""Independent output checks, one per workload, computed with DuckDB.

Every ``expect_*`` derives a workload's expectations from the generated
input files (never from the engine under test); the runner calls it once
per run, outside the timed loop. Every ``check_*`` compares one pipeline
run's output against them and returns a list of problems: an empty list
means the output is correct.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb

ROLLUP_SQL = """
SELECT l_returnflag, o_orderpriority, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(count(*) AS BIGINT) AS count_order,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(l_extendedprice * (100 - l_discount)) AS BIGINT) AS sum_disc_price,
       CAST(sum(l_extendedprice * (100 - l_discount) * (100 + l_tax)) AS BIGINT) AS sum_charge
FROM read_parquet('{dir}/lineitem.parquet') l
JOIN read_parquet('{dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
WHERE l_shipdate <= DATE '1998-09-02' AND l_discount <= 8
GROUP BY ALL ORDER BY ALL
"""

# a row is quarantined when any null check or custom rule fails; a rule
# that evaluates to NULL counts as failed, as in SQL WHERE
QUALITY_VIOLATION = (
    "email IS NULL OR country IS NULL"
    " OR NOT coalesce(amount_cents >= 0, false)"
    " OR NOT coalesce(quantity BETWEEN 1 AND 100, false)"
)

# the microbatch_window pipeline's window and watermark, in microseconds
WINDOW_US = 60 * 1_000_000
WATERMARK_DELAY_US = 30 * 1_000_000


def _query(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _parquet(path: Path) -> str:
    return f"read_parquet('{path.as_posix()}/*.parquet')"


def _row_count(path: Path) -> int:
    if not any(path.glob("*.parquet")):
        return 0
    return _query(f"SELECT count(*) FROM {_parquet(path)}")[0][0]


def expect_rollup(inputs: Path) -> list[tuple]:
    return _query(ROLLUP_SQL.format(dir=inputs.as_posix()))


def check_rollup(out: Path, expected: list[tuple]) -> list[str]:
    got = _query(
        "SELECT l_returnflag, o_orderpriority, CAST(ship_year AS INTEGER),"
        " CAST(count_order AS BIGINT), CAST(sum_qty AS BIGINT),"
        " CAST(sum_disc_price AS BIGINT), CAST(sum_charge AS BIGINT)"
        f" FROM {_parquet(out)} ORDER BY ALL"
    )
    if got != expected:
        diff = sorted(set(got) ^ set(expected))[:3]
        return [f"rollup: {len(got)} rows vs {len(expected)} expected; first differences {diff}"]
    return []


def expect_quality(inputs: Path) -> dict:
    src = f"read_parquet('{(inputs / 'orders_wide.parquet').as_posix()}')"
    total, violations = _query(
        f"SELECT count(*), count(*) FILTER (WHERE {QUALITY_VIOLATION}) FROM {src}"
    )[0]
    distinct = _query(f"SELECT count(*) FROM (SELECT DISTINCT * FROM {src})")[0][0]
    return {"extracted": total, "quarantined": violations, "duplicates": total - distinct}


def check_quality(metrics, out: Path, quarantine: Path, expected: dict) -> list[str]:
    """Loaded + quarantined = extracted, and the quarantine holds exactly
    the rows DuckDB finds in violation."""
    report = metrics.quality_report
    observed = {
        "records_extracted": (metrics.records_extracted, expected["extracted"]),
        "records_failed": (metrics.records_failed, expected["quarantined"]),
        "loaded + failed": (metrics.records_loaded + metrics.records_failed, expected["extracted"]),
        "duplicates": (getattr(report, "duplicates", None), expected["duplicates"]),
        "sink rows": (_row_count(out), expected["extracted"] - expected["quarantined"]),
        "quarantine rows": (_row_count(quarantine), expected["quarantined"]),
    }
    problems = [
        f"quality: {name} = {got}, expected {want}"
        for name, (got, want) in observed.items()
        if got != want
    ]
    cols = [r[0] for r in _query(f"DESCRIBE SELECT * FROM {_parquet(out)}")] if not problems else []
    if not problems and "_lineage" not in cols:
        problems.append("quality: sink output lacks the _lineage column")
    return problems


def expect_corpus(inputs: Path) -> dict:
    """The input's shape: the documents the quality filter must drop, the
    exact-copy groups, and how many originals and near-duplicates exist."""
    src = (
        f"read_parquet('{(inputs / 'documents.parquet').as_posix()}') d "
        f"JOIN read_parquet('{(inputs / 'labels.parquet').as_posix()}') l USING (doc_id)"
    )
    n_base, n_near = _query(
        f"SELECT count(*) FILTER (WHERE kind = 'base'), count(*) FILTER (WHERE kind = 'near') FROM {src}"
    )[0]
    groups = _query(
        f"SELECT list(doc_id) FROM {src} WHERE kind <> 'short' GROUP BY text HAVING count(*) > 1"
    )
    short = _query(f"SELECT list(doc_id) FROM {src} WHERE kind = 'short'")[0][0] or []
    return {
        "documents": (inputs / "documents.parquet").as_posix(),
        "n_base": n_base,
        "n_near": n_near,
        "exact_groups": [set(g[0]) for g in groups],
        "short_ids": set(short),
    }


def check_corpus(out: Path, expected: dict) -> tuple[list[str], str]:
    """Survivors are unique input documents with their input text; no
    document the quality filter rejects survives; at most one member of
    each exact-copy group survives; and most near-duplicates collapse
    into their original (MinHash is approximate, so not every one must).
    Returns (problems, digest of the surviving ids), so the
    runner can demand the same digest on every iteration."""
    ids = [r[0] for r in _query(f"SELECT doc_id FROM {_parquet(out)} ORDER BY 1")]
    (matched,) = _query(
        f"SELECT count(*) FROM {_parquet(out)} o"
        f" JOIN read_parquet('{expected['documents']}') i USING (doc_id)"
        " WHERE o.text = i.text"
    )[0]
    problems = []
    kept = set(ids)
    if len(kept) != len(ids):
        problems.append(f"corpus: {len(ids) - len(kept)} duplicate doc_ids in output")
    if not ids or matched != len(ids):
        problems.append(f"corpus: {len(ids) - matched} of {len(ids)} survivors are not input documents")
    if kept & expected["short_ids"]:
        problems.append("corpus: documents the quality filter rejects survived")
    multi = [g for g in expected["exact_groups"] if len(kept & g) > 1]
    if multi:
        problems.append(f"corpus: {len(multi)} exact-copy groups kept more than one member")
    if len(kept) > expected["n_base"] + expected["n_near"] // 2:
        problems.append(
            f"corpus: {len(kept)} survivors from {expected['n_base']} originals"
            f" and {expected['n_near']} near-duplicates"
        )
    digest = hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()
    return problems, digest


def expect_windows(inputs: Path) -> dict:
    events = (inputs / "events.parquet").as_posix()
    maxes = _query(f"SELECT max(ts_us) FROM read_parquet('{events}') GROUP BY step ORDER BY step")
    return {"events": events, "step_max_ts_us": [m[0] for m in maxes]}


def check_windows(out: Path, step: int, expected: dict) -> list[str]:
    """After drain ``step`` (steps 0..step landed) every emitted (window,
    metric) row must carry DuckDB's count and max over the landed events;
    every window the previous drains' watermark closed must be out, and
    none the current watermark still holds open."""
    maxes = expected["step_max_ts_us"]
    closed_hi = max(maxes[: step + 1]) - WATERMARK_DELAY_US
    closed_lo = max(maxes[:step]) - WATERMARK_DELAY_US if step else 0
    emitted: dict = {}
    if any(out.glob("*.parquet")):
        for start, metric, n, mx in _query(
            "SELECT epoch_us(CAST(window_start AS TIMESTAMP)), metric, events, max_value"
            f" FROM {_parquet(out)}"
        ):
            if (start, metric) in emitted:
                return [f"windows: window {start} {metric} emitted twice"]
            emitted[(start, metric)] = (n, mx)
    truth = {
        (start, metric): (n, mx)
        for start, metric, n, mx in _query(
            f"SELECT ts_us // {WINDOW_US} * {WINDOW_US}, metric, count(*), max(value)"
            f" FROM read_parquet('{expected['events']}')"
            f" WHERE step <= {step} AND value >= 0 GROUP BY ALL"
        )
    }
    problems = []
    for key, got in emitted.items():
        if truth.get(key) != got:
            problems.append(f"windows: {key} emitted {got}, DuckDB has {truth.get(key)}")
        if key[0] + WINDOW_US > closed_hi:
            problems.append(f"windows: {key} emitted before the watermark closed it")
    missing = [k for k in truth if k[0] + WINDOW_US <= closed_lo and k not in emitted]
    if missing:
        problems.append(f"windows: {len(missing)} closed windows not emitted, e.g. {missing[0]}")
    return problems[:5]
