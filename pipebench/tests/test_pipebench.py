"""Self-tests of the pipeline benchmark; they need no SparkSession.

    python3 -m pytest pipebench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path
from types import SimpleNamespace

import duckdb
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _digest(path: Path) -> dict[str, str]:
    return {
        p.relative_to(path).as_posix(): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(path.rglob("*")) if p.is_file()
    }


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    """Every workload generated twice for seed 1, once for seed 2."""
    root = tmp_path_factory.mktemp("inputs")
    out = {}
    for workload in inputs.GENERATORS:
        for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
            path = root / f"{workload}-{tag}"
            inputs.generate(workload, seed, path)
            out[workload, tag] = path
    return out


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_same_inputs_other_seed_other_inputs(generated, workload):
    a, b, c = (_digest(generated[workload, tag]) for tag in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[name] != c[name] for name in a)


def _copy(sql: str, path: Path) -> Path:
    path.mkdir(parents=True, exist_ok=True)
    duckdb.execute(f"COPY ({sql}) TO '{path / 'part-0.parquet'}' (FORMAT PARQUET)")
    return path


def test_rollup_oracle_rejects_planted_wrong_output(generated, tmp_path):
    src = generated["batch_rollup", "a"]
    expected = oracle.expect_rollup(src)
    right = _copy(oracle.ROLLUP_SQL.format(dir=src.as_posix()), tmp_path / "right")
    assert oracle.check_rollup(right, expected) == []
    wrong = _copy(
        f"SELECT * REPLACE (sum_qty + (ship_year = 1995)::BIGINT AS sum_qty)"
        f" FROM ({oracle.ROLLUP_SQL.format(dir=src.as_posix())})",
        tmp_path / "wrong",
    )
    assert oracle.check_rollup(wrong, expected)


def test_quality_oracle_rejects_planted_wrong_output(generated, tmp_path):
    src = (generated["quality_ingest", "a"] / "orders_wide.parquet").as_posix()
    expected = oracle.expect_quality(generated["quality_ingest", "a"])
    valid = f"SELECT *, 'x' AS _lineage FROM read_parquet('{src}') WHERE NOT ({oracle.QUALITY_VIOLATION})"
    bad = f"SELECT * FROM read_parquet('{src}') WHERE {oracle.QUALITY_VIOLATION}"
    out = _copy(valid, tmp_path / "out")
    quarantine = _copy(bad, tmp_path / "quarantine")
    metrics = SimpleNamespace(
        records_extracted=expected["extracted"],
        records_failed=expected["quarantined"],
        records_loaded=expected["extracted"] - expected["quarantined"],
        quality_report=SimpleNamespace(duplicates=expected["duplicates"]),
    )
    assert oracle.check_quality(metrics, out, quarantine, expected) == []
    # one violating row let through to the sink
    leaky = _copy(
        f"{valid} UNION ALL (SELECT *, 'x' FROM read_parquet('{src}') WHERE {oracle.QUALITY_VIOLATION} LIMIT 1)",
        tmp_path / "leaky",
    )
    assert oracle.check_quality(metrics, leaky, quarantine, expected)
    metrics.records_failed -= 1
    assert oracle.check_quality(metrics, out, quarantine, expected)


def test_corpus_oracle_rejects_planted_wrong_output(generated, tmp_path):
    src = generated["corpus_curation", "a"]
    expected = oracle.expect_corpus(src)
    docs = f"read_parquet('{(src / 'documents.parquet').as_posix()}') d"
    labels = f"read_parquet('{(src / 'labels.parquet').as_posix()}') l"
    # one survivor per distinct text among the originals and exact copies
    right = _copy(
        f"SELECT min(doc_id) AS doc_id, text FROM {docs} JOIN {labels} USING (doc_id)"
        " WHERE kind IN ('base', 'exact') GROUP BY text",
        tmp_path / "right",
    )
    problems, digest = oracle.check_corpus(right, expected)
    assert problems == []
    assert digest == oracle.check_corpus(right, expected)[1]
    short = _copy(
        f"SELECT doc_id, text FROM {docs} JOIN {labels} USING (doc_id) WHERE kind <> 'near'",
        tmp_path / "with_short_and_copies",
    )
    assert oracle.check_corpus(short, expected)[0]
    altered = _copy(
        f"SELECT doc_id, text || ' x' AS text FROM read_parquet('{right}/*.parquet')",
        tmp_path / "altered",
    )
    assert oracle.check_corpus(altered, expected)[0]


def test_window_oracle_rejects_planted_wrong_output(generated, tmp_path):
    src = generated["microbatch_window", "a"]
    expected = oracle.expect_windows(src)
    step = 3
    closed = max(expected["step_max_ts_us"][: step + 1]) - oracle.WATERMARK_DELAY_US
    windows = (
        "SELECT make_timestamp(start) AS window_start, metric, count(*) AS events,"
        f" max(value) AS max_value FROM (SELECT ts_us // {oracle.WINDOW_US} * {oracle.WINDOW_US}"
        f" AS start, * FROM read_parquet('{expected['events']}'))"
        f" WHERE step <= {step} AND value >= 0 AND start + {oracle.WINDOW_US} <= {closed}"
        " GROUP BY start, metric"
    )
    right = _copy(windows, tmp_path / "right")
    assert oracle.check_windows(right, step, expected) == []
    wrong = _copy(
        f"SELECT * REPLACE (events + (metric = 'm3')::BIGINT AS events) FROM ({windows})",
        tmp_path / "wrong",
    )
    assert oracle.check_windows(wrong, step, expected)


def test_metric_names_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER_UNITS
    assert {w["name"] for w in BENCHMARK["workloads"]} <= run.WORKLOADS.keys()
