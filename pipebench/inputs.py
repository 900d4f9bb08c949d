"""Seeded input generator for the pipeline benchmark.

Writes one workload's inputs for one seed into a directory. The runner
starts it as its own process, so the benchmark's memory high-water mark
never includes generation:

    python3 pipebench/inputs.py --workload quality_ingest --seed 1 --out DIR

The same seed always produces byte-identical files.
"""

from __future__ import annotations

import argparse
import json
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. Each run pays a fixed cost of several Spark
# jobs, so on a 4-vCPU virtual machine one warm run already takes seconds
# at these sizes (medians over 20 s windows): quality_ingest 3.1-3.7 s
# (4.4-5.1 s at 250K rows), a microbatch_window drain 4.1-5.7 s,
# corpus_curation 6.2-6.7 s, batch_rollup 1.8 s. Larger inputs would
# leave too few runs in a window for a steady median. 40 stream steps
# cover the warm-up plus a 20 s window of drains down to 0.5 s each.
SIZES = {
    "batch_rollup": {"lineitem": 1_200_000, "orders": 300_000},
    "quality_ingest": {"rows": 100_000},
    "corpus_curation": {"base_docs": 2_000, "near_dups": 400, "exact_dups": 150, "short_docs": 100},
    "microbatch_window": {"steps": 40, "events_per_step": 5_000},
}

# streaming event-time layout (seconds)
STEP_SPAN_S = 120
OUT_OF_ORDER_S = 20  # < the pipeline's 30 s watermark delay: never late
STREAM_T0_US = 1_700_000_000 * 1_000_000
METRICS = [f"m{i}" for i in range(8)]


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(workload.encode())])


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, row_group_size=256 * 1024)


def _dates(rng, n, start="1992-01-01", days=2520):
    base = np.datetime64(start, "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def gen_batch_rollup(rng, out: Path) -> dict:
    size = SIZES["batch_rollup"]
    n_o, n_l = size["orders"], size["lineitem"]
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_o // 10, n_o, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_o),
        "o_orderpriority": rng.choice(priorities, n_o),
        "o_orderdate": _dates(rng, n_o),
    })
    # ~9% of lines point past the last order: the inner join drops them
    lineitem = pa.table({
        "l_orderkey": rng.integers(1, n_o + n_o // 10, n_l, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n_l, dtype=np.int64),
        "l_extendedprice": rng.integers(90_000, 10_000_000, n_l, dtype=np.int64),
        "l_discount": rng.integers(0, 11, n_l, dtype=np.int64),
        "l_tax": rng.integers(0, 9, n_l, dtype=np.int64),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_l),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_l),
        "l_shipdate": _dates(rng, n_l),
    })
    _write(orders, out / "orders.parquet")
    _write(lineitem, out / "lineitem.parquet")
    return {"input_rows": n_l + n_o}


def gen_quality_ingest(rng, out: Path) -> dict:
    n = SIZES["quality_ingest"]["rows"]
    cust = rng.integers(1, 50_000, n, dtype=np.int64)
    email = np.char.add(np.char.add("user", cust.astype(str)), "@example.com").astype(object)
    email[rng.random(n) < 0.02] = None
    countries = np.array(["US", "DE", "FR", "JP", "BR", "IN", "GB", "CA", "MX", "KR"], dtype=object)
    country = rng.choice(countries, n)
    country[rng.random(n) < 0.02] = None
    amount = rng.integers(100, 500_000, n, dtype=np.int64)
    amount[rng.random(n) < 0.01] *= -1
    quantity = rng.integers(1, 101, n, dtype=np.int64)
    bad_qty = rng.random(n) < 0.01
    quantity[bad_qty] = rng.choice(np.array([0, 101, 250]), int(bad_qty.sum()))
    created = np.int64(1_690_000_000) * 1_000_000 + rng.integers(0, 10**13, n, dtype=np.int64)
    table = pa.table({
        "order_id": np.arange(n, dtype=np.int64),
        "customer_id": cust,
        "email": email,
        "country": country,
        "amount_cents": amount,
        "quantity": quantity,
        "unit_price_cents": rng.integers(50, 20_000, n, dtype=np.int64),
        "currency": rng.choice(np.array(["USD", "EUR", "JPY"]), n),
        "channel": rng.choice(np.array(["web", "app", "store", "phone"]), n),
        "status": rng.choice(np.array(["new", "paid", "shipped", "returned"]), n),
        "created_at": pa.array(created, pa.timestamp("us", tz="UTC")),
        "sku": np.char.add("SKU-", rng.integers(0, 10**6, n).astype(str)),
        "region": rng.choice(np.array(["north", "south", "east", "west"]), n),
        "score": rng.random(n).round(6),
        "discount_pct": rng.integers(0, 40, n, dtype=np.int64),
        "note": rng.choice(np.array(["", "gift", "rush", "fragile", "repeat customer"]), n),
    })
    # ~1% exact-duplicate rows, interleaved with the originals
    dup_idx = rng.choice(n, n // 100, replace=False)
    order = rng.permutation(np.concatenate([np.arange(n), dup_idx]))
    table = table.take(pa.array(order))
    _write(table, out / "orders_wide.parquet")
    return {"input_rows": table.num_rows}


def _vocab(rng, size=3000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(2, 11, size)
    words = {"".join(rng.choice(letters, k)) for k in lengths}
    return np.array(sorted(words))


def _doc(rng, vocab, n_tokens):
    ranks = np.minimum(rng.zipf(1.3, n_tokens), len(vocab)) - 1
    return list(vocab[ranks])


def _render(tokens):
    return " ".join(tok + ("." if i % 12 == 0 else "") for i, tok in enumerate(tokens, 1))


def _perturb(rng, tokens, vocab):
    """A near-duplicate: one token substituted, so the replica is not an
    exact copy but stays well above the pipeline's 0.8 Jaccard threshold
    (a base document has at least 40 tokens). A deletion or insertion
    would shift every later sentence mark and make a distant replica."""
    toks = list(tokens)
    toks[int(rng.integers(0, len(toks)))] = vocab[rng.integers(0, len(vocab))]
    return toks


def gen_corpus_curation(rng, out: Path) -> dict:
    size = SIZES["corpus_curation"]
    vocab = _vocab(rng)
    base = [_doc(rng, vocab, int(rng.integers(40, 160))) for _ in range(size["base_docs"])]
    texts = [_render(t) for t in base]
    kinds = ["base"] * len(base)
    for _ in range(size["near_dups"]):
        texts.append(_render(_perturb(rng, base[rng.integers(0, len(base))], vocab)))
        kinds.append("near")
    for _ in range(size["exact_dups"]):
        texts.append(texts[int(rng.integers(0, len(base)))])
        kinds.append("exact")
    for _ in range(size["short_docs"]):
        texts.append(_render(_doc(rng, vocab, int(rng.integers(1, 5)))))
        kinds.append("short")
    n = len(texts)
    perm = rng.permutation(n)
    ids = pa.array(np.arange(n, dtype=np.int64))
    table = pa.table({
        "doc_id": ids,
        "text": pa.array([texts[i] for i in perm]),
        "lang": pa.array(["en"] * n),
        "source": pa.array(rng.choice(np.array(["crawl", "books", "forum"]), n)),
        "n_chars": pa.array([len(texts[i]) for i in perm], pa.int64()),
    })
    _write(table, out / "documents.parquet")
    # how each document was made, for the oracle only (the pipeline never reads it)
    _write(pa.table({"doc_id": ids, "kind": [kinds[i] for i in perm]}), out / "labels.parquet")
    return {"input_rows": n}


def gen_microbatch_window(rng, out: Path) -> dict:
    size = SIZES["microbatch_window"]
    steps, per = size["steps"], size["events_per_step"]
    staging = out / "steps"
    staging.mkdir()
    cols = {"step": [], "event_id": [], "ts_us": [], "metric": [], "value": []}
    for k in range(steps):
        start = STREAM_T0_US + k * STEP_SPAN_S * 1_000_000
        ts = start + rng.integers(0, STEP_SPAN_S * 1_000_000, per, dtype=np.int64)
        late = rng.random(per) < 0.05
        if k:
            ts[late] = start - rng.integers(0, OUT_OF_ORDER_S * 1_000_000, int(late.sum()))
        value = rng.normal(50.0, 20.0, per).round(3)
        metric = rng.choice(np.array(METRICS), per)
        ids = np.arange(k * per, (k + 1) * per, dtype=np.int64)
        iso = np.datetime_as_string(ts.astype("datetime64[us]"), unit="us")
        with open(staging / f"step-{k:04d}.json", "w", encoding="utf-8") as f:
            for i in range(per):
                f.write(json.dumps({
                    "event_id": int(ids[i]), "ts": iso[i] + "Z",
                    "metric": str(metric[i]), "value": float(value[i]),
                }) + "\n")
        for name, col in (("step", np.full(per, k, dtype=np.int64)), ("event_id", ids),
                          ("ts_us", ts), ("metric", metric), ("value", value)):
            cols[name].append(col)
    _write(pa.table({k: np.concatenate(v) for k, v in cols.items()}), out / "events.parquet")
    return {"input_rows": per, "steps": steps}


GENERATORS = {
    "batch_rollup": gen_batch_rollup,
    "quality_ingest": gen_quality_ingest,
    "corpus_curation": gen_corpus_curation,
    "microbatch_window": gen_microbatch_window,
}


def generate(workload: str, seed: int, out: Path) -> dict:
    out.mkdir(parents=True, exist_ok=True)
    return GENERATORS[workload](rng_for(workload, seed), out)


def main() -> None:
    parser = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    parser.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--out", required=True, type=Path)
    args = parser.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
