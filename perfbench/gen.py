"""Seeded input generators. The same seed gives the same inputs; the
program only ever sees the generated files."""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

# ----------------------------------------------------------------------
# market_etl: crawler records in the Kafka wire format
# ----------------------------------------------------------------------

BAD_TIMESTAMP = "not-a-time"


def business_days(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def market_feed(seed: int, n_symbols: int, n_days: int) -> list[list[dict]]:
    """Per trading day, the crawler records of every symbol: a seeded
    random walk with the reference crawler's messy shapes — embedded
    dates needing regex salvage, lower-case tickers, null closes and
    exact re-deliveries of a message (Kafka at-least-once)."""
    rng = np.random.default_rng(seed)
    symbols = [f"T{i:02d}" for i in range(n_symbols)]
    price = 50.0 + rng.random(n_symbols) * 150.0
    days = business_days(dt.date(2021, 1, 4), n_days)
    out = []
    for d in days:
        iso = d.isoformat()
        recs = []
        for j, sym in enumerate(symbols):
            price[j] *= 1.0 + rng.normal(0.0, 0.015)
            close = round(float(price[j]), 2)
            open_ = round(close * (1.0 + rng.normal(0.0, 0.004)), 2)
            rec = {
                "ticker": sym.lower() if rng.random() < 0.1 else sym,
                "date": f"ts:{iso}T00:00:00Z" if rng.random() < 0.03 else iso,
                "open": open_,
                "high": round(max(open_, close) * 1.005, 2),
                "low": round(min(open_, close) * 0.995, 2),
                "close": None if rng.random() < 0.01 else close,
                "volume": int(rng.integers(10_000, 5_000_000)),
                "timestamp": f"{iso}T20:{int(rng.integers(0, 60)):02d}:00",
            }
            recs.append(rec)
            if rng.random() < 0.02:
                recs.append(dict(rec))
        out.append(recs)
    return out


def bad_timestamp_record(day: dt.date) -> dict:
    """One well-formed record whose crawl timestamp does not parse."""
    iso = day.isoformat()
    return {
        "ticker": "T00", "date": iso, "open": 10.0, "high": 10.5,
        "low": 9.5, "close": 10.2, "volume": 1000, "timestamp": BAD_TIMESTAMP,
    }


def land_frames(records: list[dict], landing_dir: str, name: str) -> None:
    """Write one Kafka frame per record (key=ticker, value=JSON) and
    move the file into the landing dir in one rename, so a stream never
    sees a half-written file."""
    staging = landing_dir.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    os.makedirs(landing_dir, exist_ok=True)
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as fh:
        for r in records:
            fh.write(json.dumps({"key": r["ticker"], "value": json.dumps(r)}) + "\n")
    os.rename(tmp, os.path.join(landing_dir, name))


# ----------------------------------------------------------------------
# analyst_queries: star-schema tables in the catalog's column contract
# ----------------------------------------------------------------------

VOCAB = (
    "data table row column scan join agg group key value hash merge "
    "stream batch window partition filter order index query fast slow "
    "big small spark line part customer supplier vector cache shard "
    "sort spill shuffle plan cost node task stage job driver file block "
    "page commit offset topic broker price trade volume ticker market"
).split()
_LANGS = ["en", "de", "fr", "zh", "es"]


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + offsets_us.astype("timedelta64[us]")


def star_schema(seed: int, out_dir: str, *, scale: float = 1.0) -> dict[str, int]:
    """Write lineitem, orders, events, documents and embeddings as
    parquet under ``out_dir`` (sf0.01 row counts at ``scale=1``).
    Returns the row count per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = max(int(15_000 * scale), 50)
    n_lines = n_orders * 4
    n_events = max(int(10_000 * scale), 50)
    n_docs = max(int(500 * scale), 40)
    n_vecs = max(int(500 * scale), 40)
    counts = {}

    def write(name: str, cols: dict, schema: pa.Schema) -> None:
        table = pa.table(cols, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    day0 = np.datetime64("1995-01-01", "D")
    write(
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, 1500, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": (day0 + rng.integers(0, 2404, n_orders)).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_orders,
            ),
        },
        pa.schema([
            ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
        ]),
    )
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, 2000, n_lines),
            "l_suppkey": rng.integers(0, 100, n_lines),
            "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": (day0 + 1 + rng.integers(0, 2498, n_lines)).astype(
                "datetime64[us]"
            ),
        },
        pa.schema([
            ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()), ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]),
    )
    span_us = 30 * 86_400 * 1_000_000
    write(
        "events",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts_us(
                dt.datetime(2024, 1, 1), np.sort(rng.integers(0, span_us, n_events))
            ),
            "user_id": rng.integers(0, 150, n_events),
            "event_type": rng.choice(
                ["view", "click", "cart", "buy", "error"], n_events
            ),
            "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
        },
        pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ]),
    )
    docs = corpus_texts(rng, n_docs)
    write(
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
        },
        pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
    )
    vecs, labels = clustered_vectors(rng, n_vecs)
    write(
        "embeddings",
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
            "label": labels.astype(np.int32),
        },
        pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    )
    return counts


def zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1)
    return w / w.sum()


def corpus_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Zipf-distributed whitespace text; ~5% are re-posts of an earlier
    document with changed case and spacing (exact-dedup targets)."""
    w = zipf_weights(len(VOCAB))
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = out[int(rng.integers(0, i))]
            out.append("  " + src.upper().replace(" ", "\t", 1) + " ")
            continue
        k = int(rng.integers(8, 80))
        out.append(" ".join(rng.choice(VOCAB, k, p=w)))
    return out


def clustered_vectors(rng: np.random.Generator, n: int, dim: int = 64):
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0.0, 0.35, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels
