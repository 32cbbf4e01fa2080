"""Seeded input generators for the streaming-SQL benchmark.

Every generator runs in its own single process (``python3 gen.py <kind>
...``) and is the only writer of its output directory. Each parquet file is
written to a hidden temp name (``.tmp-*``, which Spark's file source never
lists) and then renamed into place, so the engine only ever sees whole
files. The same ``--seed`` gives byte-identical files.

Kinds:

- ``avro``: a time-ordered trades backlog (Zipf-skewed symbols, µs event
  times) as schemaless Avro-binary ``value`` records (decimal(19,4) price),
  encoded by this file's own encoder so the engine's decoder is checked
  against an independent writer, split into contiguous files.
- ``docs``: one ``documents.parquet`` with the test-data ``documents`` schema:
  exact and whitespace/case duplicates, a language mix, a spread of quality.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in µs: the backlog's first event time.
EPOCH_US = 1_704_067_200_000_000
N_SYMBOLS = 500
ZIPF_S = 1.1

AVRO_SCHEMA = {
    "type": "record",
    "name": "Trade",
    "fields": [
        {"name": "trade_id", "type": "long"},
        {"name": "symbol", "type": "string"},
        {"name": "qty", "type": "int"},
        {
            "name": "price",
            "type": {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": 19,
                "scale": 4,
            },
        },
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}

LANGS = ("en", "zh", "de", "fr", "es", "ja")
LANG_P = (0.40, 0.15, 0.15, 0.12, 0.12, 0.06)
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
CONTENT = (
    "stream window join state batch query table value price symbol trade "
    "order market spark engine sink source offset commit latency record "
    "event watermark schema decimal partition shuffle stage task driver "
    "column filter group merge sort scan vector index token corpus"
).split()


def rng_for(seed: int) -> np.random.Generator:
    """Any integer seed, negative ones included (numpy takes only >= 0)."""
    return np.random.default_rng(seed % (1 << 64))


def symbols() -> list[str]:
    return [f"S{i:03d}" for i in range(N_SYMBOLS)]


def zipf_codes(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` symbol codes, Zipf-skewed over the ``N_SYMBOLS`` symbols."""
    p = 1.0 / np.arange(1, N_SYMBOLS + 1) ** ZIPF_S
    return rng.choice(N_SYMBOLS, size=n, p=p / p.sum())


def write_atomic(table: pa.Table, out_dir: str, name: str) -> str:
    """Write ``table`` as ``out_dir/name`` via a hidden temp file + rename."""
    tmp = os.path.join(out_dir, f".tmp-{name}")
    dst = os.path.join(out_dir, name)
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, dst)
    return dst


def trades_table(seed: int, rows: int, span_s: float) -> pa.Table:
    """``rows`` trades over ``span_s`` seconds of event time, time-ordered."""
    rng = rng_for(seed)
    gaps = rng.exponential(span_s * 1e6 / rows, size=rows)
    ts = EPOCH_US + np.cumsum(gaps).astype(np.int64)
    syms = np.array(symbols(), dtype=object)[zipf_codes(rng, rows)]
    # price in 1e-4 units: the unscaled value of the decimal(19,4)
    price_units = rng.integers(100_000, 5_000_000, size=rows, dtype=np.int64)
    qty = rng.integers(1, 1000, size=rows, dtype=np.int64)
    return pa.table(
        {
            "trade_id": pa.array(np.arange(rows, dtype=np.int64)),
            "symbol": pa.array(syms, type=pa.string()),
            "price_units": pa.array(price_units),
            "qty": pa.array(qty),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        }
    )


def split_write(table: pa.Table, out_dir: str, files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    return [
        write_atomic(table.slice(lo, hi - lo), out_dir, f"part-{i:05d}.parquet")
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
    ]


# -- Avro binary (spec 1.11 encoding of AVRO_SCHEMA, written independently
# of the engine's codec) --------------------------------------------------


def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _decimal_bytes(unscaled: int) -> bytes:
    """Two's-complement big-endian, minimal length (Avro decimal on bytes)."""
    length = max(1, (unscaled.bit_length() + 8) // 8)
    return unscaled.to_bytes(length, "big", signed=True)


def avro_encode(trade_id: int, symbol: str, qty: int, price_units: int, ts_us: int) -> bytes:
    sym = symbol.encode()
    dec = _decimal_bytes(price_units)
    return b"".join(
        (
            _zigzag(trade_id),
            _zigzag(len(sym)),
            sym,
            _zigzag(qty),
            _zigzag(len(dec)),
            dec,
            _zigzag(ts_us),
        )
    )


def gen_avro(a) -> None:
    t = trades_table(a.seed, a.rows, a.span_s)
    cols = [
        t.column(c).to_pylist()
        for c in ("trade_id", "symbol", "qty", "price_units")
    ]
    ts = t.column("ts").cast(pa.int64()).to_pylist()
    values = [avro_encode(*row) for row in zip(*cols, ts)]
    split_write(pa.table({"value": pa.array(values, type=pa.binary())}), a.out, a.files)


# -- documents --------------------------------------------------------------


def _doc_text(rng: np.random.Generator, quality: str) -> str:
    n = int(rng.integers(3, 19)) if quality == "short" else int(rng.integers(25, 400))
    stop_p = 0.02 if quality == "nostop" else 0.3
    stops = np.array(STOPWORDS[:1] if quality == "nostop" else STOPWORDS)
    words = np.where(
        rng.random(n) < stop_p,
        stops[rng.integers(len(stops), size=n)],
        np.array(CONTENT)[rng.integers(len(CONTENT), size=n)],
    ).astype(object)
    if quality == "symbols":  # fails the symbol-ratio gate
        words = np.where(rng.random(n) < 0.3, words + "#", words)
    elif quality == "longwords":  # fails the mean-word-length gate
        words = words * 4
    return " ".join(words)


def docs_table(seed: int, n: int) -> pa.Table:
    rng = rng_for(seed)
    qualities = rng.choice(
        ["good", "short", "nostop", "symbols", "longwords"],
        size=n, p=[0.7, 0.08, 0.08, 0.07, 0.07],
    )
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))])
        elif i > 10 and r < 0.15:  # same text after normalization
            src = texts[int(rng.integers(i))]
            texts.append("  " + src.upper().replace(" ", "   ") + " ")
        else:
            texts.append(_doc_text(rng, qualities[i]))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def gen_docs(a) -> None:
    os.makedirs(a.out, exist_ok=True)
    write_atomic(docs_table(a.seed, a.docs), a.out, "documents.parquet")


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="kind", required=True)
    s = sub.add_parser("avro")
    s.add_argument("--rows", type=int, required=True)
    s.add_argument("--files", type=int, default=8)
    s.add_argument("--span-s", type=float, default=1800.0)
    s = sub.add_parser("docs")
    s.add_argument("--docs", type=int, required=True)
    for s in sub.choices.values():
        s.add_argument("--seed", type=int, required=True)
        s.add_argument("--out", required=True)
    a = p.parse_args(argv)
    {"avro": gen_avro, "docs": gen_docs}[a.kind](a)


if __name__ == "__main__":
    main()
