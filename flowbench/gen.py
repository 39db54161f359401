"""Seeded input generators for the flow benchmark.

Every generator is a pure function of its seed and sizes: it draws from
one ``numpy.random.Generator`` and writes plain parquet with pyarrow, so
the same seed gives byte-identical files. The engine never sees the
generator, only the files.

- :func:`write_tick_rounds` — the speed layer's input: one parquet file
  per round, random-walk ticks in the ``events`` column layout, with a
  share of out-of-order ticks that land in windows earlier rounds
  already wrote.
- :func:`write_history` — the batch layer's input: a multi-day tick
  history in the ``year=/month=/day=`` landing layout, with a share of
  re-delivered ticks for keep-last dedup to remove.
- :func:`write_corpus` — the LLM-data input: documents with stated
  shares of low-quality, exact-duplicate, near-duplicate and
  shared-boilerplate documents, so every funnel stage removes something.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("volume", pa.int64()),
    ]
)

#: 2024-01-02 09:30 UTC in microseconds: the first tick round / trading day
EPOCH_US = 1_704_187_800_000_000
MINUTE_US = 60_000_000
DAY_US = 24 * 60 * MINUTE_US


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _symbols(n: int) -> np.ndarray:
    return np.array([f"SYM{i:04d}" for i in range(n)], dtype=object)


def _walk(
    rng: np.random.Generator, sym: np.ndarray, start: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Random-walk prices for ticks already sorted by event time, shaped
    like the reference producer: a ±0.5% market factor shared by every
    symbol, a ±0.5% stock factor, and a 5% chance of a ±2% jump. Returns
    the tick prices (rounded to the cent) and each symbol's last price."""
    n = len(sym)
    market = rng.uniform(-0.005, 0.005)
    step = market + rng.uniform(-0.005, 0.005, n)
    jump = rng.random(n) < 0.05
    step = step + np.where(jump, rng.choice([-0.02, 0.02], n), 0.0)
    log_step = np.log1p(step)
    # per-symbol running sum of log steps, in event-time order
    order = np.argsort(sym, kind="stable")
    cum = np.cumsum(log_step[order])
    s_sorted = sym[order]
    first = np.r_[True, s_sorted[1:] != s_sorted[:-1]]
    group_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    base = np.where(group_start > 0, cum[group_start - 1], 0.0)
    walked = np.empty(n)
    walked[order] = start[s_sorted] * np.exp(cum - base)
    last = start.copy()
    last[sym[order]] = walked[order]  # later ticks overwrite earlier ones
    return np.round(walked, 2), last


@dataclass(frozen=True)
class TickShape:
    """Sizes of the speed-layer input."""

    symbols: int = 500
    ticks_per_round: int = 5000
    #: event time one round covers: one new 10-minute window per symbol
    round_minutes: int = 10
    #: share of a round's ticks stamped 10 to 30 minutes early, so they
    #: land in windows that earlier rounds already wrote
    late_share: float = 0.05


def write_tick_rounds(
    out_dir: str, seed: int, n_rounds: int, shape: TickShape = TickShape()
) -> list[str]:
    """One parquet file per round under ``out_dir``; returns the paths
    in round order. Event time advances ``round_minutes`` per round."""
    rng = np.random.default_rng([seed, 1])
    names = _symbols(shape.symbols)
    price = rng.uniform(20.0, 500.0, shape.symbols)
    n = shape.ticks_per_round
    span = shape.round_minutes * MINUTE_US
    paths = []
    for r in range(n_rounds):
        t0 = EPOCH_US + r * span
        ts = np.sort(t0 + rng.integers(0, span, n))
        sym = rng.integers(0, shape.symbols, n)
        value, price = _walk(rng, sym, price)
        if r >= 3:
            late = rng.random(n) < shape.late_share
            ts = np.where(late, t0 - rng.integers(MINUTE_US, 3 * span, n), ts)
        table = pa.table(
            {
                "event_id": np.arange(r * n, (r + 1) * n, dtype=np.int64),
                "ts": ts.astype("datetime64[us]"),
                "event_type": names[sym],
                "value": value,
                "volume": rng.integers(1000, 100_001, n),
            },
            schema=TICK_SCHEMA,
        )
        path = os.path.join(out_dir, f"round_{r:05d}.parquet")
        _write(table, path)
        paths.append(path)
    return paths


@dataclass(frozen=True)
class HistoryShape:
    """Sizes of the batch-layer input."""

    symbols: int = 200
    days: int = 20
    ticks_per_symbol_day: int = 150
    #: share of ticks delivered twice: same (symbol, ts), later event id,
    #: corrected price — keep-last dedup must keep the re-delivery
    dup_share: float = 0.03


def write_history(out_dir: str, seed: int, shape: HistoryShape = HistoryShape()) -> int:
    """The history as ``out_dir/year=Y/month=M/day=D/part-0.parquet``,
    one file per trading day (weekends skipped). Returns the row count,
    duplicates included."""
    rng = np.random.default_rng([seed, 2])
    names = _symbols(shape.symbols)
    price = rng.uniform(20.0, 500.0, shape.symbols)
    session_us = 390 * MINUTE_US  # 09:30-16:00
    day0 = np.datetime64(EPOCH_US, "us").astype("datetime64[D]")
    days = np.busday_offset(day0, np.arange(shape.days), roll="forward")
    n = shape.symbols * shape.ticks_per_symbol_day
    next_id, total = 0, 0
    for d in days:
        t0 = (d - day0).astype("timedelta64[D]").astype(np.int64) * DAY_US + EPOCH_US
        ts = np.sort(t0 + rng.integers(0, session_us, n))
        sym = rng.integers(0, shape.symbols, n)
        value, price = _walk(rng, sym, price)
        dup = np.flatnonzero(rng.random(n) < shape.dup_share)
        corrected = np.round(value[dup] * (1 + rng.uniform(-0.001, 0.001, len(dup))), 2)
        ts = np.r_[ts, ts[dup]]
        sym = np.r_[sym, sym[dup]]
        value = np.r_[value, corrected]
        m = len(ts)
        table = pa.table(
            {
                "event_id": np.arange(next_id, next_id + m, dtype=np.int64),
                "ts": ts.astype("datetime64[us]"),
                "event_type": names[sym],
                "value": value,
                "volume": rng.integers(1000, 100_001, m),
            },
            schema=TICK_SCHEMA,
        )
        y, mo, dd = str(d).split("-")
        _write(
            table,
            os.path.join(
                out_dir, f"year={int(y)}", f"month={int(mo)}", f"day={int(dd)}",
                "part-0.parquet",
            ),
        )
        next_id += m
        total += m
    return total


#: words the quality score counts as stopwords (operators.text)
STOPWORDS = ["the", "and", "of", "to", "is", "in", "that", "a", "it", "for", "on", "with", "as"]


@dataclass(frozen=True)
class CorpusShape:
    """Sizes and shares of the LLM-data input. Shares are of the total
    document count; the rest are distinct base documents."""

    docs: int = 1500
    low_quality_share: float = 0.05
    exact_dup_share: float = 0.10
    near_dup_share: float = 0.10
    boilerplate_share: float = 0.15
    files: int = 4


def _base_doc(rng: np.random.Generator, vocab: np.ndarray) -> list[str]:
    n = int(rng.integers(40, 120))
    words = vocab[rng.integers(0, len(vocab), n)]
    stop = rng.random(n) < 0.3
    words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), stop.sum())]
    return list(words)


def write_corpus(out_dir: str, seed: int, shape: CorpusShape = CorpusShape()) -> int:
    """Documents ``(doc_id, text)`` as ``shape.files`` parquet files.
    Boilerplate is a 16-word header (two whole 8-word blocks of the
    substring-dedup segmentation), so later copies lose exactly those
    blocks. Returns the document count."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(
        ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), int(k)))
         for k in rng.integers(3, 9, 600)],
        dtype=object,
    )
    header = " ".join(_base_doc(rng, vocab)[:16])
    n = shape.docs
    n_low = int(n * shape.low_quality_share)
    n_exact = int(n * shape.exact_dup_share)
    n_near = int(n * shape.near_dup_share)
    n_boiler = int(n * shape.boilerplate_share)
    n_base = n - n_low - n_exact - n_near
    base = [_base_doc(rng, vocab) for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    for i in rng.choice(n_base, n_boiler, replace=False):
        texts[i] = header + " " + texts[i]
    for i in rng.integers(0, n_base, n_exact):
        # same normalized text: case and whitespace changes only
        texts.append("  " + texts[i].upper().replace(" ", "  ", 3) + " ")
    for i in rng.integers(0, n_base, n_near):
        words = list(base[i])
        for j in rng.choice(len(words), int(rng.integers(1, 3)), replace=False):
            words[j] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(words))
    for _ in range(n_low):
        # digit-heavy fragments the quality score rejects
        texts.append(" ".join(str(x) for x in rng.integers(0, 10**6, 4)))
    ids = rng.permutation(n).astype(np.int64)
    table = pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())})
    table = table.sort_by("doc_id")
    per = -(-n // shape.files)
    for f in range(shape.files):
        _write(table.slice(f * per, per), os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return n
