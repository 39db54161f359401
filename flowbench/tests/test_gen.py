"""The generators are pure functions of the seed: same seed, same bytes."""

import hashlib
import os

import pyarrow.parquet as pq

from flowbench import gen

SMALL_TICKS = gen.TickShape(symbols=20, ticks_per_round=300)
SMALL_HISTORY = gen.HistoryShape(symbols=10, days=4, ticks_per_symbol_day=20)
SMALL_CORPUS = gen.CorpusShape(docs=200, files=2)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for base, _, names in os.walk(root):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _write_all(root: str, seed: int) -> None:
    gen.write_tick_rounds(os.path.join(root, "rounds"), seed, 5, SMALL_TICKS)
    gen.write_history(os.path.join(root, "history"), seed, SMALL_HISTORY)
    gen.write_corpus(os.path.join(root, "docs"), seed, SMALL_CORPUS)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_ticks_have_late_rows_in_earlier_windows(tmp_path):
    paths = gen.write_tick_rounds(str(tmp_path), 1, 6, SMALL_TICKS)
    span = SMALL_TICKS.round_minutes * gen.MINUTE_US
    for r, p in enumerate(paths):
        ts = pq.read_table(p).column("ts").cast("int64").to_numpy()
        start = gen.EPOCH_US + r * span
        late = (ts < start).mean()
        assert (late > 0) == (r >= 3)
        assert late < 3 * SMALL_TICKS.late_share
        assert ts.max() < start + span


def test_history_redelivers_a_share_of_ticks(tmp_path):
    n = gen.write_history(str(tmp_path), 1, SMALL_HISTORY)
    t = pq.read_table(str(tmp_path)).to_pandas()
    assert len(t) == n
    assert t["event_id"].is_unique
    dups = t.duplicated(["event_type", "ts"]).sum()
    base = SMALL_HISTORY.symbols * SMALL_HISTORY.days * SMALL_HISTORY.ticks_per_symbol_day
    assert 0 < dups and n == base + dups


def test_corpus_mix(tmp_path):
    n = gen.write_corpus(str(tmp_path), 1, SMALL_CORPUS)
    t = pq.read_table(str(tmp_path)).to_pandas()
    assert len(t) == n and t["doc_id"].is_unique
    norm = t["text"].str.strip().str.lower().str.split().str.join(" ")
    assert norm.duplicated().sum() >= n * SMALL_CORPUS.exact_dup_share * 0.8
    assert (t["text"].str.split().str.len() < 5).sum() == int(n * SMALL_CORPUS.low_quality_share)
