"""Untimed output checks: each flow's final output against a DuckDB
replay built from the registered oracle SQL (``__spark_entry__``).

A check compares row count, schema (column names and type families) and
an order-insensitive value hash, and returns a list of human-readable
mismatches; an empty list means the output is correct.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

#: DuckDB type names folded to one family, so that a parquet timestamp
#: written with or without the UTC flag compares equal
_TYPE_FAMILY = {
    "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
    "TIMESTAMP_NS": "TIMESTAMP",
    "INTEGER": "BIGINT",
}


def canon_hash(df: pd.DataFrame) -> str:
    """sha256 over the rows rendered as text, sorted, columns in name
    order; floats render with ``repr`` so one ulp of drift shows."""
    cols = sorted(df.columns)
    rows = sorted(
        "|".join(repr(v) if isinstance(v, float) else str(v) for v in r)
        for r in df[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def schema_of(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple[str, str]]:
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return [(name, _TYPE_FAMILY.get(typ, typ)) for name, typ, *_ in rows]


def compare(
    con: duckdb.DuckDBPyConnection, got_sql: str, want_sql: str, label: str
) -> list[str]:
    """Row count, schema and value hash of two queries' results."""
    got_schema, want_schema = schema_of(con, got_sql), schema_of(con, want_sql)
    if got_schema != want_schema:
        return [f"{label}: schema {got_schema} != oracle {want_schema}"]
    got, want = con.execute(got_sql).df(), con.execute(want_sql).df()
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows != oracle {len(want)}"]
    if canon_hash(got) != canon_hash(want):
        return [f"{label}: value hash differs from oracle over {len(got)} rows"]
    return []


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def check_tick_target(
    target: str, round_files: list[str], oracle: str
) -> tuple[list[str], list[int]]:
    """The speed layer's final target against a replay of the per-batch
    upsert: the registered ``realtime_metrics`` oracle over each round's
    file, keeping the latest round per (symbol, window_start). Returns
    the mismatches and each round's output row count (the rows the
    batch produced, for the sink's rewrite ratio)."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for r, path in enumerate(round_files):
            con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{path}')")
            batch = f"SELECT {r} AS __round, * FROM ({oracle})"
            con.execute(f"INSERT INTO replay {batch}" if r else f"CREATE TABLE replay AS {batch}")
        per_round = dict(con.execute("SELECT __round, count(*) FROM replay GROUP BY 1").fetchall())
        produced = [per_round.get(r, 0) for r in range(len(round_files))]
        want = (
            "SELECT * EXCLUDE (__round) FROM replay "
            "QUALIFY row_number() OVER (PARTITION BY symbol, window_start "
            "ORDER BY __round DESC) = 1"
        )
        cols = [c for c, _ in schema_of(con, want)]
        got = f"SELECT {', '.join(cols)} FROM read_parquet('{target}/*.parquet')"
        errs = compare(con, got, want, "tick_stream target")
        stamps = con.execute(
            f"SELECT count(*) FROM read_parquet('{target}/*.parquet') "
            "WHERE last_updated IS NULL"
        ).fetchone()[0]
        if stamps:
            errs.append(f"tick_stream target: {stamps} rows without last_updated")
        return errs, produced
    finally:
        con.close()


#: keep-last per (symbol, day, event time) under event-id order: the
#: documented dedup of ``jobs.batch_daily_job``
_DEDUP_SQL = (
    "SELECT * FROM {src} QUALIFY row_number() OVER (PARTITION BY event_type, "
    "CAST(ts AS DATE), ts ORDER BY event_id DESC) = 1"
)


def check_warehouse(history: str, warehouse: str, oracle: str) -> list[str]:
    """The batch layer's warehouse bars against the registered
    ``daily_metrics`` oracle over the keep-last-deduplicated history."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS {_DEDUP_SQL.format(src=_parquet(history))}")
        cols = [c for c, _ in schema_of(con, oracle)]
        got = f"SELECT {', '.join(cols)} FROM read_parquet('{warehouse}/*.parquet')"
        return compare(con, got, oracle, "eod_batch warehouse")
    finally:
        con.close()


def history_counts(history: str) -> tuple[int, int]:
    """(rows, distinct (symbol, day)) of the raw history."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        return con.execute(
            f"SELECT count(*), count(DISTINCT (event_type, CAST(ts AS DATE))) "
            f"FROM {_parquet(history)}"
        ).fetchone()
    finally:
        con.close()


def exact_dedup_survivors(
    docs: str, quality_oracle: str, dedup_oracle: str, min_score: float, min_words: int
) -> tuple[int, int, set[int]]:
    """Counts after the quality gate and after exact dedup, and the
    surviving ids, from the registered ``quality_filter`` and
    ``dedup_exact`` oracles. The quality oracle's fixed thresholds are
    replaced by the pipeline's."""
    fixed = "quality_score >= 0.8 AND n_words >= 30"
    if fixed not in quality_oracle:
        raise ValueError("quality_filter oracle no longer has the expected thresholds")
    quality = quality_oracle.replace(
        fixed, f"quality_score >= {min_score} AND n_words >= {min_words}"
    )
    con = duckdb.connect()
    try:
        raw = f"SELECT * FROM read_parquet('{docs}/*.parquet')"
        con.execute(f"CREATE VIEW documents AS {raw}")
        con.execute(f"CREATE TABLE kept AS SELECT doc_id FROM ({quality})")
        con.execute(f"CREATE OR REPLACE VIEW documents AS {raw} SEMI JOIN kept USING (doc_id)")
        n_quality = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        ids = {r[0] for r in con.execute(f"SELECT keep_id FROM ({dedup_oracle})").fetchall()}
        return n_quality, len(ids), ids
    finally:
        con.close()


def check_corpus(
    docs: str, out_dir: str, funnels: list[dict[str, int]], oracles: dict[str, str],
    min_score: float, min_words: int,
) -> list[str]:
    """The corpus funnel: quality and exact-dedup counts equal the
    oracles', every repeat's funnel is identical, and the written corpus
    holds only exact-dedup survivors, as many as the funnel says."""
    errs = []
    if any(f != funnels[0] for f in funnels):
        errs.append(f"corpus_batch: funnel differs between repeats: {funnels}")
    f = funnels[-1]
    n_quality, n_exact, keep = exact_dedup_survivors(
        docs, oracles["quality_filter"], oracles["dedup_exact"], min_score, min_words
    )
    if f["quality_filter"] != n_quality:
        errs.append(f"corpus_batch: quality_filter {f['quality_filter']} != oracle {n_quality}")
    if f["exact_dedup"] != n_exact:
        errs.append(f"corpus_batch: exact_dedup {f['exact_dedup']} != oracle {n_exact}")
    con = duckdb.connect()
    try:
        written = [r[0] for r in con.execute(
            f"SELECT doc_id FROM {_parquet(os.path.join(out_dir, 'corpus'))}"
        ).fetchall()]
    finally:
        con.close()
    if len(written) != f["write"]:
        errs.append(f"corpus_batch: {len(written)} written != funnel {f['write']}")
    stray = set(written) - keep
    if stray:
        errs.append(f"corpus_batch: {len(stray)} written docs are not exact-dedup survivors")
    return errs
