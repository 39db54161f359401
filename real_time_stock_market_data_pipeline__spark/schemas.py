"""Single source-of-truth schema registry.

The reference declares its tick schema inline
(`src/spark/jobs/spark_stream_processor.py:64-73`) and lets batch CSV
infer (`src/spark/jobs/spark_batch_processor.py:58-60`); the producer
emits ``percent_change`` while the stream schema declares
``change_percent`` (`src/kafka/producer/stream_data_producer.py:103` vs
`spark_stream_processor.py:68`), silently nulling the column. Here every
dataset has exactly one declared schema, and the tick reader reconciles
both field spellings (see `functions.cleaning.cast_tick_types`).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Real-time quote stream — producer payload
#: `stream_data_producer.py:99-108`, post-cast types
#: `spark_stream_processor.py:130-137`.
TICKS = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("price", T.DoubleType(), True),
        T.StructField("change", T.DoubleType(), True),
        T.StructField("change_percent", T.DoubleType(), True),
        T.StructField("volume", T.IntegerType(), True),
        T.StructField("today_low", T.DoubleType(), True),
        T.StructField("today_high", T.DoubleType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)

#: Raw tick as it arrives on the wire (everything stringly, `%`-suffixed
#: change_percent) — the shape `spark_stream_processor.py:64-73` declares
#: before its casts at `:130-137`.
TICKS_RAW = T.StructType(
    [
        T.StructField("symbol", T.StringType(), True),
        T.StructField("price", T.StringType(), True),
        T.StructField("change", T.StringType(), True),
        T.StructField("change_percent", T.StringType(), True),
        T.StructField("percent_change", T.StringType(), True),
        T.StructField("volume", T.StringType(), True),
        T.StructField("today_low", T.StringType(), True),
        T.StructField("today_high", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)

#: Daily OHLCV bars — yfinance fetch + rename
#: `src/kafka/producer/batch_data_producer.py:76-89`.
OHLCV_DAILY = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("batch_id", T.StringType(), True),
        T.StructField("batch_date", T.StringType(), True),
    ]
)

#: Batch output / warehouse table, PK (symbol, date) —
#: `spark_batch_processor.py:131-142`, DDL `load_to_snowflake.py:72-85`.
DAILY_METRICS = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("daily_open", T.DoubleType(), True),
        T.StructField("daily_high", T.DoubleType(), True),
        T.StructField("daily_low", T.DoubleType(), True),
        T.StructField("daily_volume", T.DoubleType(), True),
        T.StructField("daily_close", T.DoubleType(), True),
        T.StructField("daily_change", T.DoubleType(), True),
        T.StructField("last_updated", T.TimestampType(), True),
    ]
)

#: Streaming output / warehouse table, PK (symbol, window_start) —
#: `spark_stream_processor.py:205-220`, DDL
#: `realtime_load_to_snowflake.py:63-79`.
REALTIME_METRICS = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("window_start", T.TimestampType(), False),
        T.StructField("window_15m_end", T.TimestampType(), True),
        T.StructField("window_1h_end", T.TimestampType(), True),
        T.StructField("moving_avg_price_15m", T.DoubleType(), True),
        T.StructField("moving_avg_price_1h", T.DoubleType(), True),
        T.StructField("price_volatility_15m", T.DoubleType(), True),
        T.StructField("price_volatility_1h", T.DoubleType(), True),
        T.StructField("total_volume_15m", T.DoubleType(), True),
        T.StructField("total_volume_1h", T.DoubleType(), True),
        T.StructField("last_updated", T.TimestampType(), True),
    ]
)

#: North-star document table (TESTDATA.md).
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

#: North-star embedding table (TESTDATA.md), 64-dim float vectors.
EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

#: Multimodal blob column convention: payload is opaque binary plus
#: typed metadata; decode happens in mapInPandas (see
#: operators/multimodal.py).
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

REGISTRY: dict[str, T.StructType] = {
    "ticks": TICKS,
    "ticks_raw": TICKS_RAW,
    "ohlcv_daily": OHLCV_DAILY,
    "daily_metrics": DAILY_METRICS,
    "realtime_metrics": REALTIME_METRICS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
    "media": MEDIA,
}
