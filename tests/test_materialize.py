"""`session.materialize` is the package's one way to compute a frame
once: it checkpoints the frame and releases the source's Java handle,
so the source's executed plan (its broadcast relations) leaves the
driver heap at once instead of whenever Python's cycle collector frees
the py4j handle."""

from __future__ import annotations

import ast
import time
from pathlib import Path

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark.session import materialize

PACKAGE = (
    Path(__file__).resolve().parent.parent
    / "real_time_stock_market_data_pipeline__spark"
)


def test_materialize_keeps_rows_and_releases_source(spark):
    src = spark.range(20).withColumn("sq", F.col("id") * F.col("id"))
    expected = sorted(src.collect())
    done = materialize(src)
    assert sorted(done.collect()) == expected
    plan = done._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    # the source's Java handle is gone: any call on it fails in py4j.
    # In pinned-thread mode py4j sends the release from its finalizer
    # thread, so it lands shortly after materialize returns.
    deadline = time.monotonic() + 30
    while True:
        try:
            src._jdf.toString()
        except Py4JError:
            break
        assert time.monotonic() < deadline, "source handle still live"
        time.sleep(0.05)
    with pytest.raises(Py4JError):
        src.count()


def test_local_checkpoint_only_inside_materialize():
    """Every pin of a frame goes through `materialize`, so none can
    keep its source's executed plan alive by accident."""
    allowed, defs, stray = set(), [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        for n in ast.walk(ast.parse(text)):
            if isinstance(n, ast.FunctionDef) and n.name == "materialize":
                defs.append(path.relative_to(PACKAGE).as_posix())
                allowed |= {
                    (path, i) for i in range(n.lineno, n.end_lineno + 1)
                }
        stray += [
            f"{path.relative_to(PACKAGE)}:{i}"
            for i, line in enumerate(text.splitlines(), 1)
            if ".localCheckpoint(" in line and (path, i) not in allowed
        ]
    assert not stray, (
        f"{len(stray)} bare .localCheckpoint( outside materialize: {stray}"
    )
    assert defs == ["session.py"]
