from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from real_time_stock_market_data_pipeline__spark.session import get_spark

    s = get_spark("rtsmdp-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class InjectedCrash(Exception):
    """A kill injected into a directory swap of the `sinks` module."""


@pytest.fixture()
def crash_at(monkeypatch):
    """Arm one injected kill in the next `sinks` directory swap and
    return its exception type, for ``pytest.raises``:

    - ``crash_at("rename", n)``: the n-th ``os.rename`` raises before
      it moves anything;
    - ``crash_at("swap", n)``: the n-th ``os.rename`` of a staged
      ``.<name>.stage`` directory into place raises, so the live
      directory is already at its ``.old`` sibling (the window
      between a swap's two renames, whatever renames came before);
    - ``crash_at("cleanup")``: the first delete of a superseded
      ``.old`` directory raises before it deletes.

    Every later call runs normally, so the test's replay starts from
    exactly the on-disk state a kill at that point leaves."""
    import os
    import shutil

    def arm(op: str, n: int = 1) -> type[InjectedCrash]:
        mod, name = (shutil, "rmtree") if op == "cleanup" else (os, "rename")
        real = getattr(mod, name)
        left = [n]
        suffix = {"rename": "", "swap": ".stage", "cleanup": ".old"}[op]

        def fake(path, *args, **kwargs):
            if str(path).endswith(suffix):
                left[0] -= 1
                if left[0] == 0:
                    raise InjectedCrash(f"killed at {op} #{n}")
            return real(path, *args, **kwargs)

        monkeypatch.setattr(mod, name, fake)
        return InjectedCrash

    return arm
