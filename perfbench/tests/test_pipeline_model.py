"""The pipeline agrees with the model in both sink modes, and the two
modes end in the same state (ids aside).  Starts a local Spark session;
takes about a minute."""

from __future__ import annotations

import os
import time

import pytest

from perfbench import etl
from perfbench.feed import Feed, Sizes
from perfbench.model import Model, apply_day

SIZES = Sizes(banks_per_page=150, rates_per_page=30, new_banks_per_day=10)
DAYS = 2 * etl.COMPACT_AFTER + 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["TZ"] = "UTC"
    time.tzset()
    from etl_world_banks_with_python_and_postgresql_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(app_name="perfbench-tests",
                  extra_conf={"spark.sql.warehouse.dir": str(wh),
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def run_mode(spark, path: str, incremental: bool):
    wh = etl.Warehouse(path, incremental)
    feed, model, history = Feed(9, SIZES), Model(), []
    for i in range(DAYS):
        d = feed.next_day()
        _t, res = wh.run_batch(spark, d, f"b{i}")
        cb, cr = apply_day(model, d, f"b{i}")
        history.append((f"b{i}", cb, cr))
        etl.check_counters(res, cb, cr, model)
        _t, b_rows, r_rows = wh.read(spark)
        etl.check_rows(b_rows, r_rows, model)
    banks = wh.table(spark, etl.BANKS).collect()
    rates = wh.table(spark, etl.RATES).collect()
    etl.check_rows(banks, rates, model, active_only=False)
    etl.check_logs(spark.read.parquet(f"{path}/log_counts").collect(), history)
    return sorted(map(etl.bank_key, banks)), sorted(map(etl.rate_key, rates))


def test_modes_match_model_and_each_other(spark, tmp_path):
    snap = run_mode(spark, str(tmp_path / "snapshot"), incremental=False)
    incr = run_mode(spark, str(tmp_path / "incremental"), incremental=True)
    assert snap == incr
    assert len(snap[0]) > len(snap[1]) > 0
