"""Each output check accepts the model's own state and rejects a
corrupted copy of it."""

from __future__ import annotations

import copy
from types import SimpleNamespace

import pytest

from etl_world_banks_with_python_and_postgresql_spark.operators.merge import summarize
from perfbench.etl import CheckFailed, check_counters, check_logs, check_rows
from perfbench.feed import Feed, Sizes
from perfbench.model import Model, apply_day

SIZES = Sizes(banks_per_page=200, rates_per_page=40, new_banks_per_day=15)


@pytest.fixture(scope="module")
def state():
    feed, m = Feed(3, SIZES), Model()
    history = []
    for i in range(6):
        cb, cr = apply_day(m, feed.next_day(), f"b{i}")
        history.append((f"b{i}", cb, cr))
    return m, history


def engine_rows(m: Model):
    """The model's tables as the engine would return them, with ids."""
    banks = [dict(r, world_bank_id=i) for i, r in enumerate(m.banks)]
    rates = [dict(r, exchange_rate_id=i) for i, r in enumerate(m.rates)]
    return banks, rates


def active(banks):
    return [r for r in banks if r["active"]]


def test_rows_accepts_model_state(state):
    m, _ = state
    banks, rates = engine_rows(m)
    check_rows(active(banks), rates, m)
    check_rows(banks, rates, m, active_only=False)


@pytest.mark.parametrize("corrupt", [
    "duplicate_id", "second_active", "changed_value", "missing_row", "extra_row",
    "stale_batch_id", "rate_changed", "rate_duplicate_id",
])
def test_rows_rejects_corruption(state, corrupt):
    m, _ = state
    banks, rates = engine_rows(m)
    banks, rates = active(banks), copy.deepcopy(rates)
    if corrupt == "duplicate_id":
        banks[1]["world_bank_id"] = banks[0]["world_bank_id"]
    elif corrupt == "second_active":
        banks.append(dict(banks[0], world_bank_id=10**9, market_cap_usd=-1.0))
    elif corrupt == "changed_value":
        banks[0] = dict(banks[0], market_cap_usd=banks[0]["market_cap_usd"] + 0.01)
    elif corrupt == "missing_row":
        banks.pop()
    elif corrupt == "extra_row":
        banks.append(dict(banks[0], world_bank_id=10**9, bank_name="Nobody"))
    elif corrupt == "stale_batch_id":
        banks[0] = dict(banks[0], batch_id="elsewhere")
    elif corrupt == "rate_changed":
        rates[0]["exchange_rate"] += 1.0
    elif corrupt == "rate_duplicate_id":
        rates[1]["exchange_rate_id"] = rates[0]["exchange_rate_id"]
    with pytest.raises(CheckFailed):
        check_rows(banks, rates, m)


def result_with(cb, cr, banks_total, rates_total):
    lines = summarize(vars(cb), banks_total) + summarize(vars(cr), rates_total)
    return SimpleNamespace(summary_lines=lines)


def test_counters(state):
    m, history = state
    _, cb, cr = history[-1]
    nb, nr = len(m.banks), len(m.rates)
    check_counters(result_with(cb, cr, nb, nr), cb, cr, m)
    bad = copy.copy(cb)
    bad.update_count += 1
    with pytest.raises(CheckFailed):
        check_counters(result_with(bad, cr, nb, nr), cb, cr, m)
    with pytest.raises(CheckFailed):
        check_counters(result_with(cb, cr, nb + 1, nr), cb, cr, m)
    with pytest.raises(CheckFailed):
        check_counters(SimpleNamespace(summary_lines=["garbled"]), cb, cr, m)


def log_rows(history):
    rows = []
    for batch_id, cb, cr in history:
        for name, c in (("world_bank_data", cb), ("exchanges_rates", cr)):
            rows.append(dict(batch_id=batch_id, table_name=name,
                             new_inserts_count=c.new_inserts_count,
                             update_count=c.update_count,
                             no_update_count=c.no_update_count))
    return rows


def test_logs(state):
    _, history = state
    rows = log_rows(history)
    check_logs(rows, history)
    with pytest.raises(CheckFailed):
        check_logs(rows[:-1], history)
    with pytest.raises(CheckFailed):
        check_logs(rows + rows[:1], history)
    bad = copy.deepcopy(rows)
    bad[0]["no_update_count"] += 1
    with pytest.raises(CheckFailed):
        check_logs(bad, history)
