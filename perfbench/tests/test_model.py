"""The plain-Python model on hand-worked cases, and the feed's coverage.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

from collections import Counter
from datetime import date, datetime

from perfbench.feed import Feed, Sizes, banks_page, rates_page
from perfbench.model import Model, apply_day


def day(n: int, hour: int = 6) -> datetime:
    return datetime(2024, 3, n, hour)


LM = date(2024, 2, 28)


def bank(m: Model, name: str) -> list[dict]:
    return sorted((r for r in m.banks if r["bank_name"] == name),
                  key=lambda r: r["created_at"])


def counts(c) -> tuple:
    return c.new_inserts_count, c.update_count, c.no_update_count


def test_bank_branches_hand_worked():
    m = Model()
    # day 1: cold start, three inserts, nothing to deactivate
    c = m.apply_banks([("A", 1.0), ("B", 2.0), ("C", 3.0)], LM, "b1", day(1))
    assert counts(c) == (3, 0, 0)
    assert all(r["active"] and r["updated_at"] is None for r in m.banks)

    # day 2: A unchanged (noop), B changed (update), C absent but exempt
    c = m.apply_banks([("A", 1.0), ("B", 5.0)], LM, "b2", day(2))
    assert counts(c) == (0, 1, 1)
    (b,) = bank(m, "B")
    assert (b["market_cap_usd"], b["batch_id"], b["updated_at"]) == (5.0, "b2", day(2))
    (a,) = bank(m, "A")
    assert a["batch_id"] == "b1"  # NOOP does not refresh batch_id
    assert bank(m, "C")[0]["active"]  # updated_at NULL: never deactivated

    # later the same day: B unchanged is a noop and keeps its active flag
    # (same-day grace: updated_at is not before today)
    c = m.apply_banks([("B", 5.0)], LM, "b2x", day(2, 18))
    assert counts(c) == (0, 0, 1)
    assert bank(m, "B")[0]["active"]

    # day 3: B present and unchanged, but its batch_id is old and its
    # updated_at predates today -> the post-pass deactivates it
    c = m.apply_banks([("A", 1.0), ("B", 5.0), ("C", 3.0)], LM, "b3", day(3))
    assert counts(c) == (0, 0, 3)
    assert c.actions["deactivate"] == 1
    (b,) = bank(m, "B")
    assert (b["active"], b["updated_at"]) == (False, day(3))

    # day 4: B comes back with its old value -> reactivated in place,
    # no counter
    c = m.apply_banks([("B", 5.0)], date(2024, 3, 3), "b4", day(4))
    assert counts(c) == (0, 0, 0) and c.actions["reactivate"] == 1
    (b,) = bank(m, "B")
    assert (b["active"], b["batch_id"], b["last_modified_date"]) == (True, "b4", date(2024, 3, 3))

    # day 5: B missing -> deactivated again
    m.apply_banks([("A", 1.0)], LM, "b5", day(5))
    assert not bank(m, "B")[0]["active"]

    # day 6: B returns changed -> a new active version, history kept,
    # no counter
    c = m.apply_banks([("B", 7.0)], LM, "b6", day(6))
    assert counts(c) == (0, 0, 0) and c.actions["new_version"] == 1
    old, new = bank(m, "B")
    assert not old["active"] and old["market_cap_usd"] == 5.0
    assert new["active"] and new["market_cap_usd"] == 7.0 and new["updated_at"] is None

    # day 7: update the new version; day 8: it goes missing -> two
    # inactive rows; day 9: B again -> error, table untouched
    m.apply_banks([("B", 8.0)], LM, "b7", day(7))
    m.apply_banks([("A", 1.0)], LM, "b8", day(8))
    assert [r["active"] for r in bank(m, "B")] == [False, False]
    before = m.all_banks()
    c = m.apply_banks([("B", 8.0)], LM, "b9", day(9))
    assert counts(c) == (0, 0, 0) and c.actions["error"] == 1
    assert m.all_banks() == before


def test_empty_batch_skips_deactivation():
    m = Model()
    m.apply_banks([("A", 1.0)], LM, "b1", day(1))
    m.apply_banks([("A", 2.0)], LM, "b2", day(2))
    c = m.apply_banks([], LM, "b3", day(5))
    assert c.actions == Counter() and bank(m, "A")[0]["active"]


def test_null_value_is_never_equal():
    m = Model()
    m.apply_banks([("A", None)], LM, "b1", day(1))
    c = m.apply_banks([("A", None)], LM, "b2", day(2))
    assert counts(c) == (0, 1, 0)


def test_rates_three_way():
    m = Model()
    y = date(2023, 12, 31)
    c = m.apply_rates([("X", "USD", 1.5), ("Y", "EUR", 0.9)], y, "b1", day(1))
    assert counts(c) == (2, 0, 0)
    c = m.apply_rates([("X", "USD", 1.5), ("Y", "EUR", 0.8)], y, "b2", day(2))
    assert counts(c) == (0, 1, 1)
    y_row = [r for r in m.rates if r["country"] == "Y"][0]
    assert (y_row["exchange_rate"], y_row["batch_id"], y_row["updated_at"]) == (0.8, "b2", day(2))
    # a new year is a new key
    c = m.apply_rates([("X", "USD", 1.5)], date(2024, 12, 31), "b3", day(3))
    assert counts(c) == (1, 0, 0) and len(m.rates) == 3


def test_feed_is_seeded():
    a, b = Feed(5, Sizes(banks_per_page=50, rates_per_page=10)), Feed(5, Sizes(banks_per_page=50, rates_per_page=10))
    for _ in range(3):
        da, db = a.next_day(), b.next_day()
        assert banks_page(da) == banks_page(db) and rates_page(da) == rates_page(db)
    assert banks_page(Feed(6).next_day()) != banks_page(Feed(5).next_day())


def test_feed_reaches_every_branch():
    sizes = Sizes(banks_per_page=300, rates_per_page=60, new_banks_per_day=20)
    feed, m = Feed(1, sizes), Model()
    banks, rates = Counter(), Counter()
    for i in range(8):
        cb, cr = apply_day(m, feed.next_day(), f"b{i}")
        banks += cb.actions
        rates += cr.actions
    assert set(banks) == {"insert", "noop", "update", "reactivate", "new_version",
                          "error", "deactivate"}
    assert set(rates) == {"insert", "noop", "update"}
