"""Plain-Python model of the reference procedures.

An independent re-statement of what one pipeline run must do to the two
tables, written from the reference semantics (SURVEY.md §2.5 and the SQL
line cites in ``operators/merge.py``), not from the engine's code:

``etl.insert_or_update_world_bank_data`` (SQL/etl_world_banks.sql:20-122),
per incoming row, first match wins:

    key absent                           -> insert (active, updated_at NULL)
    >1 active rows                       -> error (scalar subquery, :34-36)
    1 active row, equal value            -> noop (:29-41; batch_id NOT refreshed)
    1 active row, different value        -> update in place (:42-56)
    >1 inactive rows (no active)         -> error (:60-62)
    1 inactive row, equal value          -> reactivate in place (:57-71)
    1 inactive row, different value      -> new active version, no counter (:72-91)

``etl.deactivate_bank_records`` (:126-140), run when the batch has rows:
active rows whose batch_id is not this batch's, whose updated_at is not
NULL and falls before today, become inactive with updated_at = now.
Fresh inserts (updated_at NULL) are therefore exempt.

``etl.insert_or_update_exchange_rates`` (:188-248): insert / update /
noop on (country, currency, year), with the update-branch typo fixed
(the engine's default).

Surrogate ids are not modelled: the engine mints non-contiguous ids, so
tables are compared on every other column, and id uniqueness is checked
on its own.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from datetime import date, datetime

BANK_COLS = (
    "bank_name", "market_cap_usd", "last_modified_date", "batch_id",
    "created_at", "updated_at", "active",
)
RATE_COLS = (
    "country", "currency", "exchange_rate", "year", "batch_id",
    "created_at", "updated_at",
)


def _eq(a, b) -> bool:
    """SQL equality as the procedures' IF uses it: NULL is never equal."""
    return a is not None and b is not None and a == b


def _vmax(values):
    vals = [v for v in values if v is not None]
    return max(vals) if vals else None


@dataclass
class Counters:
    no_update_count: int = 0
    update_count: int = 0
    new_inserts_count: int = 0
    batch_rows: int = 0
    # every branch taken, including the uncounted ones and deactivations
    actions: Counter = field(default_factory=Counter)


@dataclass
class Model:
    banks: list = field(default_factory=list)  # dict rows, BANK_COLS
    rates: list = field(default_factory=list)  # dict rows, RATE_COLS

    def apply_banks(self, batch, lastmod: date, batch_id: str, now: datetime) -> Counters:
        """``batch``: [(bank_name, market_cap_usd float)], unique names."""
        c = Counters(batch_rows=len(batch))
        by_key: dict[str, list] = {}
        for r in self.banks:
            by_key.setdefault(r["bank_name"], []).append(r)
        inserts = []
        for name, cap in batch:
            rows = by_key.get(name, [])
            act = [r for r in rows if r["active"]]
            ina = [r for r in rows if not r["active"]]
            if not rows:
                action = "insert"
            elif len(act) > 1:
                action = "error"
            elif len(act) == 1 and _eq(cap, act[0]["market_cap_usd"]):
                action = "noop"
            elif len(act) == 1:
                action = "update"
            elif len(ina) > 1:
                action = "error"
            elif _eq(cap, _vmax(r["market_cap_usd"] for r in ina)):
                action = "reactivate"
            else:
                action = "new_version"
            c.actions[action] += 1
            if action == "noop":
                c.no_update_count += 1
            elif action == "update":
                c.update_count += 1
                act[0].update(
                    market_cap_usd=cap, last_modified_date=lastmod,
                    batch_id=batch_id, updated_at=now,
                )
            elif action == "reactivate":
                ina[0].update(
                    last_modified_date=lastmod, batch_id=batch_id,
                    updated_at=now, active=True,
                )
            elif action in ("insert", "new_version"):
                if action == "insert":
                    c.new_inserts_count += 1
                inserts.append(
                    dict(
                        bank_name=name, market_cap_usd=cap,
                        last_modified_date=lastmod, batch_id=batch_id,
                        created_at=now, updated_at=None, active=True,
                    )
                )
        self.banks.extend(inserts)
        if batch:
            today = datetime(now.year, now.month, now.day)
            for r in self.banks:
                if (
                    r["active"]
                    and r["batch_id"] != batch_id
                    and r["updated_at"] is not None
                    and r["updated_at"] < today
                ):
                    r["updated_at"] = now
                    r["active"] = False
                    c.actions["deactivate"] += 1
        return c

    def apply_rates(self, batch, year: date, batch_id: str, now: datetime) -> Counters:
        """``batch``: [(country, currency, exchange_rate float)], unique keys."""
        c = Counters(batch_rows=len(batch))
        by_key: dict[tuple, list] = {}
        for r in self.rates:
            by_key.setdefault((r["country"], r["currency"], r["year"]), []).append(r)
        for country, currency, rate in batch:
            rows = by_key.get((country, currency, year), [])
            if not rows:
                c.actions["insert"] += 1
                c.new_inserts_count += 1
                self.rates.append(
                    dict(
                        country=country, currency=currency, exchange_rate=rate,
                        year=year, batch_id=batch_id, created_at=now,
                        updated_at=None,
                    )
                )
            elif len(rows) > 1:
                c.actions["error"] += 1  # quarantined, table untouched
            elif _eq(rate, rows[0]["exchange_rate"]):
                c.actions["noop"] += 1
                c.no_update_count += 1
            else:
                c.actions["update"] += 1
                c.update_count += 1
                rows[0].update(exchange_rate=rate, batch_id=batch_id, updated_at=now)
        return c

    def active_banks(self) -> Counter:
        return Counter(tuple(r[k] for k in BANK_COLS) for r in self.banks if r["active"])

    def all_banks(self) -> Counter:
        return Counter(tuple(r[k] for k in BANK_COLS) for r in self.banks)

    def all_rates(self) -> Counter:
        return Counter(tuple(r[k] for k in RATE_COLS) for r in self.rates)


def apply_day(model: Model, day, batch_id: str) -> tuple[Counters, Counters]:
    """Feed one ``feed.Day`` through the model the way run_pipeline does:
    trimmed names, caps and rates parsed as doubles, the rates year as
    31 December of the header year."""
    banks = [(name.strip(), float(cap)) for name, cap in day.banks]
    rates = [(c.strip(), cur.strip(), float(r)) for c, cur, r in day.rates]
    cb = model.apply_banks(banks, day.lastmod, batch_id, day.now)
    cr = model.apply_rates(rates, date(day.year, 12, 31), batch_id, day.now)
    return cb, cr
