"""Seeded daily feed of bank and exchange-rate pages.

Day ``d`` of a feed is one pipeline batch: a banks page (third table,
rank/name/market-cap cells plus the ``footer-info-lastmod`` footer) and
a rates page (first table, a 4-digit year in its header).  The feed is a
pure function of ``(seed, sizes, d)``; days must be drawn in order
because key presence and values evolve from day to day.

How the feed reaches every branch of the reference merge
(``SQL/etl_world_banks.sql:20-122``):

* new bank names every day            -> insert
* a present key keeps its value       -> noop
* a present key changes its value     -> update
* a key skips a day after an update   -> deactivated by the post-pass
  (NOOP does not refresh ``batch_id``, so even present-but-unchanged rows
  with a non-NULL ``updated_at`` are deactivated: the reference quirk)
* a deactivated key returns unchanged -> reactivate
* a deactivated key returns changed   -> new_version (history kept)
* a key whose two versions both went inactive returns -> error
  (the reference's scalar subquery sees more than one row)

Rates follow the 3-way variant: insert / update / noop on
``(country, currency, year)``; the page year advances every
``year_every`` days, which re-inserts the whole rate universe.
"""

from __future__ import annotations

import html
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

MONTHS = (
    "January February March April May June July August September October "
    "November December"
).split()

START = datetime(2024, 1, 1, 6, 0, 0)


@dataclass(frozen=True)
class Sizes:
    banks_per_page: int = 2000
    rates_per_page: int = 500
    new_banks_per_day: int = 120
    p_absent: float = 0.12
    p_change: float = 0.2
    year_every: int = 6


@dataclass
class Day:
    index: int
    now: datetime
    banks: list  # [(bank_name, market_cap_text)]
    rates: list  # [(country, currency, rate_text)]
    year: int
    lastmod: date

    @property
    def rows(self) -> int:
        return len(self.banks) + len(self.rates)


def _money(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


@dataclass
class Feed:
    seed: int
    sizes: Sizes = field(default_factory=Sizes)

    def __post_init__(self) -> None:
        self._rng = random.Random(f"perfbench-feed-{self.seed}")
        self._tag = f"{self._rng.getrandbits(24):06x}"
        self._bank_value: dict[str, int] = {}
        self._next_bank = 0
        n_pairs = self.sizes.rates_per_page
        self._pairs = [
            (f"Country {self._tag}-{i // 3:05d}", f"CUR{i % 3}{i:05d}")
            for i in range(n_pairs)
        ]
        self._rate_value = {p: self._rng.randrange(1, 10**7) for p in self._pairs}
        self._day = 0

    def _new_bank(self) -> str:
        i = self._next_bank
        self._next_bank += 1
        # an ampersand exercises charref decoding in the HTML parser
        name = f"Bank {self._tag} {i:07d}" if i % 11 else f"A&B Bank {self._tag} {i:07d}"
        self._bank_value[name] = self._rng.randrange(100, 10**9)
        return name

    def next_day(self) -> Day:
        """Draw the next day's pages (days are sequential)."""
        s, rng, d = self.sizes, self._rng, self._day
        self._day += 1
        now = START + timedelta(days=d)
        new = s.new_banks_per_day if d else s.banks_per_page
        for _ in range(new):
            self._new_bank()
        # the page shows up to banks_per_page of the known names, newest
        # first, with some names missing for the day
        known = list(self._bank_value)
        window = known[-s.banks_per_page :] if len(known) > s.banks_per_page else known
        banks = []
        for name in window:
            if d and rng.random() < s.p_absent:
                continue
            if d and rng.random() < s.p_change:
                self._bank_value[name] = rng.randrange(100, 10**9)
            banks.append((name, _money(self._bank_value[name])))
        rng.shuffle(banks)
        rates = []
        for p in self._pairs:
            if d and rng.random() < s.p_absent:
                continue
            if d and rng.random() < s.p_change:
                self._rate_value[p] = rng.randrange(1, 10**7)
            rates.append((p[0], p[1], _money(self._rate_value[p])))
        return Day(
            index=d,
            now=now,
            banks=banks,
            rates=rates,
            year=2000 + d // s.year_every,
            lastmod=(now - timedelta(days=1)).date(),
        )


def banks_page(day: Day) -> str:
    lm = day.lastmod
    rows = "\n".join(
        f"<tr><td>{i + 1}</td><td> {html.escape(name)}</td><td>{cap} </td></tr>"
        for i, (name, cap) in enumerate(day.banks)
    )
    nav = "<table><tbody><tr><td>nav</td></tr></tbody></table>"
    return (
        f"<html><body>{nav}{nav}\n<table>\n"
        "<thead><tr><th>Rank</th><th>Bank name</th>"
        "<th>Market cap (US$ billion)</th></tr></thead>\n"
        f"<tbody>{rows}</tbody>\n</table>\n"
        '<div id="footer-info-lastmod">This page was last edited on '
        f"{lm.day} {MONTHS[lm.month - 1]} {lm.year}, at 12:34 (UTC).</div>\n"
        "</body></html>\n"
    )


def rates_page(day: Day) -> str:
    rows = "\n".join(
        f"<tr><td>{html.escape(c)}</td><td>{cur}</td><td>{r}</td></tr>"
        for c, cur, r in day.rates
    )
    return (
        "<html><body>\n<table>\n"
        f"<thead><tr><th>Country</th><th>Currency</th><th>{day.year}</th></tr></thead>\n"
        f"<tbody>{rows}</tbody>\n</table>\n</body></html>\n"
    )
