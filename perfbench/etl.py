"""ETL workloads: the seeded daily feed through ``pipeline.run_pipeline``.

One closed loop: generate the day's two pages, run one pipeline batch,
then read the active rows of both tables back (the reference's
inspection read, ``SQL/etl_world_banks_workings.sql:1-3``), and check
counters and rows against the plain-Python model.  Only the batch and
the read are timed; page generation and checking run off the clock.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import statistics
import sys
import time
from collections import Counter

from etl_world_banks_with_python_and_postgresql_spark import schemas
from etl_world_banks_with_python_and_postgresql_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from etl_world_banks_with_python_and_postgresql_spark.sources import sinks
from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
    IncrementalTable,
)

from .feed import Feed, banks_page, rates_page
from .model import BANK_COLS, RATE_COLS, Model, apply_day

BANKS, RATES = "world_bank_data", "exchanges_rates"
TABLES = {
    BANKS: (schemas.WORLD_BANK_DATA, "world_bank_id"),
    RATES: (schemas.EXCHANGES_RATES, "exchange_rate_id"),
}
# Incremental tables compact after every COMPACT_AFTER batches, and a
# timed window always holds whole cycles.  The pipeline's default of 8
# makes one cycle about 50 s of batches on a 4-core box, longer than a
# whole run may take.
COMPACT_AFTER = 2
# Nominal seconds of one such cycle (its batches and reads) on a 4-core
# box, per mode.  The window holds round(seconds / CYCLE_S) whole cycles,
# at least one: a fixed amount of work for a given --seconds, so what a
# run measures does not depend on how fast it happens to go.
CYCLE_S = {False: 10.0, True: 20.0}
SUMMARY_RE = re.compile(r"Number of (.*?):\s+(\d+)/(\d+)")
SUMMARY_KEYS = {
    "new records inserted": "new_inserts_count",
    "records updated": "update_count",
    "records with no updates needed": "no_update_count",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def dir_files(path: str) -> dict[str, int]:
    """Size of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # removed while listing
                pass
    return out


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``pid`` (default: this
    process) and every live process below it -- here the Spark JVM and
    its Python workers."""
    total, todo = 0.0, [pid or os.getpid()]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        total += (int(fields[11]) + int(fields[12])) / TICK
        for path in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(path) as f:
                    todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
    return total


def is_data_file(p: str) -> bool:
    return p.endswith(".parquet") or p.endswith(".json")


class Warehouse:
    """One pipeline target directory plus the reader over it."""

    def __init__(self, path: str, incremental: bool):
        self.path = path
        self.incremental = incremental
        os.makedirs(os.path.join(path, "pages"), exist_ok=True)
        self._seen: dict[str, int] = {}

    def run_batch(self, spark, day, batch_id: str):
        bp = os.path.join(self.path, "pages", "banks.html")
        rp = os.path.join(self.path, "pages", "rates.html")
        with open(bp, "w", encoding="utf-8") as f:
            f.write(banks_page(day))
        with open(rp, "w", encoding="utf-8") as f:
            f.write(rates_page(day))
        cfg = PipelineConfig(
            banks_source=bp, rates_source=rp, target_dir=self.path,
            batch_id=batch_id, now=day.now, incremental=self.incremental,
            compact_after=COMPACT_AFTER,
        )
        t, c = time.perf_counter(), tree_cpu_s()
        res = run_pipeline(spark, cfg)
        self.last_cpu = tree_cpu_s() - c
        return time.perf_counter() - t, res

    def table(self, spark, name: str):
        """The current state of one table, read the way its sink stores it."""
        schema, id_col = TABLES[name]
        path = f"{self.path}/{name}"
        if self.incremental:
            return IncrementalTable(path, id_col=id_col).read(spark, schema)
        return sinks.read_snapshot(spark, path, schema)

    def read(self, spark):
        """The inspection read: active banks and all rates, collected."""
        t, c = time.perf_counter(), tree_cpu_s()
        b = self.table(spark, BANKS).filter("active").collect()
        r = self.table(spark, RATES).collect()
        self.last_cpu = tree_cpu_s() - c
        return time.perf_counter() - t, b, r

    def new_bytes(self) -> int:
        """Bytes of table files that appeared since the last call."""
        now = {p: s for p, s in dir_files(self.path).items() if is_data_file(p)}
        new = sum(s for p, s in now.items() if p not in self._seen)
        self._seen = now
        return new

    def table_bytes(self) -> int:
        return sum(
            s for p, s in dir_files(self.path).items()
            if is_data_file(p) and (f"/{BANKS}" in p or f"/{RATES}" in p)
        )


def summary_counters(lines: list[str]) -> list[dict]:
    """The two tables' counters and totals from ``summary_lines``."""
    out, cur = [], {}
    for line in lines:
        m = SUMMARY_RE.match(line)
        check(m is not None, f"unparsable summary line {line!r}")
        cur[SUMMARY_KEYS[m.group(1)]] = int(m.group(2))
        cur["total"] = int(m.group(3))
        if len(cur) == 4:
            out.append(cur)
            cur = {}
    check(len(out) == 2, f"expected two summary blocks, got {lines!r}")
    return out


def check_counters(res, cb, cr, model: Model) -> None:
    got = summary_counters(res.summary_lines)
    for name, mc, g, total in (
        (BANKS, cb, got[0], len(model.banks)),
        (RATES, cr, got[1], len(model.rates)),
    ):
        want = dict(new_inserts_count=mc.new_inserts_count, update_count=mc.update_count,
                    no_update_count=mc.no_update_count, total=total)
        check(g == want, f"{name} counters {g} != model {want}")


def bank_key(row) -> tuple:
    return tuple(row[c] for c in BANK_COLS)


def rate_key(row) -> tuple:
    return tuple(row[c] for c in RATE_COLS)


def check_rows(banks_rows, rates_rows, model: Model, active_only: bool = True) -> None:
    """Rows equal the model's (ids aside); ids unique; one active row per key."""
    ids = [r["world_bank_id"] for r in banks_rows]
    check(len(set(ids)) == len(ids), "duplicate world_bank_id")
    rids = [r["exchange_rate_id"] for r in rates_rows]
    check(len(set(rids)) == len(rids), "duplicate exchange_rate_id")
    active = Counter(r["bank_name"] for r in banks_rows if r["active"])
    check(not active or max(active.values()) == 1, "bank key with two active rows")
    want_b = model.active_banks() if active_only else model.all_banks()
    got_b = Counter(bank_key(r) for r in banks_rows)
    check(got_b == want_b, f"{BANKS}: {len(got_b - want_b)} unexpected, "
          f"{len(want_b - got_b)} missing rows vs model")
    got_r = Counter(rate_key(r) for r in rates_rows)
    check(got_r == model.all_rates(), f"{RATES}: rows differ from model")


def check_logs(rows, history: list) -> None:
    """log_counts holds one row per (batch, table) with the model's counters."""
    got = Counter(
        (r["batch_id"], r["table_name"], r["new_inserts_count"], r["update_count"],
         r["no_update_count"]) for r in rows
    )
    want = Counter()
    for batch_id, cb, cr in history:
        for name, c in ((BANKS, cb), (RATES, cr)):
            want[(batch_id, name, c.new_inserts_count, c.update_count,
                  c.no_update_count)] += 1
    check(got == want, "log_counts differ from the model's counters")


def warm_up(spark, workdir: str, seed: int) -> None:
    """One batch and read of an unrelated feed in a throwaway warehouse.

    The first batch of a session pays ~18 s of one-time costs (class
    loading, Python workers, code generation); it runs in snapshot mode,
    where it costs least, whatever the workload.  Batch times keep
    falling for ~30 batches after that (JIT compilation), minutes more
    than a run may take, so the warm-up stops after the steepest part."""
    wh = Warehouse(os.path.join(workdir, "warmup"), incremental=False)
    t, _res = wh.run_batch(spark, Feed(seed + 7919).next_day(), "warm")
    rt = wh.read(spark)[0]
    log(f"warm-up batch: {t:.3f}s read {rt:.3f}s")
    shutil.rmtree(wh.path, ignore_errors=True)


def run(spark, workdir: str, seed: int, seconds: float, incremental: bool,
        window) -> dict:
    """Warm up, then feed the seed's days into an empty warehouse, timing
    the whole compaction cycles that nominally take ``seconds``.
    ``window.start()`` and ``window.stop()`` mark the timed window."""
    warm_up(spark, workdir, seed)
    wh = Warehouse(os.path.join(workdir, "wh"), incremental)
    feed, model = Feed(seed), Model()
    history = []
    batch_s, read_s, batch_cpu, read_cpu, per_live = [], [], [], [], []
    rows = written = 0
    n_batches = COMPACT_AFTER * max(1, round(seconds / CYCLE_S[incremental]))
    window.start()
    for _ in range(n_batches):
        day = feed.next_day()
        batch_id = f"b{seed}-{day.index:05d}"
        bt, res = wh.run_batch(spark, day, batch_id)
        batch_cpu.append(wh.last_cpu)
        cb, cr = apply_day(model, day, batch_id)
        history.append((batch_id, cb, cr))
        check_counters(res, cb, cr, model)
        written += wh.new_bytes()
        rt, b_rows, r_rows = wh.read(spark)
        read_cpu.append(wh.last_cpu)
        check_rows(b_rows, r_rows, model)
        read_s.append(rt)
        live = len(model.banks) + len(model.rates)
        per_live.append(wh.table_bytes() / live)
        batch_s.append(bt)
        rows += day.rows
        log(f"batch {day.index}: {bt:.3f}s read {rt:.3f}s cpu {batch_cpu[-1]:.2f}s "
            f"read cpu {read_cpu[-1]:.2f}s rows {day.rows} live {live}")
    window.stop()
    timed = sum(batch_s) + sum(read_s)

    # end of run: the whole history against the model, and the audit log
    check_rows(wh.table(spark, BANKS).collect(), wh.table(spark, RATES).collect(),
               model, active_only=False)
    check_logs(spark.read.parquet(f"{wh.path}/log_counts").collect(), history)
    return {
        # one batch and one read per day
        "attempted": 2 * len(batch_s),
        "failed": 0,
        "batches": len(batch_s),
        # bounded end-to-end metrics: CPU seconds and bytes, which hold
        # steady on a shared box (see README)
        "metrics": {
            "batch_cpu_p50_s": (statistics.median(batch_cpu), "s"),
            "rows_per_cpu_s": (rows / (sum(batch_cpu) + sum(read_cpu)), "1/s"),
            "write_bytes_per_row": (written / rows, "B"),
            "table_bytes_per_live_row": (statistics.fmean(per_live), "B"),
        },
        # wall-clock figures, reported but not bounded
        "wall": {
            "batch_p50_s": (statistics.median(batch_s), "s"),
            "read_p50_s": (statistics.median(read_s), "s"),
            "rows_per_s": (rows / timed, "1/s"),
            "read_cpu_p50_s": (statistics.median(read_cpu), "s"),
        },
    }
