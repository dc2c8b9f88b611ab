"""The workloads. Each is a closed loop with one client: the next op is
sent only after the previous one returned.

An op is timed from the call into the engine until its result has been
consumed. ``gate`` then checks the op's outputs (untimed); ``counters`` reads
sizes off the outputs for the per-layer metrics (untimed). Both run after the
op's clock has stopped.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

import gate
import gen
from gen import TIER_US

KEYS = ["source"]
VALUE = "n_tok_mean"
#: Raw rows per generated day: about 35 a minute over all sources. The rarest
#: source (chat, 3 %) gets about one a minute, so about a third of its 1m
#: slots are empty by chance (wiki's about 9 %), against about 1 % of slots
#: in the injected gap windows.
ROWS_PER_DAY = 50_000


def _concat_oracles(parts: list[dict]) -> dict[str, pd.DataFrame]:
    return {t: pd.concat([p[t] for p in parts], ignore_index=True) for t in parts[0]}


def _t1m(store: str) -> pd.DataFrame:
    return gate.read_tier(gate.tier_path(store, "1m"), [
        "source", "window_start", VALUE, *[f"n_tok_{p}" for p in gate.PARTIALS]])


class Workload:
    name = ""
    #: ops per pass: wall_s is the mean time of one pass
    cycle = 1
    #: passes a run makes even when --seconds runs out first, so that every
    #: run reports its statistics over the same number of samples
    min_passes = 1
    #: when set, a run stops after exactly this many passes, whatever
    #: --seconds says
    max_passes: int | None = None

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def raw_dir(self) -> str:
        return os.path.join(self.work, "raw")

    def prepare(self) -> None:
        """Generate the inputs (repeatable: each call starts from scratch)."""
        raise NotImplementedError

    def warmup(self, tracer) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer) -> dict:
        raise NotImplementedError

    def gate(self, out: dict) -> list[str]:
        raise NotImplementedError

    def counters(self, out: dict, traced: bool) -> dict:
        return {}

    def _write_days(self, days) -> tuple[list, dict, int]:
        tables = [gen.day_slice(self.seed, d, ROWS_PER_DAY) for d in days]
        for d, t in zip(days, tables):
            gen.write_day(t, self.raw_dir(), d)
        tokens = sum(int(pc.sum(t.column("n_tok")).as_py()) for t in tables)
        return tables, _concat_oracles([gen.oracle_partials(t) for t in tables]), tokens

    def _run_pipeline(self, tracer, store: str, **kwargs) -> dict:
        from diive_spark.plans import pipeline

        with tracer.span("pipeline.run"):
            raw = self.spark.read.parquet(self.raw_dir())
            return pipeline.run_pipeline(self.spark, raw, store, **kwargs)

    def _packed_counters(self, store: str, since: int) -> dict:
        p = gate.read_tier(gate.tier_path(store, "packed"),
                           ["block_id", "n_points", "raw_bytes", "packed_bytes"])
        p = p[p["block_id"] * TIER_US["1d"] >= since]
        return {"packed_points": int(p["n_points"].sum()),
                "packed_raw_bytes": int(p["raw_bytes"].sum()),
                "packed_bytes": int(p["packed_bytes"].sum())}


class Tick(Workload):
    """Steady-state retention loop over a store that already holds HISTORY
    processed days. One op = append the next day's raw slice, run the
    pipeline (one pending date), expire 1m to 7 days and 1h to 30 days."""

    name = "tick"
    # a tick takes several seconds: a fixed count gives every run the same
    # days to ingest and the same sample count, however fast the host is
    min_passes = max_passes = 3
    HISTORY = 8
    WARMUP_TICKS = 1
    KEEP = {"1m": 7, "1h": 30}

    def store(self) -> str:
        return os.path.join(self.work, "store")

    def staged(self, day: int) -> str:
        return os.path.join(self.work, "staged", f"part-day{day:04d}.parquet")

    def prepare(self) -> None:
        shutil.rmtree(self.raw_dir(), ignore_errors=True)
        _, self.oracle, _ = self._write_days(range(self.HISTORY))
        self.next_day = self.HISTORY
        self._stage(self.next_day)

    def _stage(self, day: int) -> None:
        """Generate a future day off the clock; the op only moves the file."""
        t = gen.day_slice(self.seed, day, ROWS_PER_DAY)
        gen.write_day(t, os.path.dirname(self.staged(day)), day)
        self.staged_tokens = int(pc.sum(t.column("n_tok")).as_py())
        self.staged_oracle = gen.oracle_partials(t)

    def cutoffs(self, last_day: int) -> dict[str, int]:
        first_us = int(gen.EPOCH.value // 1000)
        return {t: first_us + (last_day + 1 - keep) * TIER_US["1d"]
                for t, keep in self.KEEP.items()}

    def warmup(self, tracer) -> None:
        # the history is processed as one bulk batch and expired once, which
        # takes the expiry through its cold run; an untimed tick then does
        # the same for the one-day pipeline
        self._run_pipeline(tracer, self.store(), batch_size=self.HISTORY)
        self._expire(self.HISTORY - 1, tracer)
        for _ in range(self.WARMUP_TICKS):
            problems = self.gate(self.op("warmup", tracer))
            if problems:
                raise RuntimeError(f"warm-up output is wrong: {problems[:3]}")

    def _expire(self, last_day: int, tracer) -> dict[str, int]:
        from diive_spark.sources.table import expire_tier_before

        cut = self.cutoffs(last_day)
        for tier, cutoff_us in cut.items():
            cutoff = pd.Timestamp(cutoff_us, unit="us").isoformat()
            with tracer.span("table.expire", tier=tier):
                expire_tier_before(self.spark, gate.tier_path(self.store(), tier),
                                   "window_start", cutoff)
        return cut

    def op(self, i, tracer) -> dict:
        day = self.next_day
        with tracer.span("tick.append"):
            os.replace(self.staged(day), os.path.join(self.raw_dir(), os.path.basename(self.staged(day))))
        m = self._run_pipeline(tracer, self.store())
        cut = self._expire(day, tracer)
        return {"day": day, "tokens": self.staged_tokens, "pending": m["n_partitions_pending"],
                "cutoffs": cut}

    def gate(self, out: dict) -> list[str]:
        # advance the oracle and stage the next day whatever the outcome, so
        # the next op ingests a fresh day
        self.oracle = _concat_oracles([self.oracle, self.staged_oracle])
        self.next_day = out["day"] + 1
        self._stage(self.next_day)

        store, cut = self.store(), out["cutoffs"]
        problems = [] if out["pending"] == 1 else [f"tick found {out['pending']} pending dates"]
        t1m = _t1m(store)
        problems += gate.check_retention(store, cut)
        problems += gate.check_tiers(store, self.oracle, {"1h": cut["1h"]})
        problems += gate.check_1m_daily(t1m, self.oracle["1d"], cut["1m"])
        day_us = int(gen.EPOCH.value // 1000) + out["day"] * TIER_US["1d"]
        problems += gate.check_decode(store, t1m[t1m["window_start"] >= day_us], since=day_us)
        problems += gate.check_lineage(self.spark, store)
        return problems

    def counters(self, out: dict, traced: bool) -> dict:
        raw = gate.store_bytes(self.raw_dir())
        c = {"stored_ratio": gate.store_bytes(self.store()) / raw}
        if traced:
            day_us = int(gen.EPOCH.value // 1000) + out["day"] * TIER_US["1d"]
            c.update(self._packed_counters(self.store(), since=day_us))
            c["expire_bytes_rewritten"] = sum(
                gate.store_bytes(gate.tier_path(self.store(), t)) for t in self.KEEP)
        return c


class Query(Workload):
    """The analysts' read side over a stored 1m tier and its packed blocks:
    a fixed rotating mix of six ops."""

    name = "query"
    min_passes = 4
    DAYS = 5
    DECODE_DAYS = 3
    KINDS = ("grid", "gapfill", "zscore", "hampel", "reaggregate", "unpack")
    cycle = len(KINDS)

    def store(self) -> str:
        return os.path.join(self.work, "store")

    def prepare(self) -> None:
        shutil.rmtree(self.raw_dir(), ignore_errors=True)
        _, self.oracle, _ = self._write_days(range(self.DAYS))

    def warmup(self, tracer) -> None:
        self._run_pipeline(tracer, self.store())
        store = self.store()
        t1m = _t1m(store)
        self.stored_ratio = gate.store_bytes(store) / gate.store_bytes(self.raw_dir())
        problems = gate.check_tiers(store, self.oracle)
        # expectations of the read side, from the stored 1m tier
        ws = t1m["window_start"]
        self.rows_1m = len(t1m)
        self.slots = t1m["source"].nunique() * int((ws.max() - ws.min()) // TIER_US["1m"] + 1)
        self.tokens_1m = int(t1m["n_tok_sum"].sum())
        self.decode_from = int(ws.max() - ws.max() % TIER_US["1d"]) - (self.DECODE_DAYS - 1) * TIER_US["1d"]
        recent = t1m[ws >= self.decode_from]
        self.decode_rows = len(recent)
        self.decode_sum = float(recent[VALUE].sum())
        self.decode_tokens = int(recent["n_tok_sum"].sum())
        self.packed = gate.tier_path(store, "packed")
        for i in range(self.cycle):
            problems += self.gate(self.op(i, tracer))
        if problems:
            raise RuntimeError(f"warm-up output is wrong: {problems[:3]}")

    def _t1m_df(self):
        return self.spark.read.parquet(gate.tier_path(self.store(), "1m"))

    def op(self, i, tracer) -> dict:
        kind = self.KINDS[i % self.cycle]
        return {"kind": kind, **getattr(self, f"_{kind}")(tracer)}

    def _grid(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from diive_spark.operators import grid

        with tracer.span("grid.gridded"):
            g = grid.gridded(self._t1m_df(), "1m", KEYS)
            slots, observed = g.agg(F.count(F.lit(1)), F.count(VALUE)).first()
        with tracer.span("grid.gap_table"):
            gaps = grid.gap_table(g, KEYS, VALUE)
            gap_slots = gaps.agg(F.sum("gap_length")).first()[0] or 0
        return {"tokens": self.tokens_1m, "slots": slots, "observed": observed,
                "gap_slots": gap_slots}

    def _gapfill(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from diive_spark.operators import gapfill, grid

        with tracer.span("gapfill.cascade"):
            g = grid.gridded(self._t1m_df(), "1m", KEYS)
            f = gapfill.gapfill_cascade(g, KEYS, "window_start", VALUE, TIER_US["1m"] // 1_000_000)
            v = F.col(VALUE)
            row = f.agg(
                F.count(F.lit(1)), F.count(v), F.count("filled"),
                F.count(F.when(v.isNotNull() & ~F.col("filled").eqNullSafe(v), 1)),
            ).first()
        slots, observed, filled, overwritten = row
        return {"tokens": self.tokens_1m, "slots": slots, "observed": observed,
                "filled": filled - observed, "overwritten": overwritten, "g": g}

    def _flags(self, tracer, span: str, build) -> dict:
        from pyspark.sql import functions as F

        with tracer.span(span):
            out = build(self._t1m_df())
            flag = [c for c in out.columns if c.startswith("FLAG_")][0]
            rows, flagged, bad = out.agg(
                F.count(F.lit(1)), F.count(F.when(F.col(flag) == 2, 1)),
                F.count(F.when(~F.col(flag).isin(0, 2), 1))).first()
        return {"tokens": self.tokens_1m, "rows": rows, "flagged": flagged, "bad_flags": bad}

    def _zscore(self, tracer) -> dict:
        from diive_spark.operators import outliers

        return self._flags(tracer, "outliers.zscore",
                           lambda t: outliers.flag_zscore(t, KEYS, VALUE))

    def _hampel(self, tracer) -> dict:
        from diive_spark.operators import outliers

        return self._flags(tracer, "outliers.hampel", lambda t: outliers.flag_hampel(
            t, KEYS, "window_start", VALUE, TIER_US["1m"] // 1_000_000))

    def _reaggregate(self, tracer) -> dict:
        from diive_spark.operators import resample

        got = {}
        src = self._t1m_df()
        for tier in ("1h", "1d"):
            with tracer.span("resample.reaggregate", tier=tier):
                src = resample.reaggregate(src, tier, ["n_tok"], key_cols=KEYS)
                pdf = src.toPandas()
            got[tier] = pdf
        return {"tokens": self.tokens_1m, "tiers": got}

    def _unpack(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from diive_spark.compression import gorilla

        first_block = self.decode_from // TIER_US["1d"]
        with tracer.span("gorilla.unpack"):
            packed = self.spark.read.parquet(self.packed).filter(F.col("block_id") >= first_block)
            n, total = gorilla.unpack_blocks(packed, ["series_key"]).agg(
                F.count(F.lit(1)), F.sum("value")).first()
        return {"tokens": self.decode_tokens, "points": n, "sum": total}

    def gate(self, out: dict) -> list[str]:
        kind = out["kind"]
        if kind == "grid":
            problems = [] if out["slots"] == self.slots and out["observed"] == self.rows_1m else [
                f"grid: {out['slots']} slots / {out['observed']} observed, "
                f"expected {self.slots} / {self.rows_1m}"]
            if out["gap_slots"] != out["slots"] - out["observed"]:
                problems.append(f"gap table covers {out['gap_slots']} slots, "
                                f"{out['slots'] - out['observed']} are missing")
            return problems
        if kind == "gapfill":
            problems = [] if out["overwritten"] == 0 else [
                f"gap-fill overwrote {out['overwritten']} observed values"]
            if out["slots"] != self.slots or out["observed"] != self.rows_1m:
                problems.append("gap-fill changed the grid")
            return problems
        if kind in ("zscore", "hampel"):
            problems = [] if out["rows"] == self.rows_1m else [
                f"{kind}: {out['rows']} rows out of {self.rows_1m}"]
            if out["bad_flags"]:
                problems.append(f"{kind}: {out['bad_flags']} flags outside {{0, 2}}")
            return problems
        if kind == "reaggregate":
            problems = []
            for tier, pdf in out["tiers"].items():
                ws = pd.to_datetime(pdf["window_start"])
                if ws.dt.tz is not None:
                    ws = ws.dt.tz_convert("UTC").dt.tz_localize(None)
                got = pdf.assign(window_start=ws.astype("datetime64[us]").astype(np.int64))
                problems += gate.check_tier(
                    got[["source", "window_start", *[f"n_tok_{p}" for p in gate.PARTIALS]]],
                    self.oracle[tier], f"{tier} on read")
            return problems
        # unpack
        problems = [] if out["points"] == self.decode_rows else [
            f"decoded {out['points']} points, 1m holds {self.decode_rows}"]
        if out["sum"] is None or not np.isclose(out["sum"], self.decode_sum, rtol=1e-12, atol=0):
            problems.append(f"decoded values sum to {out['sum']}, 1m to {self.decode_sum}")
        return problems

    def counters(self, out: dict, traced: bool) -> dict:
        c = {"stored_ratio": self.stored_ratio}
        if not traced:
            return c
        kind = out["kind"]
        if kind == "grid":
            c.update(grid_slots=out["slots"], grid_missing=out["slots"] - out["observed"])
        elif kind == "gapfill":
            c.update(filled=out["filled"], fill_missing=out["slots"] - out["observed"],
                     halo_dup_frac=self._halo_dup_frac(out["g"]))
        elif kind in ("zscore", "hampel"):
            c["flagged"] = out["flagged"]
        elif kind == "unpack":
            c["unpack_points"] = out["points"]
        return c

    @staticmethod
    def _halo_dup_frac(g) -> float:
        """Halo copies per real row for the slab and halo sizes
        gapfill_cascade derives from its default window tiers."""
        from pyspark.sql import functions as F

        from diive_spark.operators import halo

        tier_s = TIER_US["1m"] // 1_000_000
        halo_s = max(49 // 2 + 1, 3 + 1) * tier_s
        slab_s = max(halo_s * 8, 7 * 86400)
        real, dup = halo.explode_halo_slabs(g, "window_start", slab_s, halo_s).agg(
            F.count(F.when(F.col("_halo") == 0, 1)),
            F.count(F.when(F.col("_halo") == 1, 1))).first()
        return dup / real if real else 0.0


WORKLOADS = {w.name: w for w in (Tick, Query)}
