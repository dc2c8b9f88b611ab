"""Parquet retention as event_date partition drops (sources/table.py):
whole days go by directory deletes with no Spark job, only the day that
straddles a cutoff off midnight is rewritten, and a crash at any point is
repaired by re-running the expiry."""

import os

import pandas as pd
import pytest

from diive_spark.plans import pipeline
from diive_spark.sources import table as tbl

N_HOURS = 96  # 2024-01-01 .. 2024-01-04, one row per hour


@pytest.fixture
def tier(spark, tmp_path):
    """A 4-day hourly tier in the canonical event_date layout."""
    pdf = pd.DataFrame({
        "window_start": pd.date_range("2024-01-01", periods=N_HOURS, freq="1h"),
        "v": range(N_HOURS),
    })
    path = str(tmp_path / "tier")
    tbl.write_tier_table(spark.createDataFrame(pdf), path, "window_start")
    return path, pdf


def _files(path):
    """{relative file path: mtime} of every visible data file."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(d, f)
                out[os.path.relpath(full, path)] = os.stat(full).st_mtime_ns
    return out


def _days(path):
    return sorted(x for x in os.listdir(path) if x.startswith("event_date="))


def _rows(spark, path):
    return sorted(r["v"] for r in spark.read.parquet(path).select("v").collect())


def _expected(pdf, cutoff):
    return sorted(pdf.loc[pdf["window_start"] >= pd.Timestamp(cutoff), "v"])


class _FlakyFS:
    """Delegates to a Hadoop FileSystem; ``fail(method, path)`` decides
    whether a call raises, after (deletes) or instead of (renames) it."""

    def __init__(self, fs, fail):
        self._fs, self._fail = fs, fail

    def delete(self, p, recursive):
        ok = self._fs.delete(p, recursive)
        if self._fail("delete", p):
            raise RuntimeError("injected crash after a delete")
        return ok

    def rename(self, src, dst):
        if self._fail("rename", src):
            raise RuntimeError("injected crash inside the swap")
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _inject(monkeypatch, fail):
    real = tbl._tier_days

    def flaky(spark, target):
        fs, Path, root, days = real(spark, target)
        return _FlakyFS(fs, fail), Path, root, days

    monkeypatch.setattr(tbl, "_tier_days", flaky)


def test_midnight_cutoff_drops_days_without_a_spark_job(spark, tier):
    path, pdf = tier
    kept_before = {f: m for f, m in _files(path).items()
                   if f.split(os.sep)[0] >= "event_date=2024-01-03"}
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    tbl.expire_tier_before(spark, path, "window_start", "2024-01-03 00:00:00")
    assert set(tracker.getJobIdsForGroup(None)) <= jobs_before
    assert _days(path) == ["event_date=2024-01-03", "event_date=2024-01-04"]
    # the kept days' files are the same files, untouched
    assert _files(path) == kept_before
    assert _rows(spark, path) == _expected(pdf, "2024-01-03")


def test_cutoff_off_midnight_rewrites_only_the_straddling_day(spark, tier):
    path, pdf = tier
    later = {f: m for f, m in _files(path).items()
             if f.split(os.sep)[0] >= "event_date=2024-01-03"}
    tbl.expire_tier_before(spark, path, "window_start", "2024-01-02 06:30:00")
    assert _days(path) == ["event_date=2024-01-02", "event_date=2024-01-03",
                           "event_date=2024-01-04"]
    assert _rows(spark, path) == _expected(pdf, "2024-01-02 06:30:00")
    day2 = spark.read.parquet(os.path.join(path, "event_date=2024-01-02"))
    assert day2.count() == 24 - 7  # 07:00 .. 23:00
    assert {f: m for f, m in _files(path).items()
            if f.split(os.sep)[0] >= "event_date=2024-01-03"} == later
    assert not [x for x in os.listdir(path) if x.startswith("_expire_")]


def test_tz_aware_cutoff_is_read_in_the_session_time_zone(spark, tier):
    path, pdf = tier
    # 2024-01-03T02:00+02:00 is midnight UTC: whole-day drop, nothing rewritten
    tbl.expire_tier_before(spark, path, "window_start", "2024-01-03T02:00:00+02:00")
    assert _days(path) == ["event_date=2024-01-03", "event_date=2024-01-04"]
    assert _rows(spark, path) == _expected(pdf, "2024-01-03")


def test_crash_after_first_delete_then_rerun_equals_clean_expiry(
        spark, tier, tmp_path, monkeypatch):
    path, pdf = tier
    cutoff = "2024-01-03 12:00:00"
    clean = str(tmp_path / "clean")
    tbl.write_tier_table(spark.createDataFrame(pdf), clean, "window_start")
    tbl.expire_tier_before(spark, clean, "window_start", cutoff)

    _inject(monkeypatch, lambda method, p: method == "delete")
    with pytest.raises(RuntimeError, match="after a delete"):
        tbl.expire_tier_before(spark, path, "window_start", cutoff)
    assert len(_days(path)) == 3  # exactly one of the two old days went
    monkeypatch.undo()

    tbl.expire_tier_before(spark, path, "window_start", cutoff)
    assert _days(path) == _days(clean)
    assert _rows(spark, path) == _rows(spark, clean) == _expected(pdf, cutoff)


def test_crash_inside_the_straddle_swap_keeps_the_day_readable(
        spark, tier, monkeypatch):
    path, pdf = tier
    cutoff = "2024-01-02 06:30:00"
    # fail the rename that installs the rewritten day, after the old day
    # has already been moved aside
    _inject(monkeypatch,
            lambda method, p: method == "rename" and p.getName().startswith("_expire_new_"))
    with pytest.raises(RuntimeError, match="inside the swap"):
        tbl.expire_tier_before(spark, path, "window_start", cutoff)
    monkeypatch.undo()
    # every row of the straddling day is still there, nothing is hidden
    assert _rows(spark, path) == _expected(pdf, "2024-01-02")
    assert not [x for x in os.listdir(path) if x.startswith("_expire_")]

    # a kill between the two renames skips the cleanup entirely: the next
    # call puts the whole old day back before expiring
    os.rename(os.path.join(path, "event_date=2024-01-02"),
              os.path.join(path, "_expire_old_2024-01-02"))
    os.mkdir(os.path.join(path, "_expire_new_2024-01-02"))
    tbl.expire_tier_before(spark, path, "window_start", cutoff)
    assert _rows(spark, path) == _expected(pdf, cutoff)
    assert not [x for x in os.listdir(path) if x.startswith("_expire_")]


@pytest.mark.parametrize("cutoff", ["2024-01-01 00:00:00", "2023-12-31 12:00:00"])
def test_cutoff_before_all_data_changes_nothing(spark, tier, cutoff):
    path, pdf = tier
    before = _files(path)
    tbl.expire_tier_before(spark, path, "window_start", cutoff)
    assert _files(path) == before
    assert _rows(spark, path) == list(range(N_HOURS))


def test_tier_without_event_date_dirs_raises(spark, tier, tmp_path):
    _, pdf = tier
    flat = str(tmp_path / "flat")
    spark.createDataFrame(pdf).write.parquet(flat)
    before = _files(flat)
    with pytest.raises(ValueError, match="event_date"):
        tbl.expire_tier_before(spark, flat, "window_start", "2024-01-03 00:00:00")
    assert _files(flat) == before


def _raw(spark, days):
    ts = pd.date_range(days[0], periods=len(days) * 24 * 6, freq="10min")
    pdf = pd.DataFrame({"event_time": ts, "n_tok": range(len(ts)),
                        "source": ["web", "code"] * (len(ts) // 2)})
    return spark.createDataFrame(pdf)


def test_pipeline_after_every_day_expired(spark, tmp_path):
    out = str(tmp_path / "store")
    tiers = pipeline.TIER_CHAIN + ["packed"]
    raw = _raw(spark, ["2024-01-01", "2024-01-02"])
    pipeline.run_pipeline(spark, raw, out)
    for t in tiers:
        tbl.expire_tier_before(spark, pipeline.tier_path(out, t), "window_start",
                               "2024-01-03 00:00:00")
    # nothing is pending over the emptied tiers: the run writes 0 rows
    m = pipeline.run_pipeline(spark, raw, out)
    assert m["n_partitions_pending"] == 0
    assert m["rows"] == {t: 0 for t in tiers}

    # new raw data lands in the emptied tiers and reads back
    raw3 = raw.unionByName(_raw(spark, ["2024-01-03"]))
    m = pipeline.run_pipeline(spark, raw3, out)
    assert m["n_partitions_pending"] == 1
    assert m["rows"] == {"1m": 2 * 72, "1h": 2 * 24, "1d": 2, "packed": 2}
    t1h = spark.read.parquet(pipeline.tier_path(out, "1h"))
    assert [str(r[0]) for r in t1h.select("event_date").distinct().collect()] == [
        "2024-01-03"]
