"""Retention cascade: 1h-from-1m == 1h-from-raw, 1d-from-1h == 1d-from-raw
(partial/final composition, SURVEY.md §2.4)."""

import ast
import os

import numpy as np
import pytest

from diive_spark import synth
from diive_spark.operators import resample
from diive_spark.streaming import rollup_stream


@pytest.fixture(scope="module")
def tiers(spark):
    df = synth.inject_gaps(
        synth.with_event_time(synth.token_table(spark, 8_000, with_tokens=False))
    ).select("n_tok", "source", "event_time")
    t1m = resample.rollup(df, "event_time", ["n_tok"], "1m", key_cols=["source"]).cache()
    return df, t1m


def _sorted(pdf):
    return pdf.sort_values(["source", "window_start"]).reset_index(drop=True)


def _assert_equal(a, b):
    a, b = _sorted(a), _sorted(b)
    assert len(a) == len(b)
    for c in ["source", "window_start", "window_end", "n_tok_cnt", "n_tok_min", "n_tok_max"]:
        np.testing.assert_array_equal(a[c].to_numpy(), b[c].to_numpy(), err_msg=c)
    for c in ["n_tok_sum", "n_tok_sumsq", "n_tok_mean"]:
        np.testing.assert_allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=1e-12, err_msg=c)


def test_1h_from_1m_equals_direct(tiers):
    df, t1m = tiers
    from_cascade = resample.reaggregate(t1m, "1h", ["n_tok"], key_cols=["source"]).toPandas()
    direct = resample.rollup(df, "event_time", ["n_tok"], "1h", key_cols=["source"]).toPandas()
    _assert_equal(from_cascade, direct)


def test_1d_from_1h_from_1m_equals_direct(tiers):
    df, t1m = tiers
    t1h = resample.reaggregate(t1m, "1h", ["n_tok"], key_cols=["source"])
    t1d = resample.reaggregate(t1h, "1d", ["n_tok"], key_cols=["source"]).toPandas()
    direct = resample.rollup(df, "event_time", ["n_tok"], "1d", key_cols=["source"]).toPandas()
    _assert_equal(t1d, direct)


def test_rollup_reaggregate_and_stream_share_one_schema(spark, tmp_path):
    """One partial-aggregate spec: the batch rollup, its re-aggregation and
    the streaming rollup over the same files emit the same columns, in the
    same order, with the same types."""
    src = str(tmp_path / "tokens")
    synth.with_event_time(synth.token_table(spark, 2000, with_tokens=False)).select(
        "n_tok", "source", "event_time").write.parquet(src)
    raw = spark.read.parquet(src)
    batch = resample.rollup(raw, "event_time", ["n_tok"], "1h", key_cols=["source"])
    merged = resample.reaggregate(
        resample.rollup(raw, "event_time", ["n_tok"], "1m", key_cols=["source"]),
        "1h", ["n_tok"], key_cols=["source"])
    stream = rollup_stream.run_available_now(rollup_stream.streaming_rollup(
        spark, src, "n_tok int, source string, event_time timestamp",
        "event_time", ["n_tok"], "1h", ["source"]), str(tmp_path / "ckpt"), "one_spec_stream")
    assert batch.dtypes == merged.dtypes == stream.dtypes
    assert batch.columns == ["source", "window_start", "window_end",
                             *resample.partial_cols(["n_tok"]), "n_tok_mean"]
    assert resample.partial_cols(["a", "b"])[:6] == [
        "a_cnt", "a_sum", "a_min", "a_max", "a_sumsq", "b_cnt"]


def test_partials_match_the_benchmark_gate():
    """perfbench's gate checks exactly the partials the engine stores."""
    gate = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "gate.py")
    tree = ast.parse(open(gate).read())
    partials = next(ast.literal_eval(n.value) for n in tree.body if isinstance(n, ast.Assign)
                    and [t.id for t in n.targets] == ["PARTIALS"])
    assert resample.PARTIAL_COLS == partials
