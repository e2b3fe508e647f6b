import pandas as pd

from airbyte_spark.feedgen import FeedSpec, generate_feed, oracle_final_state
from airbyte_spark.functions.text import canonicalize_pandas
from cdcbench import oracle


def _state(tmp_path):
    spec = FeedSpec(n_convs=40, n_updates=120, n_deletes=12, n_segments=2, seed=5)
    ev = generate_feed(str(tmp_path / "feed"), spec)
    return oracle_final_state(ev, canonicalize_pandas)


def test_gate_accepts_the_same_rows_in_any_order_and_dtype(tmp_path):
    want = _state(tmp_path)
    got = want.sample(frac=1.0, random_state=1).reset_index(drop=True)
    got["ts"] = got["ts"].astype("datetime64[ns]")  # what toPandas returns
    got["turn_idx"] = got["turn_idx"].astype("int32")
    assert oracle.mismatch(got, want) is None


def test_gate_catches_one_injected_wrong_row(tmp_path):
    want = _state(tmp_path)
    got = want.copy()
    got.loc[7, "text"] = "not what the feed said"
    problem = oracle.mismatch(got, want)
    assert problem is not None and "'text'" in problem


def test_gate_catches_a_missing_or_extra_row(tmp_path):
    want = _state(tmp_path)
    assert oracle.mismatch(want.iloc[1:], want) is not None
    assert oracle.mismatch(pd.concat([want, want.iloc[:1]]), want) is not None


def test_gate_catches_a_null_where_a_value_belongs(tmp_path):
    want = _state(tmp_path)
    got = want.copy()
    i = got["tool"].first_valid_index()
    got.loc[i, "tool"] = None
    assert oracle.mismatch(got, want) is not None


def test_rows_for_keys(tmp_path):
    want = _state(tmp_path)
    keys = [(want.at[0, "conv_id"], int(want.at[0, "turn_idx"])), ("conv-none", 0)]
    rows = oracle.rows_for_keys(want, keys)
    assert len(rows) == 1 and rows.iloc[0]["conv_id"] == keys[0][0]
