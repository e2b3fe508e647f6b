"""Oracle gate: compare what the engine returns with the pandas oracle.

Every workload's reads are checked here against
``feedgen.oracle_final_state`` over the feed (or the feed prefix a round has
applied). A mismatch fails the op; it never raises, so one wrong op is
counted instead of ending the run."""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pandas as pd

PK = ["conv_id", "turn_idx"]
#: the transcript table's payload columns, in table order
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Project to the table columns with comparable dtypes, sorted by pk:
    timestamps become integer microseconds (Spark returns nanosecond
    precision, the oracle microsecond) and every null becomes ``None``."""
    out = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(object),
            "turn_idx": df["turn_idx"].astype("int64"),
            "role": df["role"].astype(object),
            "text": df["text"].astype(object),
            "tool": df["tool"].astype(object),
            "ts": pd.to_datetime(df["ts"]).astype("datetime64[us]").astype("int64"),
        }
    )
    for c in ("conv_id", "role", "text", "tool"):
        out[c] = out[c].where(out[c].notna(), None)
    return out.sort_values(PK, kind="stable").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> Optional[str]:
    """``None`` when the two frames hold the same rows, else a one-line
    description of the first difference."""
    a, b = normalize(got), normalize(want)
    if len(a) != len(b):
        return f"{len(a)} rows, oracle has {len(b)}"
    for c in COLS:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        both_null = pd.isna(a[c]).to_numpy() & pd.isna(b[c]).to_numpy()
        diff = np.flatnonzero(~((x == y) | both_null))
        if len(diff):
            i = int(diff[0])
            return (
                f"{len(diff)} rows differ in {c!r}; first at "
                f"{a.at[i, 'conv_id']}/{a.at[i, 'turn_idx']}: "
                f"{x[i]!r} != {y[i]!r}"
            )
    return None


def rows_for_keys(oracle: pd.DataFrame, keys: Iterable[tuple]) -> pd.DataFrame:
    """The oracle rows of the given ``(conv_id, turn_idx)`` keys (a deleted
    or never-written key has none)."""
    want = pd.MultiIndex.from_tuples(list(keys), names=PK)
    idx = pd.MultiIndex.from_frame(oracle[PK])
    return oracle[idx.isin(want)]
