"""Order-insensitive comparison of committed sink rows with an oracle.

A row set is reduced to (count, multiset hash): the 64-bit pandas row
hash of every canonicalised row, summed modulo 2**64. Dropping, adding
or altering a single row changes the digest.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

ROW_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "emit_seq"]

#: the heartbeat conversation ``datagen.append_punctuation_file`` adds to
#: drain inputs; it is not part of the generated workload
PUNCTUATION_CONV = "__punctuation__"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    out = pd.DataFrame(
        {
            "conv_id": df["conv_id"].astype(str).to_numpy(),
            "turn_idx": df["turn_idx"].to_numpy(dtype=np.int64),
            "role": df["role"].astype(str).to_numpy(),
            "text": df["text"].astype(str).to_numpy(),
            "tool": df["tool"].where(df["tool"].notna(), "").astype(str).to_numpy(),
            "ts": pd.to_datetime(df["ts"]).to_numpy(dtype="datetime64[us]").astype(np.int64),
            "emit_seq": df["emit_seq"].to_numpy(dtype=np.int64),
        }
    )
    return out[out["conv_id"] != PUNCTUATION_CONV].reset_index(drop=True)


def digest(df: pd.DataFrame) -> tuple[int, int]:
    c = canon(df)
    h = pd.util.hash_pandas_object(c, index=False).to_numpy(dtype=np.uint64)
    return len(c), int(h.sum(dtype=np.uint64))


def read_committed(sink) -> pd.DataFrame:
    """Every row the manifest sink committed, read from exactly the files
    its manifests list."""
    paths = [
        os.path.join(sink.data_dir, f"epoch={m['epoch']:010d}", p["file"])
        for m in sink.manifests()
        for p in m["partitions"]
    ]
    if not paths:
        return pd.DataFrame(columns=ROW_COLS)
    return pd.concat(
        [pq.read_table(p).to_pandas() for p in paths], ignore_index=True
    )
