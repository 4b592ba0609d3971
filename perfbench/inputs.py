"""Benchmark inputs, generated from a seed and cached on disk.

``testdata.generate_transcripts(n_convs, seed)`` is the only source. One
cache directory per ``(n_convs, seed)`` holds:

- ``table.parquet``  the whole table, one file;
- ``days/<date>.parquet``  the same rows split by UTC day of ``ts``;
- ``oracle.parquet``  single-node reference labels and scrubbed text
  (``pipeline.oracle.oracle_quality``), written on first use;
- ``meta.json``  sizes: turns, text bytes, days.

Files are written under a temporary name and renamed, so a cache entry
is either complete or absent.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa

# same parquet layout as testdata.write_transcripts_parquet
_PARQUET_KW = dict(index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True, row_group_size=20000)


@dataclass
class Inputs:
    root: str
    n_convs: int
    seed: int
    meta: dict

    @property
    def table_path(self) -> str:
        return os.path.join(self.root, "table.parquet")

    @property
    def days_dir(self) -> str:
        return os.path.join(self.root, "days")

    def day_path(self, day: str) -> str:
        return os.path.join(self.days_dir, f"{day}.parquet")

    @property
    def days(self) -> list[str]:
        return self.meta["day_list"]

    def oracle(self) -> pd.DataFrame:
        """Reference labels and scrubbed text, computed on first use."""
        path = os.path.join(self.root, "oracle.parquet")
        if not os.path.exists(path):
            from data_quality_automated_evaluator_spark.pipeline.oracle import oracle_quality

            ref = oracle_quality(self.table())[["conv_id", "turn_idx", "keep", "text_scrubbed"]]
            tmp = f"{path}.tmp-{os.getpid()}"
            ref.to_parquet(tmp, index=False)
            os.replace(tmp, path)
        return pd.read_parquet(path)

    def table(self) -> pd.DataFrame:
        return pd.read_parquet(self.table_path)


def load_inputs(cache_dir: str, n_convs: int, seed: int) -> Inputs:
    """Return the cached inputs for ``(n_convs, seed)``, building them first
    when absent."""
    root = os.path.join(cache_dir, f"n{n_convs}_s{seed}")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        _build(root, n_convs, seed)
    with open(meta_path) as fh:
        return Inputs(root, n_convs, seed, json.load(fh))


def _build(root: str, n_convs: int, seed: int) -> None:
    from data_quality_automated_evaluator_spark.testdata import generate_transcripts

    tmp = f"{root}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "days"))
    pdf = generate_transcripts(n_convs=n_convs, seed=seed)
    pdf.to_parquet(os.path.join(tmp, "table.parquet"), **_PARQUET_KW)
    day = pdf["ts"].dt.strftime("%Y-%m-%d")
    # the table's schema for every day: a day without tool turns would
    # otherwise write ``tool`` as an all-null column of another type
    schema = pa.Schema.from_pandas(pdf, preserve_index=False)
    for d, part in pdf.groupby(day, sort=True):
        part.to_parquet(os.path.join(tmp, "days", f"{d}.parquet"), schema=schema,
                        **_PARQUET_KW)
    meta = {
        "n_convs": n_convs,
        "seed": seed,
        "turns": int(len(pdf)),
        "text_bytes": int(pdf["text"].map(lambda s: len(s.encode("utf-8"))).sum()),
        "days": int(day.nunique()),
        "day_list": sorted(day.unique().tolist()),
        "day_turns": {str(d): int(c) for d, c in day.value_counts().items()},
        "table_bytes": os.path.getsize(os.path.join(tmp, "table.parquet")),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
