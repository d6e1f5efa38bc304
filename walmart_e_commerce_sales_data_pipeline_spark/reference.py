"""The reference ETL's pandas steps, the one copy the parity test checks
``pipeline.main`` against and ``bench.py`` times beside it on the same
inputs and host."""

from __future__ import annotations

import os


def reference_steps(csv_path: str, pq_path: str, output_dir: str):
    """Scan, join, mean-fill, derive the month, filter, average and write
    the two CSV sinks into ``output_dir`` as wallmart_pipeline.py:52-119
    does; returns ``(clean_data, agg_data)``."""
    import pandas as pd

    merged = pd.read_csv(csv_path).merge(pd.read_parquet(pq_path), on="index")
    for col in ("Weekly_Sales", "CPI", "Unemployment"):
        merged[col] = merged[col].fillna(merged[col].mean())
    merged["Date"] = pd.to_datetime(
        merged["Date"], format="%Y-%m-%dT%H:%M:%S.%f", errors="coerce"
    )
    merged["Month"] = merged["Date"].dt.month
    clean = merged[merged["Weekly_Sales"] > 10000][
        ["Store_ID", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment", "Month"]
    ]
    agg = clean.groupby("Month")["Weekly_Sales"].mean().reset_index().round(2)
    clean.to_csv(os.path.join(output_dir, "clean_data.csv"), index=False)
    agg.to_csv(os.path.join(output_dir, "agg_data.csv"), index=False)
    return clean, agg
