"""Session windows: batch gaps-and-islands vs a pandas oracle."""

import numpy as np
import pandas as pd

from streetview_naturevisibility_spark.streaming.sessions import sessionize_batch

SF = "/root/testdata/sf0.001"
GAP = 1800


class TestSessionizeBatch:
    def test_matches_pandas_oracle(self, spark):
        ev = spark.read.parquet(f"{SF}/events.parquet")
        got = (
            sessionize_batch(ev, gap_seconds=GAP)
            .orderBy("user_id", "session_start")
            .toPandas()
        )
        pdf = ev.select("user_id", "event_id", "ts", "value").toPandas()
        pdf = pdf.sort_values(["user_id", "ts", "event_id"])
        rows = []
        for uid, g in pdf.groupby("user_id"):
            us = g["ts"].astype("int64").to_numpy() // 1000
            brk = np.concatenate([[True], np.diff(us) > GAP * 1_000_000])
            sid = np.cumsum(brk)
            for s in np.unique(sid):
                sel = g[sid == s]
                rows.append(
                    {
                        "user_id": uid,
                        "session_start": sel["ts"].min(),
                        "session_end": sel["ts"].max(),
                        "n_events": len(sel),
                        "sum_value": sel["value"].sum(),
                    }
                )
        exp = (
            pd.DataFrame(rows)
            .sort_values(["user_id", "session_start"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp)
        assert (got["user_id"].to_numpy() == exp["user_id"].to_numpy()).all()
        assert (got["n_events"].to_numpy() == exp["n_events"].to_numpy()).all()
        assert (
            got["session_start"].to_numpy() == exp["session_start"].to_numpy()
        ).all()
        assert np.allclose(got["sum_value"], exp["sum_value"])
