"""Streaming trajectory legs + speeding detection: the unbounded twin
of ``operators.trajectory``.

Split of responsibilities (the reason streaming == batch bit-exactly):
the stateful kernel does ONLY what statefulness is for — pairing each
ping with the user's previous ping across micro-batch boundaries
(state = one last-ping 4-tuple per user). Every float computation
(haversine, speed, the speeding compare) happens AFTER the stateful
operator in the SAME shared Column pipeline the batch path uses
(``operators.trajectory.leg_metrics`` / ``assign_jurisdiction``), so
no numpy-libm-vs-JVM-Math ulp can separate the two modes.

Ordering contract: pings are sorted by (ts, event_id) WITHIN each
micro-batch and chained from the stored last ping. A ping arriving in
a later micro-batch with an EARLIER timestamp than the stored state is
out of contract (the batch twin's global sort would place it earlier;
an unbounded stream cannot retract an emitted leg) — the same
documented late-data bound as ``sessionize``. State is O(active
users): one (id, ts_us, lon, lat) tuple each.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from osm_legal_default_speeds_spark.operators.spatial import RectBoundary
from osm_legal_default_speeds_spark.operators.trajectory import leg_metrics
from osm_legal_default_speeds_spark.streaming.event_rollup import drain_to_memory

PINGS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, lon double, lat double"
)

_PAIR_SCHEMA = (
    "user bigint, id0 bigint, t0_us bigint, lon0 double, lat0 double, "
    "id1 bigint, t1_us bigint, lon1 double, lat1 double"
)
_STATE_SCHEMA = "last_id bigint, last_ts_us bigint, last_lon double, last_lat double"


def _pair_fn(key, pdfs, state):
    """Per-user consecutive-ping pairing kernel for
    applyInPandasWithState. Emits one raw pair row per adjacent ping;
    arithmetic-free (see module docstring)."""
    prev = state.get if state.exists else None
    frames = list(pdfs)
    pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
    ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
    ids_s = pdf["event_id"]
    lons = pdf["lon"].to_numpy()
    lats = pdf["lat"].to_numpy()
    # batch-twin order: (ts, id) with NULL ids FIRST on ts ties — the
    # batch window pins NULLS FIRST explicitly (operators/trajectory),
    # and a null-id ping (a bigint column with nulls arrives here as
    # float64 NaN) must pair like any other, not crash int(NaN).
    # lexsort's LAST key is primary; the not-null flag breaks ts ties
    # before the id value (exact int64, nulls zeroed out of the key).
    import numpy as np

    isna = pd.isna(ids_s).to_numpy()
    id_key = (
        pd.to_numeric(ids_s, errors="coerce")
        .fillna(0)
        .astype("int64")
        .to_numpy()
    )
    order = np.lexsort((id_key, (~isna).astype("int8"), ts_us))

    out = {k: [] for k in ("id0", "t0_us", "lon0", "lat0", "id1", "t1_us", "lon1", "lat1")}
    for i in order.tolist():
        cur = (
            None if isna[i] else int(id_key[i]),
            int(ts_us[i]),
            float(lons[i]),
            float(lats[i]),
        )
        if prev is not None:
            out["id0"].append(prev[0])
            out["t0_us"].append(prev[1])
            out["lon0"].append(prev[2])
            out["lat0"].append(prev[3])
            out["id1"].append(cur[0])
            out["t1_us"].append(cur[1])
            out["lon1"].append(cur[2])
            out["lat1"].append(cur[3])
        prev = cur
    state.update(prev)

    if out["id0"]:
        n = len(out["id0"])
        yield pd.DataFrame(
            {
                "user": pd.Series([key[0]] * n, dtype="int64"),
                # nullable Int64: a None id must stay a SQL NULL, not
                # coerce to NaN-float or crash an int64 cast
                "id0": pd.Series(out["id0"], dtype="Int64"),
                "t0_us": pd.Series(out["t0_us"], dtype="int64"),
                "lon0": pd.Series(out["lon0"], dtype="float64"),
                "lat0": pd.Series(out["lat0"], dtype="float64"),
                "id1": pd.Series(out["id1"], dtype="Int64"),
                "t1_us": pd.Series(out["t1_us"], dtype="int64"),
                "lon1": pd.Series(out["lon1"], dtype="float64"),
                "lat1": pd.Series(out["lat1"], dtype="float64"),
            }
        )


def streaming_trajectory_legs(pings_stream: DataFrame) -> DataFrame:
    """Continuous per-user legs over an unbounded ping stream:
    stateful pairing + the batch path's shared Column arithmetic.
    Output schema == ``trajectory_legs``'s."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    pairs = pings_stream.groupBy("user_id").applyInPandasWithState(
        _pair_fn,
        outputStructType=_PAIR_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return leg_metrics(pairs)


def streaming_speeding_legs(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    boundaries: list[RectBoundary],
    limits_kmh: dict[str, int],
    sink_table: str = "stream_speeding",
    max_files_per_trigger: int = 2,
    index_res: int = 6,
) -> DataFrame:
    """Continuous speeding detection: drain ``src_dir`` ping parquet
    with Trigger.AvailableNow, pair statefully, then apply the SAME
    jurisdiction-PIP + literal-limit tail as the batch path — literally
    the shared :func:`operators.trajectory.flag_speeding` Column
    pipeline (a stream-static broadcast join — supported and
    stateless), so the compare/floor semantics cannot drift between
    modes. Memory sink (test drain, as ``streaming_dedup``
    documents); returns the sink DataFrame."""
    from osm_legal_default_speeds_spark.operators.trajectory import (
        flag_speeding,
    )

    stream = (
        spark.readStream.schema(PINGS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(src_dir)
    )
    legs = streaming_trajectory_legs(stream)
    flagged = flag_speeding(legs, boundaries, limits_kmh, index_res=index_res)
    return drain_to_memory(spark, flagged, checkpoint_dir, sink_table)
