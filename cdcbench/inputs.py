"""Seeded, cached input generation for the workloads.

Everything the engine sees is generated here from ``--seed`` with the
engine's own ``FeedSpec`` (Zipf 1.2 hot conversations, ~8% deletes) before
set-up is timed. Products are cached under ``<work>/cache/<key>/`` so a
repeated seed skips generation; a cache entry is published with one rename
and is complete or absent. The binlog files themselves are exported by the
engine's Spark sink on every run, into the run's own directory, so the
measured JVM has done the same work before set-up whether or not the cache
hit.

Binlog files carry FULL before-images for deletes, which is what MySQL
logs under ``binlog_row_image=FULL``. The generator leaves a delete's
payload NULL, and ``mysql_codecs.encode_typed_rows`` treats ``pd.NaT`` as a
value rather than NULL, so exporting a delete with a NULL DATETIME raises
``TypeError`` (an open engine defect, left for a later change).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

PAYLOAD = ["role", "text", "tool", "ts"]
FEED_COLUMNS = ["op", "conv_id", "turn_idx", "role", "text", "tool", "ts",
                "source_lsn", "binlog_file", "binlog_pos"]
SCHEMA_NAME, TABLE_NAME = "main", "transcripts"


def binlog_specs():
    from mysql_secure_agent_spark.functions.mysql_codecs import (
        DATETIME_V2, LONG, VARCHAR, ColumnSpec,
    )

    return [
        ColumnSpec("conv_id", VARCHAR, {"max_len": 64}),
        ColumnSpec("turn_idx", LONG),
        ColumnSpec("role", VARCHAR, {"max_len": 16}),
        ColumnSpec("text", VARCHAR, {"max_len": 255}),
        ColumnSpec("tool", VARCHAR, {"max_len": 16}),
        ColumnSpec("ts", DATETIME_V2, {"fsp": 6}),
    ]


def with_full_before_images(cl: pd.DataFrame) -> pd.DataFrame:
    """Give every delete the row image it removes (its key's previous
    image); a delete never opens a key's history, so one always exists."""
    cl = cl.sort_values("source_lsn").reset_index(drop=True)
    dele = cl["op"] == "D"
    prev = cl.groupby(["conv_id", "turn_idx"], sort=False)[PAYLOAD].shift(1)
    for c in PAYLOAD:
        cl.loc[dele, c] = prev.loc[dele, c]
    return cl


def lookup_keys(cl: pd.DataFrame, n: int, seed: int, absent_frac: float = 0.1):
    """``n`` point-lookup keys: present keys drawn from the event stream
    (so hot conversations are asked for as often as they change) and a
    share of absent keys that hash into every bucket, exercising bloom
    negatives."""
    rng = np.random.default_rng(seed + 7919)
    n_absent = int(round(n * absent_frac))
    idx = rng.integers(0, len(cl), size=n - n_absent)
    keys = [{"conv_id": str(cl["conv_id"].iat[i]), "turn_idx": int(cl["turn_idx"].iat[i])}
            for i in idx]
    keys += [{"conv_id": f"x{int(rng.integers(0, 10**8)):08d}",
              "turn_idx": int(rng.integers(0, 64))} for _ in range(n_absent)]
    order = rng.permutation(len(keys))
    return [keys[i] for i in order]


def _publish(tmp: str, final: str) -> None:
    try:
        os.replace(tmp, final)
    except OSError:  # another run published the same entry first
        shutil.rmtree(tmp, ignore_errors=True)


def _cached(cache_root: str, key: str):
    d = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(d, "meta.json")):
        with open(os.path.join(d, "meta.json")) as f:
            return d, json.load(f)
    return d, None


def backfill_inputs(spark, cache_root: str, seed: int, size, logs: str) -> tuple[str, dict]:
    """The backfill's changelog (deletes with FULL before-images), oracle
    state, per-event files, texts and lookup keys (cached), and its rotated
    ``mysql-bin.NNNNNN`` files written to ``logs`` by the engine's binlog
    export sink."""
    from mysql_secure_agent_spark import oracle
    from mysql_secure_agent_spark.sinks.binlog_export import write_binlog_changelog
    from mysql_secure_agent_spark.sources.changelog import FeedSpec, generate_changelog

    key = (f"backfill-v3-s{seed}-e{size.events}-c{size.convs}-t{size.max_turns}"
           f"-f{size.files}-k{size.keys}")
    d, meta = _cached(cache_root, key)
    if meta is None:
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        spec = FeedSpec(n_events=size.events, n_convs=size.convs,
                        max_turns=size.max_turns, seed=seed)
        cl, ddl = generate_changelog(spec)
        with_full_before_images(cl).to_parquet(os.path.join(tmp, "full.parquet"))
        oracle.replay(cl, ddl).to_parquet(os.path.join(tmp, "expected.parquet"))
        # each event's file, by the export's lsn-range cut
        lo, span = int(cl["source_lsn"].min()), len(cl)
        file_no = 1 + (cl["source_lsn"] - lo) * size.files // span
        cl[["op", "conv_id", "turn_idx", "source_lsn"]].assign(
            file=file_no.map(lambda n: f"mysql-bin.{n:06d}"),
        ).to_parquet(os.path.join(tmp, "events.parquet"))
        cl[["text"]].dropna().to_parquet(os.path.join(tmp, "texts.parquet"))
        meta = {"events": int(len(cl)), "keys": lookup_keys(cl, size.keys, seed)}
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        _publish(tmp, d)
    full = pd.read_parquet(os.path.join(d, "full.parquet"))
    cols = ["op", "conv_id", "turn_idx", *PAYLOAD, "source_lsn"]
    manifest = write_binlog_changelog(
        spark.createDataFrame(full[cols]), logs, SCHEMA_NAME, TABLE_NAME,
        binlog_specs(), n_files=size.files,
    )
    meta = {**meta, "files": {f"mysql-bin.{m['file_no']:06d}": int(m["n_events"])
                              for m in manifest}}
    return d, meta


def live_inputs(cache_root: str, seed: int, size) -> tuple[str, dict]:
    """One changelog split into a preload (applied during set-up) and the
    live remainder the open-loop generator releases on schedule."""
    from mysql_secure_agent_spark.sources.changelog import FeedSpec, generate_changelog

    key = (f"live-s{seed}-p{size.preload}-e{size.live_events}-c{size.convs}"
           f"-t{size.max_turns}-k{size.keys}")
    d, meta = _cached(cache_root, key)
    if meta is not None:
        return d, meta
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spec = FeedSpec(n_events=size.preload + size.live_events, n_convs=size.convs,
                    max_turns=size.max_turns, seed=seed)
    cl, _ = generate_changelog(spec)
    write_feed_frame(cl.iloc[: size.preload], os.path.join(tmp, "preload.parquet"))
    write_feed_frame(cl.iloc[size.preload:], os.path.join(tmp, "live.parquet"))
    meta = {"preload": size.preload, "live_events": size.live_events,
            "keys": lookup_keys(cl, size.keys, seed)}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    _publish(tmp, d)
    return d, meta


def feed_arrow_schema():
    import pyarrow as pa

    return pa.schema([
        ("op", pa.string()), ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us")), ("source_lsn", pa.int64()),
        ("binlog_file", pa.string()), ("binlog_pos", pa.int64()),
    ])


def write_feed_frame(df: pd.DataFrame, path: str) -> None:
    """A decoded feed file in the layout ``CdcPipeline`` streams."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(df[FEED_COLUMNS], schema=feed_arrow_schema(),
                             preserve_index=False),
        path,
    )


def decode_sample(spark, cache_dir: str, n: int) -> str:
    """Binlog files for the one-thread decode measurement of a workload
    whose engine input is not binlog (traced runs only)."""
    from mysql_secure_agent_spark.sinks.binlog_export import write_binlog_changelog

    out = os.path.join(cache_dir, f"decode-sample-{n}")
    if os.path.isdir(out):
        return out
    pre = pd.read_parquet(os.path.join(cache_dir, "preload.parquet"))
    live = pd.read_parquet(os.path.join(cache_dir, "live.parquet"))
    # before-images may come from the preload, so derive them over the whole log
    full = with_full_before_images(pd.concat([pre, live], ignore_index=True))
    full = full.iloc[len(pre): len(pre) + n]
    cols = ["op", "conv_id", "turn_idx", *PAYLOAD, "source_lsn"]
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_binlog_changelog(spark.createDataFrame(full[cols]), tmp,
                           SCHEMA_NAME, TABLE_NAME, binlog_specs(), n_files=2)
    _publish(tmp, out)
    return out

