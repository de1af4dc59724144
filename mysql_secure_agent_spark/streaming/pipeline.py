"""CDC ingest pipeline: change feed → normalize → dedup → merge into LakeTable.

The Spark re-expression of the reference's ``Updater.update()`` loop
(``Updater.java:48-60``):

  reference                                   this pipeline
  ------------------------------------------  -----------------------------------
  binlog tail (BinlogClient.events)           spark.readStream over the feed dir
  one event at a time, single thread          micro-batches via foreachBatch
  state.binlogPosition after each event       Structured Streaming checkpoint
  flush data file then state json to S3       LakeTable atomic commit + batch-id
                                              high-water mark (exactly-once effect)
  arity-mismatch → re-poll info-schema →      explicit DDL events; micro-batch is
  emit tableDefinition (Updater.java:188-217) split at each DDL lsn; ALTER applied
                                              between sub-batches (transactional)
  sequential order ⇒ last image wins          max-source_lsn image per key
                                              (LakeTable.merge's merge kernel)
  (no skew handling — 1 thread)               salted repartition before the
                                              normalize pandas-UDF stage

Batch backfill (``run_backfill``) and streaming (``run_stream``) share the
same merge core — mirroring the reference's ImportOnly/Main split
(``ImportOnly.java:19-60``).
"""

from __future__ import annotations

import os
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.anonymize import anonymize, anonymize_arrow
from ..functions.normalize import normalize_text_udf
from ..lake.table import LakeTable
from ..operators.skew import salted_repartition
from ..schemas import CHANGELOG_SCHEMA, RAW_CHANGELOG_SCHEMA


class PostDedupTransform:
    """The pipeline's post-dedup stage — normalize ``text``, then anonymize
    the ``hashed`` non-key columns — in two forms: ``arrow(table)`` on a
    pyarrow table (``LakeTable.merge``'s kernel, in either placement) and
    called on a Spark DataFrame (SCD-2 history images). Both apply the same
    functions in the same order, so they write the same bytes. Hashed key
    columns are anonymized before the dedup instead
    (``CdcPipeline._prepare``): merge buckets rows by the key hash taken
    before this transform."""

    def __init__(self, normalize: bool, hashed: list[str], salt: str):
        self.normalize = normalize
        self.hashed = list(hashed)
        self.salt = salt

    @property
    def columns(self) -> list[str]:
        """The columns this transform may rewrite."""
        return (["text"] if self.normalize else []) + self.hashed

    def __call__(self, df: DataFrame) -> DataFrame:
        out = df
        if self.normalize and "text" in out.columns:
            out = out.withColumn("text", normalize_text_udf(F.col("text")))
        if self.hashed:
            out = anonymize(out, self.hashed, self.salt)
        return out

    def arrow(self, t: pa.Table) -> pa.Table:
        names = t.column_names
        if self.normalize and "text" in names:
            text = normalize_text_udf.func(t["text"].to_pandas())
            t = t.set_column(
                names.index("text"), "text",
                pa.array(text, pa.string(), from_pandas=True),
            )
        for c in self.hashed:
            if c in names:
                t = t.set_column(names.index(c), c, anonymize_arrow(t[c], self.salt))
        return t


class CdcPipeline:
    def __init__(
        self,
        table: LakeTable,
        feed_dir: str,
        normalize: bool = True,
        salt_buckets: int = 8,
        compact_every: int = 0,  # 0 = never auto-compact (merge-count cadence)
        # size-triggered compaction (reference: 1 GiB flush policy,
        # BucketOutput.java:29-30): {"max_delta_bytes": ..., "max_deltas": ...}
        compact_policy: dict | None = None,
        raw: bool = False,  # feed carries binary row images (S9 decode path)
        raw_schema=None,  # list[mysql_codecs.ColumnSpec]: schema-driven decode
        config=None,  # Config (config.py): column selection + anonymization
        schema_name: str = "main",
        table_name: str = "transcripts",
        # "full" (reference semantics: every image carries every column),
        # "minimal" (binlog_row_image=MINIMAL: images carry only changed
        # columns + PK, with a `_present` name array per row; merges route
        # through LakeTable.merge_partial so absent columns keep their
        # pre-batch value), or "noblob" (binlog_row_image=NOBLOB: every
        # image carries every column EXCEPT unchanged blob/text ones — a
        # strict subset pattern of minimal, so it shares the partial-image
        # path; the distinction is upstream logging volume, not engine
        # semantics). Partial-image feeds (minimal/noblob) must arrive in
        # lsn order across micro-batches — patches do not commute.
        row_image: str = "full",
        # optional SCD-2 history LakeTable (operators.scd2.create_history_table):
        # every micro-batch also lands its I/U images as interval rows and
        # closes the touched keys' previous open intervals — the lake keeps
        # FULL change history alongside the current state, the way the
        # reference's JSONL output preserves every shipped image
        # (Updater.java:148-186, BucketOutput.java:86-125).
        history_table: LakeTable | None = None,
        # dead-letter quarantine dir (raw feeds only): malformed row images
        # are validated out before decode and quarantined as parquet instead
        # of killing the stream — the reference throws mid-stream on bytes it
        # cannot frame (RowParser.java:165-166). See sinks/dead_letter.py.
        dlq_dir: str | None = None,
        # GTID auto-positioning analog (streaming/failover.py): events with
        # source_lsn <= this are dropped FIRST, before the salting shuffle
        # and the decode UDF — a promoted replica re-serves an overlap the
        # table already applied; idempotent merge would absorb it anyway,
        # this keeps the overlap off the wire entirely.
        min_lsn_exclusive: int = 0,
        # Namespaces this stream incarnation's batch ids in the table's
        # exactly-once ledger. A SECOND stream over the same table (failover
        # to a promoted feed with a fresh checkpoint) restarts Spark's epoch
        # numbering at 0 — without a distinct prefix its batches collide
        # with the first stream's registered ids and silently SKIP. Must be
        # stable across restarts of the same incarnation (crash/resume
        # replays must still dedupe), so derive it from the feed identity,
        # not a timestamp (failover.resume_from_promotion does this).
        batch_id_prefix: str = "",
    ):
        if row_image not in ("full", "minimal", "noblob"):
            raise ValueError(
                f"row_image must be 'full', 'minimal' or 'noblob', got {row_image!r}"
            )
        self._partial = row_image in ("minimal", "noblob")
        if history_table is not None and self._partial:
            raise ValueError(
                f"history_table with row_image={row_image!r} is unsupported: "
                "partial images are patches, not full row versions — an "
                "SCD-2 interval row needs the complete image (under noblob "
                "an unchanged blob column is absent from the image too)"
            )
        if self._partial and (raw or raw_schema is not None):
            raise ValueError(
                f"row_image={row_image!r} expects a decoded feed with a "
                "_present mask; decode raw binary images first "
                "(packets_to_changelog(emit_presence=True))"
            )
        if dlq_dir is not None and (not raw or raw_schema is not None):
            raise ValueError(
                "dlq_dir requires raw=True with the transcript wire format: "
                "quarantine validation lives inside the decode stage "
                "(decode_raw_feed); an already-decoded feed has no bytes to "
                "validate, and the typed-codec path is fail-fast by design"
            )
        self.row_image = row_image
        self.min_lsn_exclusive = int(min_lsn_exclusive)
        self.batch_id_prefix = batch_id_prefix
        self.history_table = history_table
        self.table = table
        self.feed_dir = feed_dir
        self.normalize = normalize
        self.salt_buckets = salt_buckets
        self.compact_every = compact_every
        self.compact_policy = compact_policy
        self.raw = raw or raw_schema is not None
        self.raw_schema = raw_schema
        self.config = config
        self._table_cfg = (
            config.table_config(schema_name, table_name) if config else None
        )
        self._dlq = None
        if dlq_dir is not None:
            from ..sinks.dead_letter import DeadLetterSink

            self._dlq = DeadLetterSink(dlq_dir)
        self._ddl: list[dict[str, Any]] | None = None
        self._merges = 0

    # ------------------------------------------------------------------ DDL
    def _ddl_events(self) -> list[dict[str, Any]]:
        if self._ddl is None:
            path = os.path.join(self.feed_dir, "ddl", "ddl.parquet")
            if os.path.exists(path):
                self._ddl = (
                    pd.read_parquet(path).sort_values("source_lsn").to_dict("records")
                )
            else:
                self._ddl = []
        return self._ddl

    def _pending_ddls(self) -> list[dict[str, Any]]:
        """DDL events not yet applied. An event is pending iff its lsn is
        above the table's persisted DDL high-water mark AND the schema state
        still disagrees with it. The hwm check is load-bearing, not an
        optimization: ADD(c) then DROP(c) restores the pre-ADD schema, so a
        state-only check would see the consumed ADD as pending forever (and
        re-apply it after the drop). The state check keeps replay idempotent
        for pre-hwm tables. Mirrors the reference's any-schema-change refresh
        (``Updater.java:188-217``)."""
        commit = self.table.commit_at(resolve=False)
        current = dict(commit.schema)
        out = []
        for d in self._ddl_events():
            if d["source_lsn"] <= commit.ddl_hwm:
                continue  # consumed, whatever the schema now looks like
            if d["action"] == "ADD_COLUMN" and d["column_name"] not in current:
                out.append(d)
            elif (
                d["action"] == "MODIFY_COLUMN"
                and d["column_name"] in current
                and current[d["column_name"]] != d["column_type"]
            ):
                out.append(d)
            elif d["action"] == "DROP_COLUMN" and d["column_name"] in current:
                out.append(d)
            elif (
                d["action"] == "RENAME_COLUMN"
                and d["column_name"] in current
                and d.get("new_name") not in current
            ):
                out.append(d)
        return out

    def _apply_ddl(self, spark: SparkSession, d: dict[str, Any]) -> None:
        lsn = int(d["source_lsn"])
        if d["action"] == "ADD_COLUMN":
            self.table.add_column(
                d["column_name"], d["column_type"], spark=spark, ddl_lsn=lsn
            )
        elif d["action"] == "MODIFY_COLUMN":
            self.table.modify_column_type(
                spark, d["column_name"], d["column_type"], ddl_lsn=lsn
            )
        elif d["action"] == "DROP_COLUMN":
            self.table.drop_column(d["column_name"], ddl_lsn=lsn)
        elif d["action"] == "RENAME_COLUMN":
            self.table.rename_column(
                d["column_name"], d["new_name"], spark=spark, ddl_lsn=lsn
            )
        elif d["action"] == "TRUNCATE":
            if self.history_table is not None:
                # closing every open SCD-2 interval at the truncate point is
                # a table-wide history rewrite this pipeline doesn't model —
                # refuse loudly rather than record silently-wrong history
                raise ValueError(
                    "TRUNCATE with an attached SCD-2 history table is not "
                    "supported: it would need every open interval closed at "
                    "the truncate lsn"
                )
            # rows merged before this point in apply_batch's DDL split are
            # wiped; the batch tail (post-truncate rows) merges next
            self.table.truncate(ddl_lsn=lsn)
            return
        else:
            raise ValueError(f"unknown DDL action {d['action']!r}")
        if self.history_table is not None:
            # the history table carries the same payload columns; mirror the
            # schema change so post-DDL interval rows have somewhere to land
            # (pre-DDL rows project the new column as NULL, Iceberg-style).
            h = self.history_table
            if d["action"] == "ADD_COLUMN":
                h.add_column(d["column_name"], d["column_type"], spark=spark, ddl_lsn=lsn)
            elif d["action"] == "MODIFY_COLUMN":
                h.modify_column_type(spark, d["column_name"], d["column_type"], ddl_lsn=lsn)
            elif d["action"] == "DROP_COLUMN":
                h.drop_column(d["column_name"], ddl_lsn=lsn)
            elif d["action"] == "RENAME_COLUMN":
                h.rename_column(d["column_name"], d["new_name"], spark=spark, ddl_lsn=lsn)

    # ------------------------------------------------------------ transform
    def _prepare(self, batch_df: DataFrame, spark: SparkSession) -> DataFrame:
        """Pre-dedup stage. For a *raw* feed (binary row images) this is the
        hot path the north star salts: a Zipf-hot conversation's images all
        hash to one partition, so repartition on (conv_id, salt) before the
        Arrow-vectorized decode UDF spreads them. For an already-decoded feed
        there is no pre-dedup map stage, so only the column selection and the
        key anonymization below apply.

        Config-hashed KEY columns are anonymized here, before the dedup, not
        in the post-dedup transform: merge buckets rows by the hash of the
        key as it reaches the merge. Anonymization is per value, so equal
        keys stay equal and each key's winning image is unchanged."""
        if self.min_lsn_exclusive:
            # prune the promotion overlap before anything shuffles or decodes
            batch_df = batch_df.filter(
                F.col("source_lsn") > F.lit(self.min_lsn_exclusive)
            )
        decoded = batch_df
        if self.raw:
            from ..functions.decode import decode_raw_feed, decode_raw_feed_typed

            n = spark.sparkContext.defaultParallelism
            # conv_id is inside the encoded payload, so pre-decode salting
            # keys on the log position alone (pure spread; decode needs no
            # key locality).
            keys = ["conv_id"] if "conv_id" in batch_df.columns else []
            salted = salted_repartition(
                batch_df, key_cols=keys, n_partitions=n, salt_buckets=self.salt_buckets
            )
            if self.raw_schema is not None:
                decoded = decode_raw_feed_typed(salted, self.raw_schema)
            else:
                decoded = decode_raw_feed(salted, quarantine=self._dlq is not None)
        selected = self._apply_selection(decoded)
        hashed = self._hashed_columns()
        if not hashed:
            return selected
        key_cols = self.table.commit_at(resolve=False).key_cols
        return anonymize(
            selected, [c for c in hashed if c in key_cols], self.config.crypto_salt
        )

    def _apply_selection(self, df: DataFrame) -> DataFrame:
        """P1 config-driven column selection (Config.columnsToSync analog,
        config/Config.java:44-65): deselected payload columns are dropped —
        merge() null-fills them, so they never reach the table. Key/system
        columns are always kept."""
        if self._table_cfg is None:
            return df
        keep = set(self.table.commit_at(resolve=False).key_cols) | {
            "op", "source_lsn", "binlog_file", "binlog_pos", "_present",
            "_error", "_raw",
        }
        payload = [c for c in df.columns if c not in keep]
        selected = set(self._table_cfg.selected_columns(payload))
        dropped = [c for c in payload if c not in selected]
        out = df.drop(*dropped)
        if dropped and "_present" in out.columns:
            # a deselected column must also leave the presence mask, or a
            # MINIMAL merge would read its (now always-NULL) batch value as
            # an explicit NULL overwrite instead of "absent → keep base".
            for c in dropped:
                out = out.withColumn("_present", F.array_remove("_present", c))
        return out

    def _hashed_columns(self) -> list[str]:
        """Anonymization (P4): the config-flagged columns that get
        base64(sha1(salt ∥ value)), matching the reference's import-time
        hashing (Updater.java:103-112) with its golden vectors."""
        if self._table_cfg is None:
            return []
        cols = [n for n, _ in self.table.commit_at(resolve=False).schema]
        return self._table_cfg.hashed_columns(cols)

    def _post_dedup(self) -> "PostDedupTransform | None":
        """Normalization + anonymization of non-key columns run AFTER dedup:
        one row per key instead of every change image. Final table content
        is identical — the winning image is chosen by source_lsn alone."""
        key_cols = self.table.commit_at(resolve=False).key_cols
        hashed = [c for c in self._hashed_columns() if c not in key_cols]
        if not self.normalize and not hashed:
            return None
        salt = self.config.crypto_salt if self.config else ""
        return PostDedupTransform(self.normalize, hashed, salt)

    # ---------------------------------------------------------------- apply
    def apply_batch(
        self, spark: SparkSession, batch_df: DataFrame, batch_id: str | int
    ) -> list[dict[str, Any]]:
        """Apply one micro-batch, splitting at DDL positions.

        Sub-batch ids are deterministic (``{batch_id}.{i}``) so a replayed
        micro-batch skips exactly the sub-merges that already committed.
        """
        if self.batch_id_prefix:
            batch_id = f"{self.batch_id_prefix}{batch_id}"
        prepared = self._prepare(batch_df, spark)
        obs_err = None
        if self._dlq is not None:
            # Piggyback the poison count on whatever job runs first over the
            # decoded batch (the merge itself, or the DDL max-lsn probe): a
            # CLEAN batch learns it is clean for free and never pays a DLQ
            # job. The observe node sits above the validity filter, so the
            # count covers every decoded row no matter how the batch is
            # later split at DDL positions.
            from pyspark.sql import Observation

            obs_err = Observation()
            flagged = prepared.observe(
                obs_err,
                F.coalesce(
                    F.sum(F.col("_error").isNotNull().cast("long")), F.lit(0)
                ).alias("n_err"),
            )
            prepared = flagged.filter(F.col("_error").isNull()).drop(
                "_error", "_raw"
            )
        post = self._post_dedup()
        pending = self._pending_ddls()
        results: list[dict[str, Any]] = []
        if pending:
            # Only when DDL could fall inside this batch do we pay a max() job.
            hi = prepared.agg(F.max("source_lsn")).collect()[0][0]
            splits = [d for d in pending if hi is not None and d["source_lsn"] <= hi]
        else:
            splits = []

        def do_merge(part: DataFrame, bid: str) -> dict[str, Any]:
            if self._partial:
                return self.table.merge_partial(
                    spark, part, bid, post_dedup_transform=post
                )
            out = self.table.merge(
                spark,
                part,
                bid,
                post_dedup_transform=post,
                # per-batch replication-lag stamps in the lineage metrics
                # (commit wall time minus event-time bounds) — the CDC SLO
                lag_col="ts" if "ts" in part.columns else None,
            )
            if self.history_table is not None:
                from ..operators.scd2 import merge_history

                # own batch ledger + deterministic id → a replay that already
                # landed the main merge still completes the history merge.
                merge_history(
                    spark, self.history_table, part, bid, transform=post
                )
            return out

        if not splits:
            results.append(do_merge(prepared, str(batch_id)))
        else:
            lo = None
            for i, d in enumerate(splits):
                part = prepared.filter(F.col("source_lsn") <= F.lit(d["source_lsn"]))
                if lo is not None:
                    part = part.filter(F.col("source_lsn") > F.lit(lo))
                results.append(do_merge(part, f"{batch_id}.{i}"))
                self._apply_ddl(spark, d)
                lo = d["source_lsn"]
            tail = prepared.filter(F.col("source_lsn") > F.lit(lo))
            results.append(do_merge(tail, f"{batch_id}.tail"))
        if self._dlq is not None:
            # DLQ write AFTER the merges (a crash in between replays the
            # whole batch; the per-batch overwrite path makes the rewrite
            # idempotent). Three cases: an action ran → trust the observed
            # count and only pay the errors-only job when poison exists; no
            # action ran (every sub-merge skipped as already-applied — a
            # checkpoint replay) or AQE pruned the CollectMetrics node →
            # write unconditionally, both rare.
            n_err = None
            if not all(r.get("skipped") for r in results):
                try:
                    n_err = obs_err.get["n_err"]
                except Exception:
                    n_err = None
            if n_err is None or (n_err or 0) > 0:
                self._dlq.write(flagged, str(batch_id))
        self._merges += 1
        if self.compact_every and self._merges % self.compact_every == 0:
            self.table.compact(spark, min_deltas=4)
        elif self.compact_policy is not None:
            self.table.compact_by_policy(spark, **self.compact_policy)
        return results

    def _feed_schema(self):
        import pyspark.sql.types as T

        if self.raw:
            return RAW_CHANGELOG_SCHEMA
        if self._partial:
            return T.StructType(
                list(CHANGELOG_SCHEMA.fields)
                + [T.StructField("_present", T.ArrayType(T.StringType()), True)]
            )
        return CHANGELOG_SCHEMA

    # -------------------------------------------------------------- backfill
    def run_backfill(self, spark: SparkSession, batch_id: str = "backfill") -> list[dict]:
        """Initial-snapshot analog (``ImportOnly``/T7): apply the whole feed
        as one batch. Idempotent under the same batch_id."""
        df = spark.read.schema(self._feed_schema()).parquet(
            os.path.join(self.feed_dir, "data")
        )
        return self.apply_batch(spark, df, batch_id)

    # ---------------------------------------------------------------- stream
    def run_stream(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        fail_after_batches: int | None = None,
    ):
        """Drain the feed with Structured Streaming (availableNow) through
        foreachBatch → merge. ``fail_after_batches`` injects a crash for the
        kill/resume test (T1/T3): the stream dies mid-run and a restart from
        the same checkpoint must converge to the uninterrupted result."""
        seen = {"n": 0}

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            if fail_after_batches is not None and seen["n"] >= fail_after_batches:
                raise RuntimeError("injected crash for kill/resume test")
            self.apply_batch(spark, batch_df, epoch_id)
            seen["n"] += 1

        stream = (
            spark.readStream.schema(self._feed_schema())
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(os.path.join(self.feed_dir, "data"))
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        return q

    # ------------------------------------------------------------- live tail
    def run_stream_continuous(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        trigger_seconds: float = 1.0,
        max_files_per_trigger: int = 16,
        heartbeat_seconds: float = 5.0,
        idle_stop_seconds: float | None = None,
        max_runtime_seconds: float | None = None,
    ) -> dict[str, Any]:
        """Live-tail operating mode (T2): a ``processingTime`` trigger keeps
        the query running as new log segments appear, and a NOP heartbeat
        lineage row is appended whenever no micro-batch has committed within
        ``heartbeat_seconds`` — the Spark analog of the reference's 1 s
        read-timeout → TIMEOUT event → NOP keep-alive
        (``client/EventReader.java:8-14``, ``Updater.java:162-164``). An idle
        feed therefore still produces observable liveness, and a monitor can
        alert on heartbeat absence exactly as with the reference's log.

        ``idle_stop_seconds`` stops the query after that long with no data
        batch (drain semantics for tests/bounded runs); ``max_runtime_seconds``
        is a hard cap. Resume is the standard checkpoint restart.

        The monitor never stops the query while a micro-batch is mid-merge:
        "idle" is measured only between batches (``busy`` flag), and the stop
        path drains the in-flight batch first. Interrupting foreachBatch
        would abort a merge that the checkpoint thinks is still pending —
        harmless for convergence (replay is idempotent) but it turns a clean
        drain into a spurious failure, and a stop-interrupted py4j call can
        surface a pathologically long exception message.
        """
        import time as _time

        state = {
            "last_data": _time.time(),
            "last_beat": _time.time(),
            "batches": 0,
            "busy": False,
            "stopping": False,
        }
        _STOP_MARKER = "cdc-pipeline-stop-requested"

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            state["busy"] = True
            try:
                # Closes the drain TOCTOU: a micro-batch that starts between
                # the monitor's busy-check and q.stop() refuses to merge and
                # fails its epoch instead — the checkpoint never marks it
                # done, so the restart replays it cleanly. Without this, the
                # stop could interrupt a merge the busy-check never saw.
                if state["stopping"]:
                    raise RuntimeError(_STOP_MARKER)
                self.apply_batch(spark, batch_df, epoch_id)
                state["last_data"] = _time.time()
                state["batches"] += 1
            finally:
                state["busy"] = False

        stream = (
            spark.readStream.schema(self._feed_schema())
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(os.path.join(self.feed_dir, "data"))
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )
        t0 = _time.time()
        heartbeats = 0
        try:
            while q.isActive:
                _time.sleep(min(trigger_seconds, 0.2))
                now = _time.time()
                if state["busy"]:
                    continue  # a merge is in flight: neither idle nor NOP
                if now - max(state["last_data"], state["last_beat"]) >= heartbeat_seconds:
                    self.table.heartbeat()
                    state["last_beat"] = now
                    heartbeats += 1
                if (
                    idle_stop_seconds is not None
                    and now - state["last_data"] >= idle_stop_seconds
                ):
                    break
                if (
                    max_runtime_seconds is not None
                    and now - t0 >= max_runtime_seconds
                ):
                    break
            if q.exception() is not None:
                raise q.exception()
        finally:
            # drain: refuse new merges first (handler raises the stop
            # marker), then let the in-flight batch commit before stopping
            state["stopping"] = True
            t_drain = _time.time()
            while state["busy"] and _time.time() - t_drain < 120:
                _time.sleep(0.1)
            if q.isActive:
                q.stop()
            try:
                q.awaitTermination()
            except Exception as e:  # noqa: BLE001 - marker-only swallow
                if _STOP_MARKER not in str(e):
                    raise
        return {"batches": state["batches"], "heartbeats": heartbeats}
