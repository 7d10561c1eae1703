"""Resumable tier pipeline: the engine's batch driver.

Runs the retention ladder stage by stage, persisting every tier before the
next reads it, with a lineage ledger that makes re-runs idempotent:

- each stage writes to ``<base>/<stage>`` (parquet, zstd), bucket-bearing
  stages **partitioned by calendar month** (``p_month=YYYY-MM`` dirs), and
  appends a lineage row ``{run_id, stage, rows_in, rows_out, n_files,
  started_at, finished_at, status, fingerprint}`` to
  ``<base>/lineage.jsonl``, plus one PER-PARTITION manifest row
  ``{run_id, stage, p_month, rows, n_files, bytes, status, finished_at}``
  per published month dir to ``<base>/partition_lineage.jsonl`` (the
  metrics rows of the north rule — what an Iceberg snapshot's manifest
  entries record per partition);
- optional stages per tier: gap-fill, token histograms, metrics, and
  (opt-in via ``encode_tiers``) the Gorilla/DoD encoded-block stage
  ``encoded_<tier>`` — month-partitioned on ``block_day``; blocks are
  calendar-month groups by construction, so late-data refreshes re-encode
  only the affected months' partitions like the tiers themselves;
- a stage is SKIPPED on re-run when a SUCCESS lineage row exists whose
  input fingerprint matches. The fingerprint is a CONTENT hash
  (``count:bit_xor(xxhash64(*cols))``, order-independent, one cheap
  columnar scan) — a corrected input with the same row count no longer
  silently skips recomputation. On Iceberg the seam is the snapshot id;
- full-stage writes go to a ``_tmp`` dir first and are atomically renamed,
  so a stage killed mid-write never leaves a half-table behind the SUCCESS
  check. Partition-scoped refreshes use dynamic partition overwrite and
  touch ONLY the affected ``p_month`` dirs.

Every stage lives in one month-partitioned *stage table* with the same
verbs — publish, month-scoped refresh, month-pruned read, a ``{month:
dir}`` listing, compaction — in two layouts, so each pipeline step is one
code path:

- :class:`rtsa_spark.storage.PlainStore` (default): a plain ``p_month=``
  dir holding only the current state;
- :class:`rtsa_spark.snapshot.SnapshotStore` for the tiers named in
  opt-in ``snapshot_tiers`` (and their encoded-block stages): every
  publish/refresh is an append-only snapshot commit, so
  ``read_stage(stage, asof=...)`` time-travels to any retained
  checkpoint, refreshes never destroy what an earlier snapshot read, and
  ``expire_snapshots`` reclaims history explicitly.  Manifest rows for
  those stages carry the committing ``snapshot_id``.

Only the snapshot-only verbs (time travel, changelog reads, tags and
branches, expiry) ask which layout a stage has.  This is the
parquet-backed emulation of Iceberg snapshot checkpoints (SURVEY.md §7
"Iceberg in sandbox"): the lineage row plays the snapshot commit, the
atomic rename / per-partition swap plays the manifest swap. On a real
deployment the stage table swaps to ``df.writeTo(...).overwritePartitions()``
on an Iceberg catalog with no driver changes.

The reference's analog is the per-function result-stack sink (S4 stacks,
``/root/reference/R/rtsa.stl.R:441-489``) — except rtsa recomputes
everything from scratch every call; resumability is ours.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from datetime import datetime, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import MapType

from rtsa_spark.operators.encode import encode_tier
from rtsa_spark.operators.gapfill import gapfill_linear
from rtsa_spark.operators.metrics import compute_metrics
from rtsa_spark.operators.rollup import TIER_ORDER, rollup_next, rollup_raw
from rtsa_spark.snapshot import SnapshotStore
from rtsa_spark.storage import PlainStore, parquet_stats


def _parse_ts(x):
    """datetime | ISO string | None -> naive UTC datetime (engine
    timestamps are UTC by construction, session tz pinned)."""
    if x is None or isinstance(x, datetime):
        return x
    return datetime.fromisoformat(x)


def _hash_cols(df: DataFrame) -> list:
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, MapType):
            c = F.to_json(c)
        cols.append(c)
    return cols


def content_fingerprint(df: DataFrame) -> str:
    """Order-independent content hash of a DataFrame: ``rows:xor-hash``.

    ``bit_xor(xxhash64(*cols))`` is commutative, partitioning-independent,
    and ANSI-safe; map-typed columns go through ``to_json`` (hashing maps
    is undefined in Spark). One columnar scan — at 100 TB the production
    seam replaces this with the Iceberg snapshot id, which is free.
    """
    hashed = df.select(F.xxhash64(*_hash_cols(df)).alias("h"))
    row = hashed.agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")
    ).first()
    return f"{row['n']}:{row['x'] if row['x'] is not None else 0}"


def month_fingerprints(df: DataFrame, ts_col: str = "ts") -> dict[str, str]:
    """Per-calendar-month content fingerprints of an input table:
    ``{YYYY-MM: "rows:xor-hash"}``.  Same hash construction as
    :func:`content_fingerprint` and COMBINABLE into it (xor of month
    hashes, sum of counts) because ``bit_xor`` is commutative across any
    partitioning — so recording month-grain lineage costs the same single
    scan the global fingerprint already paid.  This is what makes
    late-data detection cheap: compare a corrected input's month map
    against the published one and only the differing months recompute
    (:meth:`TierPipeline.refresh_changed`).
    """
    hashed = df.select(
        F.date_format(F.col(ts_col), "yyyy-MM").alias("m"),
        F.xxhash64(*_hash_cols(df)).alias("h"),
    )
    rows = (
        hashed.groupBy("m")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x"))
        .collect()
    )
    return {
        r["m"]: f"{r['n']}:{r['x'] if r['x'] is not None else 0}"
        for r in rows
    }


def combine_month_fingerprints(months: dict[str, str]) -> str:
    """Fold a month-fingerprint map into the global
    :func:`content_fingerprint` value (sum counts, xor hashes)."""
    n = 0
    x = 0
    for v in months.values():
        c, h = v.split(":")
        n += int(c)
        x ^= int(h)
    return f"{n}:{x if months else 0}"


class TierPipeline:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        tiers: list[str] | None = None,
        gapfill_tiers: tuple[str, ...] = ("hourly", "daily"),
        metrics_tiers: tuple[str, ...] = ("daily",),
        hist_tiers: tuple[str, ...] = (),
        hist_top_k: int | None = 128,
        encode_tiers: tuple[str, ...] = (),
        encode_value_col: str = "n_tok_sum",
        snapshot_tiers: tuple[str, ...] = (),
        run_id: str | None = None,
    ):
        self.spark = spark
        self.base = base_dir
        self.tiers = tiers or list(TIER_ORDER)
        # month-nested tiers only: a weekly bucket straddles month
        # boundaries (rollup.py documents it as a non-cascadable side
        # branch), so a month-scoped refresh could overwrite a neighbor
        # month's partition with a partial straddling bucket
        bad_tiers = [t for t in self.tiers if t not in TIER_ORDER]
        if bad_tiers:
            raise ValueError(
                f"tiers must be month-nested cascade tiers {TIER_ORDER}; "
                f"got {bad_tiers} (weekly is a read-side rollup, not a "
                f"pipeline tier)"
            )
        self.gapfill_tiers = gapfill_tiers
        self.metrics_tiers = metrics_tiers
        self.hist_tiers = hist_tiers
        self.hist_top_k = hist_top_k
        self.encode_tiers = encode_tiers
        self.encode_value_col = encode_value_col
        #: rollup tiers stored through :class:`SnapshotStore` instead of a
        #: plain partitioned dir: every publish/refresh is an append-only
        #: snapshot commit, so consumers can time-travel
        #: (``read_stage(stage, asof=...)``) and refreshes never destroy
        #: what an earlier checkpoint read. Downstream stages (gapfill /
        #: metrics / hist) read the CURRENT snapshot and keep the plain
        #: layout; a tier's encoded-block stage follows the tier.
        self.snapshot_tiers = snapshot_tiers
        self._stores: dict[str, SnapshotStore | PlainStore] = {}
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(self.base, exist_ok=True)

    # ----------------------------------------------------------- ledger
    @property
    def _ledger_path(self) -> str:
        return os.path.join(self.base, "lineage.jsonl")

    def _ledger(self) -> list[dict]:
        if not os.path.exists(self._ledger_path):
            return []
        with open(self._ledger_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _append_ledger(self, row: dict) -> None:
        self._append_ledger_row(self._ledger_path, row)

    # ------------------------------------------- per-partition lineage
    @property
    def _partition_ledger_path(self) -> str:
        return os.path.join(self.base, "partition_lineage.jsonl")

    def _append_partition_rows(
        self, stage: str, status: str, months: list[str] | None = None
    ) -> tuple[int, int]:
        """Append one lineage row PER month partition of a published stage
        (the parquet emulation of an Iceberg snapshot's per-partition
        manifest entries): ``{run_id, stage, p_month, rows, n_files,
        bytes, status, [snapshot_id,] finished_at}``, figures read from
        the partition's parquet footers (no Spark job).  ``months``
        restricts accounting to the refreshed partitions; a requested
        month with no dir was DELETED and records ``rows=0`` instead of a
        silent omission.  Unpartitioned stages get a single row with
        ``p_month=None``.  Returns ``(rows, files)`` totals across the
        accounted partitions, so the caller's stage row needs no second
        count job."""
        dirs = self._store(stage).month_dirs()
        if months is not None:
            dirs = {m: dirs.get(m) for m in months}
        sid = self._snapshot_field(stage)
        now = time.time()
        total_rows = total_files = 0
        for month, d in sorted(dirs.items(), key=lambda kv: str(kv[0])):
            rows, n_files, n_bytes = parquet_stats(d)
            self._append_ledger_row(
                self._partition_ledger_path,
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "p_month": month,
                    "rows": rows,
                    "n_files": n_files,
                    "bytes": n_bytes,
                    "status": status,
                    **sid,
                    "finished_at": now,
                },
            )
            total_rows += rows
            total_files += n_files
        return total_rows, total_files

    def _snapshot_field(self, stage: str) -> dict:
        """``{"snapshot_id": id}`` for a snapshot-backed stage's ledger
        rows, ``{}`` for a plain one."""
        sid = self._store(stage).current_snapshot()
        return {} if sid is None else {"snapshot_id": sid}

    @staticmethod
    def _append_ledger_row(ledger_path: str, row: dict) -> None:
        with open(ledger_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def partition_lineage(self) -> DataFrame:
        """Per-partition ledger as a DataFrame — the metrics-row twin of
        :meth:`lineage` at month-partition grain (north rule: resumable
        checkpoints with per-partition lineage + metrics rows)."""
        return self.spark.read.json(self._partition_ledger_path)

    def table_status(self) -> DataFrame:
        """CURRENT physical state of every published partition — the
        ``DESCRIBE``/``SHOW PARTITIONS`` of this table format, answered
        from the manifest alone (driver-side metadata, O(manifest rows),
        zero data files touched — the same promise an Iceberg metadata
        table makes).  Latest manifest row per (stage, p_month) wins
        across SUCCESS / REFRESH / COMPACT history; months whose latest
        row records ``rows = 0`` were deleted and are excluded.  Columns:
        ``stage, p_month, rows, n_files, bytes, status, finished_at,
        run_id`` (+ ``snapshot_id`` where the stage is snapshot-backed).
        """
        if not os.path.exists(self._partition_ledger_path):
            raise ValueError(
                "no partition manifest yet; run() must publish first"
            )
        from pyspark.sql import Window

        man = self.partition_lineage()
        w = Window.partitionBy("stage", "p_month").orderBy(
            F.col("finished_at").desc()
        )
        return (
            man.withColumn("_r", F.row_number().over(w))
            .where((F.col("_r") == 1) & (F.col("rows") > 0))
            .drop("_r")
            .orderBy("stage", "p_month")
        )

    def _completed(self, stage: str, fingerprint: str) -> bool:
        return any(
            r["stage"] == stage
            and r["status"] in ("SUCCESS", "REFRESH")
            and r["fingerprint"] == fingerprint
            for r in self._ledger()
        )

    # ------------------------------------------------------------ stages
    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _is_snapshot_stage(self, stage: str) -> bool:
        # the snapshot policy follows the tier: if a tier checkpoints
        # through the store, its encoded-block stage does too (same time
        # travel / refresh semantics, keyed on block_day)
        return (
            stage.startswith("rollup_")
            and stage[len("rollup_"):] in self.snapshot_tiers
        ) or (
            stage.startswith("encoded_")
            and stage[len("encoded_"):] in self.snapshot_tiers
        )

    def _store(self, stage: str) -> SnapshotStore | PlainStore:
        """The stage's table — the one place that picks the layout.
        Month partitioning keys on ``block_day`` for encoded-block stages
        (blocks are calendar-month groups, so they stay refresh-able) and
        on ``bucket_start`` otherwise; frames without it (metrics) land
        unpartitioned."""
        if stage not in self._stores:
            path = self._stage_path(stage)
            ts_col = (
                "block_day" if stage.startswith("encoded_") else "bucket_start"
            )
            self._stores[stage] = (
                SnapshotStore(self.spark, path, ts_col=ts_col)
                if self._is_snapshot_stage(stage)
                else PlainStore(self.spark, path, ts_col=ts_col, run_id=self.run_id)
            )
        return self._stores[stage]

    def _stage_exists(self, stage: str) -> bool:
        # the listing, not os.path.exists: a snapshot-backed stage's dir
        # exists as soon as its store object is built, with no committed
        # snapshot behind it
        return bool(self._store(stage).month_dirs())

    def read_stage(
        self,
        stage: str,
        asof: int | None = None,
        start=None,
        end=None,
        sources: list[str] | None = None,
        asof_ts: float | None = None,
    ) -> DataFrame:
        """Public stage read. ``asof`` time-travels a snapshot-backed
        stage to an earlier checkpoint — a snapshot id or a tag/branch
        name (``SnapshotStore.tag``/``branch``); ``asof_ts`` resolves a
        wall-clock time instead (``SnapshotStore.snapshot_as_of_ts``);
        plain stages hold only the current state and refuse both loudly.

        ``start``/``end`` (datetimes or ISO strings, half-open
        ``[start, end)``) and ``sources`` prune the read at every level
        the layout offers: the time range maps to an inclusive
        ``p_month`` range — directory-level partition pruning on plain
        stages, manifest-level dir listing on snapshot stages — and the
        row predicates land on the parquet scan, where the
        range-clustered sorted publish
        (:func:`rtsa_spark.storage.cluster_for_publish`)
        makes the row-group min/max envelopes tight.  Encoded-block
        stages prune on the block ``[bucket_lo, bucket_hi]`` envelope
        (decode of surviving blocks is the caller's step — see
        ``operators.encode.read_points``).  A 3-day dashboard query over
        a 10-year 100 TB tier touches 1-2 month dirs and, within them,
        only the row groups covering the requested sources and days.
        """
        start, end = _parse_ts(start), _parse_ts(end)
        m_lo = start.strftime("%Y-%m") if start is not None else None
        m_hi = (
            (end - timedelta(microseconds=1)).strftime("%Y-%m")
            if end is not None
            else None
        )
        travel = {}
        if asof is not None or asof_ts is not None:
            if not self._is_snapshot_stage(stage):
                raise ValueError(
                    f"stage {stage!r} is not snapshot-backed; add its tier "
                    f"to snapshot_tiers for time travel"
                )
            travel = {"asof": asof, "asof_ts": asof_ts}
        df = self._store(stage).read(month_lo=m_lo, month_hi=m_hi, **travel)
        if start is not None or end is not None:
            if "bucket_start" in df.columns:
                if start is not None:
                    df = df.where(F.col("bucket_start") >= F.lit(start))
                if end is not None:
                    df = df.where(F.col("bucket_start") < F.lit(end))
            elif {"bucket_lo", "bucket_hi"} <= set(df.columns):
                if start is not None:
                    df = df.where(F.col("bucket_hi") >= F.lit(start))
                if end is not None:
                    df = df.where(F.col("bucket_lo") < F.lit(end))
            else:
                raise ValueError(
                    f"stage {stage!r} has no time column; start/end do not "
                    f"apply"
                )
        if sources is not None:
            if "source" not in df.columns:
                raise ValueError(f"stage {stage!r} has no source column")
            df = df.where(F.col("source").isin(list(sources)))
        return df

    def read_stage_changes(
        self, stage: str, since: int, until: int | None = None
    ) -> DataFrame:
        """Incremental consumption of a snapshot-backed stage: the rows
        that changed between checkpoint ``since`` and ``until`` (default
        current), tagged ``_change_type`` ∈ {INSERT, DELETE} — see
        :meth:`SnapshotStore.read_changes`.  A downstream consumer that
        recorded the snapshot id it last processed re-reads only the
        changed months' version dirs, O(changed months) never O(table).
        Plain stages hold only current state and refuse loudly."""
        if not self._is_snapshot_stage(stage):
            raise ValueError(
                f"stage {stage!r} is not snapshot-backed; add its tier to "
                f"snapshot_tiers for changelog reads"
            )
        return self._store(stage).read_changes(since, until)

    def tag_stage(
        self, stage: str, name: str, snapshot_id: int | None = None
    ) -> int:
        """Pin a snapshot-backed stage's checkpoint under a name (default:
        current) — readable as ``read_stage(stage, asof=name)`` and immune
        to ``expire_snapshots`` until :meth:`drop_stage_tag` releases it.
        See :meth:`SnapshotStore.tag`."""
        if not self._is_snapshot_stage(stage):
            raise ValueError(
                f"stage {stage!r} is not snapshot-backed; add its tier to "
                f"snapshot_tiers for tags"
            )
        return self._store(stage).tag(name, snapshot_id)

    def drop_stage_tag(self, stage: str, name: str) -> None:
        """Release a stage tag (metadata-only) — see
        :meth:`SnapshotStore.drop_tag`."""
        if not self._is_snapshot_stage(stage):
            raise ValueError(f"stage {stage!r} is not snapshot-backed")
        self._store(stage).drop_tag(name)

    def stage_store(self, stage: str) -> SnapshotStore:
        """The :class:`SnapshotStore` behind a snapshot-backed stage —
        the on-ramp for store-level operations the pipeline doesn't wrap
        (branch staging via ``publish(df, branch=...)``, ``read_changes``
        between arbitrary refs, row-level ``delete_where``,
        ``refs()``/``files()`` metadata views)."""
        if not self._is_snapshot_stage(stage):
            raise ValueError(
                f"stage {stage!r} is not snapshot-backed; add its tier to "
                f"snapshot_tiers"
            )
        return self._store(stage)

    def branch_stage(
        self, stage: str, name: str, snapshot_id: int | str | None = None
    ) -> int:
        """Cut a mutable branch ref on a snapshot-backed stage for
        write-audit-publish staging — see :meth:`SnapshotStore.branch`.
        Stage corrections onto it via
        ``stage_store(stage).refresh_months(df, months, branch=name)``,
        audit with ``read_stage(stage, asof=name)``, then land with
        :meth:`fast_forward_stage`."""
        return self.stage_store(stage).branch(name, snapshot_id)

    def fast_forward_stage(self, stage: str, name: str) -> int:
        """Land a staged branch on the stage's main history (metadata-only;
        refused on divergence) — see :meth:`SnapshotStore.fast_forward`."""
        return self.stage_store(stage).fast_forward(name)

    def drop_stage_branch(self, stage: str, name: str) -> None:
        """Delete a stage branch ref — see
        :meth:`SnapshotStore.drop_branch`."""
        self.stage_store(stage).drop_branch(name)

    def sync_stage_next(
        self, from_tier: str, to_tier: str, since: int | None = None
    ) -> int | None:
        """CDC-driven incremental maintenance between two snapshot-backed
        tiers: fold ``rollup_<from_tier>``'s changelog since the last sync
        into ``rollup_<to_tier>``, recomputing only the affected coarser
        buckets — see :func:`rtsa_spark.sync.sync_next`.  Both tiers must
        be in ``snapshot_tiers``."""
        from rtsa_spark.sync import sync_next

        return sync_next(
            self.stage_store(f"rollup_{from_tier}"),
            self.stage_store(f"rollup_{to_tier}"),
            to_tier,
            since=since,
        )

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, dict]:
        """Expire old checkpoints on every snapshot-backed stage (rollup
        tiers and, when their tier encodes, the encoded-block stages);
        returns per-stage accounting from :meth:`SnapshotStore.expire`."""
        stages = [f"rollup_{t}" for t in self.snapshot_tiers] + [
            f"encoded_{t}"
            for t in self.snapshot_tiers
            if t in self.encode_tiers and self._stage_exists(f"encoded_{t}")
        ]
        return {s: self._store(s).expire(keep_last) for s in stages}

    def _write_stage(self, stage: str, df: DataFrame, fingerprint: str) -> str:
        """Compute + atomically publish one stage through its table,
        ledger-logged.  Plain stages write a ``_tmp`` dir and rename it
        in; snapshot-backed stages append version dirs and commit to the
        snapshot log (a crash between data write and log append leaves
        an orphan no read sees, reaped by expire).  Month partitioning is
        what lets late-data refreshes swap single partitions."""
        t0 = time.time()
        self._store(stage).publish(df)
        # per-partition manifest rows double as the stage row count
        rows_out, n_files = self._append_partition_rows(stage, "SUCCESS")
        rows_in = int(fingerprint.split(":")[0]) if ":" in fingerprint else None
        self._append_ledger(
            {
                "run_id": self.run_id,
                "stage": stage,
                "rows_in": rows_in,
                "rows_out": rows_out,
                "n_files": n_files,
                "started_at": t0,
                "finished_at": time.time(),
                "status": "SUCCESS",
                "fingerprint": fingerprint,
                **self._snapshot_field(stage),
            }
        )
        return self._stage_path(stage)

    def _refresh_stage(
        self,
        stage: str,
        df: DataFrame,
        months: list[str],
        fingerprint: str,
        count_input: bool = False,
    ) -> int | None:
        """Month-scoped refresh of one published stage through its table,
        with REFRESH manifest rows and a ledger row whose ``rows_out``
        counts only the refreshed months.  ``count_input`` persists the
        recomputed frame and records its row count as ``rows_in`` (the
        frame feeds the count, the write and the plain table's
        distinct-months probe, so the aggregation DAG runs once); returns
        that count."""
        t0 = time.time()
        rows_in = None
        if count_input:
            df = df.persist()
            rows_in = df.count()
        self._store(stage).refresh_months(df, months)
        if count_input:
            df.unpersist()
        rows_out, _ = self._append_partition_rows(stage, "REFRESH", months=months)
        self._append_ledger(
            {
                "run_id": self.run_id,
                "stage": stage,
                "rows_in": rows_in,
                "rows_out": rows_out,
                "n_files": None,
                "started_at": t0,
                "finished_at": time.time(),
                "status": "REFRESH",
                "fingerprint": fingerprint,
                "months": months,
                **self._snapshot_field(stage),
            }
        )
        return rows_in

    def run(self, sequences: DataFrame, fail_after: str | None = None) -> dict[str, str]:
        """Execute the ladder; returns {stage: path}. ``fail_after`` injects
        a crash after the named stage commits (resume testing)."""
        out: dict[str, str] = {}
        prev_df: DataFrame | None = None
        # month-grain fingerprints combine into the global one (same single
        # scan), and publishing them is what lets refresh_changed() detect
        # late data without the caller naming months
        seq_months = month_fingerprints(sequences)
        if not seq_months:
            # an all-empty input is almost always an upstream accident (a
            # bad join, a wrong path); publishing it would wipe every tier.
            # Refuse loudly — tearing down a table is an explicit rm of the
            # base dir, never a side effect of a run.
            raise ValueError(
                "input is empty; refusing to publish empty tiers — remove "
                "the base dir explicitly to tear the table down"
            )
        prev_fp = combine_month_fingerprints(seq_months)
        seq_fp = prev_fp
        for tier in self.tiers:
            stage = f"rollup_{tier}"
            path = self._stage_path(stage)
            if not (self._completed(stage, prev_fp) and self._stage_exists(stage)):
                computed = (
                    rollup_raw(sequences)
                    if tier == "raw"
                    else rollup_next(prev_df, tier)
                )
                self._write_stage(stage, computed, prev_fp)
            tier_df = self._store(stage).read()
            out[stage] = path
            if fail_after == stage:
                raise RuntimeError(f"injected failure after {stage}")
            # one fingerprint job per tier, shared by every dependent stage
            # (gapfill / encode / next-tier completion check)
            tier_fp = content_fingerprint(tier_df)

            if tier in self.gapfill_tiers:
                gstage = f"gapfilled_{tier}"
                gpath = self._stage_path(gstage)
                if not (
                    self._completed(gstage, tier_fp) and self._stage_exists(gstage)
                ):
                    self._write_stage(gstage, gapfill_linear(tier_df, tier), tier_fp)
                out[gstage] = gpath
                if fail_after == gstage:
                    raise RuntimeError(f"injected failure after {gstage}")

            if tier in self.encode_tiers:
                estage = f"encoded_{tier}"
                epath = self._stage_path(estage)
                if not (
                    self._completed(estage, tier_fp)
                    and self._stage_exists(estage)
                ):
                    self._write_stage(
                        estage,
                        encode_tier(tier_df, value_col=self.encode_value_col),
                        tier_fp,
                    )
                out[estage] = epath
                if fail_after == estage:
                    raise RuntimeError(f"injected failure after {estage}")

            if tier in self.hist_tiers:
                hstage = f"hist_{tier}"
                if not (
                    self._completed(hstage, seq_fp) and self._stage_exists(hstage)
                ):
                    self._write_stage(hstage, self._hist(tier, sequences), seq_fp)
                out[hstage] = self._stage_path(hstage)

            if tier in self.metrics_tiers:
                mstage = f"metrics_{tier}"
                src = f"gapfilled_{tier}" if tier in self.gapfill_tiers else stage
                mdf = self._store(src).read()
                m_fp = content_fingerprint(mdf)
                if not (
                    self._completed(mstage, m_fp) and self._stage_exists(mstage)
                ):
                    self._write_stage(mstage, compute_metrics(mdf, tier), m_fp)
                out[mstage] = self._stage_path(mstage)

            prev_df = tier_df
            prev_fp = tier_fp
        # published-input month map, written only once every stage is
        # committed: a crash mid-run leaves the previous map, so a later
        # refresh_changed() at worst re-refreshes months run() already
        # rebuilt (idempotent), never misses one
        self._write_input_months(seq_months)
        return out

    def _hist(
        self, tier: str, sequences: DataFrame, months: list[str] | None = None
    ) -> DataFrame:
        """Token histograms of ``tier`` (of ``months`` only, when given):
        the first hist tier computes from raw ``sequences`` with top_k;
        coarser hist tiers cascade by map-sum merge of the published finer
        one — a direct rebuild would change top-k truncation semantics."""
        from rtsa_spark.operators.rollup import (
            merge_token_histograms,
            token_histogram,
        )

        finer = next(
            (
                f"hist_{t}"
                for t in reversed(self.tiers[: self.tiers.index(tier)])
                if t in self.hist_tiers
            ),
            None,
        )
        if finer and self._stage_exists(finer):
            return merge_token_histograms(
                self._store(finer).read(months=months), tier
            )
        return token_histogram(sequences, tier, top_k=self.hist_top_k)

    def lineage(self) -> DataFrame:
        """Ledger as a DataFrame (the `lineage` table of SURVEY.md §7.0)."""
        return self.spark.read.json(self._ledger_path)

    # ------------------------------------- late-data detection (month map)
    @property
    def _input_months_path(self) -> str:
        return os.path.join(self.base, "input_months.json")

    def _write_input_months(self, months: dict[str, str]) -> None:
        tmp = self._input_months_path + f"._tmp_{self.run_id}"
        with open(tmp, "w") as f:
            json.dump(months, f, sort_keys=True)
        os.replace(tmp, self._input_months_path)

    def _read_input_months(self) -> dict[str, str] | None:
        if not os.path.exists(self._input_months_path):
            return None
        with open(self._input_months_path) as f:
            return json.load(f)

    def detect_changed_months(self, sequences: DataFrame) -> dict[str, list[str]]:
        """Diff ``sequences`` against the PUBLISHED input's month map:
        ``{"changed": [...], "added": [...], "removed": [...]}`` (one scan
        of the new input; the published side is stored metadata).  This is
        the late-data seam of the north rule — on Iceberg the same diff
        falls out of snapshot changelogs; here the month fingerprints
        recorded at publish time play that role."""
        published = self._read_input_months()
        if published is None:
            raise ValueError(
                "no published input month map; run() must complete once "
                "before late-data detection"
            )
        new = month_fingerprints(sequences)
        return {
            "changed": sorted(
                m for m, fp in new.items()
                if m in published and published[m] != fp
            ),
            "added": sorted(m for m in new if m not in published),
            "removed": sorted(m for m in published if m not in new),
        }

    def refresh_changed(self, sequences: DataFrame) -> dict[str, int]:
        """Detect months whose input content changed and refresh exactly
        those (added months publish, emptied months delete).  No-op (empty
        dict) when the input matches the published fingerprints."""
        diff = self.detect_changed_months(sequences)
        months = sorted(set(diff["changed"] + diff["added"] + diff["removed"]))
        if not months:
            return {}
        return self.refresh_months(sequences, months)

    def sync(self, sequences: DataFrame) -> dict:
        """Make the published tiers match ``sequences`` with the cheapest
        correct action — the continuous-aggregate maintenance verb a
        scheduler calls on every input snapshot without caring what
        changed:

        - never published (no input month map): full :meth:`run` —
          which itself resumes past any stage whose content fingerprint
          already matches, so re-``sync`` of a pre-month-map base costs
          one fingerprint scan per stage, then records the map;
        - published: :meth:`detect_changed_months` diff, then
          :meth:`refresh_changed` over exactly the changed/added/removed
          months (empty no-op when the input is unchanged).

        Returns ``{"mode": "run", "stages": {...}}`` or ``{"mode":
        "refresh", "replaced": {stage: rows}}``.  Cost is O(changed
        months), never O(table) — at 100 TB the difference between a
        nightly correction touching one month dir and a full recompute.
        """
        if self._read_input_months() is None:
            return {"mode": "run", "stages": self.run(sequences)}
        return {"mode": "refresh", "replaced": self.refresh_changed(sequences)}

    # ------------------------------------------ late-data partition refresh
    def refresh_months(self, sequences: DataFrame, months: list[str]) -> dict[str, int]:
        """Idempotent partition-scoped refresh for late/replayed data.

        ``months``: 'YYYY-MM' strings whose source rows changed. For every
        rollup/hist tier, ONLY the affected ``p_month`` partition dirs are
        rewritten (Spark dynamic partition overwrite — the parquet emulation
        of Iceberg ``overwritePartitions``); all other partition dirs are
        left byte-identical on disk (asserted in tests/test_refresh.py).
        Downstream gapfill/metrics stages are then recomputed from the
        refreshed tiers (they are tier-sized, and their window/per-source
        semantics span month boundaries, so partial recompute would be
        incorrect) — this also closes the staleness hole where a refresh
        left derived stages behind a matching fingerprint.

        SUCCESS ledger rows with the post-refresh input fingerprints are
        appended, so a subsequent ``run(corrected)`` skips every stage.

        Returns {stage: rows_replaced}.
        """
        replaced: dict[str, int] = {}
        # Partition-scoped overwrite presupposes a prior full publish: a
        # missing tier dir would make a month refresh create a dir holding
        # ONLY the refreshed months while the ledger records the full-input
        # fingerprint, so run() would skip the rebuild forever. Fail loudly
        # instead (derived encode/hist stages fall back to a full build
        # below — they may legitimately be enabled after the first run()).
        missing = [
            f"rollup_{t}"
            for t in self.tiers
            if not self._stage_exists(f"rollup_{t}")
        ]
        if missing:
            raise ValueError(
                f"refresh_months requires a completed run() first; missing "
                f"stage dirs: {missing}"
            )
        affected_seq = sequences.where(
            F.date_format(F.col("ts"), "yyyy-MM").isin(months)
        )
        prev_recomputed: DataFrame | None = None
        seq_months = month_fingerprints(sequences)
        if not seq_months:
            # same rail as run(): an all-empty "correction" deleting every
            # published month is an upstream accident, not a refresh. A
            # correction that empties SOME months (rows elsewhere) still
            # deletes exactly those months, as tested.
            raise ValueError(
                "corrected input is empty; refusing a refresh that would "
                "delete every published month — remove the base dir "
                "explicitly to tear the table down"
            )
        seq_fp = combine_month_fingerprints(seq_months)
        # the TRUTHFUL post-refresh fingerprint: the published month map
        # with only the refreshed months replaced.  Recording seq_fp (the
        # full corrected input) on a SUBSET refresh would make a later
        # run(corrected) skip stages whose other months are still stale.
        published_now = self._read_input_months()
        if published_now:
            truthful = dict(published_now)
            for m in months:
                truthful.pop(m, None)
            truthful.update(
                {m: fp for m, fp in seq_months.items() if m in set(months)}
            )
            truthful_fp = combine_month_fingerprints(truthful)
        else:
            truthful_fp = seq_fp  # pre-month-map table: best available
        prev_fp = truthful_fp

        for tier in self.tiers:
            stage = f"rollup_{tier}"
            recomputed = (
                rollup_raw(affected_seq)
                if tier == "raw"
                else rollup_next(prev_recomputed, tier)
            )
            replaced[stage] = self._refresh_stage(
                stage, recomputed, months, prev_fp, count_input=True
            )

            if tier in self.hist_tiers:
                hstage = f"hist_{tier}"
                if not self._stage_exists(hstage):
                    # hist enabled after the original run(): a partial
                    # publish under seq_fp would hide every other month from
                    # run() — build the whole stage instead (same fallback
                    # as the encoded stage below).
                    self._write_stage(hstage, self._hist(tier, sequences), seq_fp)
                else:
                    self._refresh_stage(
                        hstage,
                        self._hist(tier, affected_seq, months),
                        months,
                        truthful_fp,
                    )
                replaced[hstage] = -1  # partition-scoped; rows tracked above

            tier_df = self._store(stage).read()
            tier_fp = content_fingerprint(tier_df)
            if tier in self.gapfill_tiers:
                gstage = f"gapfilled_{tier}"
                self._write_stage(gstage, gapfill_linear(tier_df, tier), tier_fp)
                replaced[gstage] = 0
            if tier in self.encode_tiers:
                # blocks are month-scoped by construction, so the encoded
                # stage refreshes partition-scoped like the tiers: re-encode
                # only the affected months' tier rows and swap those months.
                # If the stage doesn't exist (encoding enabled after the
                # original run()), a partial publish under the full-tier
                # fingerprint would permanently hide every other month from
                # run() — build the whole stage instead.
                estage = f"encoded_{tier}"
                if not self._stage_exists(estage):
                    self._write_stage(
                        estage,
                        encode_tier(tier_df, value_col=self.encode_value_col),
                        tier_fp,
                    )
                else:
                    month_blocks = encode_tier(
                        self._store(stage).read(months=months),
                        value_col=self.encode_value_col,
                    )
                    self._refresh_stage(estage, month_blocks, months, tier_fp)
                replaced[estage] = -1  # partition-scoped; rows tracked above
            if tier in self.metrics_tiers:
                mstage = f"metrics_{tier}"
                src = f"gapfilled_{tier}" if tier in self.gapfill_tiers else stage
                mdf = self._store(src).read()
                self._write_stage(
                    mstage, compute_metrics(mdf, tier), content_fingerprint(mdf)
                )
                replaced[mstage] = 0

            prev_recomputed = self._store(stage).read(months=months)
            prev_fp = tier_fp
        # Update ONLY the refreshed months' entries in the published month
        # map (not the whole new map): if the caller named a subset of the
        # months that really changed, the others keep their old published
        # fingerprint and detect_changed_months still flags them later.
        published = self._read_input_months() or {}
        for m in months:
            published.pop(m, None)
        published.update(
            {m: fp for m, fp in seq_months.items() if m in set(months)}
        )
        self._write_input_months(published)
        return replaced

    # ------------------------------------------------- file maintenance
    def compact_stage(
        self,
        stage: str,
        target_rows: int,
        months: list[str] | None = None,
    ) -> dict[str, dict]:
        """Execute the small-file compaction plan for a published stage —
        the engine-owned half of Iceberg's ``rewrite_data_files`` that
        :func:`operators.retention.plan_compaction` deliberately leaves to
        the table owner — through the stage's table:
        :meth:`rtsa_spark.storage.PlainStore.compact` rewrites each month's
        small-file groups as one file re-sorted on ``(source, time)`` and
        swaps the month dir atomically (a reader never sees a
        half-compacted partition); :meth:`rtsa_spark.snapshot.SnapshotStore.compact`
        commits a layout-only rewrite through the snapshot log, so time
        travel stays intact (``target_rows`` is ignored there: the trigger
        is >=2 files in a month's current version dir).

        Content is bit-identical by construction, so stage fingerprints,
        resume skips, and late-data month maps are all unaffected.  Each
        compacted month appends a ``COMPACT`` row to the partition
        manifest (rows unchanged, n_files/bytes shrink) — the operation
        is auditable, never silent.  Re-running is a no-op (idempotent).

        Returns ``{month: {"files_before": .., "files_after": ..,
        "groups": ..}}`` for the months that actually changed.
        """
        store = self._store(stage)
        before = store.month_dirs()
        out = store.compact(target_rows, months)
        # a month is re-accounted when it was compacted or its dir moved
        # (a whole-table snapshot rewrite re-versions every month)
        after = store.month_dirs()
        moved = {m for m, d in after.items() if before.get(m) != d}
        if out or moved:
            self._append_partition_rows(
                stage, "COMPACT", months=sorted(set(out) | moved)
            )
        return out

    def vacuum(self) -> list[str]:
        """Remove orphans left by CRASHED runs — the parquet-dir analog of
        Iceberg's ``remove_orphan_files``.  Every non-atomic moment in this
        pipeline writes under a dotted marker first (``._tmp_<run>`` stage
        builds and month-map swaps, ``._compact_<run>`` rebuilds,
        ``._old_<run>`` pre-swap dirs): a crash between build and rename
        leaves one behind, invisible to every reader (parquet discovery
        skips dotted paths) but holding disk forever.  Deletes any such
        entry under the base NOT owned by this live run and returns the
        removed paths.  One healing exception: a ``._old_`` dir whose live
        path is MISSING is not an orphan — it is the surviving copy from a
        crash inside ``compact_stage``'s two-rename swap (old moved aside,
        replacement not yet renamed in).  Vacuum RESTORES it instead of
        deleting it, so the month's only remaining data is never reaped.
        Safe concurrently with readers (the orphans are
        unreferenced by construction); do not run two writers with the
        same base at once — that is unsupported everywhere here."""
        markers = ("._tmp_", "._compact_", "._old_")
        mine = tuple(f"{m}{self.run_id}" for m in markers)
        removed: list[str] = []
        for dirpath, dirs, files in os.walk(self.base):
            for name in list(dirs) + list(files):
                if not any(m in name for m in markers):
                    continue
                if any(name.endswith(s) for s in mine):
                    continue  # the live run's own in-flight build
                full = os.path.join(dirpath, name)
                if "._old_" in name and os.path.isdir(full):
                    live = os.path.join(dirpath, name.split("._old_")[0])
                    if not os.path.exists(live):
                        os.rename(full, live)  # heal the interrupted swap
                        if name in dirs:
                            dirs.remove(name)
                        continue
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
                    if name in dirs:
                        dirs.remove(name)  # don't descend into removed dir
                else:
                    os.remove(full)
                removed.append(full)
        return sorted(removed)
