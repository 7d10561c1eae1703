"""Bucketed tier tables: the co-location layout for 100 TB tier joins.

Every tier, mask, and analytics table in this engine is keyed by
``source`` — the mask semi-joins (operators/masks.py), the tier-match
audit, the phase-band broadcast-back, and every per-source aggregation
shuffle on it.  At production scale those shuffles dominate: a daily tier
of 10^12 raw rows re-hashed for every downstream join is the single
largest avoidable cost in the pipeline.

``write_bucketed`` persists a tier as a Spark **bucketed table**
(``bucketBy(n, "source")`` + per-file ``sortBy``): the hash-partitioning
is baked into the file layout once at write time, so every later
source-keyed join between two co-bucketed tiers and every
``groupBy("source")`` aggregation reads the layout instead of
shuffling — Catalyst plans a SortMergeJoin / HashAggregate with **no
Exchange** on the bucketed side(s).  This is the parquet-native analog of
the reference's single-machine locality (the whole rts brick lives in
one R process, ``/root/reference/R/rtsa.stl.R:441-489``): here the
locality is per-bucket, and 1000 executors each own buckets instead of
one process owning everything.

Operational contract:

- **Same bucket count across tiers that join.** Spark avoids the shuffle
  when both sides agree (or one is a multiple, with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).  Pick the
  count once per deployment (default 64; at 100 TB size it so one
  bucket of the RAW tier fits an executor — e.g. 4096) and pass the
  same value everywhere; ``read_bucketed`` exposes the table's count so
  callers can assert agreement.
- Bucketed writes require the table catalog (``saveAsTable``); plain
  ``.parquet(path)`` cannot carry bucket metadata.  The in-memory /
  Derby catalog in local mode and any Hive/Glue/Unity catalog in
  production both work; pass ``path=...`` to keep the data external.
- ``sortBy`` the time column: per-file ordering turns the downstream
  SortMergeJoin sort and every window-over-(source, time) into a cheap
  near-sorted pass, and parquet min/max row-group pruning on time
  ranges gets tight for free.

The module also holds the publish-side layout shared by every
month-partitioned stage: :func:`cluster_for_publish`, footer-based
:func:`parquet_stats`, and :class:`PlainStore`, the plain ``p_month=``
stage table (the snapshot-backed one is
:class:`rtsa_spark.snapshot.SnapshotStore`).

Verification: tests/test_storage.py writes two co-bucketed tiers and
asserts (a) read-back content equality, (b) the source-keyed join plan
contains no shuffle Exchange, (c) ``groupBy(source)`` aggregation plans
with no Exchange; tools/explain_audit.py carries the same no-Exchange
assertion as audit #16.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_bucketed",
    "read_bucketed",
    "bucket_spec",
    "cluster_for_publish",
    "parquet_stats",
    "PlainStore",
    "zorder_key",
    "cluster_zorder",
    "zorder_skip_audit",
]

DEFAULT_BUCKETS = 64
P_MONTH = "p_month"


def cluster_for_publish(
    df: DataFrame, order_cols: tuple[str, ...], month_col: str = "p_month"
) -> DataFrame:
    """Range-cluster + sort rows ahead of a month-partitioned write —
    the parquet-dir emulation of Iceberg's ``write.distribution-mode =
    range`` + sort order.  Two effects that only matter once the table is
    big, which is exactly when they dominate:

    - **file-count control**: an unclustered write sprays every shuffle
      partition into every month dir (``shuffle_partitions × months``
      files per stage — the small-files explosion that kills a 100 TB
      table's planning time).  Range partitioning on ``(month, *order)``
      makes the month runs contiguous, so each write task lands in one
      (boundary tasks: two) month dirs: total files ≈ shuffle partitions,
      not the product.  Skew-safe where ``repartition(month_col)`` is
      not — a dominant month simply spans several range partitions.
    - **row-group stats**: ``sortWithinPartitions`` gives every parquet
      row group a tight ``(source, bucket_start)`` min/max envelope, so
      time-range and per-source reads prune row groups instead of
      scanning the month (the block-pruned ``read_points`` and every
      mask semi-join read benefit immediately).

    Costs one extra range exchange per PUBLISH (never on the query path);
    that is the trade every table format makes for sorted data files.
    Columns absent from ``df`` are skipped, so one helper serves the
    rollup (``bucket_start``), encoded (``block_day``) and histogram
    stages alike.
    """
    cols = [month_col] + [c for c in order_cols if c in df.columns]
    return df.repartitionByRange(*[F.col(c) for c in cols]).sortWithinPartitions(
        *cols
    )


def parquet_stats(path: str | None) -> tuple[int, int, int]:
    """``(rows, files, bytes)`` of the parquet data files under ``path``
    (recursive; zeros for ``None`` or a missing dir).  Row counts come
    from the file footers — driver-side metadata, no Spark job: the
    per-data-file ``record_count`` an Iceberg manifest keeps."""
    import pyarrow.parquet as pq

    rows = n_files = n_bytes = 0
    if path is None:
        return rows, n_files, n_bytes
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if fname.endswith(".parquet"):
                fp = os.path.join(root, fname)
                rows += pq.read_metadata(fp).num_rows
                n_files += 1
                n_bytes += os.path.getsize(fp)
    return rows, n_files, n_bytes


def _local_path(uri: str) -> str:
    """``input_file_name()`` yields URIs (``file:///x``, sometimes
    ``file:/x``) where ``os.walk`` yields plain paths.  A mismatch would
    treat a grouped file as untouched AND rewrite it — duplicated rows —
    so parse, never strip a fixed prefix."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else uri


class PlainStore:
    """Month-partitioned parquet dir holding only the CURRENT state — the
    plain counterpart of :class:`rtsa_spark.snapshot.SnapshotStore`, with
    the same stage-table verbs (``publish``, ``refresh_months``,
    month-pruned ``read``, ``month_dirs`` listing, ``compact``), so
    ``TierPipeline`` runs one code path over either layout.

    Layout ``<base>/p_month=YYYY-MM/part-*.parquet`` for frames carrying
    ``ts_col``, else one unpartitioned dir.  A publish writes
    ``<base>._tmp_<run_id>`` and swaps it in by rename, so a killed write
    never leaves a half-table behind; a refresh overwrites only the
    requested month dirs (dynamic partition overwrite — the parquet
    emulation of Iceberg ``overwritePartitions``).  Overwrites are
    destructive: a plain dir keeps no history to time-travel to.
    """

    def __init__(
        self, spark: SparkSession, base_dir: str, ts_col: str, run_id: str
    ):
        self.spark = spark
        self.base = base_dir
        self.ts_col = ts_col
        self.run_id = run_id

    def current_snapshot(self) -> None:
        """A plain dir keeps no snapshot history."""
        return None

    def month_dirs(self) -> dict[str | None, str]:
        """``{month: dir}`` of the published partitions; an unpartitioned
        stage lists as ``{None: base}``, an unpublished one as ``{}``."""
        if not os.path.isdir(self.base):
            return {}
        dirs = {
            d.split("=", 1)[1]: os.path.join(self.base, d)
            for d in sorted(os.listdir(self.base))
            # dotted names are crash debris of a compaction swap
            if d.startswith(f"{P_MONTH}=") and "._" not in d
        }
        return dirs or {None: self.base}

    def read(
        self,
        months: list[str] | None = None,
        month_lo: str | None = None,
        month_hi: str | None = None,
    ) -> DataFrame:
        """Current table, partition-pruned on ``p_month`` (``months`` or
        an INCLUSIVE ``YYYY-MM`` range); the partition column is dropped.
        Unpartitioned stages ignore the month arguments."""
        df = self.spark.read.parquet(self.base)
        if P_MONTH not in df.columns:
            return df
        if months is not None:
            df = df.where(F.col(P_MONTH).isin(list(months)))
        if month_lo is not None:
            df = df.where(F.col(P_MONTH) >= month_lo)
        if month_hi is not None:
            df = df.where(F.col(P_MONTH) <= month_hi)
        return df.drop(P_MONTH)

    def _with_month(self, df: DataFrame) -> DataFrame:
        return df.withColumn(P_MONTH, F.date_format(F.col(self.ts_col), "yyyy-MM"))

    def publish(self, df: DataFrame) -> None:
        """Full-table publish: tmp write + atomic rename over the old dir."""
        tmp = f"{self.base}._tmp_{self.run_id}"
        writer = df.write.mode("overwrite")
        if self.ts_col in df.columns:
            writer = (
                cluster_for_publish(self._with_month(df), ("source", self.ts_col))
                .write.mode("overwrite")
                .partitionBy(P_MONTH)
            )
        writer.parquet(tmp)
        if os.path.exists(self.base):
            shutil.rmtree(self.base)
        os.rename(tmp, self.base)

    def refresh_months(self, df: DataFrame, months: list[str]) -> None:
        """Dynamic partition overwrite of ``months`` from ``df``
        (defensively filtered to them, so a recomputed frame never
        overwrites a neighbor month with partial content), PLUS removal
        of any requested month ``df`` has no rows for — dynamic mode only
        touches partitions present in the frame, so a fully-deleted month
        would otherwise survive as a stale dir forever."""
        with_m = self._with_month(df).where(F.col(P_MONTH).isin(months))
        written = {r[P_MONTH] for r in with_m.select(P_MONTH).distinct().collect()}
        existing = {m for m in self.month_dirs() if m is not None}
        if not written and not (existing - set(months)):
            # deleting every month dir and writing nothing back leaves a
            # stage with zero partitions — unreadable (no schema) and
            # certainly an upstream accident
            raise ValueError(
                f"refresh of {sorted(months)} would empty {self.base} "
                f"entirely; remove the base dir explicitly to tear the "
                f"table down"
            )
        (
            cluster_for_publish(with_m, ("source", self.ts_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(P_MONTH)
            .parquet(self.base)
        )
        for m in set(months) - written:
            stale = os.path.join(self.base, f"{P_MONTH}={m}")
            if os.path.exists(stale):
                shutil.rmtree(stale)

    def compact(
        self, target_rows: int, months: list[str] | None = None
    ) -> dict[str, dict]:
        """Small-file compaction per month dir: sub-``target_rows`` files
        are grouped by :func:`operators.retention.plan_compaction`, each
        group with >=2 files is rewritten as ONE file re-sorted on
        ``(source, ts_col)``, untouched files are hard-linked, and the
        month dir is swapped by two renames (``._compact_<run>`` build,
        ``._old_<run>`` aside — the markers ``TierPipeline.vacuum``
        reaps or heals after a crash).  Single-file groups are skipped,
        so re-running is a no-op.  Returns ``{month: {"files_before",
        "files_after", "groups"}}`` for the months that changed."""
        from rtsa_spark.operators.retention import file_stats, plan_compaction

        dirs = self.month_dirs()
        if not dirs or None in dirs:
            raise ValueError(
                f"{self.base} is not month-partitioned; compaction "
                f"operates per partition"
            )
        out: dict[str, dict] = {}
        for m, mpath in dirs.items():
            if months is not None and m not in months:
                continue
            df = self.spark.read.parquet(mpath)
            if self.ts_col not in df.columns:
                raise ValueError(f"{self.base} has no time column")
            plan = plan_compaction(file_stats(df, self.ts_col), target_rows)
            groups: dict[int, list[str]] = {}
            for r in plan.collect():  # file-count sized, never data
                groups.setdefault(r["group"], []).append(r["file"])
            # rewriting a lone small file gains nothing and would make
            # compaction re-trigger forever; >=2-file groups only
            groups = {g: fs for g, fs in groups.items() if len(fs) >= 2}
            if not groups:
                continue
            grouped_files = {_local_path(f) for fs in groups.values() for f in fs}
            n_grouped = sum(len(fs) for fs in groups.values())
            if len(grouped_files) != n_grouped or not all(
                os.path.exists(f) for f in grouped_files
            ):
                raise RuntimeError(
                    f"file-URI normalization mismatch in {mpath}: plan "
                    f"names {n_grouped} files, {len(grouped_files)} "
                    f"resolved locally — refusing to compact"
                )
            tmp = mpath + f"._compact_{self.run_id}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            files_before = parquet_stats(mpath)[1]
            for root, _dirs, files in os.walk(mpath):
                for fname in files:
                    src = os.path.join(root, fname)
                    if fname.endswith(".parquet") and src not in grouped_files:
                        os.link(src, os.path.join(tmp, fname))
            for g, fs in sorted(groups.items()):
                gtmp = tmp + f".g{g}"
                (
                    self.spark.read.parquet(*fs)
                    .coalesce(1)
                    .sortWithinPartitions(
                        *[c for c in ("source", self.ts_col) if c in df.columns]
                    )
                    .write.mode("overwrite")
                    .parquet(gtmp)
                )
                parts = [f for f in os.listdir(gtmp) if f.endswith(".parquet")]
                for i, f in enumerate(parts):
                    os.rename(
                        os.path.join(gtmp, f),
                        os.path.join(
                            tmp, f"compacted-g{g}-{i}-{self.run_id}.parquet"
                        ),
                    )
                shutil.rmtree(gtmp)
            old = mpath + f"._old_{self.run_id}"
            os.rename(mpath, old)
            os.rename(tmp, mpath)
            shutil.rmtree(old)
            out[m] = {
                "files_before": files_before,
                "files_after": parquet_stats(mpath)[1],
                "groups": len(groups),
            }
        return out



def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = DEFAULT_BUCKETS,
    bucket_col: str = "source",
    sort_col: str | None = "bucket_start",
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally external) table.

    ``n_buckets`` must match across every table this one will join
    bucket-to-bucket; see the module docstring for sizing guidance.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back (the bucket layout rides along in the
    catalog metadata — a plain ``spark.table`` keeps it)."""
    return spark.table(table)


def bucket_spec(spark: SparkSession, table: str) -> tuple[int, list[str]]:
    """Return ``(n_buckets, bucket_columns)`` for a catalog table, so
    pipelines can assert co-bucketing before relying on shuffle-free
    joins (0, [] when the table is not bucketed)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    n, cols = 0, []
    for r in rows:
        if r["col_name"] == "Num Buckets":
            n = int(r["data_type"])
        elif r["col_name"] == "Bucket Columns":
            cols = [
                c.strip().strip("`")
                for c in r["data_type"].strip("[]").split(",")
                if c.strip()
            ]
    return n, cols


# --------------------------------------------------------------- z-order

#: magic-number bit-spread masks: up-to-32-bit value -> even bit positions
#: of a 64-bit word (Morton/Z-curve interleave, the standard 64-bit
#: constants).  The leading (16, ...) step is an identity for 16-bit
#: inputs — the extension to 64-bit masks changed nothing for bits<=16 —
#: but is what makes bits in (16, 31] interleave correctly: the old
#: 32-bit chain silently aliased them (spread(2^16) == spread(2^8)).
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_expr(col_sql: str, bits: int) -> str:
    """SQL for the bit-spread of a ``bits``-wide nonneg int (portable:
    only shiftleft / & / | — DuckDB replays it with ``<<``)."""
    mask = (1 << bits) - 1
    e = (
        f"(CASE WHEN {col_sql} < 0 OR {col_sql} > {mask} THEN "
        f"raise_error('zorder dim out of [0, 2^{bits})') "
        f"ELSE CAST({col_sql} AS BIGINT) END)"
    )
    for sh, m in _SPREAD:
        e = f"((({e} | shiftleft({e}, {sh}))) & {m})"
    return e


def zorder_key(x_col: str, y_col: str, bits: int = 16):
    """Morton / Z-curve key of two nonnegative integer dimensions — the
    multi-dimensional clustering key behind Delta ``OPTIMIZE ZORDER BY``
    and Iceberg's z-order rewrite strategy.  Interleaving the bits makes
    rows close in BOTH dimensions close on the key, so sorting data files
    by it gives every file a tight min/max envelope in x AND y at once —
    the property that lets a 100 TB scan prune files for predicates on
    either (or both) dimensions, where a linear ``sort by x, y`` layout
    only ever prunes on the leading x.

    Pure exact-int bit arithmetic (5-step 64-bit magic-number spread per
    dim — see ``_SPREAD``; the 64-bit chain is what makes bits in
    (16, 31] interleave correctly), no UDF, no float, identical in any
    engine with shift/and/or; out of range dims raise rather than
    silently aliasing.  ``bits`` caps each
    dimension at ``2^bits - 1``; callers bucket/scale real columns down
    first (e.g. hour index, source index — rank-bucketing a raw BIGINT
    is ``F.ntile`` at publish time).
    """
    if not (1 <= bits <= 31):
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    sx = _spread_expr(x_col, bits)
    sy = _spread_expr(y_col, bits)
    return F.expr(f"({sx} | shiftleft({sy}, 1))")


def cluster_zorder(
    df: DataFrame, x_col: str, y_col: str, bits: int = 16
) -> DataFrame:
    """Z-cluster a table ahead of a file write: range-exchange + per-file
    sort on the Morton key (the ``cluster_for_publish`` move with a
    2-D key).  One sampled range exchange at PUBLISH time — never on the
    query path — buys min/max file pruning on both dimensions for every
    later scan.  Ties broken by the raw dims so the layout is total and
    reruns byte-identical."""
    k = zorder_key(x_col, y_col, bits).alias("_zk")
    out = df.select("*", k)
    return out.repartitionByRange("_zk", x_col, y_col).sortWithinPartitions(
        "_zk", x_col, y_col
    ).drop("_zk")


def zorder_skip_audit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_files: int,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    bits: int = 16,
) -> DataFrame:
    """Quantified file-skipping audit: lay the SAME rows out as
    ``n_files`` equal files under (a) the linear ``ORDER BY x, y`` layout
    and (b) the z-order layout, compute each file's min/max stats
    envelope (what a parquet footer / Iceberg manifest stores), and count
    how many files a box predicate ``x in x_range AND y in y_range``
    must scan under each.  Returns one row per layout:
    ``(layout, n_files, files_scanned, rows_scanned, rows_matched)`` —
    the concrete evidence for choosing a table's clustering, same spirit
    as ``tools/explain_audit``'s plan assertions but measured on data.

    This row-level global sort is the DIAGNOSTIC flavor (run it on a
    sample or one partition): at production scale the file envelopes
    come straight from manifest stats and the audit is
    files × O(1).  Production writes get the z layout via
    :func:`cluster_zorder` (sampled range exchange, no global sort).
    """
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    x1, x2 = int(x_range[0]), int(x_range[1])
    y1, y2 = int(y_range[0]), int(y_range[1])
    base = df.select(
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    ).select("x", "y", zorder_key("x", "y", bits).alias("zk"))

    def layout(name, order_cols):
        filed = base.select(
            "x",
            "y",
            F.expr(
                f"(({n_files} * (row_number() OVER (ORDER BY "
                + ", ".join(order_cols)
                + f") - 1)) div count(*) OVER ())"
            ).alias("file"),
        )
        per_file = filed.groupBy("file").agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.count(F.lit(1)).cast("bigint").alias("rows"),
            F.sum(
                F.when(
                    (F.col("x") >= x1) & (F.col("x") <= x2)
                    & (F.col("y") >= y1) & (F.col("y") <= y2),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("matched"),
        )
        scanned = (
            ~(
                (F.col("max_x") < x1) | (F.col("min_x") > x2)
                | (F.col("max_y") < y1) | (F.col("min_y") > y2)
            )
        ).cast("int")
        return per_file.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(scanned).cast("bigint").alias("files_scanned"),
            F.sum(F.when(scanned == 1, F.col("rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("matched").cast("bigint").alias("rows_matched"),
        ).select(
            F.lit(name).alias("layout"),
            "n_files",
            "files_scanned",
            "rows_scanned",
            "rows_matched",
        )

    lin = layout("linear", ["x", "y"])
    zo = layout("zorder", ["zk", "x", "y"])
    return lin.unionByName(zo)
