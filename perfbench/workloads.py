"""The benchmark's workloads: closed loop, one client thread, one driver.

Both start with a cold ``TierPipeline.run`` of the whole ladder (raw ->
hourly -> daily -> monthly, gap-fill hourly and daily, Gorilla-encode
hourly, metrics daily) and then run ``seconds // cycle_s`` cycles.

``batch_ladder``
    Hourly is snapshot-backed, the other tiers are plain month partitions.
    A cycle is one late correction of a seeded month through
    ``detect_changed_months`` + ``refresh_months`` (later cycles revert and
    re-apply it) and a pass over the read list.  The last cycle also runs
    the no-op ``sync`` calls, before its read pass.
``stream_ingest``
    Every rollup tier is snapshot-backed.  A cycle lands one micro-batch
    file, folds it into the raw tier with an availableNow stream and pushes
    it down with ``sync_stage_next`` raw -> hourly -> daily -> monthly, then
    runs a pass over the read list.  The last cycle also runs the no-op
    ticks (stream restart with no new file + syncs), before its read pass.

Every operation is wrapped so that an exception counts as a failed
operation instead of ending the run.  Every result is checked against
DuckDB outside the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import random
import re
import shutil
import statistics
import sys
import traceback
from collections import defaultdict
from datetime import datetime, timedelta

import oracle
import spans as tr
from inputs import EPOCH, HORIZON_DAYS, SOURCES

LADDER = ("raw", "hourly", "daily", "monthly")
LTTB_POINTS = 40
# no-op samples per run, all taken in the last cycle: in earlier cycles the
# no-op path is still warming up
NOOPS = 16
STREAM_TIMEOUT_S = 120


def read_plan(seed: int) -> list[dict]:
    """The dashboard query list: a fixed mix whose ranges and sources are
    drawn from the seed.  Hour- and day-wide reads of raw and hourly for
    1-2 sources, month-wide multi-source reads of daily, two-day time-travel
    reads of hourly, a week of decoded points and a week LTTB-downsampled."""
    r = random.Random(seed * 7919 + 17)
    names = [f"s{i:03d}" for i in range(SOURCES)]

    def srcs(lo, hi):
        return sorted(r.sample(names, r.randint(lo, hi)))

    def at(unit_hours, width_hours):
        start = EPOCH + timedelta(
            hours=unit_hours * r.randrange((HORIZON_DAYS * 24 - width_hours) // unit_hours)
        )
        return start, start + timedelta(hours=width_hours)

    plan = []
    for _ in range(2):
        for stage in ("rollup_raw", "rollup_hourly"):
            plan.append(dict(kind="range", stage=stage, span=at(1, 1), sources=srcs(1, 2)))
            plan.append(dict(kind="range", stage=stage, span=at(24, 24), sources=srcs(1, 2)))
        month = r.randrange(4)
        lo = datetime(2024, month + 1, 1)
        plan.append(dict(kind="range", stage="rollup_daily",
                         span=(lo, datetime(2024, month + 2, 1)), sources=srcs(3, 6)))
        plan.append(dict(kind="asof", stage="rollup_hourly", span=at(24, 48),
                         sources=srcs(1, 1)))
    plan.append(dict(kind="points", stage="encoded_hourly", span=at(24, 168),
                     sources=srcs(1, 1)))
    plan.append(dict(kind="lttb", stage="rollup_hourly", span=at(24, 168),
                     sources=srcs(1, 1)))
    r.shuffle(plan)
    return plan


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile that leaves at least
    ten samples above it; None when that is not above the median."""
    n = len(values)
    if n < 21:
        return None
    v = sorted(values)
    k = n - 11  # v[k+1:] holds ten samples
    return 100.0 * (k + 1) / n, v[k]


class Workload:
    """Shared machinery: the op wrapper, checks, reads and storage figures."""

    name = ""
    snapshot_tiers: tuple[str, ...] = ()
    cycle_s = 10  # nominal wall time of one measured cycle on 4 vCPUs

    def __init__(self, spark, rec: tr.Recorder, inputs: dict, seed: int, seconds: int,
                 work_dir: str):
        self.spark = spark
        self.rec = rec
        self.inputs = inputs
        self.seconds = seconds
        self.work = work_dir
        self.con = oracle.connect()
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.info: dict = {}
        self.plan = read_plan(seed)
        self.pipe = None
        self.build_span = None
        self.ladder_points_per_s = 0.0
        self._files_cache: dict = {}

    def load(self) -> None:
        """Input DataFrames over the generated parquet (part of set-up)."""
        self.frames = {
            k: self.spark.read.parquet(self.inputs[k])
            for k in ("base", "corrected") if k in self.inputs
        }

    def cycles(self) -> int:
        """Measured cycles after the build.  ``--seconds`` is turned into a
        fixed cycle count (``cycle_s`` is a cycle's nominal time on 4 vCPUs)
        so that both sides of a comparison do identical work."""
        return max(1, self.seconds // self.cycle_s)

    # ------------------------------------------------------------ plumbing
    def op(self, kind: str, fn, **attrs):
        """Run one closed-loop operation under a span; an exception is
        logged and counted, never raised."""
        self.attempted += 1
        with self.rec.span(kind, **attrs) as sp:
            try:
                out = fn()
            except Exception:  # the run must go on and report the failure
                traceback.print_exc(file=sys.stderr)
                sp["failed"] = True
                out = None
        if sp.get("failed"):
            self.failed += 1
        else:
            self.samples[kind].append(sp["end"] - sp["start"])
        return sp, out

    def check(self, what: str, mismatch: str | None) -> None:
        if mismatch:
            self.mismatches.append(f"{what}: {mismatch}")
            print(f"MISMATCH {what}: {mismatch}", file=sys.stderr)

    def new_pipeline(self, base_dir: str, spark=None):
        from rtsa_spark.pipeline import TierPipeline

        return TierPipeline(
            spark or self.spark, base_dir,
            encode_tiers=("hourly",), snapshot_tiers=self.snapshot_tiers,
        )

    def stage_files(self, stage: str, asof: int | None = None) -> list[str]:
        """Parquet files of a published stage: the files its snapshot
        references, or every file of a plain stage (month partitions or,
        for an unpartitioned stage, the stage dir itself)."""
        try:
            store = self.pipe.stage_store(stage)
        except ValueError:  # not snapshot-backed
            d = os.path.join(self.pipe.base, stage)
            return sorted(glob.glob(os.path.join(d, "*.parquet"))
                          + glob.glob(os.path.join(d, "*", "*.parquet")))
        sid = asof if asof is not None else store.current_snapshot()
        key = (stage, sid)
        if key not in self._files_cache:
            # the snapshot's file list from planning alone: no Spark job,
            # unlike collecting the ``files()`` metadata view
            self._files_cache[key] = sorted(
                f.removeprefix("file://") for f in store.read(asof=sid).inputFiles()
            )
        return self._files_cache[key]

    def check_tiers(self, input_files: list[str], label: str,
                    derived: bool = True) -> dict[str, int]:
        """Check the rollup tiers (and with ``derived`` the gap-filled
        and metrics stages) against DuckDB over ``input_files``.
        Returns the expected row count of each rollup tier and the expected
        number of gap-filled rows."""
        counts = {}
        for t in LADDER:
            want = oracle.expected_tier(self.con, input_files, t)
            got = oracle.published_tier(self.con, self.stage_files(f"rollup_{t}"))
            self.check(f"{label} rollup_{t}", oracle.diff_tier(want, got))
            counts[t] = len(want)
        if not derived:
            return counts
        counts["filled"] = 0
        for t in self.pipe.gapfill_tiers:
            want = oracle.expected_gapfill(self.con, input_files, t)
            got = oracle.published_tier(
                self.con, self.stage_files(f"gapfilled_{t}"), filled=True)
            self.check(f"{label} gapfilled_{t}",
                       oracle.diff_tier(want, got, oracle.FILLED_VALUES))
            counts["filled"] += int(want["gapfilled"].sum())
        for t in self.pipe.metrics_tiers:
            want = oracle.expected_metrics(self.con, input_files, t)
            got = oracle.published_metrics(self.con, self.stage_files(f"metrics_{t}"))
            self.check(f"{label} metrics_{t}", oracle.diff_metrics(want, got))
        return counts

    def bytes_since(self, t0: float) -> int:
        """Bytes of files under the pipeline base written at or after t0."""
        total = 0
        for root, _dirs, files in os.walk(self.pipe.base):
            for f in files:
                st = os.stat(os.path.join(root, f))
                if st.st_mtime >= t0:
                    total += st.st_size
        return total

    # ---------------------------------------------------------------- build
    def build(self, base_df):
        self.pipe = self.new_pipeline(os.path.join(self.work, "tiers"))
        sp, _ = self.op("build", lambda: self.pipe.run(base_df))
        if sp.get("failed"):
            return sp
        self.build_span = sp
        tr.add_lineage(self.rec, self.pipe.base, sp)
        # the point count comes from the expectation, not from the
        # published files: a build that writes extra rows fails the check
        # instead of raising the throughput
        counts = self.check_tiers([self.inputs["base"]], "build")
        filled = counts.pop("filled")
        points = sum(counts.values()) + filled
        self.info.update(tier_rows=counts, filled_rows=filled, ladder_points=points)
        self.ladder_points_per_s = points / (sp["end"] - sp["start"])
        return sp

    # ---------------------------------------------------------------- reads
    def asof_for_reads(self) -> int:
        """Time-travel target: rollup_hourly as it was before the latest
        update (what a dashboard showed one tick ago)."""
        return self.prev_hourly

    def points_snapshot(self) -> int | None:
        """Snapshot of rollup_hourly the encoded stage was built from."""
        return None

    def read_pass(self, warmup: bool = False) -> None:
        """One pass over the read list.  A warm-up pass runs outside the
        read metrics, so that the measured reads do not carry the read
        path's one-time JIT and worker start-up, which a long-running
        dashboard never pays.  It runs the whole list because on a loaded
        host a shorter warm-up leaves the first measured pass slower than
        the next."""
        from rtsa_spark.operators.downsample import lttb_downsample
        from rtsa_spark.operators.encode import read_points

        pipe, rec = self.pipe, self.rec
        for q in self.plan:
            start, end = q["span"]
            asof = self.asof_for_reads() if q["kind"] == "asof" else None

            def go():
                if q["kind"] == "points":
                    with rec.span("pipeline.read_stage"):
                        blocks = pipe.read_stage(q["stage"], start=start, end=end,
                                                 sources=q["sources"])
                    with rec.span("encode.read_points"):
                        return read_points(blocks, start, end, q["sources"]).collect()
                if q["kind"] == "lttb":
                    with rec.span("pipeline.read_stage"):
                        df = pipe.read_stage(q["stage"], start=start, end=end,
                                             sources=q["sources"])
                    with rec.span("downsample.lttb"):
                        return lttb_downsample(df, "source", "bucket_start", "n_tok_sum",
                                               m=LTTB_POINTS).collect()
                with rec.span("pipeline.read_stage"):
                    df = pipe.read_stage(q["stage"], asof=asof, start=start, end=end,
                                         sources=q["sources"])
                with rec.span("read.execute"):
                    return df.collect()

            sp, rows = self.op("warmup" if warmup else f"read.{q['kind']}", go, rows=0)
            if rows is None or warmup:
                continue
            sp["rows"] = len(rows)
            what = f"read {q['kind']} {q['stage']} {start}..{end} {q['sources']}"
            if q["kind"] == "lttb":
                files = self.stage_files(q["stage"])
                picked = [(r["i"], r["x"]) for r in rows]
                self.check(what, oracle.lttb_mismatch(
                    self.con, files, start, end, q["sources"][0], LTTB_POINTS, picked))
                continue
            if q["kind"] == "points":
                files = self.stage_files("rollup_hourly", self.points_snapshot())
                got = (len(rows), int(round(sum(r["value"] for r in rows))))
            else:
                files = self.stage_files(q["stage"], asof)
                got = (len(rows), sum(r["n_tok_sum"] for r in rows))
            want = oracle.range_totals(self.con, files, start, end, q["sources"])
            if got != want:
                self.check(what, f"(rows, sum) {got}, expected {want}")

    # -------------------------------------------------------------- figures
    def numeric_version_dirs(self) -> int:
        """Snapshot version dirs whose name Spark's partition type inference
        would read as a number.  One with a large exponent hangs a read
        unless that inference is off, as ``run.py`` sets it."""
        return sum(1 for _root, dirs, _files in os.walk(self.pipe.base)
                   for d in dirs if re.fullmatch(r"v=\d+(e\d+)?", d))

    def stored_bytes_per_point(self) -> float:
        on_disk = sum(
            os.path.getsize(os.path.join(root, f))
            for t in LADDER
            for root, _d, files in os.walk(os.path.join(self.pipe.base, f"rollup_{t}"))
            for f in files
        )
        points = sum(oracle.tier_rows(self.con, self.stage_files(f"rollup_{t}"))
                     for t in LADDER)
        return on_disk / max(points, 1)

    def partition_storage(self) -> dict[str, dict[str, float]]:
        """Latest ``partition_lineage.jsonl`` row per (stage, month):
        bytes per row and files per month for each stage."""
        latest: dict = {}
        with open(os.path.join(self.pipe.base, "partition_lineage.jsonl")) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    latest[(r["stage"], r.get("p_month"))] = r
        out: dict = defaultdict(lambda: {"bytes": 0, "rows": 0, "files": 0, "months": 0})
        for (stage, _m), r in latest.items():
            o = out[stage]
            o["bytes"] += r.get("bytes") or 0
            o["rows"] += r.get("rows") or 0
            o["files"] += r.get("n_files") or 0
            o["months"] += 1
        return {
            s: {"bytes_per_row": o["bytes"] / max(o["rows"], 1),
                "files_per_month": o["files"] / max(o["months"], 1),
                "bytes": o["bytes"]}
            for s, o in out.items()
        }

    # --------------------------------------------------------------- report
    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        s = self.samples
        reads = [v for k, vs in s.items() if k.startswith("read.") for v in vs]

        def med(vals, scale=1.0):
            return statistics.median(vals) * scale if vals else 0.0

        out = {
            "setup_s": (setup_s, "s"),
            "build_s": (med(s["build"]), "s"),
            "ladder_points_per_s": (self.ladder_points_per_s, "1/s"),
            "update_p50_s": (med(s["update"]), "s"),
            "noop_p50_ms": (med(s["noop"], 1000.0), "ms"),
            "read_p50_ms": (med(reads, 1000.0), "ms"),
            "stored_bytes_per_point": (
                self.stored_bytes_per_point() if self.build_span else 0.0, "B"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
        tail = tail_percentile(reads)
        self.info["read_samples"] = len(reads)
        self.info["read_tail_ms"] = (
            {"percentile": tail[0], "value": tail[1] * 1000.0} if tail else None
        )
        self.info["samples"] = {k: [round(x, 4) for x in v] for k, v in s.items()}
        if self.pipe is not None:
            self.info["numeric_version_dirs"] = self.numeric_version_dirs()
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def per_layer(self) -> dict:
        """The traced run's per-layer metrics (build stages from lineage,
        the update and read paths from spans, Spark counters by phase).
        Without a successful build there is nothing to attribute: empty."""
        if self.build_span is None:
            return {}
        rec = self.rec
        out: dict[str, tuple[float, str]] = {}

        def med(name):
            vals = [s["end"] - s["start"] for s in rec.named(name)
                    if all(a["name"] != "warmup" for a in rec.ancestors(s))]
            return statistics.median(vals) if vals else 0.0

        # build: pipeline stages from lineage.jsonl, pipeline self time
        stage_s = {s["name"][6:]: s["end"] - s["start"]
                   for s in rec.children(self.build_span) if s["name"].startswith("stage:")}
        for t in LADDER:
            out[f"rollup.{t}_s"] = (stage_s.get(f"rollup_{t}", 0.0), "s")
        for t in ("hourly", "daily"):
            out[f"gapfill.{t}_s"] = (stage_s.get(f"gapfilled_{t}", 0.0), "s")
        out["gapfill.filled_rows"] = (self.info["filled_rows"], "count")
        out["encode.hourly_s"] = (stage_s.get("encoded_hourly", 0.0), "s")
        out["metrics.daily_s"] = (stage_s.get("metrics_daily", 0.0), "s")
        out["pipeline.self_s"] = (rec.self_time(self.build_span), "s")
        storage = self.partition_storage()
        hourly_rows = self.info["tier_rows"]["hourly"]
        enc = storage.get("encoded_hourly", {}).get("bytes", 0)
        out["encode.bytes_per_point"] = (enc / max(hourly_rows, 1), "B")
        for t in LADDER:
            st = storage.get(f"rollup_{t}", {})
            out[f"storage.bytes_per_point.{t}"] = (st.get("bytes_per_row", 0.0), "B")
            out[f"storage.files_per_month.{t}"] = (st.get("files_per_month", 0.0), "count")

        # update path
        updates = [s for s in rec.named("update") if not s.get("failed")]

        def per_update(key):
            vals = [u[key] for u in updates if key in u]
            return statistics.median(vals) if vals else 0.0

        out["update.ingest_s"] = (per_update("ingest_s"), "s")
        out["update.propagate_s"] = (per_update("propagate_s"), "s")
        for t in LADDER[1:]:
            out[f"update.{t}_s"] = (per_update(f"{t}_s"), "s")
        out["update.months_touched"] = (per_update("months_touched"), "count")
        out["update.mb_written"] = (per_update("bytes_written") / 1e6, "MB")
        out["update.write_amp"] = (per_update("write_amp"), "ratio")

        # read path
        out["pipeline.read_stage_s"] = (med("pipeline.read_stage"), "s")
        out["read.execute_s"] = (med("read.execute"), "s")
        out["snapshot.asof_read_s"] = (med("read.asof"), "s")
        out["encode.read_points_s"] = (med("encode.read_points"), "s")
        out["downsample.lttb_s"] = (med("downsample.lttb"), "s")
        scanned = returned = 0
        for s in rec.spans:
            if s["name"] in ("read.range", "read.asof") and not s.get("failed"):
                scanned += tr.subtree_counters(rec, s)["input_records"]
                returned += s.get("rows", 0)
        out["storage.rows_scanned_per_row_returned"] = (scanned / max(returned, 1), "ratio")

        # Spark counters per operation, by phase
        phases = {"build": ["build"], "update": ["update"],
                  "read": ["read.range", "read.asof", "read.points", "read.lttb"]}
        for phase, names in phases.items():
            ops = [s for s in rec.spans if s["name"] in names and s["end"] is not None]
            tot = {k: 0.0 for k in tr.COUNTERS}
            for s in ops:
                for k, v in tr.subtree_counters(rec, s).items():
                    tot[k] += v
            for k in tr.COUNTERS:
                if k == "input_records":
                    continue
                unit = "MB" if k.endswith("_mb") else "s" if k.endswith("_s") else "count"
                out[f"spark.{k}.{phase}"] = (tot[k] / max(len(ops), 1), unit)
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


class BatchLadder(Workload):
    name = "batch_ladder"
    snapshot_tiers = ("hourly",)
    cycle_s = 16

    def run(self) -> None:
        base_df, corr_df = self.frames["base"], self.frames["corrected"]
        if self.build(base_df).get("failed"):
            return
        pipe = self.pipe
        month = self.inputs["corrected_month"]
        # even cycles apply the late correction, odd cycles revert it: every
        # update is the same one-month change, so their times are comparable
        targets = [(corr_df, self.inputs["corrected"]), (base_df, self.inputs["base"])]
        for k in range(self.cycles()):
            target_df, target_file = targets[k % 2]
            self.prev_hourly = pipe.stage_store("rollup_hourly").current_snapshot()

            def update():
                with self.rec.span("pipeline.detect_changed_months") as d:
                    diff = pipe.detect_changed_months(target_df)
                months = sorted(set(diff["changed"] + diff["added"] + diff["removed"]))
                with self.rec.span("pipeline.refresh_months") as r:
                    replaced = pipe.refresh_months(target_df, months)
                return diff, months, replaced, d, r

            sp, out = self.op("update", update)
            if out is not None:
                diff, months, replaced, d, r = out
                tr.add_lineage(self.rec, pipe.base, r)
                sp["ingest_s"] = d["end"] - d["start"]
                sp["propagate_s"] = r["end"] - r["start"]
                sp["months_touched"] = len(months)
                for c in self.rec.children(r):
                    tier = c["name"].removeprefix("stage:rollup_")
                    if tier in LADDER[1:]:
                        sp[f"{tier}_s"] = c["end"] - c["start"]
                sp["bytes_written"] = self.bytes_since(sp["start"])
                n_month, n_all = self.con.sql(
                    f"SELECT count(*) FILTER (WHERE strftime(ts::TIMESTAMP, '%Y-%m') = '{month}'),"
                    f" count(*) FROM '{target_file}'"
                ).fetchone()
                change_bytes = os.path.getsize(target_file) * n_month / n_all
                sp["write_amp"] = sp["bytes_written"] / change_bytes
                self.info["stages_rewritten"] = len(replaced)
                self.check(f"detect_changed_months, cycle {k}",
                           None if diff == {"changed": [month], "added": [], "removed": []}
                           else f"{diff}, expected only {month} changed")
                self.check_tiers([target_file], f"refresh cycle {k}")
            for _ in range(NOOPS if k == self.cycles() - 1 else 0):
                _, res = self.op("noop", lambda: pipe.sync(target_df))
                if res is not None and res != {"mode": "refresh", "replaced": {}}:
                    self.check("noop sync", f"returned {res}")
            if k == 0:
                self.read_pass(warmup=True)
            self.read_pass()

    def scaling_leg(self, start_spark) -> dict:
        """Traced runs only: a warm local[4] build against a local[1] build
        of the same input (the BASELINE north rule's N -> 4N efficiency,
        reported for information)."""
        base = self.inputs["base"]
        with self.rec.span("scaling.build_local4") as s4:
            self.new_pipeline(os.path.join(self.work, "scale4")).run(
                self.spark.read.parquet(base))
        self.spark.stop()
        spark1 = start_spark(1)
        with self.rec.span("scaling.build_local1") as s1:
            self.new_pipeline(os.path.join(self.work, "scale1"), spark1).run(
                spark1.read.parquet(base))
        t4, t1 = s4["end"] - s4["start"], s1["end"] - s1["start"]
        self.spark = spark1
        return {"local4_build_s": t4, "local1_build_s": t1,
                "efficiency_1_to_4": t1 / (4 * t4)}


class StreamIngest(Workload):
    name = "stream_ingest"
    snapshot_tiers = LADDER
    cycle_s = 9

    def points_snapshot(self) -> int | None:
        return self.built_heads["hourly"]

    def run(self) -> None:
        from rtsa_spark.streaming.rollup_stream import read_sequences_stream
        from rtsa_spark.streaming.snapshot_sink import stream_sequences_to_snapshot

        spark = self.spark
        base_df = self.frames["base"]
        if self.build(base_df).get("failed"):
            return
        pipe = self.pipe
        stores = {t: pipe.stage_store(f"rollup_{t}") for t in LADDER}
        self.built_heads = {t: stores[t].current_snapshot() for t in LADDER}
        self.prev_hourly = self.built_heads["hourly"]
        since = dict(self.built_heads)  # first sync of each pair starts at the build
        landing = os.path.join(self.work, "landing")
        ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(landing)
        landed: list[str] = []

        def tick():
            """Fold whatever landed, then push it down the ladder."""
            with self.rec.span("streaming.fold") as f:
                q = stream_sequences_to_snapshot(
                    read_sequences_stream(spark, landing, max_files_per_trigger=None),
                    stores["raw"], tier="raw", checkpoint=ckpt,
                )
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    q.stop()
                    raise RuntimeError(f"stream did not finish in {STREAM_TIMEOUT_S} s")
                if q.exception() is not None:
                    raise RuntimeError(f"stream failed: {q.exception()}")
            commits = []
            for src, dst in zip(LADDER, LADDER[1:]):
                with self.rec.span(f"sync.{dst}"):
                    commits.append(pipe.sync_stage_next(src, dst, since=since.get(src)))
                since.pop(src, None)
            return f, commits

        for b, path in enumerate(self.inputs["batches"][: self.cycles()]):
            before = stores["hourly"].months()
            self.prev_hourly = stores["hourly"].current_snapshot()
            name = os.path.join(landing, f"batch{b:02d}.parquet")
            shutil.copyfile(path, os.path.join(landing, f".batch{b:02d}.tmp"))
            os.rename(os.path.join(landing, f".batch{b:02d}.tmp"), name)
            landed.append(path)
            sp, out = self.op("update", tick)
            if out is not None:
                f, commits = out
                sp["ingest_s"] = f["end"] - f["start"]
                for c in self.rec.children(sp):
                    tier = c["name"].removeprefix("sync.")
                    if tier in LADDER[1:]:
                        sp[f"{tier}_s"] = c["end"] - c["start"]
                sp["propagate_s"] = sum(sp[f"{t}_s"] for t in LADDER[1:])
                after = stores["hourly"].months()
                sp["months_touched"] = sum(1 for m in after if before.get(m) != after[m])
                sp["bytes_written"] = self.bytes_since(sp["start"])
                sp["write_amp"] = sp["bytes_written"] / os.path.getsize(path)
                if any(c is None for c in commits):
                    self.check(f"batch {b} sync", f"a sync committed nothing: {commits}")
                # the derived stages are not maintained by sync_stage_next;
                # they were checked after the build
                self.check_tiers([self.inputs["base"], *landed], f"batch {b}",
                                 derived=False)
            for _ in range(NOOPS if b == self.cycles() - 1 else 0):
                _, out = self.op("noop", tick)
                if out is not None and any(c is not None for c in out[1]):
                    self.check(f"noop tick {b}", f"syncs committed {out[1]}")
            if b == 0:
                self.read_pass(warmup=True)
            self.read_pass()
        self.info["batches_landed"] = len(landed)


WORKLOADS = {w.name: w for w in (BatchLadder, StreamIngest)}
