"""Measured process of the CDC-core benchmark: one workload, one seed.

``run.py`` generates the changelog first (out of process) and then starts
this script, which drives the CDC core through its public API only:

1. set-up: SparkSession, pipeline, and one small warm-up drain through the
   same code path (``setup_s``, from process start);
2. the workload's fixed measured drain, timed whole and per trigger;
3. rounds of a point lookup, full scans of the table the drain built and
   a one-shot ``final_state`` replay of the same changelog;
4. the correctness gate: table == replay, lookups == the replay's model,
   and the outbox reads back.

It prints a detail JSON line (samples, counts, host diagnostics) and then
the result line. With ``--trace 1`` the program's public calls are wrapped
in spans, Spark writes its event log and the UDF profiler is on; the
result then holds the per-layer metrics instead of the end-to-end ones.
"""

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cdcbench.trace import HostProbe, Tracer, attribute, median, read_event_log, slope  # noqa: E402
from cdcbench.workloads import WORKLOADS  # noqa: E402

CPUS = 4  # local[4]: fixed, so the work per run does not depend on the box
SCANS_PER_ROUND = 4  # scans are the cheapest read: more samples per round
PHASES = ("log_append", "candidates_lww", "undo_log", "audit", "lww_merge", "compact", "outbox")


def session(work: str, trace: bool):
    """SparkSession via the program's own factory; every scratch path of
    Spark and Python stays inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # no hsperfdata files outside the work dir, for every JVM Spark starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Duser.language=en -Duser.country=US -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    from gnarly_spark.session import get_spark

    return get_spark(app_name="cdcbench", cpus=CPUS, extra_conf=conf)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def link_files(src: str, dst: str) -> None:
    """Hard-link a generated changelog dir's files into the stream source
    (links keep the stamped mtimes, so delivery order is unchanged)."""
    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        os.link(os.path.join(src, name), os.path.join(dst, name))


class Bench:
    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload]
        with open(os.path.join(args.data, "spec.json")) as f:
            self.spec = json.load(f)
        self.tracer = Tracer(args.trace)
        self.counts = {k: [0, 0] for k in ("triggers", "lookups", "replays", "outbox")}

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from gnarly_spark.sinks.lake import ParquetLakeTable
        from gnarly_spark.streaming.pipeline import CdcIngestPipeline

        work = self.args.work
        t = time.monotonic()
        self.spark = session(work, self.args.trace)
        self.session_s = time.monotonic() - t

        t = time.monotonic()
        self.outbox_dir = os.path.join(work, "pipe", "outbox") if self.w["outbox"] else None
        self.pipe = CdcIngestPipeline(
            self.spark,
            os.path.join(work, "pipe"),
            target=ParquetLakeTable(
                self.spark, os.path.join(work, "pipe", "pages"), key="url", mode=self.w["mode"]
            ),
            retention_blocks=self.w["retention_blocks"],
            compact_every=self.w["compact_every"],
            outbox_dir=self.outbox_dir,
        )
        self.instrument()
        self.src = os.path.join(work, "src")
        if self.w["warm_blocks"]:
            # the stream's first block(s); the measured drain continues
            # the same stream and checkpoint
            link_files(os.path.join(self.args.data, "warm"), self.src)
            self.drain(measured=False)
        else:
            # the whole measured changelog, into a pipeline that is then
            # reset: the measured drain starts from an empty table
            link_files(os.path.join(self.args.data, "main"), self.src)
            self.drain(measured=False)
            self.reset()
        self.warmup_s = time.monotonic() - t
        self.setup_s = time.monotonic() - T0

    def instrument(self) -> None:
        if not self.args.trace:
            return
        import gnarly_spark.sources.debezium as dbz

        tr = self.tracer
        self.pipe.process_batch = tr.wrap(
            "pipeline.process_batch", self.pipe.process_batch,
            attrs=lambda a, k, r: {"batch_id": a[1]},
        )
        dbz.export_outbox = tr.wrap(
            "outbox.export", dbz.export_outbox,
            attrs=lambda a, k, r: {"envelopes": r["envelopes"] if r else 0},
        )
        self.instrument_target()

    def instrument_target(self) -> None:
        if not self.args.trace:
            return
        t = self.pipe.target
        for name in ("merge", "compact"):
            setattr(t, name, self.tracer.wrap(f"lake.{name}", getattr(t, name)))

    def reset(self) -> None:
        self.pipe.reset()
        self.instrument_target()
        if self.outbox_dir:
            shutil.rmtree(self.outbox_dir, ignore_errors=True)
        shutil.rmtree(self.src, ignore_errors=True)

    # ------------------------------------------------------------ drains
    def drain(self, measured: bool) -> dict:
        """One closed-loop drain of the source dir: availableNow, one file
        per trigger, wall time from query start to termination."""
        with self.tracer.span("streaming.drain", measured=measured):
            t = time.monotonic()
            q = self.pipe.start(self.src, available_now=True, max_files_per_trigger=1)
            q.awaitTermination()
            wall = time.monotonic() - t
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "wall": wall,
            "events": sum(p["numInputRows"] for p in progress),
            "triggers": [
                (p["batchId"], p["durationMs"]["triggerExecution"] / 1000.0)
                for p in progress
            ],
        }

    def measured_drain(self) -> None:
        if self.args.trace:
            self.spark.profile.clear(type="perf")
        link_files(os.path.join(self.args.data, "main"), self.src)
        r = self.drain(measured=True)
        r["table"] = self.table_checksum()
        batch_ids = {b for b, _ in r["triggers"]}
        r["metrics"] = [m for m in self.pipe.metrics() if m["batch_id"] in batch_ids]
        self.measured = r
        if self.args.trace:
            import pstats

            out = os.path.join(self.args.work, "udf-profile")
            self.spark.profile.dump(out, type="perf")
            files = glob.glob(os.path.join(out, "*.pstats"))
            self.udf_s = sum(pstats.Stats(f).total_tt for f in files)

    # -------------------------------------------------------- reads, replay
    def checksum(self, df):
        from pyspark.sql import functions as F

        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("url", "warc_ts", "text").cast("decimal(38,0)")).alias("h"),
        ).first()
        return [int(row["n"]), str(row["h"])]

    def table_checksum(self):
        return self.checksum(self.pipe.target.read())

    def lookup_keys(self) -> list[str]:
        """Seeded keys: live ones, one whose last write is a delete (when
        the changelog has one) and one never written."""
        import numpy as np
        import pyarrow.parquet as pq

        cl = pq.read_table(self.src, columns=["op_seq", "block_hash", "op", "url", "revert_of_block"]).to_pandas()
        reverted = set(cl["revert_of_block"].dropna())
        live = cl[(cl["op"] != "revert") & ~cl["block_hash"].isin(reverted)]
        last = live.sort_values("op_seq").groupby("url").tail(1)
        rng = np.random.default_rng(self.args.seed)
        present = sorted(last.loc[last["op"] != "delete", "url"])
        deleted = sorted(last.loc[last["op"] == "delete", "url"])
        n = self.w["rounds"]
        keys = [f"https://never.example/{self.args.seed}/page"]
        if deleted:
            keys.append(deleted[int(rng.integers(len(deleted)))])
        keys += [present[i] for i in rng.choice(len(present), n - len(keys), replace=False)]
        rng.shuffle(keys)
        return keys

    def reads(self) -> None:
        """Timed point lookups, full scans to a noop sink and one-shot
        ``final_state`` replays (each a fresh plan), interleaved in rounds:
        a slow spell of the host then touches a few samples of each metric,
        not all samples of one. Untimed first calls (two lookups, a scan,
        the replay's lookup model and one replay) keep the cold paths out
        of the samples. ``lookup`` returns a lazy frame, so the span covers
        the collect."""
        from pyspark.sql import functions as F

        from gnarly_spark.operators.replay import final_state
        from gnarly_spark.sources.changelog import read_changelog

        tgt = self.pipe.target
        self.keys = self.lookup_keys()

        def scan():
            tgt.read().write.format("noop").mode("overwrite").save()

        def replay():
            return self.checksum(final_state(read_changelog(self.spark, self.src)))

        for k in self.keys[:2]:
            tgt.lookup(k).collect()
        scan()
        self.model = {
            r["url"]: (r["warc_ts"], r["text"])
            for r in final_state(read_changelog(self.spark, self.src))
            .where(F.col("url").isin(self.keys))
            .select("url", "warc_ts", "text")
            .collect()
        }
        replay()
        self.spark._jvm.System.gc()  # the drain's garbage now, not during a sample

        self.lookup_s, self.lookup_rows, self.scan_s = [], [], []
        self.replay_s, self.replay_sums = [], []
        for k in self.keys:
            with self.tracer.span("lake.lookup"):
                t = time.monotonic()
                rows = tgt.lookup(k).select("url", "warc_ts", "text").collect()
                self.lookup_s.append(time.monotonic() - t)
            self.lookup_rows.append(rows)
            for _ in range(SCANS_PER_ROUND):
                t = time.monotonic()
                scan()
                self.scan_s.append(time.monotonic() - t)
            t = time.monotonic()
            self.replay_sums.append(replay())
            self.replay_s.append(time.monotonic() - t)

    # ---------------------------------------------------------------- gate
    def gate(self) -> None:
        expected = list(self.replay_sums[0])
        if self.args.inject_fault:
            expected[1] = str(int(expected[1]) + 1)
        c = self.counts
        for s in self.replay_sums:
            c["replays"][0] += 1
            c["replays"][1] += s != self.replay_sums[0]
        d = self.measured
        # at least one attempt: a drain that delivered nothing must fail too
        n = max(len(d["triggers"]), 1)
        c["triggers"][0] += n
        c["triggers"][1] += n if d["table"] != expected or d["events"] != self.spec["events"] else 0
        for k, rows in zip(self.keys, self.lookup_rows):
            got = {r["url"]: (r["warc_ts"], r["text"]) for r in rows}
            want = {k: self.model[k]} if k in self.model else {}
            c["lookups"][0] += 1
            c["lookups"][1] += got != want
        if self.outbox_dir:
            from gnarly_spark.sources.debezium import read_outbox

            sent = sum(
                m["phase_s"].get("outbox_envelopes", 0) for m in self.pipe.metrics()
            )
            c["outbox"][0] += 1
            got = read_outbox(self.spark, self.outbox_dir, verify_manifests=True).count()
            c["outbox"][1] += not (sent > 0 and got == sent)

    # ------------------------------------------------------------- metrics
    def state_bytes(self) -> dict:
        p = self.pipe
        parts = {
            "table": p.target.path,
            "log": p.log_dir,
            "undo": p.undo_dir,
            "audit": p.audit_dir,
            "metrics": p.metrics_dir,
            "checkpoint": p.checkpoint_dir,
            "outbox": self.outbox_dir or "",
        }
        out = {k: dir_bytes(v) if v else 0 for k, v in parts.items()}
        out["total"] = dir_bytes(p.work_dir)  # incl. watermark and other sidecars
        return out

    def end_to_end(self) -> tuple[dict, dict]:
        d = self.measured
        triggers = [s for _, s in d["triggers"]]
        # events the table reflects: the measured drain's, plus the warm-up
        # prefix on tail (backfill resets after its warm-up)
        committed = self.spec["events"] + self.spec["warm_events"]
        vals = {
            "setup_s": (self.setup_s, "s", 1),
            "ingest_events_per_s": (d["events"] / d["wall"], "events/s", 1),
            "commit_p50_s": (median(triggers), "s", len(triggers)),
            "replay_events_per_s": (committed / median(self.replay_s), "events/s", len(self.replay_s)),
            "lookup_p50_s": (median(self.lookup_s), "s", len(self.lookup_s)),
            "scan_s": (median(self.scan_s), "s", len(self.scan_s)),
            "stored_bytes_per_event": (self.disk["total"] / committed, "B/event", 1),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in vals.items()}
        samples = {k: n for k, (_, _, n) in vals.items()}
        return metrics, samples

    def per_layer(self) -> dict:
        tr = self.tracer
        jobs = read_event_log(os.path.join(self.args.work, "eventlog"))
        (drain,) = [s for s in tr.named("streaming.drain") if s.attrs["measured"]]

        def measured(name):
            return [s for s in tr.named(name) if drain.t0 <= s.t0 <= drain.t1]

        batches = measured("pipeline.process_batch")
        bjobs = attribute(jobs, batches)
        per_batch = [bjobs.get(i, []) for i in range(len(batches))]
        tmap = dict(self.measured["triggers"])
        trig = [(tmap[s.attrs["batch_id"]], s.dur) for s in batches]
        merges = measured("lake.merge")
        compacts = measured("lake.compact")
        exports = measured("outbox.export")
        # the pipeline layer's own jobs per batch (log, LWW, undo, audit):
        # the lake merge, compaction and outbox export, which have metrics
        # of their own, are taken out: compaction raises the job count of
        # the export after it and would set the slope, not retained history
        below = {id(j) for sp in (merges, compacts, exports)
                 for js in attribute(jobs, sp).values() for j in js}
        own_jobs = [sum(id(j) not in below for j in js) for js in per_batch]
        self.pipeline_jobs = own_jobs
        lookups = tr.named("lake.lookup")
        mjobs = attribute(jobs, merges)
        ljobs = attribute(jobs, lookups)
        phase = {p: [] for p in PHASES}
        for m in self.measured["metrics"]:
            for p in PHASES:
                if p in m["phase_s"]:
                    phase[p].append(m["phase_s"][p])
        batch_s = sum(s.dur for s in batches)

        def per(f):
            return median(sum(f(j) for j in js) for js in per_batch)

        m = {
            "session.start_s": (self.session_s, "s"),
            "session.warmup_s": (self.warmup_s, "s"),
            "streaming.trigger_p50_s": (median(t for t, _ in trig), "s"),
            "streaming.overhead_p50_s": (median(t - b for t, b in trig), "s"),
            "pipeline.batch_p50_s": (median(s.dur for s in batches), "s"),
            "pipeline.jobs_per_batch": (median(own_jobs), "count"),
            "pipeline.jobs_per_batch_slope": (slope(own_jobs), "jobs/batch"),
            "pipeline.retained_batches": (
                sum(d.startswith("batch=") for d in os.listdir(self.pipe.log_dir)), "count"
            ),
        }
        for p in PHASES:
            m[f"pipeline.phase.{p}_s"] = (median(phase[p]), "s")
        m.update({
            "lake.merge_p50_s": (median(s.dur for s in merges), "s"),
            "lake.merge_jobs": (median(len(mjobs.get(i, [])) for i in range(len(merges))), "count"),
            "lake.compact_s": (median(s.dur for s in compacts), "s"),
            "lake.lookup_jobs": (median(len(ljobs.get(i, [])) for i in range(len(lookups))), "count"),
            "lake.files_live": (self.files_live, "count"),
            "lake.manifests": (len(os.listdir(os.path.join(self.pipe.target.path, "_manifests"))), "count"),
            "lake.bytes_live": (self.bytes_live, "B"),
            "outbox.export_p50_s": (median(s.dur for s in exports), "s"),
            "outbox.envelopes": (sum(s.attrs["envelopes"] for s in exports), "count"),
            "extraction.udf_s": (self.udf_s, "s"),
            "extraction.rows": (sum(j.udf_rows for js in per_batch for j in js), "count"),
            "extraction.udf_share": (self.udf_s / batch_s if batch_s else 0.0, "share"),
            "spark.jobs": (per(lambda j: 1), "count"),
            "spark.tasks": (per(lambda j: j.tasks), "count"),
            "spark.task_s": (per(lambda j: j.task_s), "s"),
            "spark.cpu_busy_share": (
                median(
                    sum(j.cpu_s for j in js) / (s.dur * CPUS)
                    for js, s in zip(per_batch, batches)
                ),
                "share",
            ),
            "spark.shuffle_write_bytes": (per(lambda j: j.shuffle_write_bytes), "B"),
            "spark.spill_bytes": (per(lambda j: j.spill_bytes), "B"),
            "spark.gc_s": (per(lambda j: j.gc_s), "s"),
        })
        for k in ("table", "log", "undo", "audit", "outbox", "checkpoint"):
            m[f"disk.{k}_bytes"] = (self.disk[k], "B")
        m.update({
            "host.steal_share": (self.host["steal_share"], "share"),
            "host.load1": (self.host["load1"], "count"),
            "host.other_spark_procs": (len(self.host["other_procs"]), "count"),
            "trace.overhead_share": (self.measured["wall"] / self.args.untraced_wall - 1, "share"),
        })
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    # ----------------------------------------------------------------- run
    def run(self) -> int:
        probe = HostProbe()
        self.setup()
        self.measured_drain()
        if self.args.drain_only:
            self.spark.stop()
            print("detail " + json.dumps({"measure_wall_s": self.measured["wall"]}), flush=True)
            return 0
        self.reads()
        self.gate()
        self.disk = self.state_bytes()
        sizes = [r["bytes"] or 0 for r in self.pipe.target.data_files().select("bytes").collect()]
        self.files_live, self.bytes_live = len(sizes), sum(sizes)
        self.spark.stop()
        self.host = probe.finish()

        attempted = sum(a for a, _ in self.counts.values())
        failed = sum(f for _, f in self.counts.values())
        e2e, samples = self.end_to_end()
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": int(self.args.trace),
            "seconds_requested": self.args.seconds,
            "measure_wall_s": self.measured["wall"],
            "untraced_wall_s": self.args.untraced_wall,
            "counts": {k: {"attempted": a, "failed": f} for k, (a, f) in self.counts.items()},
            "samples": samples,
            "raw": {
                "drain_wall_s": self.measured["wall"],
                "trigger_s": [s for _, s in self.measured["triggers"]],
                "replay_s": self.replay_s,
                "lookup_s": self.lookup_s,
                "scan_s": self.scan_s,
                "session_s": self.session_s,
                "warmup_s": self.warmup_s,
                "table_checksum": self.measured["table"],
                "replay_checksums": self.replay_sums,
            },
            "disk": self.disk,
            "host": self.host,
        }
        if self.args.trace:
            metrics = self.per_layer()
            detail["raw"]["pipeline_jobs"] = self.pipeline_jobs
        else:
            metrics = e2e
        print("detail " + json.dumps(detail), flush=True)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }), flush=True)
        return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="one measured run of the CDC-core benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True, help="generated changelog dir")
    ap.add_argument("--work", required=True, help="scratch dir for this run (wiped)")
    ap.add_argument("--untraced-wall", type=float,
                    help="measured-drain wall of an untraced run on the same "
                    "data, for trace.overhead_share")
    ap.add_argument("--inject-fault", action="store_true",
                    help="perturb the expected checksum to prove the gate fires")
    ap.add_argument("--drain-only", action="store_true",
                    help="stop after the measured drain and print only its wall "
                    "(the untraced reference of a traced run)")
    args = ap.parse_args()
    if args.trace and args.untraced_wall is None:
        ap.error("--trace 1 needs --untraced-wall")
    args.trace = bool(args.trace)
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    return Bench(args).run()


if __name__ == "__main__":
    sys.exit(main())
