"""One benchmark run: start Spark, set up a workload, run one untimed
warm-up cycle, then whole cycles of ops in a closed loop with one client:
``--seconds`` divided by the workload's nominal cycle time, at least two.
Writes the result object to ``--result``; ``run.py`` prints it.

With ``--trace 0`` nothing is wrapped and the end-to-end metrics are
reported. With ``--trace 1`` the tracer wraps the program's public
functions before Spark starts; timed cycles alternate untraced and
traced, and the per-layer metrics come from the traced ones
(``trace.overhead_s`` compares the two).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
import urllib.request
from contextlib import contextmanager
from datetime import datetime

import stats
from workloads import WORKLOADS, CheckFailed

SETUP_OP = -1


def log(msg: str) -> None:
    print(f"[lbench] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, args, t_start: float):
        self.args = args
        self.t_start = t_start
        self.tracer = None
        if args.trace:
            from tracer import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        self.records: list[dict] = []
        self.next_op = 0

    # ------------------------------------------------------------ phases
    @contextmanager
    def phase(self, name: str):
        """One set-up phase: logged, and a span in traced runs."""
        t0 = time.perf_counter()
        if self.tracer is None:
            yield
        else:
            with self.tracer.span("setup", name, op=SETUP_OP):
                yield
        log(f"set-up {name}: {time.perf_counter() - t0:.2f}s")

    def start(self) -> None:
        import lance_spark.session

        if self.tracer is not None:
            self.tracer.recording = True
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
        with self.phase("session"):
            self.spark = lance_spark.session.get_spark("lbench", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.workload = WORKLOADS[self.args.workload](self.args.seed, self.spark, os.getcwd())
        self.workload.setup(self.phase)
        if self.tracer is not None:
            self.tracer.recording = False

    # ------------------------------------------------------------ ops
    def run_cycle(self, cycle: int, traced: bool) -> None:
        tracer = self.tracer if traced else None
        sc = self.spark.sparkContext
        for op in self.workload.ops(cycle):
            op_id = self.next_op
            self.next_op += 1
            rec = {"cycle": cycle, "kind": op.kind, "op": op_id, "traced": traced,
                   "ok": False, "rows": 0, "latency_s": math.nan}
            self.records.append(rec)
            if tracer is not None:
                sc.setJobGroup(f"lbench-{op_id}", op.kind)
                before = self._before_op()
            try:
                if tracer is not None:
                    # traced latency is the root span: the layers' self
                    # times of the op add up to exactly this
                    with tracer.span("client", op.kind, op=op_id) as root:
                        result = op.run()
                    rec["latency_s"] = root.duration
                else:
                    t0 = time.perf_counter()
                    result = op.run()
                    rec["latency_s"] = time.perf_counter() - t0
                rec["rows"] = op.check(result) or 0
                rec["ok"] = True
            except CheckFailed as exc:
                log(f"FAILED {op.kind} cycle {cycle}: {exc}")
            except Exception:  # noqa: BLE001 - an op failure is counted, never retried
                log(f"FAILED {op.kind} cycle {cycle}:\n{traceback.format_exc()}")
            if tracer is not None:
                sc.setJobGroup("lbench-bookkeeping", "bookkeeping")
                rec.update(self._after_op(before, op))
        self.workload.boundary()

    def _before_op(self) -> dict:
        from lance_spark import manifest as mf

        return {"cache": mf.manifest_cache_stats(), "manifest": _latest_manifest(self.workload.uri)}

    def _after_op(self, before: dict, op) -> dict:
        from lance_spark import manifest as mf

        cache = mf.manifest_cache_stats()
        after = _latest_manifest(self.workload.uri)
        old = {f.id: f for f in before["manifest"].fragments}
        new_dels = sum(
            1 for f in after.fragments
            if f.deletion_file and (f.id not in old or old[f.id].deletion_file != f.deletion_file)
        )
        return {
            "cache_hits": cache["hits"] - before["cache"]["hits"],
            "cache_misses": cache["misses"] - before["cache"]["misses"],
            "deletion_files_written": new_dels,
            "fragments_after": len(after.fragments),
            "changed": op.changed,
        }

    def execute(self) -> dict:
        from lance_spark import scanner

        self.start()
        self.run_cycle(0, traced=False)  # warm-up, not timed
        self.warmup_ops = self.next_op
        setup_s = time.time() - self.t_start
        # --seconds buys a fixed number of whole cycles at the workload's
        # nominal cycle time, so every run measures the same ops
        cycles = max(2, round(self.args.seconds / self.workload.CYCLE_S))
        for cycle in range(1, cycles + 1):
            # traced runs alternate untraced and traced cycles, so both
            # halves see the same stage of JIT warm-up
            traced = self.tracer is not None and cycle % 2 == 0
            if traced:
                scanner.enable_io_counters(True)
                self.tracer.recording = True
            self.run_cycle(cycle, traced=traced)
            if traced:
                self.tracer.recording = False
                scanner.enable_io_counters(False)
        return self.result(setup_s)

    # ------------------------------------------------------------ metrics
    def result(self, setup_s: float) -> dict:
        w = self.workload
        timed = [r for r in self.records if r["op"] >= self.warmup_ops]
        untraced = stats.whole_cycles([r for r in timed if not r["traced"]], w.kinds)
        samples = stats.by_kind(untraced)
        diag = stats.diagnostics(samples)
        log(f"{w.name} seed={self.args.seed} per-kind latency: {json.dumps(diag)}")
        trail = {k: [round(x, 3) for x in xs] for k, xs in stats.by_kind(self.records).items()}
        log(f"latencies in run order, warm-up first: {json.dumps(trail)}")
        failed = sum(1 for r in self.records if not r["ok"])
        if self.tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "read_s": (stats.geomean_of_medians(samples, w.read_kinds), "s"),
                "space_amp": (w.space_amp(), "ratio"),
            }
        else:
            traced = stats.whole_cycles([r for r in timed if r["traced"]], w.kinds)
            metrics = {**layer_metrics(self, traced, samples), **workload_specific(w, samples)}
        return {
            "correct": failed == 0 and bool(untraced),
            "attempted": len(self.records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def workload_specific(w, samples) -> dict:
    """Metrics that exist on one workload only (0 elsewhere)."""
    write_s = stats.geomean_of_medians(samples, w.write_kinds) if w.write_kinds else 0.0
    recall = statistics.fmean(w.recalls) if getattr(w, "recalls", None) else 0.0
    return {"write_s": (write_s, "s"), "knn_recall_at_10": (recall, "ratio")}


def _latest_manifest(uri: str):
    """Latest manifest parsed straight from disk, bypassing the program's
    manifest cache so bookkeeping does not move its counters."""
    from lance_spark import manifest as mf

    path = mf.manifest_path(uri, mf.list_versions(uri)[-1])
    with open(path) as fh:
        return mf.Manifest.from_json(json.load(fh))


def _spark_jobs(spark) -> list[dict]:
    """Jobs with their groups and times from the Spark UI's REST API."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=10) as resp:  # noqa: S310 - local UI
        return json.load(resp)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def layer_metrics(run: Run, traced: list[dict], untraced_samples: dict) -> dict:
    tr = run.tracer
    w = run.workload
    ops = {r["op"]: r for r in traced}
    n = max(1, len(ops))
    spans = [s for s in tr.spans if s.op in ops or s.op == SETUP_OP]
    selfs = stats.self_times(spans)
    by_op: dict = {}
    for s in spans:
        if s.op in ops:
            by_op.setdefault(s.op, []).append(s)

    # the identity the per-layer numbers rest on: per op, self times add
    # up to the traced latency of the op's root span
    for op, ss in by_op.items():
        root = next(s for s in ss if s.parent is None)
        total = sum(selfs[s.sid] for s in ss)
        if abs(total - root.duration) > 1e-6:
            raise RuntimeError(f"op {op}: self times {total} != latency {root.duration}")

    def self_per_op(layer=None, names=()):
        return sum(
            selfs[s.sid] for ss in by_op.values() for s in ss
            if (layer is None or s.layer == layer) and (not names or s.name in names)
        ) / n

    def count_per_op(name):
        return sum(1 for ss in by_op.values() for s in ss if s.name == name) / n

    def setup_span(name):
        return sum((s.duration for s in spans if s.op == SETUP_OP and s.name == name), 0.0)

    def kind_ops(*kinds):
        return [o for o, r in ops.items() if r["kind"] in kinds]

    # write layer: rows and fragments from write_fragments results
    wf = [s for s in spans if s.name == "write_fragments" and "result" in s.info]
    by_id = {s.sid: s for s in spans}
    outer_write = [s for s in spans if s.layer == "write"
                   and (s.parent is None or by_id[s.parent].layer != "write")]
    rows_written = sum(f.physical_rows for s in wf for f in s.info["result"])
    write_busy = sum(s.duration for s in outer_write)
    frags_written = sum(len(s.info["result"]) for s in wf if s.op in ops)

    mut_ops = kind_ops("upsert", "delete")
    mut_rows = sum(f.physical_rows for s in wf if s.op in mut_ops for f in s.info["result"])
    changed = sum(ops[o]["changed"] for o in mut_ops)

    compact_ops = kind_ops("compact")
    compact_bytes = sum(
        os.path.getsize(os.path.join(w.uri, df.path))
        for s in wf if s.op in compact_ops for f in s.info["result"] for df in f.files
    )

    hits = sum(r.get("cache_hits", 0) for r in traced)
    misses = sum(r.get("cache_misses", 0) for r in traced)

    # scanner statistics harvested inside to_table
    scan = [(op, st) for op, st in tr.scan_stats if op in ops]
    plan_rows = sum(st.all_counts.get("number of output rows", 0) for _, st in scan)
    returned = sum(s.info["rows"] for s in spans if s.op in ops and "rows" in s.info)

    # scalar index: candidates per returned row, uncovered fragments
    qi = [s for s in spans if s.name == "query_index" and s.op in ops]
    run.spark.sparkContext.setJobGroup("lbench-bookkeeping", "bookkeeping")
    candidates = sum(s.info["result"].rowids.count() for s in qi if s.info["result"].rowids is not None)
    lookup_rows = sum(ops[s.op]["rows"] for s in qi)
    uncovered = [len({f.id for f in s.info["args"][0][0].manifest.fragments}
                     - set(s.info["args"][0][2].fragment_ids)) for s in qi]

    # vector index: probed partitions and rows scored in them
    pp = [s for s in spans if s.name == "probe_partitions" and s.op in ops]
    probed = [len(s.info["result"]) for s in pp]
    part_rows: dict = {}
    scored = sum(_partition_rows(s.info["args"][0][0], s.info["result"], part_rows) for s in pp)
    knn_results = sum(ops[o]["rows"] or 10 for o in {s.op for s in pp})

    # Spark jobs per op, by job group
    jobs: dict = {}
    for j in _spark_jobs(run.spark):
        g = j.get("jobGroup") or ""
        if g.startswith("lbench-") and g[7:].isdigit() and int(g[7:]) in ops:
            jobs.setdefault(int(g[7:]), []).append(j)
    exec_s = {
        o: stats.union_length(
            (_ts(j["submissionTime"]), _ts(j["completionTime"]))
            for j in js if j.get("completionTime")
        )
        for o, js in jobs.items()
    }
    traced_samples = stats.by_kind(traced)
    overhead = statistics.median(
        statistics.median(traced_samples[k]) - statistics.median(untraced_samples[k])
        for k in w.kinds
    )

    m = {
        "session.start_s": (setup_span("get_spark"), "s"),
        "write.busy_s": (self_per_op("write"), "s"),
        "write.rows_per_s": (rows_written / write_busy if write_busy else 0.0, "1/s"),
        "write.fragments_written": (frags_written / n, "count"),
        "manifest.commits_per_op": (count_per_op("commit"), "count"),
        "manifest.commit_s": (self_per_op(names=("commit",)), "s"),
        "manifest.read_calls_per_op": (count_per_op("read_manifest"), "count"),
        "manifest.latest_version_s": (self_per_op(names=("latest_version",)), "s"),
        "manifest.cache_hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "mutation.busy_s": (self_per_op("mutation"), "s"),
        "mutation.rows_written_per_row_changed": (mut_rows / changed if changed else 0.0, "ratio"),
        "mutation.deletion_files_written": (
            sum(ops[o]["deletion_files_written"] for o in mut_ops) / max(1, len(mut_ops)), "count"),
        "maintenance.compact_s": (
            statistics.fmean(ops[o]["latency_s"] for o in compact_ops) if compact_ops else 0.0, "s"),
        "maintenance.bytes_rewritten_per_live_byte": (
            compact_bytes / max(1, len(compact_ops)) / w.live_arrow_bytes(), "ratio"),
        "maintenance.fragments_after": (
            statistics.fmean(ops[o]["fragments_after"] for o in compact_ops) if compact_ops else 0.0,
            "count"),
        "dataset.open_s": (self_per_op(names=("LanceDataset.__init__",)), "s"),
        "dataset.plan_s": (self_per_op(names=(
            "LanceDataset.scanner", "LanceDataset.take", "LanceDataset.sql",
            "LanceDataset.checkout_version")), "s"),
        "dataset.take_s": (self_per_op(names=("LanceDataset.take",)), "s"),
        "scanner.bytes_read_per_op": (sum(st.bytes_read for _, st in scan) / n, "B"),
        "scanner.files_read_per_op": (sum(st.parts_loaded for _, st in scan) / n, "count"),
        "scanner.rows_scanned_per_row_returned": (plan_rows / returned if returned else 0.0, "ratio"),
        "scalar.query_s": (self_per_op("scalar"), "s"),
        "scalar.candidates_per_hit": (candidates / lookup_rows if lookup_rows else 0.0, "ratio"),
        "scalar.uncovered_fragments": (statistics.fmean(uncovered) if uncovered else 0.0, "count"),
        "vector.build_s": (setup_span("create_dataset_index"), "s"),
        "vector.search_s": (self_per_op("vector"), "s"),
        "vector.partitions_probed": (statistics.fmean(probed) if probed else 0.0, "count"),
        "vector.rows_scored_per_result": (scored / knn_results if knn_results else 0.0, "ratio"),
        "inverted.build_s": (setup_span("create_inverted_index"), "s"),
        "inverted.query_s": (self_per_op("inverted"), "s"),
        "spark.jobs_per_op": (sum(len(js) for js in jobs.values()) / n, "count"),
        "spark.stages_per_op": (
            sum(len(j.get("stageIds", [])) for js in jobs.values() for j in js) / n, "count"),
        "spark.tasks_per_op": (sum(j.get("numTasks", 0) for js in jobs.values() for j in js) / n, "count"),
        "spark.exec_s": (sum(exec_s.values()) / n, "s"),
        "driver.non_spark_s": (
            statistics.fmean(r["latency_s"] - exec_s.get(o, 0.0) for o, r in ops.items()), "s"),
        "trace.overhead_s": (overhead, "s"),
    }
    return m


def _partition_rows(index, partitions, cache: dict) -> int:
    """Rows stored in the given IVF partitions, from parquet footers."""
    import pyarrow.parquet as pq

    total = 0
    for seg in index.codes_paths():
        for p in partitions:
            key = (seg, p)
            if key not in cache:
                d = os.path.join(seg, f"partition_id={p}")
                cache[key] = sum(
                    pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                    for f in (os.listdir(d) if os.path.isdir(d) else [])
                    if f.endswith(".parquet")
                )
            total += cache[key]
    return total


def main(argv=None) -> int:
    t_start = float(os.environ.get("LBENCH_T0", time.time()))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    run = Run(args, t_start)
    try:
        out = run.execute()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
    with open(args.result, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
