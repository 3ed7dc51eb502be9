"""The repo benchmark: runs one workload through the engine's public API,
checks its outputs, and prints one JSON result as the last line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process runs
``local[SPARK_GRAFT_CPUS]`` (default: all cores) and issues one operation
at a time (a closed loop with one client). A run is: set up (import,
session start, Python-worker warm-up, the workload's own set-up and one
untimed warm-up pass), timed passes for ``--seconds``, then the output
checks.

The input tables are read from ``$SPARK_GRAFT_SF_DIR``, else from
``perfbench/fixture/sf0.1``: byte copies of the ``documents`` and
``embeddings`` tables of the engine's sf0.1 test fixture, checked
against their ``SHA256SUMS`` on every run. ``query_mix`` reads the whole
star schema, so it needs ``SPARK_GRAFT_SF_DIR`` set to a full fixture.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, job groups and Catalyst phase capture, and reports the
per-layer metrics instead. Either way the full record (environment stamp,
every operation, every metric with its sample count) is written to
``.perfbench/out/<workload>-trace<t>-seed<n>.json``; a traced run also
reports its tracing overhead against the untraced run of the same
workload and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark as a package from the checkout root, and keep its
# own directory off the path so its modules never shadow others
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from perfbench import stats, tracing  # noqa: E402
from perfbench.workloads import (FAMILIES, INDEX_OPS, QUERY_SLOTS,  # noqa: E402
                                 WORKLOADS)

WORK = os.path.join(ROOT, ".perfbench")
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
DEFAULT_DRIVER_MEM = "4g"
# stop starting passes once this much of a run has gone, so a run ends
# well inside its 180 s limit even when a pass is slower than expected
DEADLINE_S = 120.0

END_TO_END = {  # name -> unit; all lower is better
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_gb": "GB",
}
WORKLOAD_END_TO_END = {  # reported when the workload has them
    "fit_s": "s",
    "apply_s": "s",
    "read_s": "s",
    "write_s": "s",
    "index_bytes_per_doc": "B",
    "leaked_blocks": "count",
    "error_rate": "ratio",
}


# every per-layer metric a traced record carries (0 where a workload has
# no such work), name -> unit
LAYER_METRICS = {
    "session.import_s": "s", "session.start_s": "s",
    "session.worker_warm_s": "s", "session.warmup_pass_s": "s",
    "construct.s": "s", "construct.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_mb": "MB", "exec.peak_exec_mem_mb": "MB",
    "python.run_s": "s", "python.start_s": "s", "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "mem.jvm_peak_gb": "GB", "mem.worker_peak_gb": "GB", "mem.tree_peak_gb": "GB",
    "plans.fit_s": "s", "plans.fit_jobs": "count", "plans.apply_s": "s",
    **{f"index.{f}.{op}_s": "s" for f in FAMILIES for op in INDEX_OPS},
    **{f"index.{f}.{k}": u for f in FAMILIES for k, u in (("files", "count"), ("bytes", "B"))},
    "cache.persisted_after_pass": "count",
    **{f"query.{slot}_s": "s" for slot, _ in QUERY_SLOTS},
    "query.simhash_pairs_s": "s",
}


class Fatal(Exception):
    """The Spark driver JVM is gone; nothing later can run."""


def _jvm_gone(e: BaseException) -> bool:
    name = type(e).__name__
    text = str(e)
    return name in ("Py4JNetworkError", "ConnectionRefusedError") or (
        "Answer from Java side is empty" in text
        or "Error while sending or receiving" in text)


class Bench:
    def __init__(self, workload: str, data_dir: str, seed: int, seconds: float,
                 traced: bool):
        self.wl = WORKLOADS[workload]()
        self.data_dir = data_dir
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work = WORK
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.pass_s: list[float] = []
        self.leaked: list[int] = []
        self.spark = self.rec = None

    # -- operations and checks -------------------------------------------

    def attempt(self, kind: str, name: str, fn):
        """Run one operation; a failure is counted and the pass goes on."""
        self.attempted += 1
        try:
            with self.rec.op(kind, name) as h:
                return fn(h)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.failed += 1
            self.errors.append(f"{kind}/{name}: {type(e).__name__}: {str(e)[:300]}")
            if _jvm_gone(e):
                raise Fatal(str(e)) from e
            return None

    def check(self, name: str, fn) -> None:
        """Run one output check; ``fn`` returns a list of mismatches."""
        self.attempted += 1
        try:
            errs = fn()
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            if _jvm_gone(e):
                self.failed += 1
                raise Fatal(str(e)) from e
            errs = [f"{type(e).__name__}: {str(e)[:300]}"]
        if errs:
            self.failed += 1
            self.errors.append(f"check {name}: " + "; ".join(map(str, errs[:4])))

    def _end_pass(self) -> None:
        """Leak accounting, then clear so every pass does the same work."""
        jsc = self.spark.sparkContext._jsc
        self.leaked.append(len(jsc.getPersistentRDDs()))
        self.spark.catalog.clearCache()

    # -- the run -----------------------------------------------------------

    def _session_confs(self) -> dict[str, str]:
        confs = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            confs.update(tracing.event_log_confs(self.log_dir))
        return confs

    def run(self) -> dict:
        t_run = time.perf_counter()
        env = stats.env_stamp(ROOT)
        env["source_digest"] = stats.source_digest(ROOT)

        run_id = f"{self.wl.name}-t{int(self.traced)}-s{self.seed}-{os.getpid()}"
        self.tmp = os.path.join(self.work, "tmp", run_id)
        self.log_dir = os.path.join(self.work, "eventlog", run_id)
        for d in (self.tmp, os.path.join(self.work, "local")):
            os.makedirs(d, exist_ok=True)
        if self.traced:
            os.makedirs(self.log_dir, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")

        mem = stats.MemorySampler().start()
        session: dict[str, float] = {}
        fatal = setup_s = None
        t0 = time.perf_counter()
        try:
            import __spark_entry__  # noqa: F401 - the registry import is set-up cost
            from keystone_spark import get_session, warm_python_workers
            session["import_s"] = time.perf_counter() - t0
            t = time.perf_counter()
            self.spark = get_session("perfbench", extra_confs=self._session_confs())
            self.spark.sparkContext.setLogLevel("ERROR")
            session["start_s"] = time.perf_counter() - t
            t = time.perf_counter()
            warm_python_workers(self.spark)
            session["worker_warm_s"] = time.perf_counter() - t
            self.rec = tracing.Recorder(self.spark, self.traced)
            t = time.perf_counter()
            self.wl.setup(self)
            session["workload_setup_s"] = time.perf_counter() - t
            t = time.perf_counter()
            self.wl.run_pass(self)
            self._end_pass()
            session["warmup_pass_s"] = time.perf_counter() - t
            setup_s = time.perf_counter() - t0

            t_measure = time.perf_counter()
            while True:
                self.rec.pass_no += 1
                t = time.perf_counter()
                self.wl.run_pass(self)
                self.pass_s.append(time.perf_counter() - t)
                self._end_pass()
                elapsed = time.perf_counter() - t_measure
                if (elapsed + statistics.median(self.pass_s) > self.seconds
                        or time.perf_counter() - t_run > DEADLINE_S):
                    break
            mem.stop()  # peak memory is the workload's, not its output checks
            self.wl.check(self)
            passes = list(range(1, len(self.pass_s) + 1))
            extra = self.wl.end_to_end(self, passes)
        except Fatal as e:
            fatal = str(e)
            extra = {}
        finally:
            tree = stats.process_tree(os.getpid())[1:]
            app_id = self._stop_spark()
            stats.wait_gone(tree)
            mem.stop()
            shutil.rmtree(self.tmp, ignore_errors=True)
        env = stats.finish_stamp(env)
        return self._result(env, session, setup_s, extra, mem, app_id, fatal)

    def _stop_spark(self) -> str | None:
        if self.spark is None:
            return None
        sc = self.spark.sparkContext
        app_id = sc.applicationId
        gateway = getattr(sc, "_gateway", None)
        try:
            self.spark.stop()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        try:
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None and proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        return app_id

    # -- reporting -----------------------------------------------------------

    def _result(self, env, session, setup_s, extra, mem, app_id, fatal) -> dict:
        oom = (env.get("oom_kills_end") or 0) - (env.get("oom_kills_start") or 0)
        if oom > 0:  # a run that lost a process to the OOM killer failed
            self.errors.append(f"{oom} process(es) OOM-killed during the run")
            self.failed += 1
            self.attempted += 1
        if fatal:
            self.errors.append(f"fatal: {fatal[:300]}")
        peaks = mem.peaks_gb()
        samples = {
            "setup_s": [] if setup_s is None else [setup_s],
            "pass_s": self.pass_s,
            "peak_rss_gb": [peaks["tree"]],
            "leaked_blocks": self.leaked[1:],
            "error_rate": [self.failed / max(self.attempted, 1)],
        }
        samples.update({k: v for k, v in extra.items() if v})
        units = {**END_TO_END, **WORKLOAD_END_TO_END}
        summary = {k: {**stats.summarize(v), "unit": units[k]} for k, v in samples.items()}

        self._op_entries = [
            {"pass": o.pass_no, "kind": o.kind, "name": o.name,
             "s": round(o.seconds, 6), "ok": o.ok, "error": o.error,
             "phases": {p.name: round(p.seconds, 6) for p in o.phases},
             "jobs": sum(len(p.jobs) for p in o.phases),
             "catalyst_ms": o.catalyst_ms} for o in (self.rec.ops if self.rec else [])]
        layers = {}
        overhead = None
        if self.traced and app_id:
            layers = self._layer_record(session, peaks, app_id)
            overhead = self._tracing_overhead(summary)
        correct = self.failed == 0 and not fatal
        return {
            "workload": self.wl.name, "seed": self.seed, "seconds": self.seconds,
            "traced": self.traced, "data": self._data_name(),
            "correct": correct, "attempted": self.attempted, "failed": self.failed,
            "errors": self.errors, "env": env,
            "session": session, "memory_gb": peaks, "end_to_end": summary,
            "layers": layers, "tracing_overhead_s": overhead,
            "results": {str(k): v for k, v in getattr(self.wl, "per_pass", {}).items()},
            "ops": self._op_entries,
        }

    def _data_name(self) -> str:
        inside = os.path.commonpath([self.data_dir, ROOT]) == ROOT
        return os.path.relpath(self.data_dir, ROOT) if inside else self.data_dir

    def _layer_record(self, session, peaks, app_id) -> dict:
        """Per-layer metrics: medians over the timed passes of per-pass
        sums, attributed through each phase's job ids."""
        path = tracing.find_event_log(self.log_dir, app_id)
        jobs = tracing.parse_event_log(path) if path else {}
        per_pass = []
        for i in range(1, len(self.pass_s) + 1):
            ops = self.rec.pass_ops(i)
            ids = [j for o in ops for p in o.phases for j in p.jobs]
            m = tracing.exec_totals(jobs[j] for j in ids if j in jobs)
            cons = [p for o in ops for p in o.phases if p.name == "construct"]
            m["construct.s"] = sum(p.seconds for p in cons)
            m["construct.jobs"] = sum(len(p.jobs) for p in cons)
            for ph in ("analysis", "optimization", "planning"):
                m[f"catalyst.{ph}_ms"] = sum(o.catalyst_ms.get(ph, 0) for o in ops)
            m["cache.persisted_after_pass"] = self.leaked[i]
            m.update(self.wl.layer_metrics(self, i))
            per_pass.append(m)
        for op, entry in zip(self.rec.ops, self._op_entries):
            t = tracing.exec_totals(jobs[j] for p in op.phases for j in p.jobs if j in jobs)
            entry["layers"] = {k: round(v, 6) for k, v in t.items() if v}
        out = {k: stats.summarize([p.get(k, 0) for p in per_pass])
               for k in LAYER_METRICS if per_pass}
        for k, v in (("session.start_s", session.get("start_s")),
                     ("session.import_s", session.get("import_s")),
                     ("session.worker_warm_s", session.get("worker_warm_s")),
                     ("session.warmup_pass_s", session.get("warmup_pass_s")),
                     ("mem.jvm_peak_gb", peaks["jvm"]),
                     ("mem.worker_peak_gb", peaks["worker"]),
                     ("mem.tree_peak_gb", peaks["tree"])):
            out[k] = stats.summarize([v or 0.0])
        shutil.rmtree(self.log_dir, ignore_errors=True)
        return out

    def _tracing_overhead(self, summary) -> dict | None:
        """Traced minus untraced median pass time, against the untraced
        record of this workload and seed (else the latest untraced one)."""
        out = os.path.join(self.work, "out")
        for name in (f"{self.wl.name}-trace0-seed{self.seed}.json",
                     f"{self.wl.name}-trace0-latest.json"):
            try:
                with open(os.path.join(out, name)) as f:
                    base = json.load(f)["end_to_end"]["pass_s"]["median"]
                break
            except (OSError, KeyError, ValueError):
                continue
        else:
            return None
        traced = summary["pass_s"].get("median")
        if traced is None:
            return None
        return {"against": name, "traced_pass_s": traced, "untraced_pass_s": base,
                "overhead_s": traced - base, "overhead_share": (traced - base) / base}


def check_contract(c: dict) -> list[str]:
    """What is wrong with a BENCHMARK.json: its shape, names, units and
    bounds, and metrics or workloads this benchmark does not produce."""
    errs = []
    if set(c) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        errs.append(f"keys {sorted(c)}")
        return errs
    names = [w["name"] for w in c["workloads"]]
    names += [m["name"] for m in c["end_to_end"] + c["per_layer"]]
    errs += [f"name {n!r}" for n in names if not stats.valid_name(n)]
    if len(names) != len(set(names)):
        errs.append("a name is used twice")
    if not 2 <= len(c["workloads"]) <= 8:
        errs.append(f"{len(c['workloads'])} workloads")
    errs += [f"workload {w['name']} not implemented" for w in c["workloads"]
             if w["name"] not in WORKLOADS]
    for m in c["end_to_end"] + c["per_layer"]:
        known = END_TO_END if "bound" in m else LAYER_METRICS
        if m["name"] not in known:
            errs.append(f"metric {m['name']} not produced")
        elif not stats.valid_unit(m["unit"]) or m["unit"] != known[m["name"]]:
            errs.append(f"unit of {m['name']}: {m['unit']!r}")
    errs += [f"bound of {m['name']}: {m['bound']}" for m in c["end_to_end"]
             if not 0 < m["bound"] <= 0.25]
    if not any(m["name"] == "setup_s" for m in c["end_to_end"]):
        errs.append("no setup_s")
    if not (isinstance(c["run_seconds"], int) and 1 <= c["run_seconds"] <= 60):
        errs.append(f"run_seconds {c['run_seconds']}")
    return errs


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        c = json.load(f)
    errs = check_contract(c)
    if errs:
        raise SystemExit("perfbench: BENCHMARK.json: " + "; ".join(errs))
    return c


def write_record(rec: dict) -> str:
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    base = f"{rec['workload']}-trace{int(rec['traced'])}"
    path = os.path.join(out, f"{base}-seed{rec['seed']}.json")
    for p in (path, os.path.join(out, f"{base}-latest.json")):
        with open(p, "w") as f:
            json.dump(rec, f, indent=1, default=str)
    return path


def print_summary(rec: dict) -> None:
    """Human-readable lines: every metric with unit and sample count."""
    w = rec["workload"]
    env = rec["env"]
    print(f"# {w} seed={rec['seed']} traced={rec['traced']} data={rec['data']} "
          f"nproc={env['nproc']} mem_total_gb={env['mem_total_gb']:.1f} "
          f"driver_mem={env['driver_mem']} pyspark={env['pyspark']} python={env['python']} "
          f"load={env['loadavg_start']} -> {env['loadavg_end']} commit={env['git_commit']} "
          f"source={env['source_digest'][:12]}")
    for name, s in rec["end_to_end"].items():
        if s.get("n"):
            print(f"# e2e {w} {name} = {s['median']:.6g} {s['unit']} "
                  f"(median, n={s['n']}, p25={s['p25']:.6g}, p75={s['p75']:.6g})")
    for name, s in sorted(rec["layers"].items()):
        print(f"# layer {w} {name} = {s['median']:.6g} (median, n={s['n']})")
    if rec["tracing_overhead_s"]:
        o = rec["tracing_overhead_s"]
        print(f"# tracing overhead {w}: {o['overhead_s']:+.3f} s per pass "
              f"({o['overhead_share']:+.1%}; traced {o['traced_pass_s']:.3f} s, "
              f"untraced {o['untraced_pass_s']:.3f} s in {o['against']})")
    for e in rec["errors"]:
        print(f"# error {w}: {e}")


def result_line(rec: dict, contract: dict) -> dict:
    """The last stdout line: the contract's end-to-end metrics untraced,
    its per-layer metrics traced. A metric without samples (a run that
    died in set-up or made no timed pass) is null, never a perfect 0."""
    want = contract["per_layer"] if rec["traced"] else contract["end_to_end"]
    source = rec["layers"] if rec["traced"] else rec["end_to_end"]
    metrics = {}
    for m in want:
        s = source.get(m["name"], {})
        metrics[m["name"]] = {"value": s["median"] if s.get("n") else None,
                              "unit": m["unit"]}
    return {"correct": rec["correct"], "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def run_all(args) -> int:
    """The four workloads in turn, each in its own process (its own JVM);
    their summary lines pass through, and the last line combines their
    results with metric names prefixed by the workload."""
    import subprocess

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ("query_mix", "fit_pipeline", "index_maintain", "curation"):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = p.stdout.strip().splitlines()
        print("\n".join(l for l in lines if l.startswith("#")), flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined), flush=True)
    return 0


def input_dir(tables) -> str:
    """Where the workload's tables are; the committed fixture copy is
    checked against its digests first."""
    d = os.path.abspath(os.environ.get("SPARK_GRAFT_SF_DIR") or FIXTURE)
    missing = [t for t in tables if not os.path.isfile(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"perfbench: {d} has no {', '.join(missing)} table; "
                         "set SPARK_GRAFT_SF_DIR to a fixture directory that has them")
    if d == FIXTURE:
        bad = stats.check_sums(os.path.join(d, "SHA256SUMS"))
        if bad:
            raise SystemExit(f"perfbench: fixture files differ from SHA256SUMS: {bad}")
    return d


def program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "__spark_entry__.py", "keystone_spark/__init__.py", "tools/verify_oracle.py"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                    help="a workload, or 'all' for query_mix, fit_pipeline, "
                         "index_maintain and curation in turn")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: the engine is not in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    contract = load_contract()
    os.chdir(ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # a driver-side SIGTERM still stops the JVM and the Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rec = Bench(args.workload, input_dir(WORKLOADS[args.workload].tables),
                args.seed, args.seconds, bool(args.trace)).run()
    write_record(rec)
    print_summary(rec)
    print(json.dumps(result_line(rec, contract)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
