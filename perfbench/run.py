"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload point_joins_store --seed 1 --seconds 10 --trace 0

Runs from the repository root.  Set-up (session start, py-files, seeded
inputs) is timed once from process start; then one cold pass and warm
passes until ``--seconds`` have elapsed.  Every query is forced by a
digest aggregate and checked.  The last line of standard output is the
result JSON; the line before it is a report with every end-to-end metric,
its unit and sample count, the digests and the run's shape.
``--trace 1`` alternates untraced and traced passes and reports
per-layer metrics instead.
"""

from __future__ import annotations

import sys
import time

PROCESS_START = time.perf_counter()
sys.dont_write_bytecode = True  # a run leaves no files in the checkout

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
MIN_WARM_PASSES = 1


def _layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it (and so for the
    Python workers it owns) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, args, scratch, cpus: int, expected: dict):
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.scratch = scratch
        self.cpus = cpus
        self.shuffle_parts = max(8, 2 * cpus)
        self.tracer = Tracer(enabled=False)
        self.parts = [cls(args.seed, cpus, scratch) for cls in WORKLOADS[args.workload]]
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.first_out: dict[str, dict] = {}
        self.all_out: dict[str, dict] = {}
        self.pinned = (
            expected.get("digests", {}).get(args.workload, {}) if args.seed == DEFAULT_SEED else {}
        )
        self.layer_passes: list[dict[str, float]] = []
        self.sampler = None

    # -- set-up ---------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """Start the session, ship the package and make the inputs: one
        cold set-up, timed from process start."""
        from geowave_spark import deploy
        from geowave_spark.session import get_spark

        t1 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.shuffle_parts,
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        t2 = time.perf_counter()
        # ship the package from the run's scratch, then mark the session
        # shipped so operators do not zip it again
        sc = spark.sparkContext
        sc.addPyFile(deploy.build_zip(os.path.join(self.scratch.tmp, "pyfiles.zip")))
        deploy._SHIPPED.add(id(sc))
        t3 = time.perf_counter()
        for part in self.parts:
            part.spark = spark
            part.generate(spark)
        t4 = time.perf_counter()
        return {
            "setup_s": t4 - PROCESS_START,
            "session.start_s": t2 - t1,
            "session.py_files_s": t3 - t2,
            "sources.fixture_s": t4 - t3,
        }

    # -- passes ---------------------------------------------------------

    def _check(self, key: str, out: dict) -> bool:
        ok = True
        first = self.first_out.setdefault(key, out)
        if first != out:
            self.mismatches.append(f"{key}: {out} differs from first pass {first}")
            ok = False
        want = self.pinned.get(key)
        if want is not None and want != out:
            self.mismatches.append(f"{key}: {out} != pinned {want}")
            ok = False
        self.all_out[key] = out
        return ok

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        from perfbench.digest import collect_digest, digest_frame
        from perfbench.host import cpu_ticks, load1
        from perfbench.trace import plan_layers

        tr = self.tracer
        tr.enabled = traced
        tr.pass_id = pass_no
        rec = {"pass": pass_no, "traced": traced, "load1": load1()}
        layers: dict[str, float] = {}
        op_s: dict[str, float] = {}
        scan_ms: list[float] = []
        write_s = 0.0
        scan_outs: dict[str, list[dict]] = {}
        steps = [s for part in self.parts for s in part.steps(pass_no)]
        untimed = 0.0  # scratch sampling between steps
        steal0, total0 = cpu_ticks()
        t_pass = time.perf_counter()
        with tr.span("pass"):
            for i, step in enumerate(steps):
                self.attempted += 1
                key = step.check or f"{i}:{step.op}"
                t0 = time.perf_counter()
                try:
                    with tr.span(f"op.{step.op}"):
                        with tr.span(f"op.{step.op}.plan"):
                            built = step.build()
                        t1 = time.perf_counter()
                        agg = None
                        if step.kind == "write":
                            out = built
                        else:
                            with tr.span(f"op.{step.op}.exec"):
                                agg = digest_frame(built, step.loose)
                                out = collect_digest(agg)
                        t2 = time.perf_counter()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.failed += 1
                    continue
                finally:
                    t_s = time.perf_counter()
                    self.sampler.sample_scratch()
                    untimed += time.perf_counter() - t_s
                op_s[step.op] = op_s.get(step.op, 0.0) + t2 - t0
                if step.kind == "write":
                    write_s += t2 - t0
                    plan_s, exec_s = 0.0, t2 - t0
                else:
                    plan_s, exec_s = t1 - t0, t2 - t1
                if step.kind == "scan":
                    scan_ms.append((t2 - t0) * 1e3)
                    scan_outs.setdefault(key, []).append(out)
                elif not self._check(key, out):
                    self.failed += 1
                if traced:
                    layers[f"op.{step.op}.plan_s"] = layers.get(f"op.{step.op}.plan_s", 0.0) + plan_s
                    layers[f"op.{step.op}.exec_s"] = layers.get(f"op.{step.op}.exec_s", 0.0) + exec_s
                    if agg is not None:
                        with tr.span("walk_plan"):
                            self._add_plan_layers(layers, step, plan_layers(agg._jdf), out)
            # every window is scanned through both scan paths; both must
            # return the same rows
            for key, outs in scan_outs.items():
                if any(o != outs[0] for o in outs[1:]):
                    self.mismatches.append(f"{key}: scan paths disagree {outs}")
                    self.failed += len(outs) - 1
                elif not self._check(key, outs[0]):
                    self.failed += len(outs)
        rec["pass_s"] = time.perf_counter() - t_pass - untimed
        steal1, total1 = cpu_ticks()
        rec["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        rec["write_s"] = write_s
        rec["op_s"] = op_s
        rec["scan_ms"] = scan_ms
        if traced:
            for part in self.parts:
                layers.update(part.store_stats(pass_no))
        for part in self.parts:
            part.after_pass(pass_no)
        # collect between passes, outside the timed part: Spark removes a
        # shuffle's files when the JVM collects its dependency, so without
        # this the scratch and heap a pass finds depend on GC timing
        gc.collect()
        self.spark._jvm.System.gc()
        if traced:
            self.layer_passes.append(layers)
        return rec

    @staticmethod
    def _add_plan_layers(layers: dict, step, pl: dict, out: dict) -> None:
        def add(k, v):
            layers[k] = layers.get(k, 0.0) + v

        for k, v in pl.items():
            add(k, v)
        cand = pl.get("join.candidate_rows", 0.0)
        if step.op in ("phash_neardup", "cosine_neardup"):
            add("neardup.candidates", cand)
            add("neardup.pairs", out["rows"])
            add("neardup.band_exchange_mb", pl.get("exchange.bytes", 0.0) / 2**20)
        elif cand:
            add("join.output_rows", out["rows"])
            add("join.candidate_rows_joins", cand)
        if step.op == "tile_images":
            add("tile.tiles", out["rows"])
        if step.kind == "scan":
            add("scan.results", out["rows"])

    # -- whole run ------------------------------------------------------

    def run(self) -> dict:
        from perfbench.host import Sampler

        setup = self.setup()
        jvm = self.spark.sparkContext._gateway.proc.pid
        mgmt = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc0 = self._gc_s(mgmt)
        for pool in mgmt.getMemoryPoolMXBeans():
            pool.resetPeakUsage()
        passes = []
        # a traced run needs a traced warm pass between two untraced ones,
        # so warm-up does not read as tracing overhead
        min_warm = 3 if self.args.trace else MIN_WARM_PASSES
        sampler = self.sampler = Sampler(jvm, self.scratch)
        with sampler:
            passes.append(self.run_pass(0, traced=False))
            t_start = time.perf_counter()
            n = 1
            while time.perf_counter() - t_start < self.args.seconds or n <= min_warm:
                passes.append(self.run_pass(n, traced=bool(self.args.trace) and n % 2 == 0))
                n += 1
        gc_s = self._gc_s(mgmt) - gc0
        heap_peak = sum(
            p.getPeakUsage().getUsed()
            for p in mgmt.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        ) / 2**20
        probes = {}
        if self.args.trace:
            for part in self.parts:
                probes.update(part.probes())
        return {
            "setup": setup,
            "passes": passes,
            "sampler": sampler,
            "gc_s": gc_s,
            "heap_peak_mb": heap_peak,
            "probes": probes,
        }

    @staticmethod
    def _gc_s(mgmt) -> float:
        return sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans()) / 1e3


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(runner: Runner, res: dict) -> dict[str, tuple[float, str, int]]:
    """(value, unit, samples) of every end-to-end metric the run has."""
    warm = [p for p in res["passes"][1:] if not p["traced"]]
    smp = res["sampler"]
    out = {
        "setup_s": (res["setup"]["setup_s"], "s", 1),
        "pass_s": (_median([p["pass_s"] for p in warm]), "s", len(warm)),
        "cold_pass_s": (res["passes"][0]["pass_s"], "s", 1),
        "peak_rss_mb": (smp.peak_rss_mb, "MB", smp.samples),
        "peak_scratch_mb": (smp.peak_scratch_mb, "MB", smp.scratch_samples),
        "fail_ratio": (runner.failed / max(runner.attempted, 1), "ratio", runner.attempted),
    }
    scans = [ms for p in warm for ms in p["scan_ms"]]
    if scans:
        out["write_s"] = (_median([p["write_s"] for p in warm]), "s", len(warm))
        p90 = statistics.quantiles(scans, n=10, method="inclusive")[8]
        out["scan_p50_ms"] = (statistics.median(scans), "ms", len(scans))
        out["scan_p90_ms"] = (p90, "ms", len(scans))
    return out


def per_layer(runner: Runner, res: dict, e2e: dict) -> dict[str, float]:
    lp = runner.layer_passes
    keys = set().union(*lp) if lp else set()
    med = {k: _median([p.get(k, 0.0) for p in lp]) for k in keys}
    out: dict[str, float] = {}
    for k in ("session.start_s", "session.py_files_s", "sources.fixture_s"):
        out[k] = res["setup"][k]
    out["sources.fixture_mb"] = sum(p.fixture_mb for p in runner.parts)
    out.update(res["probes"])
    out["exchange.mb_written"] = med.get("exchange.bytes", 0.0) / 2**20
    out["exchange.write_s"] = med.get("exchange.write_s", 0.0)
    out["exchange.records"] = med.get("exchange.records", 0.0)
    out["python.time_s"] = med.get("python.time_s", 0.0)
    out["python.boot_s"] = med.get("python.boot_s", 0.0)
    out["python.mb_sent"] = med.get("python.bytes_sent", 0.0) / 2**20
    out["python.rows_received"] = med.get("python.rows_received", 0.0)
    out["codegen.pipeline_s"] = med.get("codegen.pipeline_s", 0.0)
    out["broadcast.build_s"] = med.get("broadcast.build_s", 0.0)
    out["broadcast.mb"] = med.get("broadcast.bytes", 0.0) / 2**20
    cand = med.get("join.candidate_rows_joins", 0.0)
    out["join.candidate_rows"] = cand
    out["join.output_rows"] = med.get("join.output_rows", 0.0)
    out["join.yield"] = out["join.output_rows"] / cand if cand else 0.0
    out["spill.mb"] = med.get("spill.bytes", 0.0) / 2**20
    out["peak_scratch_mb"] = e2e["peak_scratch_mb"][0]
    for k in ("neardup.candidates", "neardup.pairs", "neardup.band_exchange_mb"):
        out[k] = med.get(k, 0.0)
    if med.get("tile.tiles"):
        from perfbench.workloads import ImagePipeline

        n_img = ImagePipeline.N_IMAGES + ImagePipeline.N_DUP_IMAGES
        out["raster.tile_us_per_image"] = med["op.tile_images.exec_s"] / n_img * 1e6
        out["raster.tiles_per_image"] = med["tile.tiles"] / n_img
    for k in ("store.mb_written", "store.files_written", "store.write_amp"):
        out[k] = med.get(k, 0.0)
    results = med.get("scan.results", 0.0)
    out["scan.files_read"] = med.get("scan.files_read", 0.0)
    total_b = med.get("scan.buckets_total", 0.0)
    out["scan.buckets_selected_ratio"] = med.get("scan.buckets_selected", 0.0) / total_b if total_b else 0.0
    out["scan.rows_read_per_result"] = med.get("scan.rows", 0.0) / results if results else 0.0
    # the store workload's end-to-end figures, from the run's untraced passes
    for k in ("write_s", "scan_p50_ms", "scan_p90_ms"):
        if k in e2e:
            out[k] = e2e[k][0]
    for k, v in med.items():
        if k.startswith("op."):
            out[k] = v
    smp = res["sampler"]
    out["jvm.gc_s"] = res["gc_s"]
    out["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    out["proc.driver_rss_mb"] = smp.peak_driver_mb
    out["proc.python_rss_mb"] = smp.peak_python_mb
    out["proc.python_workers"] = float(smp.peak_workers)
    untraced = [p["pass_s"] for p in res["passes"][1:] if not p["traced"]]
    traced = [p["pass_s"] for p in res["passes"][1:] if p["traced"]]
    out["trace.overhead_s"] = _median(traced) - _median(untraced)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--trace-file",
        help="with --trace 1, also write the per-layer metrics and every span to this JSON file",
    )
    ap.add_argument(
        "--pin", action="store_true",
        help="write this run's digests and peaks as the pinned values for the default seed",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import geowave_spark  # noqa: F401  (fails fast outside a full checkout)

    from perfbench.host import Scratch, driver_heap_mb, load_json, meminfo_mb, nproc, preflight
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if args.pin and args.seed != DEFAULT_SEED:
        ap.error("--pin pins the default seed only")
    expected_path = os.path.join(HERE, "expected.json")
    expected = load_json(expected_path)
    layer_names = _layer_names() if args.trace else []
    cpus = nproc()
    heap = driver_heap_mb(meminfo_mb()["MemTotal"])
    scratch = Scratch(ROOT)
    try:
        host = preflight(args.workload, expected.get("peaks", {}), scratch.dir)
        scratch.configure_env(cpus, heap)
        # a re-pin checks each pass against the run's first pass only
        runner = Runner(args, scratch, cpus, {} if args.pin else expected)
        try:
            res = runner.run()
        finally:
            if runner.spark is not None:
                _stop_spark(runner.spark)
        e2e = end_to_end(runner, res)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": cpus,
            "master": f"local[{cpus}]",
            "shuffle_partitions": runner.shuffle_parts,
            "driver_heap_mb": heap,
            "host": host,
            "peaks": {
                "driver_rss_mb": res["sampler"].peak_driver_mb,
                "python_rss_mb": res["sampler"].peak_python_mb,
                "python_workers": res["sampler"].peak_workers,
            },
            "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()},
            "pinned_checked": bool(runner.pinned),
            "mismatches": runner.mismatches,
            "digests": runner.all_out,
            "setup": res["setup"],
            "passes": [
                {k: v for k, v in p.items() if k != "scan_ms"}
                | {"scans": len(p["scan_ms"]), "scan_ms": [round(ms, 1) for ms in p["scan_ms"]]}
                for p in res["passes"]
            ],
        }
        if args.trace:
            layers = per_layer(runner, res, e2e)
            report["self_time_s"] = {
                k: round(v, 4) for k, v in sorted(
                    runner.tracer.self_time_by_name().items(), key=lambda kv: -kv[1]
                )
            }
            report["spans"] = len(runner.tracer.spans)
            report["tracing_overhead_s"] = layers["trace.overhead_s"]
            if args.trace_file:
                with open(args.trace_file, "w") as f:
                    json.dump({"layers": layers, "spans": runner.tracer.with_self_time()}, f)
            metrics = {
                name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                for name, unit in layer_names
            }
        else:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                names = [m["name"] for m in json.load(f)["end_to_end"]]
            metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in names}
        if args.pin and runner.failed == 0 and not runner.mismatches:
            expected.setdefault("digests", {})[args.workload] = runner.all_out
            expected.setdefault("peaks", {})[args.workload] = {
                "peak_rss_mb": round(e2e["peak_rss_mb"][0]),
                "peak_scratch_mb": round(e2e["peak_scratch_mb"][0]),
            }
            with open(expected_path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
        print(json.dumps(report, default=str))
        print(
            json.dumps(
                {
                    "correct": runner.failed == 0 and not runner.mismatches,
                    "attempted": runner.attempted,
                    "failed": runner.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        scratch.remove()


if __name__ == "__main__":
    sys.exit(main())
