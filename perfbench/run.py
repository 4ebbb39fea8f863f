"""Extraction benchmark: seeded workloads through the library's public calls.

    python3 perfbench/run.py --workload mixed --seed 42 --seconds 20 --trace 0

One batch job at a time, as a closed loop from this process, on a local
Spark session with one executor thread per available core. Workloads:

- ``mixed``: 2,000 docs of every synthetic population plus fixture-001,
  no giant docs, through ``extract_documents`` ->
  ``metrics_rollup().collect()``. Engine-bound.
- ``giants``: the same populations plus one 1-8 MiB ``syn-giant`` doc per
  80 docs, through the same call. Giant sizes are stratified so that
  every seed has the same giant bytes. Bytes-bound.

``--trace 0`` prints the end-to-end metrics:

- ``docs_per_s``: input docs over the wall from the call to the rollup in
  hand, median over the timed passes;
- ``setup_s``: median of three set-ups, each a session start plus a first
  extraction batch (Python-worker start and engine import). The first
  also launches the JVM; the others restart the session inside it;
- ``peak_rss_mb``: peak summed RSS of this process, the driver JVM and
  the Python workers over the first timed pass, which follows a full JVM
  garbage collection and one warm-up execution.

``--trace 1`` prints the per-layer ledger instead (ledger.py), from timed
passes that alternate with untraced ones. It includes ``doc_ms_p50`` /
``doc_ms_p99``: one in-process ``readability.extract(html)`` call (the
CLI's call) per doc, every doc of the workload timed in LATENCY_ROUNDS
rounds before the JVM starts and as many after it has exited, its fastest
call kept. On ``mixed`` it adds three legs:
``extract_and_render`` to a noop sink, one ``run_checkpointed`` pass
(8 parts, 4 concurrent, as job.py runs it) and one pass at ``local[1]``.
Spans go to ``.perfbench/traces/``.

Checks. Before timing, the output rows of one execution of the call's
plan are digest-checked (digest.py): one row per input doc, no error
rows, and the digest pinned in pinned.json (default seed) or computed
in-process by the library (any other seed). The result of every timed
pass, its rollup, must then equal the rollup of those checked rows. A
failed check prints the result with ``"correct": false`` and exits 1.

Inputs, work files and spans live under ``.perfbench/`` beside this
directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DEFAULT_SEED = 42
MIN_PASSES = 3
# in-process latency (traced runs): rounds over every doc before the JVM
# starts and again after it has exited, each doc's fastest call kept.
# Single-thread speed on a shared 4-vCPU host swings by up to 1.8x, at
# times for minutes; with one round a side doc_ms_p99 spread 0.39 of its
# median over ten seeds, with three or four 0.07 to 0.33, too wide for a
# bounded metric. A doc of BIG_DOC_CHARS or more is timed in a side's
# first round only: such docs cost seconds per round, and they lie above
# the p99 of both workloads, so their exact latency moves neither metric.
LATENCY_ROUNDS = 4
BIG_DOC_CHARS = 4 << 20
SETUP_CYCLES = 3
CKPT_PARTS, CKPT_CONCURRENCY = 8, 4
# workload -> input shape (inputs.Shape fields)
WORKLOADS = {
    "mixed": {"n_docs": 2000, "render_ref": True},
    "giants": {"n_docs": 1041, "giant_every": 80},
}
# output directory of a parquet write, from an executed plan's description
_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n[^\n]*\nArguments: (?:file:)?([^,\n]+)"
)


class CheckFailed(Exception):
    """The program's output differs from the reference."""


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(cores: int) -> None:
    """Point Python workers at the package and keep scratch inside STATE."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(STATE, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so that a process the JVM leaves behind when it
    exits, such as a Python-worker daemon, becomes a child of this one and
    can be waited for."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _end_children(grace_s: float = 1.0, kill_s: float = 10.0) -> None:
    """Stop every process this run started and wait until each has ended:
    SIGTERM to those still running after ``grace_s``, SIGKILL after
    ``kill_s``."""
    import signal
    from multiprocessing import resource_tracker

    from ledger import _proc_tree

    resource_tracker._resource_tracker._stop()
    t0 = time.monotonic()
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return  # none left
        waited = time.monotonic() - t0
        if waited > grace_s:
            sig = signal.SIGKILL if waited > kill_s else signal.SIGTERM
            for pid in _proc_tree(os.getpid())[1:]:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _quantile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _median_dict(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r if not k.startswith("_")}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Bench:
    def __init__(self, args, cores: int):
        import inputs

        self.args, self.cores = args, cores
        self.trace = bool(args.trace)
        self.spark = None
        self.spans: list = []
        self.attempted = self.failed = 0
        shape = inputs.Shape(**WORKLOADS[args.workload])
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
        with open(os.path.join(HERE, "pinned.json")) as fh:
            pinned = json.load(fh).get(shape.key(args.workload, args.seed), {})
        t0 = time.perf_counter()
        self.input_path, self.meta = inputs.ensure_input(
            os.path.join(STATE, "inputs"), args.workload, shape, args.seed,
            want_ref=not pinned, workers=cores,
        )
        self.setup_path, _ = inputs.ensure_input(
            os.path.join(STATE, "inputs"), "setup", inputs.Shape(8 * cores),
            DEFAULT_SEED, want_ref=False, workers=cores,
        )
        if self.meta.get("ref", {}).get("errors"):
            _fail("the reference output has error rows; pick workloads without them")
        self.want = pinned or self.meta["ref"]
        self.doc_ids = self.meta["doc_ids"]
        self.detail["input"] = {
            k: self.meta[k] for k in ("docs", "mb", "giants", "giant_byte_share", "spans_per_doc")
        }
        self.detail["input"]["prepare_s"] = time.perf_counter() - t0
        self.detail["reference"] = "pinned" if pinned else "in-process library"

    # -- in-process latency and engine phases ---------------------------------

    def load_docs(self) -> None:
        """Read the input back, rebuild each doc's HTML and time the engine
        phases."""
        import inputs
        import ledger
        from go_readability_spark.spans import spans_to_html

        docs = inputs.read_docs(self.input_path, self.doc_ids)
        self.htmls = [spans_to_html(s) for _, s in docs]
        # render only where the render leg runs: markdown rendering of a
        # giant doc takes seconds per MiB and grows faster than its size
        self.engine = ledger.engine_phases(
            docs, self.spans, render=self.args.workload == "mixed"
        )

    def time_docs(self) -> list[float]:
        """Milliseconds of one ``readability.extract(html)`` call per doc,
        the fastest of LATENCY_ROUNDS rounds."""
        from go_readability_spark.readability import extract

        gc.collect()
        lat = [float("inf")] * len(self.htmls)
        for k in range(LATENCY_ROUNDS):
            for i, html in enumerate(self.htmls):
                if k and len(html) >= BIG_DOC_CHARS:
                    continue
                t0 = time.perf_counter()
                extract(html)
                lat[i] = min(lat[i], (time.perf_counter() - t0) * 1e3)
        return lat

    # -- spark ---------------------------------------------------------------

    def setup(self, cores: int, trace_first: bool = False) -> float:
        """Start a session and run a first batch; returns the seconds taken.

        ``trace_first`` reads the first batch's Python-worker start and
        initialisation times from the ledger."""
        import ledger
        from go_readability_spark.operators.extract import extract_documents, metrics_rollup
        from go_readability_spark.plans.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", cores=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.ledger = ledger.SparkLedger(self.spark, self.cores)
        if trace_first:
            a = self.ledger.mark()
        metrics_rollup(
            extract_documents(self.spark.read.parquet(self.setup_path))
        ).collect()
        wall = time.perf_counter() - t0
        if trace_first:
            first = self.ledger.read(a, self.ledger.mark(), "setup", self.spans)
            self.worker = {k: first[k] for k in ("udf.worker_start_s", "udf.worker_init_s")}
        return wall

    def setups(self) -> float:
        samples = []
        for k in range(SETUP_CYCLES):
            if k:
                self.spark.stop()
            samples.append(self.setup(self.cores, trace_first=self.trace and k == SETUP_CYCLES - 1))
        self.detail["setup_samples_s"] = samples
        return statistics.median(samples)

    def _verify(self, rows, kind: str = "extract") -> None:
        """Digest check of one execution's rows; keeps their rollup."""
        import digest

        v = digest.check_rows(rows, self.doc_ids, self.want[kind])
        self.attempted += len(self.doc_ids)
        if not v.ok:
            # a wrong digest alone does not say which rows are wrong
            self.failed += v.failed or len(self.doc_ids)
            raise CheckFailed(v.__dict__ | {"want": self.want[kind]})
        self.checked_rollup = digest.rollup_of(rows)
        self.candidates = sum(r[6] for r in rows) / len(rows)

    def extraction_pass(self, corpus, traced: str | None = None) -> float:
        """One timed pass of the workload's call; its rollup must equal the
        rollup of the last digest-checked rows.

        A ``traced`` pass also reads its ledger inside the timed wall."""
        import digest
        from go_readability_spark.operators.extract import extract_documents, metrics_rollup

        t0 = time.perf_counter()
        if traced:
            a = self.ledger.mark()
        rollup = metrics_rollup(extract_documents(corpus)).collect()
        if traced:
            b = self.ledger.mark()
            self.layers.append(self.ledger.read(a, b, traced, self.spans))
            self.spans.append(("pass", a.t, b.t, "run", traced))
        wall = time.perf_counter() - t0
        self.attempted += len(self.doc_ids)
        if not digest.rollup_matches(rollup, self.checked_rollup):
            self.failed += len(self.doc_ids)
            raise CheckFailed({"rollup": [r.asDict() for r in rollup]})
        return wall

    def measure(self) -> dict:
        """Digest check (which also warms up), then timed passes back to
        back for ``--seconds`` and at least MIN_PASSES."""
        import digest
        import ledger
        from go_readability_spark.operators.extract import extract_documents
        from go_readability_spark.plans.session import giant_doc_scan

        corpus = self.spark.read.parquet(self.input_path)
        n = len(self.doc_ids)
        self.layers: list[dict] = []
        with giant_doc_scan(self.spark), ledger.RssSampler(os.getpid()) as rss:
            # the driver JVM's heap grows from pass to pass as far as its
            # collector decides: over the first three passes the peak spread
            # 0.06 (mixed) and 0.20 (giants) of its median over ten seeds,
            # over the first pass alone 0.02 and 0.06. Warm up from a
            # collected heap, and give the collector a moment to return the
            # freed memory to the OS
            self.spark._jvm.System.gc()
            time.sleep(0.3)
            self._verify(
                digest.spark_hashes(extract_documents(corpus))
            )
            plain, traced, peaks = [], [], []
            steal0, t0 = ledger.host_steal_s(), time.perf_counter()
            while time.perf_counter() < t0 + self.args.seconds or len(plain) < MIN_PASSES:
                rss.take()
                # a traced run alternates plain and traced passes
                if self.trace and len(traced) < len(plain):
                    traced.append(self.extraction_pass(corpus, f"pass {len(traced)}"))
                else:
                    plain.append(self.extraction_pass(corpus))
                peaks.append(rss.take())
            steal = (ledger.host_steal_s() - steal0) / (time.perf_counter() - t0)
        # share of the host's CPUs taken by other guests while timing
        self.detail["steal_frac"] = steal / os.cpu_count()
        self.detail["pass_walls_s"] = plain
        self.detail["pass_peak_rss_mb"] = [p / 1e6 for p in peaks]
        out = {
            "docs_per_s": n / statistics.median(plain),
            "peak_rss_mb": peaks[0] / 1e6,
        }
        if self.trace:
            out["layers"] = _median_dict(self.layers)
            out["traced_docs_per_s"] = n / statistics.median(traced)
            if self.args.workload == "mixed":
                out.update(self.legs(corpus))
        return out

    # -- trace legs ------------------------------------------------------------

    def legs(self, corpus) -> dict:
        import digest
        from go_readability_spark.operators.extract import metrics_rollup
        from go_readability_spark.operators.render import extract_and_render
        from go_readability_spark.plans.checkpoint import run_checkpointed
        from go_readability_spark.plans.session import giant_doc_scan

        n = len(self.doc_ids)
        out = {}
        # extraction plus renderings to a noop sink, after a digest check
        with giant_doc_scan(self.spark):
            self._verify(digest.spark_hashes(
                extract_and_render(corpus), render=True
            ), "render")
            walls = []
            for _ in range(2):
                t0 = time.perf_counter()
                extract_and_render(corpus).write.format(
                    "noop"
                ).mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            out["render.docs_per_s"] = n / statistics.median(walls)

        # one checkpointed pass into fresh output and manifest dirs
        work = os.path.join(STATE, "work", "ckpt")
        shutil.rmtree(work, ignore_errors=True)
        out_dir, manifest = os.path.join(work, "out"), os.path.join(work, "manifest")
        a = self.ledger.mark()
        result = run_checkpointed(
            self.spark, corpus, out_dir, manifest, n_parts=CKPT_PARTS, concurrency=CKPT_CONCURRENCY
        )
        with giant_doc_scan(self.spark):
            metrics_rollup(result).collect()
        b = self.ledger.mark()
        out.update(self._ckpt_layers(a, b, out_dir))
        with giant_doc_scan(self.spark):
            self._verify(digest.spark_hashes(result))
        parts = self.spark.read.parquet(manifest).collect()
        if len(parts) != CKPT_PARTS or sum(p["n_docs"] for p in parts) != n:
            raise CheckFailed({"manifest": [p.asDict() for p in parts]})
        shutil.rmtree(work, ignore_errors=True)

        # the same call on one core
        self.spark.stop()
        self.setup(cores=1)
        with giant_doc_scan(self.spark):
            one = self.extraction_pass(self.spark.read.parquet(self.input_path))
        out["docs_per_s_1core"] = n / one
        return out

    def _ckpt_layers(self, a, b, out_dir: str) -> dict:
        from ledger import _union

        spark_side = self.ledger.read(a, b, "ckpt", self.spans)
        staging, parts = [], []
        for _, start, end, plan in spark_side["_executions"]:
            target = _WRITE_TARGET.search(plan)
            if end is None or target is None:
                continue
            if "__staging" in target.group(1):
                staging.append((start, end))
            elif target.group(1).startswith(os.path.join(out_dir, "part=")):
                parts.append(end - start)
        return {
            "ckpt.docs_per_s": len(self.doc_ids) / (b.t - a.t),
            "ckpt.staging_s": _union(staging, a.t, b.t),
            "ckpt.part_s_max": max(parts, default=0.0),
            "ckpt.sql_execs": spark_side["spark.sql_execs"],
            "ckpt.out_bytes_per_in_byte": _du(out_dir) / _du(self.input_path),
        }

    # -- output ----------------------------------------------------------------

    def write_spans(self) -> None:
        path = os.path.join(STATE, "traces", f"{self.args.workload}-s{self.args.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for name, start, end, parent, ident in self.spans:
                fh.write(json.dumps(
                    {"name": name, "start": start, "end": end, "parent": parent, "id": ident}
                ) + "\n")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — the JVM must not outlive the run
                proc.kill()
                proc.wait()


def run(bench: Bench, contract: dict) -> dict:
    """Measure one workload; the metrics the contract names for the mode."""
    clock = [time.perf_counter()]

    def lap(name: str) -> None:
        clock.append(time.perf_counter())
        bench.detail.setdefault("phase_s", {})[name] = clock[-1] - clock[-2]

    if bench.trace:
        # in-process latency before the JVM starts and after it has exited
        bench.load_docs()
        first = bench.time_docs()
        lap("in_process")
    setup_s = bench.setups()
    lap("setup")
    measured = bench.measure()
    lap("measure")
    bench.stop()
    bench.detail["docs_per_s"] = measured["docs_per_s"]
    if not bench.trace:
        return _metrics({
            "docs_per_s": measured["docs_per_s"],
            "setup_s": setup_s,
            "peak_rss_mb": measured["peak_rss_mb"],
        }, contract["end_to_end"])
    lat = [min(a, b) for a, b in zip(first, bench.time_docs())]
    lap("in_process_2")
    layers = dict(bench.worker)
    layers["doc_ms_p50"] = _quantile(lat, 50)
    layers["doc_ms_p99"] = _quantile(lat, 99)
    layers.update(measured["layers"])
    layers.update(bench.engine)
    # the legs run on mixed only; elsewhere their layers read 0
    for k in ("render.docs_per_s", "ckpt.docs_per_s", "ckpt.staging_s", "ckpt.part_s_max",
              "ckpt.sql_execs", "ckpt.out_bytes_per_in_byte"):
        layers[k] = measured.get(k, 0.0)
    dps = measured["docs_per_s"]
    layers["trace.overhead_frac"] = 1.0 - measured["traced_docs_per_s"] / dps
    one_core = measured.get("docs_per_s_1core")
    layers["scale_eff_1to4"] = dps / (bench.cores * one_core) if one_core else 0.0
    layers["scoring.candidates_per_doc"] = bench.candidates
    layers["error_rate"] = bench.failed / bench.attempted
    layers["setup.cold_s"] = bench.detail["setup_samples_s"][0]
    return _metrics(layers, contract["per_layer"])


def _metrics(values: dict, specs: list) -> dict:
    """Every metric the contract names, with its unit."""
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in specs}


def main(argv=None) -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, default=DEFAULT_SEED)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import go_readability_spark  # noqa: F401
    except ImportError as exc:
        _fail(f"the program is not importable from {ROOT}: {exc}")
    import digest

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    cores = len(os.sched_getaffinity(0))
    _environment(cores)
    _adopt_orphans()
    correct, metrics = True, {}
    try:
        digest.self_test()
        bench = Bench(args, cores)
        try:
            metrics = run(bench, contract)
        except CheckFailed as exc:
            correct = False
            bench.detail["failed_check"] = exc.args[0]
        finally:
            bench.stop()
    finally:
        _end_children()
    bench.detail["correct"] = correct
    print(json.dumps(bench.detail, default=str))
    if bench.trace:
        bench.write_spans()
    print(json.dumps({
        "correct": correct,
        "attempted": max(bench.attempted, 1),
        "failed": bench.failed,
        "metrics": metrics,
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
