"""Repository benchmark: KG-construction jobs on local Spark, layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload kg_short --seed 1 --seconds 12 --trace 0

Both workloads run the composition of ``scripts/run_kg_job.py`` with
``--partition-by-pred``: scan → salted_repartition + length_bucketed →
extract_triples → RunManifest.run into a pred-partitioned graph table.

* ``kg_short``      short documents whose 31-word vocabulary keeps the
                    encoder's score cache hot;
* ``kg_long_zipf``  500-2,000-word documents over a 50k-word Zipf
                    vocabulary: cache misses, truncation, the E² relex tail.

The traced run of ``kg_short`` also runs the corpus dedup ladder
(exact_duplicates → minhash_lsh_pairs → simhash_pairs →
connected_components → resolve_duplicate_clusters) over the same
documents and checks it against the DuckDB oracles.

The load is closed-loop: one driver process runs one job at a time on
``local[nproc]``. Each iteration starts a fresh SparkSession in the
run's JVM (so the Python workers, and the encoder's score cache inside
them, start cold), spawns the workers with a small warm-up job (setup),
runs the measured job (wall), stops the session and checks the committed
output against the reference. A prime iteration first runs the job on
the run's input ``PRIME_JOBS`` times, to launch the JVM and warm its
JIT; it is not measured. Measured iterations repeat until ``--seconds``
have passed, at least ``MIN_ITERATIONS``. Peak RSS is taken per
iteration, and the median reported.

Every process the run starts has ended when it exits: it adopts the
orphans of the JVM it stops and waits for them.

``--trace 0`` prints the end-to-end metrics, medians over iterations.
``--trace 1`` prints the per-layer metrics (layers.py) and writes spans
and a per-stage table under ``.perfbench_work/traces/``.

The last line of stdout is one JSON object: correct, attempted (documents
attempted over all iterations), failed (documents whose job raised or
whose output differs from the reference) and metrics. A summary with
every iteration's figures goes to stderr. Any failure exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("kg_short", "kg_long_zipf")
PRIME_JOBS = 2  # in the prime iteration: the JIT is still warming in the second
MIN_ITERATIONS = 2  # measured, after the prime iteration
N_CHUNKS = 1  # RunManifest chunks per KG job
CACHE_KEEP = 4  # cached (workload, seed) inputs kept per workload


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": mem_kib // 1024,
        "loadavg": load,
    }


def steal_s() -> float:
    """CPU-seconds the hypervisor has taken from this VM since boot
    (the steal column of /proc/stat); differences show noisy neighbours."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def driver_heap_gib(mem_total_mib: int) -> int:
    """An eighth of physical memory, 1-4 GiB: local mode runs every
    executor task inside the driver JVM, and the host is shared."""
    return max(1, min(4, mem_total_mib // 8192))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let Spark's Python workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------------------
# inputs and references, cached by (workload, seed)


class CachedInput:
    """The seed's input files and reference triples, generated once per
    (workload, seed) and kept under .perfbench_work/inputs/. A missing
    reference is computed in child processes while the prime iteration
    runs; ``ref()`` waits for it."""

    def __init__(self, workload: str, seed: int, cores: int):
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        import inputs
        import reference

        root = os.path.join(WORK, "inputs")
        self.dir = os.path.join(root, f"{workload}-s{seed}")
        self.docs_dir = os.path.join(self.dir, "docs")
        self._ref_path = os.path.join(self.dir, "ref.parquet")
        self._done = os.path.join(self.dir, "_done")
        self._pending = None
        self._ref = None
        if not os.path.exists(self._done):
            shutil.rmtree(self.dir, ignore_errors=True)
            table = inputs.make_input(workload, seed, sorted(entry.GAZ_FULL))
            inputs.write_files(table, self.docs_dir, files=2 * cores)
            self._pending = reference.KgReference(table, cores, os.path.join(self.dir, "ref-work"))
        self.table = pq.read_table(self.docs_dir)
        self.urls = self.table.column("url").to_pylist()

    def ref(self) -> Counter:
        import pyarrow.parquet as pq

        import reference

        if self._ref is None:
            if self._pending is not None:
                pq.write_table(self._pending.table(), self._ref_path)
                self._pending = None
                shutil.rmtree(os.path.join(self.dir, "ref-work"), ignore_errors=True)
                open(self._done, "w").close()
                _prune(os.path.dirname(self.dir), os.path.basename(self.dir).rsplit("-s", 1)[0])
            os.utime(self._done)
            table = pq.read_table(self._ref_path)
            self._ref = Counter(reference.table_rows(table, reference.TRIPLE_COLS))
        return self._ref

    def close(self) -> None:
        if self._pending is not None:
            self._pending.close()


def cached_dedup_reference(inp: CachedInput) -> dict:
    """The dedup ladder's oracle tables for the input, cached beside it."""
    import pyarrow.parquet as pq

    import reference

    names = ("exact", "minhash", "simhash", "components", "clusters")
    paths = {n: os.path.join(inp.dir, f"ref_dedup_{n}.parquet") for n in names}
    if not all(os.path.exists(p) for p in paths.values()):
        for name, t in reference.dedup_reference(inp.docs_dir).items():
            pq.write_table(t, paths[name])
    return {n: pq.read_table(p) for n, p in paths.items()}


def _prune(root: str, workload: str) -> None:
    """Keep the ``CACHE_KEEP`` most recently used inputs of a workload."""

    def last_used(path):
        marker = os.path.join(path, "_done")
        return os.path.getmtime(marker) if os.path.exists(marker) else 0

    dirs = [os.path.join(root, n) for n in os.listdir(root) if n.startswith(workload + "-s")]
    for path in sorted(dirs, key=last_used)[:-CACHE_KEEP]:
        shutil.rmtree(path, ignore_errors=True)


def write_warm_inputs(cores: int) -> str:
    """A few sf0.1 pages, one file per core, for the warm-up job."""
    import inputs

    d = os.path.join(WORK, "warm")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        docs = inputs.load_sf01().slice(0, 4 * cores)
        inputs.write_files(inputs.with_url(docs), d, cores)
        open(os.path.join(d, "_done"), "w").close()
    return d


# ---------------------------------------------------------------------------
# Spark


def session(master: str, heap_gib: int, event_dir: str | None = None):
    from gliner_spark.plans.session import build_session

    conf = {
        "spark.driver.memory": f"{heap_gib}g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf["spark.eventLog.dir"] = event_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = build_session(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the run's JVM and wait for it: it exits once its stdin pipe
    closes (its Python daemon and workers end with each SparkContext)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER): Spark's Python daemon and workers outlive a
    stopped JVM by a moment, and ``reap_children`` waits for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    pids = []
    for tid in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{tid}/children") as f:
            pids.extend(int(c) for c in f.read().split())
    return pids


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until every child (adopted orphans too) has ended; kill
    those still running after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.monotonic() > deadline:
            for pid in child_pids():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


class RssSampler:
    """Peak of Σ RSS over the driver JVM and its descendants (the
    Python daemon and workers), sampled from /proc every 50 ms. The
    process tree is re-read every 0.5 s only: walking the JVM's threads
    for their children costs far more than reading a few statm files,
    and the sampler shares the cores with the job it measures.

    A child the JVM is spawning shares the JVM's address space until it
    execs, so descendants still running the JVM's executable are left
    out; counting them would add a second JVM to the sample."""

    def __init__(self, pid: int):
        self.pid = pid
        self.exe = os.readlink(f"/proc/{pid}/exe")
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        pids, todo = [self.pid], [self.pid]
        while todo:
            p = todo.pop()
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
            if p != self.pid:
                try:
                    if os.readlink(f"/proc/{p}/exe") != self.exe:
                        pids.append(p)
                except OSError:
                    pass
        return pids

    def _loop(self) -> None:
        page_kib = os.sysconf("SC_PAGE_SIZE") // 1024
        pids: list[int] = []
        k = 0
        while not self._stop.is_set():
            if k % 10 == 0:
                pids = self._tree()
            k += 1
            total = 0
            for p in pids:
                try:
                    with open(f"/proc/{p}/statm") as f:
                        total += int(f.read().split()[1]) * page_kib
                except OSError:
                    pass
            self.peak_kib = max(self.peak_kib, total)
            self._stop.wait(0.05)


# ---------------------------------------------------------------------------
# the measured compositions


def kg_job(spark, pages_dir: str, out_dir: str, manifest_dir: str, cores: int, tracer=None):
    """scripts/run_kg_job.py's composition with --partition-by-pred."""
    from gliner_spark.operators.extract import extract_triples
    from gliner_spark.plans.manifest import RunManifest
    from gliner_spark.plans.skew import length_bucketed, salted_repartition
    from gliner_spark.sources.pages import read_pages

    import reference

    kw = reference.pipeline_kwargs()

    def transform(chunk):
        shaped = length_bucketed(salted_repartition(chunk, num_partitions=2 * cores))
        return extract_triples(shaped, min_partitions=0, **kw)

    pages = read_pages(spark, pages_dir)
    manifest = RunManifest(spark, manifest_dir, "bench")
    with tracer.span("plans.manifest.run") if tracer else nullcontext():
        return manifest.run(
            pages, tracer.wrap("plans.manifest.transform", transform) if tracer else transform,
            out_dir, n_chunks=N_CHUNKS, extra_partition_cols=("pred",),
        )


DEDUP_RUNGS = (
    ("exact", "operators.dedup.exact_duplicates"),
    ("minhash", "operators.dedup.minhash_lsh_pairs"),
    ("simhash", "operators.dedup.simhash_pairs"),
    ("components", "operators.canonicalize.connected_components"),
    ("clusters", "operators.dedup.resolve_duplicate_clusters"),
)


def dedup_job(spark, docs_dir: str, out_dir: str, tracer=None):
    """The dedup ladder; each rung is committed, then read back by the
    next (the committed-table pattern of scripts/run_corpus_prep.py)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from gliner_spark.operators.canonicalize import connected_components
    from gliner_spark.operators.dedup import (
        exact_duplicates,
        minhash_lsh_pairs,
        resolve_duplicate_clusters,
        simhash_pairs,
    )

    docs = spark.read.parquet(docs_dir)
    t: dict = {}

    def build(name):
        if name == "exact":
            return exact_duplicates(docs)
        if name == "minhash":
            return minhash_lsh_pairs(
                docs, threshold=entry.JACCARD_T, num_hashes=entry.MINHASH_K, bands=entry.MINHASH_BANDS
            )
        if name == "simhash":
            return simhash_pairs(
                docs, bits=entry.SIMHASH_BITS, bands=entry.SIMHASH_BANDS, max_hamming=entry.SIMHASH_MAXHAM
            )
        if name == "components":
            pair = lambda df, a, b: df.select(F.col(a).alias("src"), F.col(b).alias("dst"))  # noqa: E731
            edges = (
                pair(t["exact"].where("is_duplicate"), "canonical_id", "doc_id")
                .unionByName(pair(t["minhash"], "id_a", "id_b"))
                .unionByName(pair(t["simhash"], "id_a", "id_b"))
            )
            return connected_components(edges)
        return resolve_duplicate_clusters(docs, t["components"], prefer_col="n_chars")

    for name, span_name in DEDUP_RUNGS:
        path = os.path.join(out_dir, name)
        with tracer.span(span_name) if tracer else nullcontext():
            build(name).write.mode("overwrite").parquet(path)
            t[name] = spark.read.parquet(path)


def warm_up(spark, job: str, warm_pages: str) -> None:
    """Spawn one Python worker per core: the KG job's workers import the
    kernel and build the pipeline; the ladder's driver-side union-find
    hands its rows back through ``createDataFrame``, which also runs in
    Python workers."""
    cores = spark.sparkContext.defaultParallelism
    if job == "dedup":
        rows = spark.createDataFrame([(i,) for i in range(cores)], "x long")
        rows.repartition(cores).write.format("noop").mode("overwrite").save()
        return
    from gliner_spark.operators.extract import extract_triples

    import reference

    pages = spark.read.parquet(warm_pages).repartition(cores)
    extract_triples(pages, min_partitions=0, **reference.pipeline_kwargs()).write.format(
        "noop"
    ).mode("overwrite").save()


def probes(spark, b, out_dir: str, run_dir: str, tracer) -> dict:
    """Traced-run-only calls that time one layer on its own: the source
    scan, and the graph sink rewriting the committed triples."""
    from gliner_spark.sinks.graph import read_graph_table, write_graph_table
    from gliner_spark.sources.pages import read_pages

    import reference

    with tracer.span("sources.read_pages"):
        read_pages(spark, b.inp.docs_dir).write.format("noop").mode("overwrite").save()
    sink_dir = os.path.join(run_dir, "sink")
    triples = read_graph_table(spark, out_dir).select(*reference.TRIPLE_COLS)
    with tracer.span("sinks.graph.write_graph_table"):
        write_graph_table(triples, sink_dir, run_id="probe")
    files = [f for _d, _s, fs in os.walk(sink_dir) for f in fs if f.endswith(".parquet")]
    return {"sink_files": len(files)}


class Iteration:
    """One session: setup, the measured job, stop, output check. A
    ``prime`` iteration launches the JVM and warms its JIT by running the
    job ``PRIME_JOBS`` times; it is neither measured nor checked."""

    def __init__(
        self, bench, job: str = "kg", master: str | None = None, traced: bool = False, prime: bool = False
    ):
        self.bench = bench
        self.job = job
        self.prime = prime
        self.master = master or bench.master
        self.traced = traced
        self.setup_s = self.wall_s = self.stolen_s = 0.0
        self.peak_rss_mb = 0.0
        self.failed: set = set()
        self.problems: list[str] = []
        self.tracer = None
        self.event_dir = None
        self.probe: dict = {}

    def run(self) -> "Iteration":
        import tracing

        b = self.bench
        self.run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{b.next_id()}")
        out_dir = os.path.join(self.run_dir, "out")
        manifest_dir = os.path.join(self.run_dir, "manifest")
        if self.traced:
            self.tracer = tracing.Tracer(run_id=os.path.basename(self.run_dir))
            self.event_dir = os.path.join(self.run_dir, "eventlog")
        t0 = time.perf_counter()
        spark = session(self.master, b.heap_gib, self.event_dir)
        try:
            with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
                warm_up(spark, self.job, b.warm)
                t1, steal0 = time.perf_counter(), steal_s()
                docs_dir = b.inp.docs_dir
                try:
                    with self.tracer.span("job") if self.tracer else nullcontext():
                        if self.job == "dedup":
                            dedup_job(spark, docs_dir, out_dir, self.tracer)
                        else:
                            kg_job(spark, docs_dir, out_dir, manifest_dir, b.cores, self.tracer)
                except Exception:  # the job raised: every doc failed
                    traceback.print_exc(file=sys.stderr)
                    self.problems.append("job raised")
                    self.failed = set(b.inp.urls)
                t2 = time.perf_counter()
            self.setup_s, self.wall_s = t1 - t0, t2 - t1
            self.stolen_s = steal_s() - steal0
            self.peak_rss_mb = rss.peak_kib / 1024.0
            if self.traced and self.job == "kg" and not self.problems:
                self.probe = probes(spark, b, out_dir, self.run_dir, self.tracer)
            for k in range(1, PRIME_JOBS if self.prime and not self.problems else 1):
                again = os.path.join(self.run_dir, f"again-{k}")
                kg_job(spark, docs_dir, os.path.join(again, "out"), os.path.join(again, "manifest"), b.cores)
        finally:
            spark.stop()
        if not self.problems and not self.prime:
            self.check(out_dir, manifest_dir)
        if not self.traced:
            shutil.rmtree(self.run_dir, ignore_errors=True)
        return self

    def check(self, out_dir: str, manifest_dir: str) -> None:
        import reference

        b = self.bench
        if self.job == "dedup":
            doc_ids = b.inp.table.column("doc_id").to_pylist()
            self.failed, self.problems = reference.check_dedup(out_dir, b.dedup_ref(), doc_ids)
        else:
            self.failed, self.problems = reference.check_kg(out_dir, manifest_dir, b.inp.ref(), b.inp.urls)


# ---------------------------------------------------------------------------
# the benchmark


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.host = host_info()
        self.cores = self.host["nproc"]
        self.heap_gib = driver_heap_gib(self.host["mem_total_mib"])
        self.master = f"local[{self.cores}]"
        self.work = WORK
        self.inp = None
        self._id = 0
        self._dedup_ref = None

    def next_id(self) -> int:
        self._id += 1
        return self._id

    def n_docs(self) -> int:
        return self.inp.table.num_rows

    def prepare(self) -> None:
        self.inp = CachedInput(self.workload, self.seed, self.cores)
        self.warm = write_warm_inputs(self.cores)

    def dedup_ref(self) -> dict:
        if self._dedup_ref is None:
            self._dedup_ref = cached_dedup_reference(self.inp)
        return self._dedup_ref

    def measure(self) -> list[Iteration]:
        """A prime iteration, then measured ones until ``seconds`` have
        passed, at least ``MIN_ITERATIONS``."""
        self.prime = Iteration(self, prime=True).run()
        self.inp.ref()  # a reference still being computed would compete for the cores
        its: list[Iteration] = []
        t0 = time.perf_counter()
        while len(its) < MIN_ITERATIONS or time.perf_counter() - t0 < self.seconds:
            its.append(Iteration(self).run())
        return its

    def end_to_end(self, its: list[Iteration]) -> dict:
        """Medians over the iterations."""
        return {
            "setup_s": (statistics.median(i.setup_s for i in its), "s"),
            "wall_s": (statistics.median(i.wall_s for i in its), "s"),
            "docs_per_s": (statistics.median(self.n_docs() / i.wall_s for i in its), "docs/s"),
            "peak_rss_mb": (statistics.median(i.peak_rss_mb for i in its), "MiB"),
        }

    def per_layer(self) -> tuple[dict, list[Iteration]]:
        """After a prime iteration: traced, then untraced (the traced
        run's overhead is taken against it); on kg_short also a local[1]
        iteration and one traced run of the dedup ladder, whose rung
        times therefore include the JIT warm-up of its code paths."""
        import layers

        self.prime = Iteration(self, prime=True).run()
        self.inp.ref()
        traced = Iteration(self, traced=True).run()
        untraced = Iteration(self).run()
        its = [traced, untraced]
        local1 = dedup = None
        if self.workload == "kg_short":
            local1 = Iteration(self, master="local[1]").run()
            dedup = Iteration(self, job="dedup", traced=True)
            its += [local1, dedup.run()]
        metrics, failed_replay = layers.collect(self, traced, untraced, local1, dedup)
        if failed_replay:
            traced.failed |= failed_replay
            traced.problems.append(
                f"kernel replay differs from the reference on {len(failed_replay)} documents"
            )
        return metrics, its


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    missing = [n for n in ("gliner_spark", "__spark_entry__.py") if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        print(f"perfbench: the program is missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    prepare_env()
    adopt_orphans()
    bench = Bench(args.workload, args.seed, args.seconds)
    try:
        t0 = time.perf_counter()
        bench.prepare()
        prep_s = time.perf_counter() - t0
        if args.trace:
            metrics, its = bench.per_layer()
        else:
            its = bench.measure()
            metrics = bench.end_to_end(its)
    finally:
        if bench.inp is not None:
            bench.inp.close()
        stop_jvm()
        reap_children()
    attempted = bench.n_docs() * len(its)
    failed = sum(len(i.failed) for i in its)
    if args.trace:
        metrics["failed_frac"] = (failed / attempted, "ratio")
    problems = [f"iteration {k}: {msg}" for k, i in enumerate(its) for msg in i.problems]
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "host": bench.host,
        "inputs_s": round(prep_s, 3),
        "prime": {"setup_s": round(bench.prime.setup_s, 3), "wall_s": round(bench.prime.wall_s, 3)},
        "iterations": [
            {
                "job": i.job,
                "master": i.master,
                "traced": i.traced,
                "setup_s": round(i.setup_s, 3),
                "wall_s": round(i.wall_s, 3),
                "stolen_s": round(i.stolen_s, 2),
                "peak_rss_mb": round(i.peak_rss_mb, 1),
            }
            for i in its
        ],
        "failed_frac": failed / attempted,
        "problems": problems,
    }
    print(json.dumps(summary), file=sys.stderr)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
