"""Repository benchmark: the dedupe job as ``jobs/dedupe_webpages.py``
submits it, and the streaming recrawl fold, on one Spark session sized
to the machine.

Run from the repository root:

    python3 perfbench/run.py --workload web-dedupe --seed 1 --seconds 40 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, measured with tracing off;
``--trace 1`` makes a separate traced pass and reports the per-layer
metrics.  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# imported before any process starts: without the program beside the
# benchmark the run fails here, printing no result
from mismo_spark.cluster.cc import connected_components  # noqa: E402
from mismo_spark.cluster.metrics import pairwise_prf  # noqa: E402
from mismo_spark.linker.key import KeyLinker  # noqa: E402
from mismo_spark.pipeline import DedupePipeline  # noqa: E402
from mismo_spark.streaming.cluster_maint import (  # noqa: E402
    incremental_cluster_stream,
    read_assignments,
)

import inputs  # noqa: E402
from probes import LayerCounters, ProgramMeter, Tracer, descendants, tree_bytes  # noqa: E402

F1_GATE = 0.99  # the paper's pairwise-F1 gate
# local mode runs every task in the driver JVM; the inputs are a few MB
DRIVER_HEAP = "1g"
MB = 1 << 20
# a killed job is re-submitted with every checkpoint from the scoring
# stage on gone: the kill landed after the compare stage
RESUME_REMOVES = (
    "04_scored.parquet",
    "05_matches.parquet",
    "06_components.parquet",
    "cc_rounds",
    "weights.json",
)


@dataclass(frozen=True)
class BatchWorkload:
    why: str
    n_entities: int
    max_pairs_per_key: int | None


@dataclass(frozen=True)
class StreamWorkload:
    why: str
    n_entities: int
    n_drops: int
    new_per_drop: int
    mirrors_per_drop: int


WORKLOADS = {
    # the per-key pair cap is scaled with the corpus (the default 100k
    # pairs suits ~4k pages): the hottest domain's clique (~23k pairs)
    # is dropped and LSH carries its recall, while the next domains
    # (~4-8k pairs) stay in, as at production scale
    "web-dedupe": BatchWorkload(
        why="production shape: the per-key cap drops the hot-domain "
        "clique and LSH carries recall",
        n_entities=300,
        max_pairs_per_key=12_000,
    ),
    # not in BENCHMARK.json (the driver's time budget holds two
    # workloads); run it by name
    "dense-domains": BatchWorkload(
        why="no per-key cap, so hot-domain cliques enter blocking: "
        "linker and compare do most of the work",
        n_entities=300,
        max_pairs_per_key=None,
    ),
    "recrawl-stream": StreamWorkload(
        why="pre-clustered base crawl, then recrawl drops folded one per "
        "trigger by the streaming cluster maintenance",
        n_entities=400,
        n_drops=3,
        new_per_drop=90,
        mirrors_per_drop=35,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "pages_per_cpu_s": "1/s",
    "resume_cpu_s": "s",
    "peak_rss_mb": "MB",
}

LAYERS = ("pipeline", "linker", "compare", "fs", "cluster", "streaming")
GENERIC = {
    "busy_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "task_skew": "ratio",
}
SPECIFIC = {
    "records.rows": "count",
    "linker.candidate_pairs": "count",
    "linker.pairs_per_s": "1/s",
    "linker.yield": "ratio",
    "linker.recall": "ratio",
    "compare.pairs_per_s": "1/s",
    "fs.em_busy_s": "s",
    "fs.score_busy_s": "s",
    "fs.matches": "count",
    "cluster.edges": "count",
    "cluster.components": "count",
    "cluster.pairwise_f1": "ratio",
    "checkpoint.write_mb": "MB",
    "checkpoint.write_ratio": "ratio",
    "stream.batch_p50_s": "s",
    "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s",
    "stream.jobs_per_batch": "count",
    "state.bytes_per_batch": "bytes",
    "state.write_amplification": "ratio",
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}
PER_LAYER = {f"{layer}.{k}": u for layer in LAYERS for k, u in GENERIC.items()}
PER_LAYER.update(SPECIFIC)

# DedupePipeline.run's checkpointed stages and the layer each computes
STAGE_LAYER = {
    "01_records": "pipeline",
    "02_links": "linker",
    "03_compared": "compare",
    "04_scored": "fs.score",
    "05_matches": "fs.score",
    "06_components": "cluster",
}


# ---------------------------------------------------------------- session


def start_spark(work: str, trace: bool):
    """``local[nproc]`` with a heap that fits the machine.  Every file
    Spark and its workers write lands under ``work``."""
    from mismo_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["MISMO_SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = {
        "spark.default.parallelism": str(nproc),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=2 * nproc,
        extra_conf=conf,
    )


VOLATILE_CONF = ("spark.app.", "spark.driver.host", "spark.driver.port", "spark.executor.id")


def effective_conf(spark, work: str) -> dict[str, str]:
    """Spark conf minus per-process ids, ports and paths, so runs of two
    commits can be compared line by line."""
    return {
        k: v.replace(work, "<work>").replace(ROOT, "<root>")
        for k, v in sorted(spark.sparkContext.getConf().getAll())
        if not k.startswith(VOLATILE_CONF)
    }


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


# ---------------------------------------------------------------- helpers


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def assignment(df) -> dict:
    return {r["record_id"]: r["component"] for r in df.collect()}


def scored_f1(assignments, labels) -> dict:
    return pairwise_prf(assignments.join(labels, "record_id"))


def phase(meter: ProgramMeter, wall_s: float) -> dict:
    return {"wall_s": wall_s, "cpu_s": meter.cpu_s, "host_steal_s": meter.steal_s}


def median_setup(generate, reps: int = 3) -> float:
    """Median wall of ``reps`` fresh input generations."""
    return statistics.median(timed(generate)[1] for _ in range(reps))


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------- batch


class TracedPipeline(DedupePipeline):
    """``DedupePipeline`` whose stages open layer spans: the stage's own
    work, up to its parquet write, belongs to the stage's layer; reading
    the checkpoint back and the manifest's partition counts belong to
    ``pipeline``.  ``run`` itself drives the stages, so the order and
    configuration are the untraced job's."""

    tracer: Tracer

    def _stage(self, spark, name, fingerprint, compute):
        self.tracer.enter(STAGE_LAYER[name])
        return super()._stage(_CheckpointRead(spark, self.tracer), name, fingerprint, compute)

    def _train_weights(self, compared):
        self.tracer.enter("fs.em")
        return super()._train_weights(compared)


class _CheckpointRead:
    """Session proxy for ``_stage``: its first use of ``read`` follows
    the stage's write, which is where checkpoint bookkeeping starts."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self._spark = spark
        self._tracer = tracer

    @property
    def read(self):
        self._tracer.enter("pipeline")
        return self._spark.read

    def __getattr__(self, name):
        return getattr(self._spark, name)


def run_job(spark, pipe: DedupePipeline, pages, out: str, tracer: Tracer | None = None):
    """One submission: run the pipeline and write the (record_id,
    component) output, as the job script does."""
    components = pipe.run(spark, pages)
    if tracer is not None:
        tracer.enter("pipeline")
    components.write.mode("overwrite").parquet(out)
    if tracer is not None:
        tracer.exit()


def batch(spark, wl: BatchWorkload, seed: int, work: str, trace: bool, session_s: float):
    pages_path = os.path.join(work, "pages")
    n_pages = 0

    def generate():
        nonlocal n_pages
        n_pages = inputs.write_pages(fresh(pages_path), wl.n_entities, seed)

    gen_s = median_setup(generate)
    pages = spark.read.parquet(pages_path)
    labels = pages.selectExpr("url AS record_id", "label_true")
    cfg = {"max_pairs_per_key": wl.max_pairs_per_key}

    def pipe(wd):
        return DedupePipeline(work_dir=fresh(wd), **cfg)

    if trace:
        return batch_traced(spark, work, pages, labels, n_pages, pipe, cfg, pages_path)

    wd, out = os.path.join(work, "job"), os.path.join(work, "out")
    with ProgramMeter() as job:
        _, job_s = timed(lambda: run_job(spark, pipe(wd), pages, out))
    for name in RESUME_REMOVES:
        p = os.path.join(wd, name)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    resumed = os.path.join(work, "out_resumed")
    with ProgramMeter() as resume:
        _, resume_s = timed(
            lambda: run_job(spark, DedupePipeline(work_dir=wd, **cfg), pages, resumed)
        )
    first = spark.read.parquet(out)
    f1 = scored_f1(first, labels)["f1"]
    gates = [f1 >= F1_GATE, assignment(spark.read.parquet(resumed)) == assignment(first)]
    metrics = {
        "setup_s": session_s + gen_s,
        "pages_per_cpu_s": n_pages / job.cpu_s,
        "resume_cpu_s": resume.cpu_s,
        "peak_rss_mb": max(job.peak_rss, resume.peak_rss) / MB,
    }
    info = {
        "pages": n_pages,
        "session_s": session_s,
        "generate_s": gen_s,
        "job": phase(job, job_s),
        "resume": phase(resume, resume_s),
        "f1": f1,
        "gates": gates,
    }
    return metrics, len(gates), gates.count(False), info


def batch_traced(spark, work, pages, labels, n_pages, pipe, cfg, pages_path):
    """Traced job first, cold like the untraced run's job, then an
    untraced job (warm) whose assignment must be the same."""
    tracer = Tracer(spark.sparkContext)
    wd = os.path.join(work, "job_traced")
    traced = TracedPipeline(work_dir=fresh(wd), **cfg)
    traced.tracer = tracer
    traced_out = os.path.join(work, "out_traced")
    _, traced_s = timed(lambda: run_job(spark, traced, pages, traced_out, tracer))

    plain_out = os.path.join(work, "out_plain")
    _, plain_s = timed(lambda: run_job(spark, pipe(os.path.join(work, "job_plain")), pages, plain_out))
    plain = spark.read.parquet(plain_out)
    prf = scored_f1(plain, labels)
    f1 = prf["f1"]
    want = assignment(plain)

    gates = [f1 >= F1_GATE, assignment(spark.read.parquet(traced_out)) == want]
    stages = traced._load_manifest()["stages"]
    links = spark.read.parquet(os.path.join(wd, "02_links.parquet"))
    candidates = stages["02_links"]["rows"]
    matches = stages["05_matches"]["rows"]
    true_pairs = prf["true_pairs"]
    true_linked = (
        links.join(labels.toDF("record_id_l", "label_l"), "record_id_l")
        .join(labels.toDF("record_id_r", "label_r"), "record_id_r")
        .where("label_l = label_r")
        .count()
    )
    components = spark.read.parquet(traced_out).select("component").distinct().count()
    busy = tracer.busy()
    specific = {
        "records.rows": stages["01_records"]["rows"],
        "linker.candidate_pairs": candidates,
        "linker.pairs_per_s": candidates / busy["linker"],
        "linker.yield": matches / candidates,
        "linker.recall": true_linked / true_pairs,
        "compare.pairs_per_s": candidates / busy["compare"],
        "fs.em_busy_s": busy["fs.em"],
        "fs.score_busy_s": busy["fs.score"],
        "fs.matches": matches,
        "cluster.edges": matches,
        "cluster.components": components,
        "cluster.pairwise_f1": f1,
        "checkpoint.write_mb": tree_bytes(wd) / MB,
        "checkpoint.write_ratio": tree_bytes(wd) / tree_bytes(pages_path),
        "trace.traced_wall_s": traced_s,
        "trace.untraced_wall_s": plain_s,
        "trace.overhead_s": traced_s - plain_s,
    }
    info = {"pages": n_pages, "candidates": candidates, "matches": matches, "f1": f1, "gates": gates}
    return (tracer, None, specific), len(gates), gates.count(False), info


# ---------------------------------------------------------------- stream


class Recrawl:
    """One recrawl-stream pass: base clustering, then the drain."""

    def __init__(self, spark, paths: dict, work: str):
        self.spark, self.paths = spark, paths
        self.state = fresh(os.path.join(work, "state"))
        self.ckpt = fresh(os.path.join(work, "ckpt"))
        self.base_links = os.path.join(work, "base_links")
        self.base_assign = os.path.join(work, "base_assign")

    def cluster_base(self, tracer: Tracer | None = None) -> None:
        """Pre-cluster the base crawl: key links on the content
        fingerprint, then connected components."""
        base = self.spark.read.parquet(self.paths["base"])
        if tracer is not None:
            tracer.enter("linker")
        KeyLinker(["digest"], task="dedupe")(base).links.write.mode("overwrite").parquet(
            self.base_links
        )
        if tracer is not None:
            tracer.enter("cluster")
        connected_components(
            self.spark.read.parquet(self.base_links), base.select("record_id")
        ).write.mode("overwrite").parquet(self.base_assign)
        if tracer is not None:
            tracer.exit()

    def start(self):
        base = self.spark.read.parquet(self.paths["base"])
        return incremental_cluster_stream(
            self.spark,
            input_dir=self.paths["drops"],
            key_columns=["digest"],
            state_dir=self.state,
            checkpoint_dir=self.ckpt,
            corpus=base,
            initial_assignments=self.spark.read.parquet(self.base_assign),
            schema=base.schema,
            max_files_per_trigger=1,
        )

    def drain(self):
        """→ (query, progress of the batches that read a drop)."""
        q = self.start()
        q.awaitTermination()
        return q, [p for p in q.recentProgress if p.numInputRows > 0]

    def crash_inside(self, batch: int, last: int) -> None:
        """Leave the checkpoint and state as a crash inside ``batch``
        leaves them: no commit for it or later, no plan (offsets, file
        source log) for the batches after it, LATEST on the batch
        before.  A restart replays ``batch`` and then plans the rest."""
        ckpt = self.ckpt
        for b in range(batch, last + 1):
            dirs = ["commits"] + (["offsets", "sources/0"] if b > batch else [])
            for d in dirs:
                for name in (str(b), f".{b}.crc"):
                    os.remove(os.path.join(ckpt, d, name))
        with open(os.path.join(self.state, "LATEST"), "w") as f:
            f.write(f"v{batch - 1}")

    def assignment(self) -> dict:
        return assignment(read_assignments(self.spark, self.state))


def recrawl_reference(spark, paths: dict) -> dict:
    """From-scratch clustering of base plus every drop: the identity the
    streamed state must equal."""
    everything = spark.read.parquet(paths["base"]).unionByName(
        spark.read.parquet(paths["drops"])
    )
    return assignment(
        connected_components(
            KeyLinker(["digest"], task="dedupe")(everything).links,
            everything.select("record_id"),
        )
    )


def stream(spark, wl: StreamWorkload, seed: int, work: str, trace: bool, session_s: float):
    paths = {"base": os.path.join(work, "base"), "drops": os.path.join(work, "drops")}
    sizes: dict = {}

    def generate():
        fresh(paths["base"]), fresh(paths["drops"])
        sizes.update(
            inputs.write_recrawl(
                paths["base"],
                paths["drops"],
                wl.n_entities,
                seed,
                n_drops=wl.n_drops,
                new_per_drop=wl.new_per_drop,
                mirrors_per_drop=wl.mirrors_per_drop,
            )
        )

    gen_s = median_setup(generate)
    n_new = sum(sizes["drop_records"])
    if trace:
        return stream_traced(spark, work, paths, sizes)

    run = Recrawl(spark, paths, os.path.join(work, "pass"))
    _, base_s = timed(run.cluster_base)
    with ProgramMeter() as drain:
        (q, progress), drain_s = timed(run.drain)
    # killed halfway: the replay covers the crashed batch and the rest
    run.crash_inside(wl.n_drops // 2, progress[-1].batchId)
    with ProgramMeter() as replay:
        _, resume_s = timed(lambda: run.start().awaitTermination())
    ok = run.assignment() == recrawl_reference(spark, paths)
    # a wrong final state fails every micro-batch that built it
    failed = wl.n_drops - len(progress) if ok else wl.n_drops
    metrics = {
        "setup_s": session_s + gen_s + base_s,
        "pages_per_cpu_s": n_new / drain.cpu_s,
        "resume_cpu_s": replay.cpu_s,
        "peak_rss_mb": max(drain.peak_rss, replay.peak_rss) / MB,
    }
    info = {
        **sizes,
        "session_s": session_s,
        "generate_s": gen_s,
        "base_cluster_s": base_s,
        "drain": phase(drain, drain_s),
        "batch_s": [p.durationMs["triggerExecution"] / 1000 for p in progress],
        "resume": phase(replay, resume_s),
        "identity": ok,
    }
    return metrics, wl.n_drops, failed, info


def stream_traced(spark, work, paths, sizes):
    """Traced pass first, cold like the untraced run's, then an untraced
    pass (warm) whose final state must be the same."""
    tracer = Tracer(spark.sparkContext)
    run = Recrawl(spark, paths, os.path.join(work, "pass_traced"))
    t0 = time.perf_counter()
    run.cluster_base(tracer)
    tracer.enter("streaming")
    q, progress = run.drain()
    tracer.exit()
    traced_s = time.perf_counter() - t0

    plain = Recrawl(spark, paths, os.path.join(work, "pass_plain"))
    _, plain_s = timed(lambda: (plain.cluster_base(), plain.drain()))
    want = plain.assignment()

    gates = [want == recrawl_reference(spark, paths), run.assignment() == want]
    base = spark.read.parquet(paths["base"])
    base_labels = base.select("record_id", "label_true")
    labels = base_labels.unionByName(
        spark.read.parquet(paths["drops"]).select("record_id", "label_true")
    )
    links = spark.read.parquet(run.base_links)
    candidates = links.count()
    true_pairs = scored_f1(spark.read.parquet(run.base_assign), base_labels)["true_pairs"]
    true_linked = (
        links.join(base_labels.toDF("record_id_l", "label_l"), "record_id_l")
        .join(base_labels.toDF("record_id_r", "label_r"), "record_id_r")
        .where("label_l = label_r")
        .count()
    )
    drop_bytes = {
        i: os.path.getsize(os.path.join(paths["drops"], f))
        for i, f in enumerate(sorted(os.listdir(paths["drops"])))
    }
    state_bytes = {
        p.batchId: sum(
            tree_bytes(os.path.join(run.state, kind, f"v{p.batchId}"))
            for kind in ("assignments", "records")
        )
        for p in progress
    }
    input_bytes = tree_bytes(paths["base"]) + tree_bytes(paths["drops"])
    written = tree_bytes(run.state) + tree_bytes(run.ckpt)
    busy = tracer.busy()

    def p50(key):
        return statistics.median(p.durationMs[key] / 1000 for p in progress)

    specific = {
        "records.rows": base.count(),
        "linker.candidate_pairs": candidates,
        "linker.pairs_per_s": candidates / busy["linker"],
        # every key link is a match: there is no scorer on this path
        "linker.yield": 1.0,
        "linker.recall": true_linked / true_pairs,
        "cluster.edges": candidates,
        "cluster.components": len(set(want.values())),
        "cluster.pairwise_f1": scored_f1(read_assignments(spark, run.state), labels)["f1"],
        "checkpoint.write_mb": written / MB,
        "checkpoint.write_ratio": written / input_bytes,
        "stream.batch_p50_s": p50("triggerExecution"),
        "stream.add_batch_s": p50("addBatch"),
        "stream.wal_commit_s": p50("walCommit"),
        "state.bytes_per_batch": statistics.median(state_bytes.values()),
        "state.write_amplification": statistics.median(
            state_bytes[b] / drop_bytes[b] for b in state_bytes
        ),
        "trace.traced_wall_s": traced_s,
        "trace.untraced_wall_s": plain_s,
        "trace.overhead_s": traced_s - plain_s,
    }
    info = {**sizes, "candidates": candidates, "gates": gates}
    return (tracer, str(q.id), specific), len(gates), gates.count(False), info


# ---------------------------------------------------------------- main


def layer_metrics(tracer: Tracer, counters: LayerCounters, specific: dict) -> dict:
    busy = tracer.busy()
    out = {}
    for layer in LAYERS:
        c = counters.layer(layer)
        c["busy_s"] = busy.get(layer, 0.0)
        out.update({f"{layer}.{k}": c[k] for k in GENERIC})
    if "streaming" in counters.groups:
        out["stream.jobs_per_batch"] = counters.jobs_per_batch
    out.update(specific)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds",
        type=int,
        default=30,
        help="nominal measuring time: a run measures a fixed amount of "
        "work, sized to take about this long on 4 cores",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload]

    work = fresh(
        os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    )
    try:
        spark, session_s = timed(lambda: start_spark(work, trace))
        try:
            conf = effective_conf(spark, work)
            kind = batch if isinstance(wl, BatchWorkload) else stream
            result, attempted, failed, info = kind(
                spark, wl, args.seed, work, trace, session_s
            )
        finally:
            stop_spark(spark)
        if trace:
            tracer, query_id, specific = result
            (log,) = os.listdir(os.path.join(work, "eventlog"))
            counters = LayerCounters(os.path.join(work, "eventlog", log), query_id)
            values = {k: 0.0 for k in PER_LAYER}
            values.update(layer_metrics(tracer, counters, specific))
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("spark_conf " + json.dumps(conf, sort_keys=True))
    print(f"workload {args.workload} seed {args.seed}: " + json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
