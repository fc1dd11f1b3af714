"""Entity-resolution benchmark: one workload per invocation.

    python3 erbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout.  Set-up generates the workload's inputs
from --seed and writes them to parquet, starts a local[2] Spark session and
warms it up; the timed region then drives the program's public entry points
(`plans.pipeline.run_pipeline`, `streaming.ingest.start_incremental_er_stream`)
for about --seconds; every output is checked afterwards.  The last line of
stdout is one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with --trace 0, the per-layer ledger with --trace 1).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from math import comb
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

WORKLOADS = ("crawl", "incremental")
CORES = 2  # pinned: local[2], two shuffle partitions
# the whole process tree (driver, JVM, Python workers) is held to this many
# CPUs, so the JVM's own threads have room beside the two task threads
# without the run spreading over every CPU of a shared host
CPUS = 3
HEAP = "2g"
# per-workload input sizes; "tiny" is the smoke-test scale
SIZES = {
    "full": {
        "crawl": {"pages": 1000},
        "incremental": {"pages_per_drop": 300},
    },
    "tiny": {
        "crawl": {"pages": 200},
        "incremental": {"pages_per_drop": 40},
    },
}
# --seconds buys a fixed amount of work, so every run of a workload does the
# same work: one pipeline run per 10 s, one drop per 4 s
SECONDS_PER_OP = {"crawl": 10.0, "incremental": 4.0}
MIN_F1 = 0.99


def log(obj) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)


# -- session -------------------------------------------------------------------
def start_spark(work: Path, event_log: Path | None):
    from berkeley_entity_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        # no web UI: one server and its threads fewer beside the measured work
        "spark.ui.enabled": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a heap fixed at its full size and touched at start: peak RSS then
        # does not depend on how much of it the collector happened to use
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        # the package's own path for the Python workers, wherever the
        # benchmark is started from
        "spark.executorEnv.PYTHONPATH": str(REPO),
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark defaults to zstd; the event log is read back here
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": str(event_log),
            }
        )
    spark = get_spark(
        app_name="erbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    from erbench import proctree

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in proctree.descendants()[1:]:
        try:
            os.kill(pid, 15)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while len(proctree.descendants()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# -- batch workloads -----------------------------------------------------------
def pipeline_once(spark, corpus, ckpt: Path):
    from berkeley_entity_spark.config import PipelineConfig
    from berkeley_entity_spark.plans.checkpoint import CheckpointStore
    from berkeley_entity_spark.plans.pipeline import run_pipeline

    shutil.rmtree(ckpt, ignore_errors=True)
    pages = spark.read.parquet(corpus.pages_dir)
    numgender = spark.read.parquet(str(ckpt.parent / "numgender"))
    return run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=str(ckpt)),
        store=CheckpointStore(str(ckpt)), resume=False, numgender=numgender,
    )


def write_numgender(spark, work: Path) -> None:
    """The number/gender count table, handed to run_pipeline as a file."""
    from berkeley_entity_spark.synth import generate_numgender

    generate_numgender(spark).write.parquet(str(work / "numgender"))


def run_batch(spark, corpus, work: Path, runs: int):
    """Closed loop: `runs` pipeline runs back to back."""
    from erbench import proctree

    walls, cpus, ckpts, errors = [], [], [], 0
    with proctree.PeakRss() as rss:
        for i in range(runs):
            ckpt = work / f"ckpt{i}"
            c0, t0 = proctree.cpu_seconds(), time.monotonic()
            try:
                pipeline_once(spark, corpus, ckpt)
            except Exception as e:  # one failed operation; keep measuring
                log({"error": repr(e)[:500]})
                errors += 1
                continue
            walls.append(time.monotonic() - t0)
            cpus.append(proctree.cpu_seconds() - c0)
            ckpts.append(ckpt)
    return walls, cpus, ckpts, errors, rss.peak


def check_batch(spark, corpus, ckpts: list[Path], store: Path, key: str):
    """Per pipeline run: the mention count equals the gold en mention count
    and the clusters equal those of every earlier run of the same seed
    (fingerprints persist in `store` across runs).  Pairwise F1 on the gold
    labeled pairs must reach MIN_F1; identical clusters give identical F1,
    so it is computed once."""
    from pyspark.sql import functions as F

    from berkeley_entity_spark.evaluate import pairwise_f1_on_labeled
    from berkeley_entity_spark.synth import gold_pair_table, gold_with_ids

    known = json.loads(store.read_text()) if store.exists() else {}
    ok = []
    for ckpt in ckpts:
        with open(ckpt / "mentions._DONE") as f:
            n_mentions = json.load(f)["rows"]
        fp = spark.read.parquet(str(ckpt / "clusters")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("mention_id", "cluster_id") % 1_000_000_007).alias("h"),
        ).collect()[0]
        fp = [fp["n"], fp["h"]]
        ok.append(n_mentions == corpus.n_en_mentions and known.setdefault(key, fp) == fp)
    store.write_text(json.dumps(known))
    gold = gold_with_ids(spark.read.parquet(corpus.gold_dir).where(F.col("lang") == "en"))
    gold_pairs = gold_pair_table(gold).cache()
    f1 = pairwise_f1_on_labeled(
        gold_pairs, spark.read.parquet(str(ckpts[0] / "clusters"))
    )["f1"]
    failed = len(ok) if f1 < MIN_F1 else ok.count(False)
    return f1, failed, gold_pairs


def batch_ratios(spark, corpus, ckpt: Path, gold_pairs) -> dict:
    from berkeley_entity_spark.evaluate import blocking_recall

    from erbench.workloads import dir_bytes

    mentions = spark.read.parquet(str(ckpt / "mentions"))
    pairs = spark.read.parquet(str(ckpt / "candidate_pairs"))
    scored = spark.read.parquet(str(ckpt / "scored_pairs"))
    n_surfaces = mentions.select("norm_name").distinct().count()
    n_scored = scored.count()
    stage_bytes = sum(
        dir_bytes(str(ckpt / t))
        for t in ("mentions", "candidate_pairs", "scored_pairs", "clusters")
    )
    return {
        "blocking.pairs_per_surface": pairs.count() / max(1, n_surfaces),
        "blocking.recall": blocking_recall(gold_pairs, mentions, pairs),
        "scoring.edge_rate": scored.where("score > 0").count() / max(1, n_scored),
        "checkpoint.write_amp": stage_bytes / corpus.input_bytes,
    }


# -- incremental workload ------------------------------------------------------
def stream_dirs(root: Path) -> dict:
    return {k: str(root / k) for k in ("state", "pairs", "assign", "ckpt")}


def drain(spark, drops, root: Path):
    from berkeley_entity_spark.streaming.ingest import start_incremental_er_stream

    d = stream_dirs(root)
    q = start_incremental_er_stream(
        spark, drops.input_dir, d["state"], d["pairs"], d["assign"], d["ckpt"]
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def run_incremental(spark, drops, work: Path):
    """The staged backlog drained by one availableNow query: one drop per
    micro-batch, each starting after the previous one commits."""
    from erbench import proctree

    root = work / "stream"
    with proctree.PeakRss() as rss:
        c0 = proctree.cpu_seconds()
        progress = drain(spark, drops, root)
        cpu = proctree.cpu_seconds() - c0
    return progress, cpu, rss.peak, root


def _components(edges) -> dict[int, int]:
    """Reference union-find: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def check_incremental(spark, drops, root: Path):
    """The last snapshot equals connected components over every emitted
    pair (the exactness claim of start_incremental_er_stream); pairwise F1
    against the revision-of gold (a re-crawl belongs with its original)."""
    from pyspark.sql import functions as F

    d = stream_dirs(root)
    pairs = spark.read.parquet(d["pairs"]).select(
        F.xxhash64("id_a").alias("u"), F.xxhash64("id_b").alias("v")
    ).toPandas()
    want = _components(zip(pairs["u"].tolist(), pairs["v"].tolist()))
    snaps = spark.read.parquet(d["assign"])
    last = snaps.agg(F.max("batch_id")).collect()[0][0]
    snap = snaps.where(F.col("batch_id") == last).toPandas()
    got = dict(zip(snap["doc_id"].tolist(), snap["cluster_id"].tolist()))
    exact = got == want and len(got) > 0

    ids = spark.read.parquet(drops.input_dir).select(
        "url", F.xxhash64("url").alias("h")
    ).toPandas()
    pred = {u: got.get(h, h) for u, h in zip(ids["url"], ids["h"])}
    both = Counter((pred[u], drops.origin[u]) for u in pred)
    tp = sum(comb(n, 2) for n in both.values())
    n_pred = sum(comb(n, 2) for n in Counter(pred.values()).values())
    n_gold = sum(comb(n, 2) for n in Counter(drops.origin[u] for u in pred).values())
    f1 = 2 * tp / (n_pred + n_gold) if n_pred + n_gold else 1.0
    return exact, f1, last + 1


# -- main ----------------------------------------------------------------------
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    args = ap.parse_args(argv)
    allowed = sorted(os.sched_getaffinity(0))
    if len(allowed) > CPUS:  # inherited by every process started below
        os.sched_setaffinity(0, allowed[:CPUS])
    spec = json.loads((REPO / "BENCHMARK.json").read_text())

    from erbench import proctree, workloads as W
    from erbench.ledger import KINDS, Tracer, fold

    state = Path.cwd() / ".erbench_work"
    work = state / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # scratch space stays inside the checkout; the environment variable
    # would override spark.local.dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    size = SIZES[args.size][args.workload]
    incremental = args.workload == "incremental"
    n_ops = max(2 if incremental else 1, round(args.seconds / SECONDS_PER_OP[args.workload]))
    spin_before = proctree.spin_seconds()

    # -- set-up: inputs to parquet, session, warm-up on another seed's input
    # of the same size, so the JIT sees the row counts the timed region will
    marks = [time.monotonic()]
    if incremental:
        inputs = W.rolling_crawl(str(work / "in"), args.seed, n_ops, size["pages_per_drop"])
        warm = W.rolling_crawl(
            str(work / "warm-in"), args.seed + 1, 2, size["pages_per_drop"]
        )
    else:
        inputs = W.crawl(str(work / "in"), args.seed, size["pages"])
        warm = W.crawl(str(work / "warm-in"), args.seed + 1, size["pages"])
    marks.append(time.monotonic())
    event_log = work / "eventlog" if args.trace else None
    spark = start_spark(work, event_log)
    marks.append(time.monotonic())
    try:
        # the first run of each plan pays JIT and code generation
        if incremental:
            drain(spark, warm, work / "warm")
        else:
            write_numgender(spark, work)
            pipeline_once(spark, warm, work / "warm")
        marks.append(time.monotonic())
        log({"setup": dict(zip(("inputs_s", "session_s", "warmup_s"),
                               (b - a for a, b in zip(marks, marks[1:]))))})

        # -- timed region
        tracer = Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        t0_ms = time.time() * 1000
        steal0 = proctree.steal_seconds()
        if incremental:
            progress, cpu, peak, root = run_incremental(spark, inputs, work)
            attempted = len(progress)
            lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
            pages_per_s = statistics.median(size["pages_per_drop"] / s for s in lat)
            cpu_s = cpu / max(1, attempted)
        else:
            walls, cpus, ckpts, errors, peak = run_batch(spark, inputs, work, n_ops)
            attempted = n_ops
            lat = walls
            pages_per_s = statistics.median(inputs.n_pages / w for w in walls)
            cpu_s = statistics.median(cpus)
        t1_ms = time.time() * 1000
        steal_s = proctree.steal_seconds() - steal0
        if tracer:
            tracer.uninstall()

        # -- correctness
        t_check = time.monotonic()
        if incremental:
            exact, f1, n_batches = check_incremental(spark, inputs, root)
            failed = 0 if exact and n_batches == n_ops else attempted
            log({"check": "incremental", "exact": exact, "batches": n_batches,
                 "drops": n_ops, "pairwise_f1": f1})
        else:
            key = f"{args.workload}:{args.size}:{args.seed}"
            f1, failed, gold_pairs = check_batch(spark, inputs, ckpts, state / "fingerprints.json", key)
            failed += errors
            log({"check": args.workload, "pairwise_f1": f1, "runs": len(ckpts),
                 "failed": failed, "gold_en_mentions": inputs.n_en_mentions})
        log({"samples": {"batch_p50_s": len(lat)}, "latency_s": lat,
             "steal_s": steal_s, "check_s": time.monotonic() - t_check})

        if not args.trace:
            metrics = {
                "pages_per_s": pages_per_s,
                "cpu_s": cpu_s,
                "peak_rss_mb": peak / 1e6,
                "setup_s": marks[-1] - marks[0],
                "pairwise_f1": f1,
                "batch_p50_s": statistics.median(lat),
            }
        else:
            led = fold(str(event_log), tracer, t0_ms, t1_ms)
            share = led["task_s_attributed"] / led["task_s_total"] if led["task_s_total"] else 1.0
            for layer, row in sorted(led["layers"].items()):
                log({"layer": layer, **{k: v / n_ops for k, v in row.items() if v}})
            log({"ledger": "reconcile", "task_s_total": led["task_s_total"] / n_ops,
                 "attributed_share": share, "operations": n_ops})
            metrics = {
                f"{layer}.{kind}": row.get(kind, 0) / n_ops
                for layer, row in led["layers"].items()
                for kind in KINDS
            }
            if incremental:
                metrics["ingest.snapshot_mb_per_batch"] = (
                    W.dir_bytes(stream_dirs(root)["assign"]) / 1e6 / max(1, attempted)
                )
            else:
                metrics.update(batch_ratios(spark, inputs, ckpts[-1], gold_pairs))
                metrics["extract.passes"] = led["extract_input_rows"] / (inputs.n_en_pages * n_ops)
            metrics["ledger.unattributed_task_s"] = metrics.get("unattributed.task_s", 0)
            metrics["ledger.attributed_share"] = share
            metrics["traced.pages_per_s"] = pages_per_s
    finally:
        t_stop = time.monotonic()
        stop_spark(spark)
        stop_s = time.monotonic() - t_stop
        shutil.rmtree(work, ignore_errors=True)
    log({"calibration": {"spin_before_s": spin_before, "spin_after_s": proctree.spin_seconds()},
         "stop_s": stop_s})
    # a layer the workload never enters reads 0
    out = _select(spec["per_layer" if args.trace else "end_to_end"], metrics)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def _select(declared: list[dict], values: dict) -> dict:
    """The metrics BENCHMARK.json declares, in its order, with its units."""
    return {
        m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for m in declared
    }


if __name__ == "__main__":
    sys.exit(main())
