"""kgforge benchmark: cold KG builds and related-entity queries on local[nproc].

    python3 perfbench/run.py --workload build|query --seed N --seconds S --trace 0|1

Run from the repository root; the benchmark imports ``kgforge`` from the
directory above this one and fails (exit code 2, no result line) when it
is not there. It writes only under ``.perfbench_work/`` in that directory
and removes its run directory on exit.

Each workload is a closed loop with one client in one driver process:

- ``build``: one operation is a cold ``pipeline.run_kg`` of a seeded
  corpus into a fresh output directory.
- ``query``: set-up builds a KG; one operation is one
  ``pipeline.related_entities`` call (plus collecting its rows) for a
  seed entity drawn from the workload seed among entities in the
  co-mention graph.

The warm-up pass in set-up is the workload's own operation on the same
input (builds of the run's corpus, queries for the first seeds), so timed
operations have untimed repeats to be checked against. The loop
runs operations until ``--seconds`` have passed, at least one. Outputs
are checked after the loop, outside the timed window; an operation whose
check fails counts as failed.

With ``--trace 0`` the result holds the end-to-end metrics. With
``--trace 1`` the same set-up and timed loop run in a session that writes
Spark's event log, followed by one traced operation that replays the same
call with spans around each layer (see ``spans.py``); the result holds the
per-layer metrics. The last stdout line is the result JSON; the line
before it carries run context (host load, latencies, check details).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Partitions of every table run_kg writes. Fixed rather than derived from
# the core count: triple lineage fingerprints are per partition, so a
# seed's fingerprint must not depend on the host.
N_PARTS = 8
DRIVER_MEM = "2g"
# Warm-up operations in set-up. The first build in a fresh JVM runs ~3x
# slower than a warm one and the next still ~25% slower while the JVM
# compiles hot paths; the first query runs ~30% slower. Timing starts after
# the warm-up.
WARMUP_BUILDS = 2
WARMUP_QUERIES = 2
# Input sizes. "full" is what the benchmark measures; "tiny" exists for
# perfbench/test_perfbench.py, which checks metric names and correctness
# checks without a full-size run.
SIZES = {
    "full": {"corpus_files": 400, "n_top": 25},
    "tiny": {"corpus_files": 60, "n_top": 5},
}
N_QUERY_SEEDS = 64
PR_MIN = 0.95  # mention precision/recall floor against kgforge.oracle

END_TO_END_UNITS = {"setup_s": "s", "op_p50_rel": "ratio", "peak_rss_mb": "MiB"}
# Host speed drifts by tens of percent over minutes on shared hosts, and
# every operation's latency drifts with it. The gated latency is therefore
# relative: the median operation time over the median time of a fixed job
# mix (reference_s) measured REFERENCE_REPS times before and after the loop
# in the same run. The raw seconds are reported by the traced run.
REFERENCE_REPS = 2


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from spans import GENERIC, TASK_LAYERS

    generic_unit = {
        "wall_s": "s", "self_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
        "idle_s": "s", "jobs": "count", "tasks": "count", "failed_tasks": "count",
        "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    }
    units = {f"{l}.{m}": generic_unit[m] for l in TASK_LAYERS for m in GENERIC}
    units.update({
        "session.wall_s": "s",
        "session.cached_bytes": "bytes",
        "extract.files": "count",
        "extract.mentions": "count",
        "extract.files_per_s": "1/s",
        "materialize.rows_written": "count",
        "materialize.files_written": "count",
        "materialize.bytes_written": "bytes",
        "lineage.resume_s": "s",
        "link.surfaces": "count",
        "link.candidate_pairs": "count",
        "link.edges": "count",
        "link.max_block": "count",
        "link.yield": "ratio",
        "canon.active_vertices": "count",
        "canon.rounds": "count",
        "canon.components": "count",
        "triples.emitted": "count",
        "triples.distinct": "count",
        "triples.dedup_ratio": "ratio",
        "graph.pairs_s": "s",
        "graph.ppr_s": "s",
        "graph.nodes": "count",
        "graph.edges": "count",
        "e2e.op_p50_s": "s",
        "e2e.reference_s": "s",
        "e2e.triples_per_s": "triples/s",
        "e2e.op_tail_s": "s",
        "e2e.op_tail_pct": "%",
        "e2e.op_samples": "count",
        "trace.overhead_s": "s",
        "host.nproc": "count",
        "host.load1_start": "load",
        "host.load1_end": "load",
    })
    return units


# -- helpers ------------------------------------------------------------------


def cached_bytes(spark) -> int:
    """Storage memory + disk held by cached and checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# SQL settings the host reference runs under, pinned in a session of its
# own so that a change to kgforge's session defaults cannot move it
REFERENCE_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def reference_s(spark, reps: int) -> list[float]:
    """Wall times of a fixed Spark job mix that runs no kgforge code (small
    jobs, a shuffle join, a pandas UDF): how fast this host is at the
    moment for the kind of work the operations are made of."""
    from pyspark.sql import functions as F

    ref = spark.newSession()
    for k, v in REFERENCE_SQL_CONF.items():
        ref.conf.set(k, v)
    df = ref.range(0, 50_000, 1, 8).selectExpr("id % 997 AS k", "id AS v")

    def double(batches):
        for pdf in batches:
            yield pdf.assign(v=pdf.v * 2)

    times = []
    for _ in range(reps):
        t = time.perf_counter()
        agg = df.groupBy("k").agg(F.sum("v").alias("s"))
        df.join(agg, "k").groupBy((F.col("k") % 7).alias("g")).count().collect()
        df.mapInPandas(double, df.schema).agg(F.max("v")).collect()
        times.append(time.perf_counter() - t)
    return times


def triple_fingerprint(spark, kg_dir: str) -> tuple[str, int]:
    """(sha256 of the committed triple lineage rows, committed triples).
    The lineage rows hold one order-insensitive fingerprint per triple
    partition, written by the program itself."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(f"{kg_dir}/lineage")
        .filter(F.col("stage") == "triples")
        .select("part_id", "n_rows", "fingerprint")
        .collect()
    )
    blob = ";".join(f"{r.part_id}:{r.n_rows}:{r.fingerprint}" for r in sorted(rows))
    return hashlib.sha256(blob.encode()).hexdigest()[:16], sum(r.n_rows for r in rows)


def mention_prf(spark, kg_dir: str, golden: set) -> tuple[float, float]:
    """Span precision and recall of the committed mention table against
    the frozen oracle's golden set for the same corpus."""
    from kgforge.oracle import span_prf

    got = {
        (r.repo, r.path, r.commit, r.entity_type, r.start, r.end, r.surface)
        for r in spark.read.parquet(f"{kg_dir}/mentions")
        .select("repo", "path", "commit", "entity_type", "start", "end", "surface")
        .collect()
    }
    p, r, _ = span_prf(golden, got)
    return p, r


def stop_session(spark) -> int:
    """Stop Spark, close the gateway JVM and wait until the JVM and every
    Python worker it started have exited. Returns processes killed."""
    from pyspark import SparkContext

    from probes import descendants, wait_gone

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return wait_gone(pids)


# -- workloads ----------------------------------------------------------------


class Build:
    """Cold ``run_kg`` of one seeded corpus, each into a fresh directory."""

    def __init__(self, work: Path, seed: int, size: dict):
        self.spark = None  # set once the session is up
        self.work, self.seed, self.size = work, seed, size
        self.src = str(work / "src")
        self.rows: list[dict] = []
        self.outs = [str(work / f"kg-warm{k}") for k in range(WARMUP_BUILDS)]
        self.triples = 0

    def make_inputs(self, n_files: int) -> None:
        import corpus

        self.rows = corpus.source_rows(self.seed, self.size["corpus_files"])
        corpus.write_source_files(self.rows, Path(self.src), n_files)

    def setup(self) -> dict:
        from kgforge.pipeline import run_kg

        t = time.perf_counter()
        for out in self.outs:
            run_kg(self.spark, self.spark.read.parquet(self.src), out, N_PARTS)
        return {"warmup_s": time.perf_counter() - t}

    def op(self, k: int) -> None:
        from kgforge import pipeline

        out = str(self.work / f"kg-{k}")
        self.outs.append(out)
        pipeline.run_kg(self.spark, self.spark.read.parquet(self.src), out, N_PARTS)

    def check(self, n_ops: int) -> tuple[list[bool], dict]:
        """Per build, warm-up builds included: its triple fingerprint equals
        the first warm-up build's, the table holds distinct triples only,
        and mention precision and recall against the oracle reach PR_MIN."""
        from kgforge.oracle import reference_mentions_for_rows

        golden = reference_mentions_for_rows(self.rows)
        fps, detail = [], {"ops": []}
        for out in self.outs[: WARMUP_BUILDS + n_ops]:
            try:
                fp, n = triple_fingerprint(self.spark, out)
                table = self.spark.read.parquet(f"{out}/triples")
                n_table = table.count()
                n_distinct = table.select("subj", "pred", "obj").distinct().count()
                p, r = mention_prf(self.spark, out, golden)
            except Exception:
                traceback.print_exc()
                fp, n, n_table, n_distinct, p, r = None, 0, -1, -2, 0.0, 0.0
            fps.append(fp)
            detail["ops"].append({
                "fingerprint": fp, "triples": n, "table_rows": n_table,
                "distinct_rows": n_distinct, "precision": p, "recall": r,
            })
        ok = [
            d["fingerprint"] is not None
            and d["fingerprint"] == fps[0]
            and d["triples"] > 0
            and d["table_rows"] == d["distinct_rows"] == d["triples"]
            and d["precision"] >= PR_MIN
            and d["recall"] >= PR_MIN
            for d in detail["ops"]
        ]
        if not all(ok[:WARMUP_BUILDS]):  # the references for every timed build
            ok = [False] * len(ok)
        self.fingerprint = fps[0]
        self.triples = detail["ops"][0]["triples"]
        return ok[WARMUP_BUILDS:], detail

    def traced_op(self, tracer) -> tuple[bool, dict]:
        """One run_kg with layer spans, then the resume short-circuit."""
        from kgforge import pipeline

        import layers

        out = str(self.work / "kg-traced")
        layers.install_build(tracer)
        try:
            t = time.perf_counter()
            with tracer.span("pipeline", "run_kg"):
                pipeline.run_kg(self.spark, self.spark.read.parquet(self.src), out, N_PARTS)
            traced_s = time.perf_counter() - t
        finally:
            tracer.restore()
        t = time.perf_counter()
        pipeline.run_kg(self.spark, self.spark.read.parquet(self.src), out, N_PARTS)
        resume_s = time.perf_counter() - t
        fp, _ = triple_fingerprint(self.spark, out)
        return fp == self.fingerprint, {
            "traced_s": traced_s, "resume_s": resume_s, "fingerprint": fp,
        }


class Query:
    """``related_entities`` for seeded entities of one prebuilt KG."""

    triples = 0  # queries commit no triples

    def __init__(self, work: Path, seed: int, size: dict):
        self.spark = None  # set once the session is up
        self.work, self.seed, self.size = work, seed, size
        self.src = str(work / "src")
        self.kg = str(work / "kg")
        self.seeds: list[str] = []
        self.warm: list[list[tuple]] = []
        self.results: dict[int, list[tuple]] = {}

    def make_inputs(self, n_files: int) -> None:
        import corpus

        corpus.write_source_files(
            corpus.source_rows(self.seed, self.size["corpus_files"]), Path(self.src), n_files
        )

    def paths(self):
        from kgforge.pipeline import KGPaths

        return KGPaths(f"{self.kg}/mentions", f"{self.kg}/triples", f"{self.kg}/lineage")

    def _query(self, seed: str) -> list[tuple]:
        from kgforge.pipeline import related_entities

        rows = related_entities(
            self.spark, self.paths(), [seed], n_top=self.size["n_top"]
        ).collect()
        return [(r.entity, r.degree, r.rank_scaled, r.is_seed) for r in rows]

    def setup(self) -> dict:
        import corpus
        from kgforge.pipeline import run_kg

        t = time.perf_counter()
        run_kg(self.spark, self.spark.read.parquet(self.src), self.kg, N_PARTS)
        build_s = time.perf_counter() - t
        # choosing seeds reads the built KG; it is benchmark work, so it is
        # left out of the set-up time
        self.seeds = corpus.draw_query_seeds(
            corpus.comention_entities(self.spark, self.kg), self.seed, N_QUERY_SEEDS
        )
        t = time.perf_counter()
        self.warm = [self._query(seed) for seed in self.seeds[:WARMUP_QUERIES]]
        return {"kg_build_s": build_s, "warmup_s": time.perf_counter() - t}

    def op(self, k: int) -> None:
        self.results[k] = self._query(self.seeds[k % len(self.seeds)])

    def check(self, n_ops: int) -> tuple[list[bool], dict]:
        """Per timed operation: ``n_top`` rows with exactly the seed marked;
        the first WARMUP_QUERIES repeat the warm-up queries' seeds and must
        rank identically."""
        ok = []
        for k in range(n_ops):
            seed = self.seeds[k % len(self.seeds)]
            rows = self.results.get(k, [])
            marked = [r[0] for r in rows if r[3]]
            good = len(rows) == self.size["n_top"] and marked == [seed]
            if k < WARMUP_QUERIES:
                good = good and rows == self.warm[k]
            ok.append(good)
        return ok, {"seeds": self.seeds[:n_ops]}

    def traced_op(self, tracer) -> tuple[bool, dict]:
        import layers

        layers.install_query(tracer)
        try:
            t = time.perf_counter()
            with tracer.span("pipeline", "related_entities"):
                rows = self._query(self.seeds[0])
            traced_s = time.perf_counter() - t
        finally:
            tracer.restore()
        return rows == self.warm[0], {"traced_s": traced_s}


WORKLOADS = {"build": Build, "query": Query}


# -- main -----------------------------------------------------------------------


def parse_args(argv: list[str] | None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    return ap.parse_args(argv)


def run(args, work: Path) -> tuple[dict, dict]:
    """Returns (result, context)."""
    import probes
    from kgforge.session import get_spark

    n_cpu = probes.nproc()
    ctx: dict = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "nproc": n_cpu, "loadavg_start": probes.loadavg(),
    }
    size = SIZES[args.size]
    event_dir = work / "events"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        event_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    wl = WORKLOADS[args.workload](work, args.seed, size)
    wl.make_inputs(2 * n_cpu)

    t0 = time.perf_counter()
    # two shuffle partitions per core, the local-mode sizing kgforge.session
    # recommends; the driver heap is sized for these small inputs
    os.environ["KGFORGE_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark(master=f"local[{n_cpu}]", app_name=f"perfbench-{args.workload}",
                      shuffle_partitions=2 * n_cpu, extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        phases = wl.setup()
        setup_s = session_s + sum(phases.values())
        ctx["setup_phases_s"] = {"session_s": session_s, **phases}
        spark.catalog.clearCache()
        ref = reference_s(spark, REFERENCE_REPS)

        lat, held = [], []
        with probes.PeakRss() as rss:
            start = time.perf_counter()
            k = 0
            while k == 0 or time.perf_counter() - start < args.seconds:
                t = time.perf_counter()
                try:
                    wl.op(k)
                except Exception:  # a failed operation; its check fails too
                    traceback.print_exc()
                lat.append(time.perf_counter() - t)
                held.append(cached_bytes(spark))
                spark.catalog.clearCache()
                k += 1
        n_ops = k
        ref += reference_s(spark, REFERENCE_REPS)
        ctx["reference_s"] = ref
        ref_s = statistics.median(ref)
        verdicts, detail = wl.check(n_ops)
        failed = sum(1 for v in verdicts if not v)
        ctx["op_latencies_s"] = lat
        ctx["checks"] = detail
        ctx["cached_bytes_after_ops"] = held

        tail_v, tail_pct = probes.tail(lat)
        p50 = statistics.median(lat)
        metrics = {
            "setup_s": setup_s,
            "op_p50_rel": p50 / ref_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        ctx["op_tail"] = {"value_s": tail_v, "percentile": tail_pct, "samples": n_ops}

        if args.trace:
            import spans

            tracer = spans.Tracer(spark)
            try:
                same, tdetail = wl.traced_op(tracer)
            except Exception:
                traceback.print_exc()
                same, tdetail = False, {"traced_s": float("nan")}
            ctx["traced"] = tdetail
            n_ops += 1  # the traced replay is one more attempted operation
            failed += 0 if same else 1
            layer = {
                "session.wall_s": session_s,
                "session.cached_bytes": max(held),
                "lineage.resume_s": tdetail.get("resume_s", 0.0),
                "e2e.op_p50_s": p50,
                "e2e.reference_s": ref_s,
                "e2e.triples_per_s": wl.triples / p50,
                "e2e.op_tail_s": tail_v,
                "e2e.op_tail_pct": tail_pct,
                "e2e.op_samples": len(lat),
                "trace.overhead_s": tdetail["traced_s"] - p50,
                "host.nproc": n_cpu,
            }
    finally:
        ctx["processes_killed"] = stop_session(spark)

    ctx["loadavg_end"] = probes.loadavg()
    if args.trace:
        import layers
        import spans

        layer = {**spans.layer_metrics(tracer, event_dir),
                 **layers.boundary_metrics(tracer), **layer}
        layer["host.load1_start"] = float(ctx["loadavg_start"].split()[0])
        layer["host.load1_end"] = float(ctx["loadavg_end"].split()[0])
        units = per_layer_units()
        missing = set(units) - set(layer)
        if missing:
            raise RuntimeError(f"per-layer metrics not produced: {sorted(missing)}")
        out = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    result = {
        "correct": failed == 0,
        "attempted": n_ops,
        "failed": failed,
        "metrics": out,
    }
    return result, ctx


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kgforge" / "__init__.py").is_file():
        print(f"perfbench: no kgforge package in {ROOT}; run from a kgforge checkout",
              file=sys.stderr)
        return 2
    # Python workers import kgforge too: put the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    try:
        result, ctx = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run is using it
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
