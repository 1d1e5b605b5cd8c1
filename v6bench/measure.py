"""The measuring process: one workload in a fresh Spark session.

Started by ``run.py`` once the inputs and expected results exist, so
``setup_s`` covers only this process: interpreter start, imports,
``v6spark.session.get_spark`` and opening the inputs.

A *pass* is one whole round of the workload's operations.  The first
pass runs in the fresh session (``first_pass_s``); then whole passes
repeat until ``--seconds`` of pass time have been measured (and at
least the workload's ``min_passes``), and ``pass_s`` is their median.  Every operation's output is checked in
every pass; checking is not timed.

With ``--trace 1`` the same passes run with the program's public
functions wrapped in spans, and the per-layer metrics are printed
instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import meter  # noqa: E402
import prepare  # noqa: E402

CPUS = 4
DRIVER_MEM = "3g"
N_SHARDS = 4
MIN_JACCARD = 0.8  # the library's near-dup threshold: "pairs" in the trace

# modules whose public functions the traced run wraps -> span label
TRACED = {
    "v6spark.session": "session",
    "v6spark.sources.tables": "tables",
    "v6spark.operators.dedup": "operators",
    "v6spark.operators.similarity": "operators",
    "v6spark.operators.text": "operators",
    "v6spark.pipeline": "pipeline",
    "v6spark.txlog": "txlog",
}


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Jvm:
    """Spark's own counters, read through py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.gw = spark.sparkContext._gateway
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.seen_stages: set[tuple[int, int]] = set()

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile seconds) since the JVM started."""
        n = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        ns = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(n), ns / 1e9

    def new_stages(self) -> dict:
        """Totals over the stages completed since the last call."""
        empty = self.jvm.java.util.ArrayList()
        stages = self.store.stageList(empty, False, False, self.gw.new_array(self.jvm.double, 0), empty)
        q = self.gw.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = {"exec_s": 0.0, "tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "skews": []}
        for sd in _iter(stages):
            key = (sd.stageId(), sd.attemptId())
            if key in self.seen_stages or sd.status().toString() != "COMPLETE":
                continue
            self.seen_stages.add(key)
            out["tasks"] += sd.numTasks()
            if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                out["exec_s"] += (sd.completionTime().get().getTime() - sd.submissionTime().get().getTime()) / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if sd.numTasks() >= 2:
                summary = self.store.taskSummary(key[0], key[1], q)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    if run.apply(0) > 0:
                        out["skews"].append(run.apply(1) / run.apply(0))
        return out

    def cache(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        sc = self.spark.sparkContext._jsc.sc()
        infos = sc.getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / 2**20
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size()), mb


def plan_facts(df) -> dict:
    """Catalyst phase times and operator counts of an executed frame."""
    qe = df._jdf.queryExecution()
    phases = {kv._1(): kv._2().durationMs() / 1e3 for kv in _iter(qe.tracker().phases())}
    # an adaptive plan prints its final plan, then its initial one
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    return {
        "plan_s": phases.get("optimization", 0.0) + phases.get("planning", 0.0),
        "exchanges": sum(1 for ln in lines if "Exchange " in ln and "Reused" not in ln),
        "sort_merge_joins": sum(1 for ln in lines if "SortMergeJoin" in ln),
        "python_nodes": sum(
            1 for ln in lines if any(k in ln for k in ("EvalPython", "InPandas", "InArrow", "PythonUDF"))
        ),
    }


class Op:
    """One timed operation's record."""

    def __init__(self, name: str):
        self.name = name
        self.s = 0.0
        self.cpu = {"jvm": 0.0, "driver_py": 0.0, "workers_py": 0.0}
        self.problems: list[str] = []
        self.error: str | None = None
        self.rows = 0
        self.collect_s = 0.0


class Workload:
    # warm passes a run measures at least, whatever ``--seconds`` says
    min_passes = 1

    def __init__(self, spark, cache: str, tree: meter.ProcTree, tracer, jvm: Jvm):
        self.spark = spark
        self.cache = cache
        self.tree = tree
        self.tracer = tracer
        self.jvm = jvm
        # traced runs only: plan facts of each operation's last run,
        # and the engine's cache size after each operation
        self.plans: dict[str, dict] = {}
        self.cache_samples: list[tuple[int, float]] = []

    def timed(self, op: Op, fn):
        """Run ``fn`` as ``op``'s measured region; return its value."""
        c0 = self.tree.cpu()
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception as e:  # counted in ``failed``
            op.error = f"{type(e).__name__}: {e}"[:300]
            return None
        finally:
            op.s += time.perf_counter() - t0
            c1 = self.tree.cpu()
            for k in op.cpu:
                op.cpu[k] += c1[k] - c0[k]

    def collect(self, op: Op, df):
        t0 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        op.collect_s += time.perf_counter() - t0
        op.rows += len(rows)
        return rows


class DedupScale(Workload):
    """The four LLM-data heads over the scaled corpus; the engine's
    caches are cleared before each, so every head pays its own data
    work."""

    # one warm pass alone varies by about 13% between runs while the
    # JIT is still compiling; the median of two is steadier
    min_passes = 2

    def open(self):
        from v6spark.plans import REGISTRY
        from v6spark.session import clear_engine_caches
        from v6spark.sources.tables import load_table

        self.registry = REGISTRY
        self.clear = clear_engine_caches
        for t in ("documents", "embeddings"):
            load_table(self.spark, self.cache, t)
        with open(f"{self.cache}/expected.json") as f:
            self.expected = json.load(f)
        import pyarrow.parquet as pq

        docs = pq.read_table(f"{self.cache}/documents.parquet", columns=["doc_id", "text"])
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.pair_cache: dict = {}

    def run_pass(self) -> list[Op]:
        ops = []
        for name in prepare.DEDUP_HEADS:
            op = Op(name)
            self.clear(self.spark)
            spec = self.registry[name]

            def body():
                if self.tracer:
                    with self.tracer.span(f"plans.build.{spec.tier}"):
                        df = spec.spark_fn(self.spark, self.cache)
                else:
                    df = spec.spark_fn(self.spark, self.cache)
                return df, self.collect(op, df)

            out = self.timed(op, body)
            if out is not None:
                df, rows = out
                op.problems = checks.check_digest(name, df.columns, rows, self.expected["heads"][name])
                if name == "q_dedup_minhash":
                    op.problems += self.check_pairs(df.columns, rows)
                if self.tracer:
                    self.observe(name, df, rows)
            ops.append(op)
        return ops

    def check_pairs(self, columns, rows) -> list[str]:
        # the recomputation is memoised by row: the texts never change
        key = (tuple(columns), tuple(rows))
        if key not in self.pair_cache:
            self.pair_cache[key] = checks.check_minhash_pairs(
                columns, rows, self.texts, self.expected["planted"]
            )
        return self.pair_cache[key]

    def observe(self, name, df, rows):
        self.plans[name] = {**plan_facts(df), "rows": len(rows)}
        if name == "q_dedup_minhash":
            j = df.columns.index("jaccard")
            self.plans[name]["pairs"] = sum(1 for r in rows if r[j] is not None and r[j] >= MIN_JACCARD)
        self.cache_samples.append(self.jvm.cache())

    def layers(self, op_med) -> dict:
        mh = self.plans["q_dedup_minhash"]
        return {
            "catalyst.exchanges": mh["exchanges"],
            "catalyst.sort_merge_joins": mh["sort_merge_joins"],
            "catalyst.python_nodes": mh["python_nodes"],
            "dedup.candidates": mh["rows"],
            "dedup.pairs": mh["pairs"],
            "dedup.verify_yield": mh["pairs"] / mh["rows"] if mh["rows"] else 0.0,
            "dedup.minhash_docs_per_s": self.expected["n_docs"] / op_med("q_dedup_minhash"),
            "dedup.simhash_docs_per_s": self.expected["n_docs"] / op_med("q_dedup_simhash"),
            "ann.pairs": self.plans["q_similarity_ann"]["rows"],
            "ann.vectors_per_s": self.expected["n_vecs"] / op_med("q_similarity_ann"),
        }


class CorpusPublish(Workload):
    """prepare -> publish -> upsert -> retract -> read-back into a
    fresh root each pass."""

    STAGES = ["prepare", "publish", "upsert", "retract", "read"]

    def open(self):
        from v6spark import pipeline
        from v6spark.session import clear_engine_caches
        from v6spark.sources.tables import load_table

        self.p = pipeline
        self.clear = clear_engine_caches
        self.docs = load_table(self.spark, self.cache, "documents")
        with open(f"{self.cache}/delta.json") as f:
            self.delta = json.load(f)
        self.delta_df = self.spark.createDataFrame(
            self.delta, "doc_id long, text string, lang string, split string"
        )
        with open(f"{self.cache}/expected.json") as f:
            self.expected = {int(k): v for k, v in json.load(f).items()}
        self.work = os.path.join(prepare.CACHE, "work", str(os.getpid()))
        self.n_pass = 0
        self.input_bytes = os.path.getsize(f"{self.cache}/documents.parquet")

    def run_pass(self) -> list[Op]:
        self.clear(self.spark)
        root = os.path.join(self.work, f"pass_{self.n_pass}")
        self.n_pass += 1
        ops = {s: Op(s) for s in self.STAGES}
        prepared = self.timed(ops["prepare"], lambda: self.p.prepare_training_corpus(self.docs))
        res = {}
        if prepared is not None:
            res["publish"] = self.timed(
                ops["publish"], lambda: self.p.publish_corpus_committed(prepared, self.docs, root, n_shards=N_SHARDS)
            )
        if res.get("publish") is not None:
            res["upsert"] = self.timed(ops["upsert"], lambda: self.p.upsert_into_published(self.spark, root, self.delta_df))
        if res.get("upsert") is not None:
            res["retract"] = self.timed(
                ops["retract"], lambda: self.p.retract_from_published(self.spark, root, gen.RETRACT_PREDICATE)
            )
        rows = None
        if res.get("retract") is not None:

            def read():
                df = self.p.read_published_corpus(self.spark, root).select("doc_id", "text", "split")
                return df, self.collect(ops["read"], df)

            out = self.timed(ops["read"], read)
            if out is not None:
                df, rows = out
        for s in self.STAGES:
            if ops[s].s == 0.0 and ops[s].error is None:
                ops[s].error = "not reached: an earlier stage failed"
        if rows is not None:
            try:
                files_rows = checks.manifest_rows(root)
            except Exception as e:
                files_rows = []
                ops["read"].problems.append(f"manifest read failed: {e}")
            ops["read"].problems += checks.check_publish(rows, self.expected, self.delta, gen.retracted, files_rows)
            if self.tracer:
                self.observe(df, rows, res, root)
        shutil.rmtree(root, ignore_errors=True)
        return [ops[s] for s in self.STAGES]

    def observe(self, df, rows, res, root):
        written = 0
        for dirpath, _dirs, files in os.walk(root):
            written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        self.plans["read"] = {
            **plan_facts(df),
            "files_scanned": len(df.inputFiles()),
            "files_rewritten": res["upsert"]["files_rewritten"] + res["retract"]["files_rewritten"],
            "bytes_written": written,
            "published_rows": sum(v for k, v in res["publish"].items() if not k.startswith("_")),
            "readback_rows": len(rows),
        }
        self.cache_samples.append(self.jvm.cache())

    def layers(self, op_med) -> dict:
        rd = self.plans["read"]
        return {
            "catalyst.exchanges": rd["exchanges"],
            "catalyst.sort_merge_joins": rd["sort_merge_joins"],
            "catalyst.python_nodes": rd["python_nodes"],
            "pipeline.prepare_s": op_med("prepare"),
            "pipeline.publish_rows_per_s": rd["published_rows"] / op_med("publish"),
            "pipeline.upsert_s": op_med("upsert"),
            "pipeline.retract_s": op_med("retract"),
            "pipeline.readback_rows_per_s": rd["readback_rows"] / op_med("read"),
            "pipeline.mb_written": rd["bytes_written"] / 2**20,
            "pipeline.write_amp": rd["bytes_written"] / self.input_bytes,
            "pipeline.files_rewritten": rd["files_rewritten"],
            "read.files_scanned": rd["files_scanned"],
        }


WORKLOADS = {"dedup_scale": DedupScale, "corpus_publish": CorpusPublish}


def start_session():
    os.environ.setdefault("V6SPARK_DRIVER_MEM", DRIVER_MEM)
    # scratch files stay inside the checkout
    tmp = os.path.join(prepare.CACHE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the console progress bar can only be switched off at launch
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={tmp} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    from v6spark.session import get_spark

    spark = get_spark("v6bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def med(xs):
    return statistics.median(xs) if xs else 0.0


# per-layer metrics that only one workload exercises; the other
# reports them as 0 (the layer did no work there)
WORKLOAD_LAYERS = [
    "dedup.candidates",
    "dedup.pairs",
    "dedup.verify_yield",
    "dedup.minhash_docs_per_s",
    "dedup.simhash_docs_per_s",
    "ann.pairs",
    "ann.vectors_per_s",
    "pipeline.prepare_s",
    "pipeline.publish_rows_per_s",
    "pipeline.upsert_s",
    "pipeline.retract_s",
    "pipeline.readback_rows_per_s",
    "pipeline.mb_written",
    "pipeline.write_amp",
    "pipeline.files_rewritten",
    "read.files_scanned",
]


def layer_metrics(wl: Workload, tracer: meter.Tracer, phases: dict, timed_passes, first_codegen, stages) -> dict:
    n = len(timed_passes)
    setup_spans = tracer.totals(0, phases["setup_end"])
    timed_spans = tracer.totals(phases["timed_start"])
    ops = [op for p in timed_passes for op in p]

    def per_pass(prefix: str, key: str = "s") -> float:
        return sum(v[key] for k, v in timed_spans.items() if k.startswith(prefix)) / n

    def op_med(name: str) -> float:
        return med([op.s for op in ops if op.name == name])

    m = {
        "session.start_s": setup_spans["session.get_spark"]["s"],
        "tables.warm_s": sum(v["s"] for k, v in setup_spans.items() if k.startswith("tables.")),
        "codegen.compiles": first_codegen[0],
        "codegen.compile_s": first_codegen[1],
        "plans.build_s": per_pass("plans.build."),
        "catalyst.plan_s": sum(p["plan_s"] for p in wl.plans.values()),
        "exec.s": stages["exec_s"] / n,
        "exec.tasks": stages["tasks"] / n,
        "exec.task_skew": med(stages["skews"]),
        "exec.shuffle_write_mb": stages["shuffle_write_mb"] / n,
        "exec.spill_mb": stages["spill_mb"] / n,
        "cache.persisted_frames": max(c[0] for c in wl.cache_samples),
        "cache.storage_mb": max(c[1] for c in wl.cache_samples),
        "mem.peak_rss_mb": wl.tree.peak_rss_mb(),
        "collect.s": sum(op.collect_s for op in ops) / n,
        "collect.rows": sum(op.rows for op in ops) / n,
        "txlog.commit_s": per_pass("txlog.publish"),
        "txlog.commits": per_pass("txlog.publish", "n"),
        "self.tables_s": per_pass("tables.", "self_s"),
        "self.operators_s": per_pass("operators.", "self_s"),
        "self.pipeline_s": per_pass("pipeline.", "self_s"),
        "self.txlog_s": per_pass("txlog.", "self_s"),
        "trace.overhead_s": (tracer.overhead + phases["poll_s"]) / (n + 1),
    }
    for k in ("jvm", "driver_py", "workers_py"):
        m[f"cpu.{k}_s"] = sum(op.cpu[k] for op in ops) / n
    m.update(dict.fromkeys(WORKLOAD_LAYERS, 0))
    m.update(wl.layers(op_med))
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = meter.process_start_epoch()
    steal0 = meter.host_steal_s()
    tree = meter.ProcTree()
    tracer = meter.Tracer() if args.trace else None
    cache = prepare.cache_dir(args.workload, args.seed)

    import v6spark.plans  # noqa: F401  (loads the modules the tracer wraps)

    if tracer:
        tracer.install(TRACED)
    spark = start_session()
    jvm = Jvm(spark)
    wl = WORKLOADS[args.workload](spark, cache, tree, tracer, jvm)
    wl.open()
    setup_s = time.time() - started
    phases = {"setup_end": tracer.mark() if tracer else 0, "poll_s": 0.0}

    first = wl.run_pass()
    first_codegen = jvm.codegen() if tracer else (0, 0.0)
    if tracer:
        t0 = time.perf_counter()
        jvm.new_stages()  # the first pass's stages are not timed passes
        phases["poll_s"] += time.perf_counter() - t0
        phases["timed_start"] = tracer.mark()
    passes = []
    measured = 0.0
    stages = {"exec_s": 0.0, "tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "skews": []}
    while measured < args.seconds or len(passes) < wl.min_passes:
        ops = wl.run_pass()
        passes.append(ops)
        measured += sum(op.s for op in ops)
        if tracer:  # the status store keeps a bounded number of stages
            t0 = time.perf_counter()
            for k, v in jvm.new_stages().items():
                stages[k] += v
            phases["poll_s"] += time.perf_counter() - t0
    all_ops = first + [op for p in passes for op in p]
    failed = [op for op in all_ops if op.error]
    problems = [p for op in all_ops for p in op.problems]
    print(
        f"[v6bench] host steal during the run: {meter.host_steal_s() - steal0:.1f} CPU-s "
        f"over {time.time() - started:.1f} s",
        file=sys.stderr,
    )
    for op in failed[:5]:
        print(f"[v6bench] {op.name} failed: {op.error}", file=sys.stderr)
    for p in sorted(set(problems))[:20]:
        print(f"[v6bench] check: {p}", file=sys.stderr)

    if tracer:
        metrics = layer_metrics(wl, tracer, phases, passes, first_codegen, stages)
        os.makedirs(os.path.join(HERE, "_trace"), exist_ok=True)
        with open(os.path.join(HERE, "_trace", f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(
                {
                    "spans": tracer.spans,
                    "first_pass_s": sum(op.s for op in first),
                    "pass_s": [sum(op.s for op in p) for p in passes],
                    "metrics": metrics,
                },
                f,
            )
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        cpu_s = [sum(op.cpu.values()) for op in (o for p in passes for o in p)]
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "first_pass_s": {"value": sum(op.s for op in first), "unit": "s"},
            "pass_s": {"value": med([sum(op.s for op in p) for p in passes]), "unit": "s"},
            "cpu_s_per_pass": {"value": sum(cpu_s) / len(passes), "unit": "s"},
        }
    spark.stop()
    tree.stop()
    shutil.rmtree(os.path.join(prepare.CACHE, "tmp", str(os.getpid())), ignore_errors=True)
    shutil.rmtree(os.path.join(prepare.CACHE, "work", str(os.getpid())), ignore_errors=True)
    print(
        json.dumps(
            {"correct": not problems, "attempted": len(all_ops), "failed": len(failed), "metrics": out}
        )
    )
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_mb", "mb_written")):
        return "MB"
    if name.endswith(("write_amp", "verify_yield", "task_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
