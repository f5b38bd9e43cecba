"""The benchmark's workloads: closed loop, one client, one Spark session.

Each workload sets up, then runs cycles of ops until `seconds` have
passed (at least MIN_CYCLES), then checks every op's output.  setup_s is
the wall time from before the Spark session starts to the first timed
cycle.  An op fails if it raises, misses its deadline
or fails its output check; a missed deadline cancels the op's job group
and counts the deadline as its latency.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time
from contextlib import contextmanager

import checks
import spans as tr
from host import tree_cpu_s

# Per-op deadlines in seconds, by op kind.
DEADLINE_S = {"ingest": 180.0, "read": 60.0}

# Input sizes.  `turns` budgets are filled with whole conversations, so
# every seed gives the same input size to within a few turns.  kg_build
# times a build of `build_turns` (about 268k triples); the fixed cost of
# each Spark job is still most of its wall at that size, but a build
# large enough for per-triple work to dominate (about 300k turns) does
# not fit the run budget.  The read pass runs over a graph of
# `read_turns` built during set-up; that build is also the timed build's
# warm-up.  The inputs span one day (SPAN_DAYS), so every seed
# fills the same 16 conv_bucket partitions of one day instead of a
# seed-dependent subset of 14 x 16.  An increment of 3,000 turns (about
# 80 conversations) covers all 16 buckets, so after the timed commit the
# snapshot always has more than 32 partition dirs: past Spark's
# parallelPartitionDiscovery threshold, where the read plan lists files
# with a Spark job.  Smaller increments leave the count on either side of
# 32 depending on the seed.
SIZES = {
    "full": {"pool_convs": 1600, "build_turns": 40_000, "read_turns": 1500,
             "inc_pool_convs": 400, "inc_turns": 3000, "inc_count": 4,
             "inc_entities": 2000, "defect_turns": 13_200},
    "tiny": {"pool_convs": 60, "build_turns": 300, "read_turns": 150,
             "inc_pool_convs": 80, "inc_turns": 150, "inc_count": 4,
             "inc_entities": 300, "defect_turns": 600},
}

SPAN_DAYS = 1
MIN_CYCLES = 1
# The query mix runs this many times per read pass; query_gmean_ms takes
# each query's median over them.
QUERY_REPS = 3

# The read pass over the built graph: BGP join, GROUP BY aggregate,
# FILTER, sequence path, OPTIONAL.
SPARQL_MIX = {
    "bgp_join": "SELECT ?c ?x WHERE { ?c hasTurn ?t . ?t usedTool ?x }",
    "group_count": "SELECT ?x (COUNT(?t) AS ?n) WHERE { ?t usedTool ?x } GROUP BY ?x",
    "filter": 'SELECT ?t WHERE { ?t hasRole ?r . FILTER(?r = "role:tool") }',
    "seq_path": "SELECT DISTINCT ?c ?x WHERE { ?c hasTurn/usedTool ?x }",
    "optional": "SELECT ?t ?x WHERE { ?t hasRole ?r OPTIONAL { ?t usedTool ?x } }",
}
ENCODED_2HOP = "SELECT ?c ?x WHERE { ?c hasTurn ?t . ?t usedTool ?x }"
FRESH_QUERY = "SELECT ?p (COUNT(?s) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p"
# The bound-start closure: evaluated over the whole graph before the
# bound subject applies, so it grows with the graph (kg_defects only).
BOUND_PATH = "SELECT ?b WHERE { <turn:conv-000000/0> followedBy+ ?b }"


class Bench:
    """Runs ops under job groups and deadlines and keeps their records."""

    def __init__(self, spark, tracer: tr.Tracer, work: str, corrupt: bool,
                 t_start: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work = work
        self.corrupt = corrupt
        self.ops: list[dict] = []
        self.extra: dict = {}  # per-run samples and totals beside the ops
        self.t_start = t_start  # perf_counter() before the session started
        self.setup_s = 0.0
        self.phase_s: dict[str, float] = {}  # where a run's wall time goes
        self.cycles = 0
        self.recording = True
        self.cores = spark.sparkContext.defaultParallelism

    def op(self, kind: str, name: str, layer: str, fn, deadline: str = "read"):
        """Time fn(span) under its own job group; returns the record,
        whose "result" is fn's return value when it succeeded."""
        rec = {"kind": kind, "name": name, "cycle": self.cycles, "ok": True,
               "error": None, "result": None, "check": None}
        limit = DEADLINE_S[deadline]
        expired = threading.Event()
        with self.tracer.span(name, layer) as span:
            group = f"op-{span.id}" if span else "untraced-op"
            self.sc.setJobGroup(group, name, interruptOnCancel=True)

            def _cancel():
                expired.set()
                self.sc.cancelJobGroup(group)
                for q in self.spark.streams.active:
                    q.stop()

            timer = threading.Timer(limit, _cancel)
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            timer.start()
            try:
                rec["result"] = fn(span)
            except Exception as e:  # noqa: BLE001 - a failed op is data
                rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"[:500]
            finally:
                timer.cancel()
                timer.join()
                rec["latency_s"] = time.perf_counter() - t0
                rec["cpu_s"] = tree_cpu_s() - cpu0
                self.sc.setJobGroup("between-ops", "between-ops")
        if expired.is_set():
            rec["ok"], rec["error"] = False, f"deadline {limit:.0f}s"
            rec["latency_s"] = limit
        rec["span"] = span
        if not self.recording and not rec["ok"]:
            raise RuntimeError(f"warm-up op {name} failed: {rec['error']}")
        if self.recording:
            self.ops.append(rec)
        return rec

    @contextmanager
    def warming(self):
        """Ops run to warm caches and JIT: not recorded, traced or checked."""
        traced = self.tracer.enabled
        self.recording = self.tracer.enabled = False
        try:
            yield
        finally:
            self.recording, self.tracer.enabled = True, traced

    def note(self, key: str, value: float) -> None:
        if self.recording:
            self.extra.setdefault(key, []).append(value)

    def timed_loop(self, seconds: float, min_cycles: int, cycle) -> None:
        start = time.perf_counter()
        self.setup_s = start - self.t_start
        while self.cycles < min_cycles or time.perf_counter() - start < seconds:
            cycle()
            self.cycles += 1
        self.phase_s["timed"] = time.perf_counter() - start

    def run_checks(self) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup("check", "check")
        for rec in self.ops:
            if rec["ok"] and rec["check"] is not None:
                t1 = time.perf_counter()
                try:
                    ok = rec["check"]()
                except Exception as e:  # noqa: BLE001 - a failed check is data
                    ok, rec["error"] = False, f"check {type(e).__name__}: {e}"[:500]
                if not ok:
                    rec["ok"] = False
                    rec["error"] = rec["error"] or "output check failed"
                rec["checked"] = ok
                rec["check_s"] = time.perf_counter() - t1
        self.phase_s["checks"] = time.perf_counter() - t0

    # -- ops shared by the workloads ---------------------------------------

    def sparql_op(self, kind: str, name: str, triples_fn, query: str):
        """plan = the sparql() call, exec = the collect that follows."""
        from logset_spark.operators.sparql import sparql

        def run(span):
            tri = triples_fn(span)
            with self.tracer.span("plan", "sparql", span):
                df = sparql(tri, query)
            with self.tracer.span("exec", "sparql", span):
                return [tuple(r) for r in df.collect()]

        return self.op(kind, name, "sparql", run)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _query_gmean_ms(ops) -> float:
    """Geometric mean over the queries of the mix of each query's median
    latency: every query weighs the same, and no single query decides it
    the way one sample decides a median over the mixed latencies."""
    by_name: dict[str, list] = {}
    for r in ops:
        if r["kind"] == "query":
            by_name.setdefault(r["name"], []).append(r["latency_s"] * 1000)
    if not by_name:
        return 0.0
    return statistics.geometric_mean(statistics.median(v) for v in by_name.values())


def _pack(pdf, budget: int, count: int) -> list:
    """Up to `count` slices of whole conversations, each filled toward
    `budget` turns: conversations are taken in id order, one that would
    overflow the slice waits for the next.  Deterministic in the pool."""
    left = list(pdf.groupby("conv_id", sort=True).size().items())
    out = []
    while left and len(out) < count:
        ids, total, rest = [], 0, []
        for conv, n in left:
            if total + n <= budget:
                ids.append(conv)
                total += n
            else:
                rest.append((conv, n))
        if not ids:
            break
        out.append(pdf[pdf.conv_id.isin(ids)])
        left = rest
    return out


def _write_parquet(pdf, path: str, files: int) -> None:
    """pdf as `files` parquet files of consecutive rows, written without
    Spark; Spark reads them back as `files` partitions."""
    os.makedirs(path)
    step = max(-(-len(pdf) // files), 1)
    for i in range(0, len(pdf), step):
        # microsecond timestamps: Spark reads no coarser unit as timestamp
        pdf.iloc[i:i + step].to_parquet(
            os.path.join(path, f"part-{i // step:05d}.parquet"), index=False,
            coerce_timestamps="us")


def _dir_bytes_files(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


# -- kg_build: build, then the read pass over the built graph -----------------


def kg_build(b: Bench, seed: int, seconds: float, size: str) -> None:
    from pyspark.sql import functions as F

    from logset_spark.operators import cc, digraph, encode, graph
    from logset_spark.pipeline import build_graph
    from logset_spark.sources import synth
    from logset_spark.sources.tableio import TableIO

    spark, z = b.spark, SIZES[size]
    t0 = time.perf_counter()
    pool = synth.transcripts_pdf(n_convs=z["pool_convs"], seed=seed,
                                 span_days=SPAN_DAYS)
    tpdf = _pack(pool, z["build_turns"], 1)[0]
    # the read graph's input: the first conversations, which the build's
    # input holds too; the build is checked against the golden graph on them
    rpdf = _pack(pool, z["read_turns"], 1)[0]
    dpdf = synth.entity_dictionary_pdf(100, seed)
    expect = checks.structural_counts(tpdf)
    base = os.path.join(b.work, "input")
    for name, pdf in (("transcripts", tpdf), ("read", rpdf), ("dictionary", dpdf)):
        _write_parquet(pdf, f"{base}/{name}", b.cores)
    del pool, tpdf  # not the program's memory: keep it out of peak_pss_mb
    trans, read, dic = (
        spark.read.schema(schema).parquet(f"{base}/{name}")
        for name, schema in (("transcripts", synth.TRANSCRIPT_SCHEMA),
                             ("read", synth.TRANSCRIPT_SCHEMA),
                             ("dictionary", synth.DICT_SCHEMA)))
    b.phase_s["synth"] = time.perf_counter() - t0

    # set-up: build the read graph, which warms the JIT and Spark's codegen
    # for the timed build
    t0 = time.perf_counter()
    read_io = TableIO(os.path.join(b.work, "wh_read"))
    build_graph(spark, read, dic, read_io)
    read_wh = read_io.path("triples")
    tri = read_io.read(spark, "triples").select("subj", "pred", "obj")
    b.phase_s["warm_up"] = time.perf_counter() - t0
    digests: list = []

    def cycle():
        io = TableIO(os.path.join(b.work, f"wh{b.cycles}"))
        timings: dict = {}

        def build(span):
            t0 = time.time()
            res = build_graph(spark, trans, dic, io, timings=timings)
            b.tracer.stages(span, t0, timings)
            return res

        rec = b.op("ingest", "build_graph", "pipeline", build, deadline="ingest")
        if rec["ok"]:
            rec["triples"] = rec["result"]["triples"]
            rec["timings"] = timings
            rec["covered_s"] = sum(timings.values())
            wh = io.path("triples")
            rec["bytes"], rec["files"] = _dir_bytes_files(wh)
            if b.corrupt:
                checks.drop_one_triple(wh)
            rec["check"] = lambda: checks.build_ok(spark, io, rpdf, dpdf, expect,
                                                   digests, rec)

        # the read pass, over the graph built in set-up
        b.note("files_read", len(tri.inputFiles()))
        enc = {}

        def encode_graph(span):
            enc["dic"] = encode.build_term_dictionary(tri).cache()
            enc["enc"] = encode.encode_triples(tri, enc["dic"]).cache()
            return enc["enc"].count()

        def enc_2hop(span):
            with b.tracer.span("plan", "encode", span):
                df = encode.sparql_encoded(enc["enc"], enc["dic"], ENCODED_2HOP)
            with b.tracer.span("exec", "encode", span):
                return [tuple(r) for r in df.collect()]

        b.op("read", "encode_graph", "encode", encode_graph)
        for _ in range(QUERY_REPS):
            for name, q in SPARQL_MIX.items():
                r = b.sparql_op("query", name, lambda s: tri, q)
                r["check"] = checks.vs_duckdb(r, checks.SQL[name], read_wh)
            r = b.op("query", "enc_2hop", "encode", enc_2hop)
            r["check"] = checks.vs_duckdb(r, checks.SQL["enc_2hop"], read_wh)
        for df in enc.values():
            df.unpersist()

        def edges(preds):
            return tri.where(F.col("pred").isin(preds)).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst"))

        r = b.op("read", "cc", "cc", lambda s: [tuple(x) for x in cc.connected_components(
            edges(["mentions"]), small_graph_edges=0).collect()])
        r["check"] = checks.cc_ok(r, read_wh)
        r = b.op("read", "scc", "digraph", lambda s: [tuple(x) for x in digraph.scc(
            edges(["hasTurn", "partOf", "followedBy"]), small_graph_edges=0).collect()])
        r["check"] = checks.scc_ok(r, read_wh)
        r = b.op("read", "pagerank", "graph", lambda s: [tuple(x) for x in
                 graph.pagerank_fixedpoint(edges(["followedBy"]), n_iter=3).collect()])
        r["check"] = checks.pagerank_ok(r, read_wh)

    b.timed_loop(seconds, MIN_CYCLES, cycle)


# -- kg_incremental: append, ingest, query the fresh snapshot -----------------


def kg_incremental(b: Bench, seed: int, seconds: float, size: str) -> None:
    from logset_spark.sources import synth
    from logset_spark.sources.snapshots import SnapshotTableIO
    from logset_spark.streaming import incremental

    spark, z = b.spark, SIZES[size]
    n_ent = z["inc_entities"]

    t0 = time.perf_counter()
    pool = synth.transcripts_pdf(n_convs=z["inc_pool_convs"], seed=seed,
                                 n_entities=n_ent, span_days=SPAN_DAYS)
    dpdf = synth.entity_dictionary_pdf(n_ent, seed)
    incs = _pack(pool, z["inc_turns"], z["inc_count"])
    dict_path = os.path.join(b.work, "dictionary")
    _write_parquet(dpdf, dict_path, 1)
    b.phase_s["synth"] = time.perf_counter() - t0
    dic = spark.read.schema(synth.DICT_SCHEMA).parquet(dict_path).cache()
    in_dir = os.path.join(b.work, "incoming")
    ckpt = os.path.join(b.work, "checkpoint")
    store = SnapshotTableIO(os.path.join(b.work, "store"))
    os.makedirs(in_dir)
    written: list[str] = []

    def append_and_ingest(span=None):
        path = os.path.join(in_dir, f"inc{len(written):05d}.parquet")
        incs[len(written)].to_parquet(path, index=False)
        written.append(path)
        incremental.run_linked_available_now(
            incremental.stream_transcripts(spark, in_dir), ckpt, spark, dic,
            store=store)
        return store.current_version()

    listener = None

    def cycle():
        if len(written) >= len(incs):
            raise RuntimeError("increments exhausted: raise inc_count")
        v_before = store.current_version()
        rec = b.op("ingest", "ingest", "incremental", append_and_ingest,
                   deadline="ingest")
        if not rec["ok"]:
            return
        v = rec["result"]
        if listener is not None:
            checks.wait_for(lambda: len(listener.progress) >= b.cycles + 1)
            rec["covered_s"] = listener.progress[-1].get("triggerExecution", 0) / 1000
        commit_dir = os.path.join(store.root, "data", f"commit={v}")
        rec["bytes"], rec["files"] = _dir_bytes_files(commit_dir)
        rec["triples"] = checks.parquet_rows(commit_dir)
        rec["check"] = lambda: v > v_before and rec["triples"] > 0

        fresh = {}

        def read_fresh(span):
            with b.tracer.span("read_plan", "snapshots", span):
                t0 = time.perf_counter()
                fresh["df"] = store.read(spark).select("subj", "pred", "obj")
                b.note("read_plan_ms", (time.perf_counter() - t0) * 1000)
            b.note("files_read", len(fresh["df"].inputFiles()))
            return fresh["df"]

        files = store.partition_dirs(v)
        q = b.sparql_op("query", "fresh_count", read_fresh, FRESH_QUERY)
        q["check"] = checks.vs_duckdb(q, checks.SQL["fresh_count"], files)
        if not q["ok"]:
            return
        # the rest of the read pass over the same fresh snapshot (once in
        # the warm-up cycle)
        for _ in range(QUERY_REPS if b.recording else 1):
            for name, query in SPARQL_MIX.items():
                r = b.sparql_op("query", name, lambda s: fresh["df"], query)
                r["check"] = checks.vs_duckdb(r, checks.SQL[name], files)

    # warm-up: the base increment, ingested cold, and the reads of it
    t0 = time.perf_counter()
    with b.warming():
        cycle()
    b.phase_s["warm_up"] = time.perf_counter() - t0

    listener = tr.stream_listener(spark) if b.tracer.enabled else None
    b.timed_loop(seconds, MIN_CYCLES, cycle)
    if listener is not None:
        spark.streams.removeListener(listener)
        for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets"):
            b.extra[f"incremental.{key}"] = [p.get(key, 0) for p in listener.progress]

    ingested = [r for r in b.ops if r["kind"] == "ingest" and r["ok"]]
    if ingested:
        last = ingested[-1]
        if b.corrupt:
            checks.drop_one_triple(
                os.path.join(store.root, "data", f"commit={last['result']}"))
        prev = last["check"]
        last["check"] = lambda: prev() and checks.incremental_ok(
            spark, store, written, dic)
    b.extra["store_bytes"], _ = _dir_bytes_files(os.path.join(store.root, "data"))
    b.extra["store_triples"] = checks.parquet_rows(os.path.join(store.root, "data"))


# -- kg_defects: known failures, kept visible (not in BENCHMARK.json) ---------


def kg_defects(b: Bench, seed: int, seconds: float, size: str) -> None:
    """Ops that fail today: the bound-start followedBy+ closure (by
    deadline on a large enough graph) and digraph.scc over followedBy
    with its default max_inner (long conversation chains)."""
    from pyspark.sql import functions as F

    from logset_spark.operators import digraph
    from logset_spark.pipeline import build_graph
    from logset_spark.sources import synth
    from logset_spark.sources.tableio import TableIO

    spark, z = b.spark, SIZES[size]
    tpdf = _pack(synth.transcripts_pdf(n_convs=z["pool_convs"], seed=seed,
                                       span_days=SPAN_DAYS),
                 z["defect_turns"], 1)[0]
    io = TableIO(os.path.join(b.work, "wh"))
    build_graph(spark, spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA),
                synth.dictionary_df(spark, seed=seed), io)
    tri = io.read(spark, "triples").select("subj", "pred", "obj")

    def cycle():
        fb = tri.where(F.col("pred") == "followedBy").select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"))
        b.op("read", "scc_followedBy", "digraph", lambda s: digraph.scc(
            fb, small_graph_edges=0).count())
        b.sparql_op("query", "bound_path", lambda s: tri, BOUND_PATH)

    b.timed_loop(seconds, MIN_CYCLES, cycle)


WORKLOADS = {"kg_build": kg_build, "kg_incremental": kg_incremental,
             "kg_defects": kg_defects}


def metrics(b: Bench, peak_pss_mb: float) -> tuple[dict, dict]:
    """-> (end-to-end metrics, per-layer metrics) as {name: value}."""
    ingest = [r for r in b.ops if r["kind"] == "ingest"]
    good = [r for r in ingest if r["ok"] and r.get("triples")]
    per_cycle: dict[int, float] = {}
    for r in b.ops:
        if r["kind"] in ("query", "read"):
            per_cycle[r["cycle"]] = per_cycle.get(r["cycle"], 0.0) + r["latency_s"]
    if "store_bytes" in b.extra:
        bpt = b.extra["store_bytes"] / max(b.extra["store_triples"], 1)
    else:
        bpt = _median([r["bytes"] / r["triples"] for r in good])
    e2e = {
        "setup_s": b.setup_s,
        "ingest_triples_per_s": _median([r["triples"] / r["latency_s"] for r in good]),
        "ingest_cpu_s": _median([r["cpu_s"] for r in ingest]),
        "query_gmean_ms": _query_gmean_ms(b.ops),
        "read_pass_s": _median(list(per_cycle.values())),
        "bytes_per_triple": bpt,
        "peak_pss_mb": peak_pss_mb,
    }
    spans = b.tracer.spans
    lay = tr.layer_metrics(spans, max(b.cycles, 1), b.cores)
    cover = [r["covered_s"] / r["latency_s"] for r in good if "covered_s" in r]
    x = b.extra
    per = {
        **{f"extract.{k}": lay["extract"][k] for k in
           ("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks")},
        **{f"link.{k}": lay["link"][k] for k in ("wall_s", "cpu_s", "shuffle_write_mb")},
        **{f"cc.{k}": lay["cc"][k] for k in ("wall_s", "cpu_s", "jobs", "slot_idle_frac")},
        **{f"materialize.{k}": lay["materialize"][k] for k in
           ("wall_s", "cpu_s", "shuffle_write_mb", "spill_mb", "output_mb")},
        "materialize.files": _median([r["files"] for r in good if "timings" in r]),
        "sparql.plan_ms": tr.median_ms(spans, "sparql", "plan"),
        "sparql.exec_ms": tr.median_ms(spans, "sparql", "exec"),
        **{f"sparql.{k}": lay["sparql"][k] for k in ("jobs", "input_mb", "shuffle_mb")},
        "sparql.files_read": _median(x.get("files_read", [])),
        "encode.wall_s": lay["encode"]["wall_s"],
        "encode.exec_ms": tr.median_ms(spans, "encode", "exec"),
        "encode.shuffle_mb": lay["encode"]["shuffle_mb"],
        **{f"graph.{k}": lay["graph"][k] for k in ("wall_s", "jobs", "slot_idle_frac")},
        **{f"digraph.{k}": lay["digraph"][k] for k in ("wall_s", "jobs", "slot_idle_frac")},
        **{f"incremental.{k}": lay["incremental"][k] for k in ("wall_s", "cpu_s")},
        "incremental.add_batch_ms": _median(x.get("incremental.addBatch", [])),
        "incremental.query_planning_ms": _median(x.get("incremental.queryPlanning", [])),
        "incremental.wal_commit_ms": _median(x.get("incremental.walCommit", [])),
        "incremental.commit_offsets_ms": _median(x.get("incremental.commitOffsets", [])),
        "snapshots.files_per_commit": _median([r["files"] for r in good
                                               if "timings" not in r]),
        "snapshots.read_plan_ms": _median(x.get("read_plan_ms", [])),
        "spark.failed_tasks": lay["spark"]["failed_tasks"],
        "spark.executor_cpu_s": lay["spark"]["cpu_s"],
        "spark.gc_s": lay["spark"]["gc_s"],
        "trace.ingest_s": _median([r["latency_s"] for r in ingest]),
        "trace.read_pass_s": e2e["read_pass_s"],
        "trace.stage_cover_frac": _median(cover),
    }
    return e2e, per
