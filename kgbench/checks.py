"""Output checks.  Each returns True when the op's output is right; the
oracles are independent of the code under test: the pandas golden-triple
generator in tests/oracle.py, DuckDB SQL over the same parquet files,
networkx, and a pure-Python replay of the PageRank recurrence."""

from __future__ import annotations

import functools
import glob
import os
import time
from collections import Counter

import duckdb
import pyarrow.parquet as pq

# DuckDB equivalents of the benchmark's queries over t(subj, pred, obj).
SQL = {
    "bgp_join": "SELECT a.subj, b.obj FROM t a JOIN t b ON a.obj = b.subj "
                "WHERE a.pred = 'hasTurn' AND b.pred = 'usedTool'",
    "group_count": "SELECT obj, count(*) FROM t WHERE pred = 'usedTool' GROUP BY obj",
    "filter": "SELECT subj FROM t WHERE pred = 'hasRole' AND obj = 'role:tool'",
    "seq_path": "SELECT DISTINCT a.subj, b.obj FROM t a JOIN t b ON a.obj = b.subj "
                "WHERE a.pred = 'hasTurn' AND b.pred = 'usedTool'",
    "optional": "SELECT a.subj, b.obj FROM t a LEFT JOIN t b "
                "ON b.subj = a.subj AND b.pred = 'usedTool' WHERE a.pred = 'hasRole'",
    "fresh_count": "SELECT pred, count(*) FROM t GROUP BY pred",
}
SQL["enc_2hop"] = SQL["bgp_join"]


def _files(paths) -> list[str]:
    """Parquet files under a directory or list of directories."""
    if isinstance(paths, str):
        paths = [paths]
    return sorted(f for p in paths
                  for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))


def duck_rows(sql: str, paths) -> list[tuple]:
    return _duck_rows(sql, tuple(_files(paths)))


@functools.lru_cache(maxsize=64)
def _duck_rows(sql: str, files: tuple[str, ...]) -> list[tuple]:
    """Cached: a query repeated over the same files is answered once."""
    con = duckdb.connect()
    try:
        files = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(f"CREATE VIEW t AS SELECT subj, pred, obj FROM read_parquet([{files}])")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _bag(rows) -> Counter:
    return Counter(tuple(None if v is None else str(v) for v in r) for r in rows)


def vs_duckdb(rec: dict, sql: str, paths):
    """Check: the op's rows equal DuckDB's over the same files, as a bag."""
    return lambda: _bag(rec["result"]) == _bag(duck_rows(sql, paths))


def golden(transcripts, dictionary) -> set[tuple]:
    from tests.oracle import golden_triples

    g = golden_triples(transcripts.reset_index(drop=True), dictionary)
    return set(map(tuple, g[["subj", "pred", "obj"]].itertuples(index=False)))


def structural_counts(transcripts) -> dict[str, int]:
    """Triples per structural predicate that the golden graph of
    `transcripts` holds, counted without building it: one hasTurn,
    partOf, hasRole and atTime per turn, usedTool per turn with a tool,
    followedBy between consecutive turns of a conversation."""
    turns, convs = len(transcripts), transcripts.conv_id.nunique()
    return {"hasTurn": turns, "partOf": turns, "hasRole": turns, "atTime": turns,
            "usedTool": int(transcripts.tool.notna().sum()),
            "followedBy": turns - convs}


def spark_digest(df) -> tuple[int, str]:
    """Order-independent multiset digest: (rows, sum of xxhash64)."""
    from pyspark.sql import functions as F

    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")).alias("h"),
    ).first()
    return r["n"], str(r["h"])


def build_ok(spark, io, sample, dictionary, expect: dict, digests: list,
             rec: dict) -> bool:
    """The whole build has the structural triple counts of its input
    (`expect`).  On the conversations of `sample`, against the golden
    graph: structural triples exactly (P = R = 1.0), `mentions` at
    P, R >= 0.95, the paper's target for fuzzy linking of typo aliases.
    And the same triple-set digest as every earlier build of the run.
    sameAs rows are canonicalization output the golden graph does not
    model."""
    from pyspark.sql import functions as F

    tri = io.read(spark, "triples")
    counts = {r["pred"]: r["count"] for r in tri.groupBy("pred").count().collect()}
    conv = F.regexp_extract("subj", r"^(?:conv|turn):([^/]+)", 1)
    got = {tuple(r) for r in tri.where(
        (F.col("pred") != "sameAs") & conv.isin(sorted(sample.conv_id.unique())))
        .select("subj", "pred", "obj").collect()}
    digests.append(spark_digest(tri))
    gold = golden(sample, dictionary)
    gm = {t for t in gold if t[1] == "mentions"}
    em = {t for t in got if t[1] == "mentions"}
    rec["mentions_p"] = len(gm & em) / max(len(em), 1)
    rec["mentions_r"] = len(gm & em) / max(len(gm), 1)
    return (all(counts.get(p, 0) == n for p, n in expect.items())
            and got - em == gold - gm and rec["mentions_p"] >= 0.95
            and rec["mentions_r"] >= 0.95 and len(set(digests)) == 1)


def cc_ok(rec: dict, wh: str):
    def check() -> bool:
        import networkx as nx

        g = nx.Graph(duck_rows("SELECT subj, obj FROM t WHERE pred = 'mentions'", wh))
        want = {n: min(c) for c in nx.connected_components(g) for n in c}
        return dict(rec["result"]) == want and len(rec["result"]) == len(want)

    return check


def scc_ok(rec: dict, wh: str):
    def check() -> bool:
        import networkx as nx

        g = nx.DiGraph(duck_rows(
            "SELECT subj, obj FROM t WHERE pred IN ('hasTurn', 'partOf', 'followedBy') "
            "AND subj <> obj", wh))
        want = {n: min(c) for c in nx.strongly_connected_components(g) for n in c}
        return dict(rec["result"]) == want and len(rec["result"]) == len(want)

    return check


def pagerank_ok(rec: dict, wh: str, n_iter: int = 3):
    """Replays graph.pagerank_fixedpoint's documented integer recurrence."""
    def check() -> bool:
        from logset_spark.operators.graph import PR_SCALE

        edges = duck_rows("SELECT DISTINCT subj, obj FROM t WHERE pred = 'followedBy'", wh)
        nodes = {x for e in edges for x in e}
        n = len(nodes)
        outdeg = Counter(s for s, _ in edges)
        rank = {v: PR_SCALE // n for v in nodes}
        for _ in range(n_iter):
            inflow = Counter()
            for s, d in edges:
                inflow[d] += rank[s] // outdeg[s]
            rank = {v: (3 * PR_SCALE) // (20 * n) + (17 * inflow[v]) // 20 for v in nodes}
        return dict(rec["result"]) == rank and len(rec["result"]) == n

    return check


def incremental_ok(spark, store, written: list[str], dictionary) -> bool:
    """The final snapshot equals linked_triples_batch over the union of
    every increment, as a multiset of triples."""
    from logset_spark.operators import extract
    from logset_spark.sources.synth import TRANSCRIPT_SCHEMA
    from logset_spark.streaming.incremental import linked_triples_batch

    batch = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*written)
    extra = extract.non_namelike_surfaces(dictionary)
    detector = extract.make_candidate_detector(spark, extra)
    want = linked_triples_batch(batch, detector, dictionary,
                                prefiltered=extra is not None)
    return spark_digest(store.read(spark)) == spark_digest(want)


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in _files(path))


def drop_one_triple(path: str) -> None:
    """Corrupt an output on purpose: rewrite the first parquet file holding
    a hasRole triple without that row (used by the smoke tests)."""
    for f in _files(path):
        table = pq.ParquetFile(f).read()
        hits = [i for i, p in enumerate(table["pred"].to_pylist()) if p == "hasRole"][:1]
        if hits:
            keep = [i for i in range(table.num_rows) if i != hits[0]]
            pq.write_table(table.take(keep), f)
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)  # Hadoop's checksum of the old bytes
            return
    raise RuntimeError(f"no row to drop under {path}")


def wait_for(pred, timeout_s: float = 10.0) -> bool:
    end = time.monotonic() + timeout_s
    while not pred():
        if time.monotonic() > end:
            return False
        time.sleep(0.05)
    return True
