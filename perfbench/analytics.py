"""The analytics workload: registered QUERIES over the package's sf0.01
test tables, each written to the noop sink, checked against its DuckDB twin.

The tables are a copy of the sf0.01 data the repository's tests read,
kept under ``perfbench/data/sf0.01`` so a run needs nothing outside its
checkout. The seed only shuffles the query order of every pass.

One operation is one pass over the query list. Pass 0 collects every
result for the correctness gate and doubles as the JIT warm-up; its wall
time is the ``session.first_op_s`` layer metric. Timed passes follow."""

from __future__ import annotations

import hashlib
import math
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow as pa

from perfbench import harness

DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"

# about the wall time of one timed pass on a 4-core box; sets how many
# passes a run of --seconds measures (the same count on every commit)
NOMINAL_OP_S = 7.0
# a run times at least this many passes, so their median has three samples
MIN_OPS = 3

# pagerank (operators.linkgraph) and the shingle self-join family
# (operators.neardup), two operator modules the crawl never runs. The ann,
# relational and text families are left out: with a cold pass 0 and three
# timed passes, each added query costs about five times its warm time.
FAMILIES = {
    "linkgraph": ["pagerank_copurchase"],
    "neardup": ["dedup_ngram_jaccard"],
}
FAMILY_OF = {q: f for f, qs in FAMILIES.items() for q in qs}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def family_group(family: str) -> str:
    """Spark job group of a family's queries in a traced pass."""
    return f"family:{family}"


# per-layer name -> the job groups it rolls up
SPARK_GROUPS = {f: [family_group(f)] for f in FAMILIES}


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _type(t: pa.DataType) -> str:
    """Arrow type with engine-cosmetic differences collapsed (string widths,
    timestamp zones, integer widths), as the package's oracle tests do."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type(t.value_type)}>"
    return str(t)


def result_hash(tbl: pa.Table) -> str:
    """Hash of column names, canonical types and the sorted, normalized
    rows — independent of column and row order."""
    names = sorted(tbl.column_names)
    cols = [tbl.column(n).to_pylist() for n in names]
    rows = sorted(tuple(_cell(c[i]) for c in cols) for i in range(tbl.num_rows))
    h = hashlib.sha256()
    h.update(repr([(n, _type(tbl.schema.field(n).type)) for n in names]).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def failed_queries(spark, data_dir: str, queries: dict, order: list[str]):
    """Pass 0: collect every query's result and compare its hash with the
    DuckDB twin's. Returns the failing names and each query's wall time."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failed, times = [], {}
    for name in order:
        fn, sql = queries[name]
        t0 = time.perf_counter()
        try:
            got = fn(spark, data_dir).toArrow()
        except Exception as exc:  # a raising query is a failed operation
            failed.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        finally:
            times[name] = time.perf_counter() - t0
        if result_hash(got) != result_hash(con.execute(sql).arrow()):
            failed.append(name)
    con.close()
    return failed, times


def run(spark, seed: int, schedule: list[bool], work, tracer) -> dict:
    """Pass 0 (collect and check), then one timed pass per entry of
    ``schedule`` (True = traced: a span and a family job group per query)."""
    from scrapy_spark.entry_queries import QUERIES

    data_dir = str(DATA_DIR)
    rng = np.random.default_rng(seed)
    names = [q for qs in FAMILIES.values() for q in qs]

    failed, first = failed_queries(
        spark, data_dir, QUERIES, [str(q) for q in rng.permutation(names)]
    )
    ops, passes = [], {False: [], True: []}
    for on in schedule:
        per_query = {}
        groups = tracer.groups if tracer is not None else ()
        c0 = harness.counters(spark, groups)
        for name in [str(q) for q in rng.permutation(names)]:
            fn = QUERIES[name][0]
            token = tracer.begin(f"q.{name}", group=family_group(FAMILY_OF[name])) if on else None
            t0 = time.perf_counter()
            df = fn(spark, data_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if token is not None:
                tracer.end(token)
            per_query[name] = (t1 - t0, t2 - t1)
        ops.append({**harness.delta(c0, harness.counters(spark, groups)), "traced": on})
        passes[on].append(per_query)

    def family_s(p, fam):
        return sum(sum(p[q]) for q in FAMILIES[fam])

    layers = {}
    if tracer is not None:
        traced = passes[True]
        for name in names:
            layers[f"q.{name}.build_s"] = statistics.median(p[name][0] for p in traced)
            layers[f"q.{name}.write_s"] = statistics.median(p[name][1] for p in traced)
        for fam in FAMILIES:
            layers[f"family.{fam}_s"] = statistics.median(family_s(p, fam) for p in traced)
    untraced = passes[False]
    return {
        "attempted": len(names),
        "failed": len(failed),
        "first_op_s": sum(first.values()),
        "ops": ops,
        "layers": layers,
        "detail": {
            "queries": names,
            "suite_s": statistics.median(o["wall_s"] for o in ops if not o["traced"]),
            "first_pass_query_s": first,
            "query_s": {q: statistics.median(sum(p[q]) for p in untraced) for q in names},
            **{f"{fam}_s": statistics.median(family_s(p, fam) for p in untraced)
               for fam in FAMILIES},
            "failed_queries": failed,
        },
    }
