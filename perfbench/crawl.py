"""The crawl workload: a many-generation crawl of the synthetic web.

200 hosts, a per-host budget of 10 and a generation cap of 1,000 URLs, so
every generation after the seeds schedules exactly 1,000 URLs while the seen
set grows by 1,000 a generation: the fixed per-generation cost, the growing
probe side of the seen anti-join and the catalog's small-file count all
load, and the fetch UDF encodes about 300 image payloads a generation. Only
the synthetic web's seed comes from the benchmark seed.

One operation is one generation, driven through the public
``CrawlJob.run(resume=True)`` with ``max_generations`` advanced by one each
time. Generation 0 runs first, on a cold JIT; its wall time is the
``session.first_op_s`` layer metric. The timed generations follow it.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import time

import numpy as np

from perfbench import harness, tracing

# about the wall time of one generation on a 4-core box; sets how many
# generations a run of --seconds measures (the same count on every commit)
NOMINAL_OP_S = 7.5
# a run times at least this many generations: their mean CPU spans more of
# the JIT warm-up curve than two did, and varies less between runs
MIN_OPS = 3

STAGE_ROLLUPS = ("url_seen", "lineage", "candidates", "section_stats", "pattern_stats")

# per-layer name -> the job groups it rolls up
SPARK_GROUPS = {
    "fetch_results": [tracing.stage_group("fetch_results")],
    "rollups": [tracing.stage_group(t) for t in STAGE_ROLLUPS],
    "crawl_other": [tracing.RUN_GROUP, tracing.READ_GROUP],
}


def configs(seed: int):
    from scrapy_spark.plans.oracle import CrawlParams
    from scrapy_spark.sources.synth import SynthConfig

    cfg = SynthConfig(seed=seed, n_hosts=200, n_pages=40_000, n_images=8_000,
                      links_per_page=6, images_per_page=2, n_seeds=300)
    params = CrawlParams(max_generations=1, per_host_budget=10, gen_cap=1_000)
    return cfg, params


class Crawl:
    def __init__(self, spark, seed: int, workdir: str):
        from scrapy_spark.plans.crawl import CrawlJob

        self.spark = spark
        self.cfg, self.params = configs(seed)
        self.salt_buckets = max(8, spark.sparkContext.defaultParallelism)
        self.job = CrawlJob(spark, self.cfg, self.params, workdir,
                            salt_buckets=self.salt_buckets)
        self.generations = 0
        self.scheduled: list[int] = []
        self.jobs: list[int] = []
        self.job_groups: set[str] = set()  # groups a tracer sets, for job counts

    def step(self) -> dict[str, float]:
        """Run the next generation; returns its counter deltas."""
        g = self.generations
        self.job.params = dataclasses.replace(self.params, max_generations=g + 1)
        c0 = harness.counters(self.spark, self.job_groups)
        (st,) = self.job.run(resume=g > 0)
        op = harness.delta(c0, harness.counters(self.spark, self.job_groups))
        self.jobs.append(int(op["jobs"]))
        self.generations += 1
        self.scheduled.append(st.scheduled)
        return op

    def failed_generations(self) -> set[int]:
        """Generations whose schedule, captions or payload bytes differ from
        the sequential oracle run on the same config."""
        from scrapy_spark.plans.oracle import run_oracle

        oracle = run_oracle(
            self.cfg, dataclasses.replace(self.params, max_generations=self.generations)
        )
        rows = (
            self.job.catalog.read(self.spark, "fetch_results")
            .select("generation", "host", "rank_in_host", "url", "attempt", "bytes", "caption")
            .collect()
        )
        failed = set()
        for g in range(self.generations):
            ours = [r for r in rows if r["generation"] == g]
            want = [o for o in oracle.scheduled if o["generation"] == g]
            if {(r["host"], r["rank_in_host"]): r["url"] for r in ours} != {
                (o["host"], o["rank_in_host"]): o["url"] for o in want
            }:
                failed.add(g)
                continue
            got = {(r["url"], r["attempt"]): (r["bytes"], r["caption"]) for r in ours}
            for o in want:
                b, cap = got[(o["url"], o["attempt"])]
                if cap != o["caption"] or (None if b is None else bytes(b)) != o["bytes"]:
                    failed.add(g)
                    break
        return failed


def run(spark, seed: int, schedule: list[bool], work, tracer) -> dict:
    """Generation 0, then one timed generation per entry of ``schedule``
    (True = traced), then the oracle check; with a tracer, also the span
    figures and the layer probe."""
    crawl = Crawl(spark, seed, str(work / "crawl"))
    if tracer is not None:
        crawl.job_groups = tracer.groups
        tracing.install_catalog_and_crawl(tracer)
    try:
        first = crawl.step()
        ops = []
        for on in schedule:
            if tracer is not None:
                tracer.active = on
            ops.append({**crawl.step(), "traced": on})
        if tracer is not None:
            tracer.active = False
        layers, traced_detail, tiers_differ = {}, {}, 0
        if tracer is not None:
            layers, traced_detail["accounting"] = span_layers(tracer, crawl)
            t0 = time.perf_counter()
            probed, tiers = probe_layers(spark, crawl, work)
            traced_detail["probe_s"] = time.perf_counter() - t0
            layers.update(probed)
            traced_detail["seen_tiers_new_rows"] = tiers
            # the filter tiers must admit exactly the rows the exact anti-join does
            tiers_differ = int(len(set(tiers.values())) > 1)
        failed = crawl.failed_generations()
    finally:
        if tracer is not None:
            tracer.unwrap_all()
    untraced = [o["wall_s"] for o in ops if not o["traced"]]
    untraced_urls = [n for n, o in zip(crawl.scheduled[1:], ops) if not o["traced"]]
    return {
        "attempted": crawl.generations + (tracer is not None),
        "failed": len(failed) + tiers_differ,
        "first_op_s": first["wall_s"],
        "ops": ops,
        "layers": layers,
        "detail": {
            "generations": crawl.generations,
            "scheduled": crawl.scheduled,
            "gen_wall_s": [first["wall_s"]] + [o["wall_s"] for o in ops],
            "gen_jobs": crawl.jobs,
            "gen_s_p50": statistics.median(untraced),
            "crawl_urls_per_s": sum(untraced_urls) / sum(untraced),
            "failed_generations": sorted(failed),
            **traced_detail,
        },
    }


def span_layers(tracer: tracing.Tracer, crawl: Crawl) -> tuple[dict[str, float], list[dict]]:
    """Per-generation catalog and generation-loop figures from the spans of the
    traced generations, as medians over those generations, and each traced
    generation's wall split into catalog spans and self time."""
    root = crawl.job.catalog.root
    per_gen: list[dict[str, float]] = []
    accounting = []
    for idx, run_span in enumerate(tracer.spans):
        if run_span.name != "crawl.run":
            continue
        kids = tracer.children(idx)
        union = tracing.interval_union(kids)
        rollups = [s for s in kids if s.name.split(":")[-1] in STAGE_ROLLUPS]
        written = [f for s in kids if s.name.startswith("catalog.stage") for f in s.files]
        n_bytes = sum(os.path.getsize(os.path.join(root, f)) for f in written)
        scheduled = crawl.scheduled[run_span.generation]

        def dur(name):
            return sum(s.dur for s in kids if s.name == name)

        row = {
            "crawl.gen_self_s": run_span.dur - union,
            "catalog.stage_fetch_results_s": dur("catalog.stage:fetch_results"),
            "catalog.rollup_wall_s": (
                max(s.end for s in rollups) - min(s.start for s in rollups) if rollups else 0.0
            ),
            "catalog.stage_pandas_s": dur("catalog.stage_pandas"),
            "catalog.commit_s": dur("catalog.commit"),
            "catalog.read_s": sum(
                dur(f"catalog.{m}")
                for m in ("read", "read_files", "staged_rows", "staged_column_sum")
            ),
            "catalog.files_written": float(len(written)),
            "catalog.bytes_written": float(n_bytes),
            "catalog.bytes_per_url": n_bytes / scheduled if scheduled else 0.0,
        }
        for t in STAGE_ROLLUPS:
            row[f"catalog.stage_{t}_s"] = dur(f"catalog.stage:{t}")
        per_gen.append(row)
        accounting.append(
            {"generation": run_span.generation, "wall_s": run_span.dur,
             "catalog_s": union, "self_s": run_span.dur - union}
        )
    out = {k: statistics.median(r[k] for r in per_gen) for k in per_gen[0]}
    with open(os.path.join(root, "_manifest.json")) as f:
        manifest = json.load(f)
    out["catalog.live_files_end"] = float(sum(len(v) for v in manifest["tables"].values()))
    out["crawl.generations"] = float(crawl.generations)
    return out, accounting


def _sink_s(df) -> float:
    """Wall time of running df into the noop sink."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def probe_layers(spark, crawl: Crawl, work) -> tuple[dict[str, float], dict[str, int]]:
    """Rebuild the last generation's inputs from the committed catalog and
    time successive prefixes of the public operator chain through the noop
    sink; a layer's self time is the difference to the previous prefix.
    After the prefixes the deduplicated candidates are cached, and the three
    seen tiers (exact anti-join, bloom and cuckoo prefilters) run on them; a
    filter tier's time is its sink time less that of the cached candidates.
    The tiers' new-row counts are returned alongside."""
    from pyspark.sql import functions as F
    from scrapy_spark.operators import cuckoo, dedup
    from scrapy_spark.operators.extract import extract_candidates
    from scrapy_spark.operators.fetch import fetch_frontier
    from scrapy_spark.operators.frontier import (
        anti_join_seen, apply_learned_filters, apply_robots,
        canonicalize_candidates, dedup_within_generation, select_frontier,
    )
    from scrapy_spark.sources.catalog import SnapshotCatalog

    job, params, cat = crawl.job, crawl.params, crawl.job.catalog
    g = crawl.generations - 1
    raw = (
        cat.read_upto(spark, "candidates", g - 1)
        .filter(F.col("generation") == g)
        .drop("generation")
    )
    seen = cat.read_upto(spark, "url_seen", g - 1)
    sec = cat.read_upto(spark, "section_stats", g - 1)
    pat = cat.read_upto(spark, "pattern_stats", g - 1)
    chain = [
        ("frontier.canonicalize_s", lambda d: canonicalize_candidates(d, params.domain)),
        ("frontier.robots_s", lambda d: apply_robots(d, job.robots_df())),
        ("frontier.learned_filters_s", lambda d: apply_learned_filters(d, sec, pat, params)),
        ("frontier.dedup_within_s", dedup_within_generation),
        ("frontier.anti_join_s", lambda d: anti_join_seen(d, seen)),
        ("frontier.select_s",
         lambda d: select_frontier(d, params.per_host_budget, params.gen_cap)),
        ("fetch.udf_s", lambda d: fetch_frontier(d, crawl.cfg, crawl.salt_buckets)),
    ]
    out: dict[str, float] = {}
    frames = {}
    df, prev = raw, _sink_s(raw)
    for name, op in chain:
        df = op(df)
        t = _sink_s(df)
        out[name] = t - prev
        prev = t
        frames[name] = df
    # from here on the deduplicated candidates are read from memory, so the
    # row counts and each seen tier cost their own work, not the chain again
    deduped = frames["frontier.dedup_within_s"].cache()
    n_dedup = deduped.count()
    t_deduped = _sink_s(deduped)
    n_in = raw.count()
    n_new = frames["frontier.anti_join_s"].count()
    n_sel = frames["frontier.select_s"].count()
    out["frontier.rows_in"] = float(n_in)
    out["frontier.rows_new"] = float(n_new)
    out["frontier.new_ratio"] = n_new / n_dedup if n_dedup else 0.0
    out["fetch.rows_per_s"] = n_sel / out["fetch.udf_s"] if out["fetch.udf_s"] > 0 else 0.0
    fetched = cat.read_upto(spark, "fetch_results", g).filter(F.col("generation") == g)
    out["fetch.payload_bytes"] = float(
        fetched.select(F.coalesce(F.sum(F.length("bytes")), F.lit(0))).first()[0]
    )
    ext = extract_candidates(fetched, params.heuristic_mining)
    out["extract.candidates_s"] = _sink_s(ext)
    out["extract.rows_out"] = float(ext.count())

    # the three seen tiers on the same candidates and seen set; the filter
    # tiers are built from that seen set in scratch catalogs
    def bloom_maybe(row, h):
        return dedup._check_bitmap(np.frombuffer(row["bits"], dtype=np.uint64), h)

    def cuckoo_maybe(row, h):
        tbl = np.frombuffer(row["tbl"], dtype=np.uint16).reshape(cuckoo.N_BUCKETS, cuckoo.SLOTS)
        return cuckoo.check_hashes(tbl, h)

    hashes = np.asarray(deduped.select("url_hash").toArrow().column(0).to_numpy(), np.int64)
    shards = np.mod(hashes, dedup.N_SHARDS)  # pmod, as the operators shard
    tiers = {"exact": n_new}
    for prefix, table, stage, anti, maybe in (
        ("dedup.bloom_", "bloom", dedup.stage_bloom_delta, dedup.bloom_anti_join, bloom_maybe),
        ("cuckoo.", "cuckoo", cuckoo.stage_cuckoo_delta, cuckoo.cuckoo_anti_join, cuckoo_maybe),
    ):
        pc = SnapshotCatalog(str(work / f"probe_{table}"))
        t0 = time.perf_counter()
        files = stage(spark, pc, seen, 0)
        out[prefix + "delta_s"] = time.perf_counter() - t0
        pc.commit(0, {table: files})
        new = anti(spark, deduped, seen, pc)
        out[prefix + "anti_join_s"] = _sink_s(new) - t_deduped
        tiers[table] = new.count()
        n_maybe = sum(
            int(maybe(r, hashes[shards == r["shard"]]).sum()) for r in pc.staged_read(files)
        )
        out[prefix + "maybe_ratio"] = n_maybe / len(hashes) if len(hashes) else 0.0
    deduped.unpersist()
    return out, tiers
