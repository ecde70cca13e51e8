"""Workload ``olap_mix``: the analyst path.

Why it exists: Hive's first users are analysts running ad hoc queries,
for whom per-query latency is what counts. Every op here is one
oracle-gated registry entry, called as ``fn(spark, sf_dir)`` and fetched
to the driver with ``collect()``, as the SQL CLI does.

Layers it loads: ``session`` and ``catalog`` (set-up), ``queries`` and
``functions`` (each op: plan construction in the registry call, then the
action), ``operators.cache`` (every op runs inside ``pipeline_scope``)
and, through a small document slice, ``llm``. The driver-side call makes
up 20-45% of a warm op and every fixture table is one single-row-group
parquet file, so base scans run as one task: planning, catalog and
scan-parallelism changes show here.

Layers it bypasses: ``operators.dml``, ``operators.versioning`` and the
write path of ``sources``. A change aimed only at writes should leave
this workload flat (see ``etl_merge`` for the opposite).
"""

from __future__ import annotations

import math
import random
import shutil
import time
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

from harness import Bookkeeping, Result, copy_fixture, cores, fingerprint, jvm_gc_s, quantile, tail_q

# Twenty oracle-gated registry entries, two to five from each of the
# seven analyst modules, chosen for a spread of warm costs (0.2-0.9 s on
# four cores) with no cluster gap: the pooled median and tail fall among
# many kinds, not on the edge between two groups.
KINDS = (
    # relational
    "q1_pricing_summary",
    "agg_rollup",
    "topk_orders",
    "setop_except_all",
    "sample_bucket",
    # joins
    "q3_shipping_priority",
    "join_left_anti",
    "subquery_in",
    # windows
    "window_ranking",
    "window_first_last",
    # functions_sql
    "fn_math",
    "fn_hash",
    "fn_complex_types",
    "fn_regex",
    # tpch_full
    "q13_customer_distribution",
    "q22_dormant_customers",
    # tpcds
    "ds_time_bucket_counts",
    "ds_frequent_buyers",
    # analytics
    "funnel_conversion",
    "retention_cohorts",
)

# Document-only ``llm`` entries, run on the generated corpus. Kept to the
# cheap end of the family so the run fits its time budget; the heavier
# near-duplicate detectors (MinHash-LSH, prefix Jaccard) cost 4-5 s warm
# and 9-10 s cold each and are left out (README.md, "Dropped").
LLM_KINDS = {
    "dedup_span_chunks": "llm.dedup_s",
    "pack_sequences": "llm.pipeline_s",
}

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings",
)

EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
# warm ops per second of --seconds; the op list is fixed by (seed,
# seconds), never by a clock, so two commits do identical work
OPS_PER_SECOND = 1.4


def build_inputs(work, fixture_dir: str, seed: int) -> dict:
    """Fixture tables plus a seeded documents corpus with injected exact
    and near-duplicate copies. Returns the input shape."""
    sf = work / "sf"
    if sf.exists():
        shutil.rmtree(sf)
    copy_fixture(fixture_dir, sf, FIXTURE_TABLES)
    docs = pq.read_table(f"{fixture_dir}/documents.parquet")
    rng = random.Random(seed)
    rows = docs.to_pylist()
    eligible = [r for r in rows if r["text"] and len(r["text"].split(" ")) >= 10]
    n_exact = int(len(rows) * EXACT_DUP_SHARE)
    n_near = int(len(rows) * NEAR_DUP_SHARE)
    picks = rng.sample(eligible, n_exact + n_near)
    next_id = max(r["doc_id"] for r in rows) + 1
    exact_ids = []
    extra = []
    for i, src in enumerate(picks):
        copy = dict(src, doc_id=next_id)
        if i >= n_exact:
            words = src["text"].split(" ")
            words[rng.randrange(len(words))] = f"zq{next_id}"
            copy["text"] = " ".join(words)
            copy["n_chars"] = len(copy["text"])
        else:
            exact_ids.append(next_id)
        extra.append(copy)
        next_id += 1
    corpus = pa.Table.from_pylist(rows + extra, schema=docs.schema.remove_metadata())
    pq.write_table(corpus, sf / "documents.parquet")
    table_bytes = sum(p.stat().st_size for p in sf.iterdir())
    table_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in sf.iterdir())
    return {
        "sf_dir": str(sf),
        "exact_ids": exact_ids,
        "shape": {
            "input_rows": table_rows,
            "input_bytes": table_bytes,
            "corpus_docs": corpus.num_rows,
            "exact_dup_share": n_exact / corpus.num_rows,
            "near_dup_share": n_near / corpus.num_rows,
        },
    }


def op_list(seed: int, seconds: int) -> list[str]:
    """Every kind the same number of times, in seeded order."""
    kinds = list(KINDS) + list(LLM_KINDS)
    rounds = max(1, math.ceil(seconds * OPS_PER_SECOND / len(kinds)))
    ops = kinds * rounds
    random.Random(seed).shuffle(ops)
    return ops


def run(ctx, inputs: dict, res: Result) -> None:
    from hive_release_spark.operators.cache import pipeline_scope
    from hive_release_spark.queries import REGISTRY

    spark, tracer, status = ctx.spark, ctx.tracer, ctx.status
    sf_dir = inputs["sf_dir"]
    book = Bookkeeping()
    records = []  # one per op: kind, phase, timings

    def one(kind: str, phase: str) -> list:
        op_id = len(records)
        rec = {"kind": kind, "phase": phase, "op": op_id}
        if status:
            status.tag(op_id)
        with tracer.span("op", op_id):
            t0 = time.perf_counter()
            with pipeline_scope() as tracked:
                with tracer.span("queries.call", op_id):
                    df = REGISTRY[kind].fn(spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span("queries.action", op_id):
                    rows = df.collect()
                t2 = time.perf_counter()
                rec["persists"] = len(tracked)
            t3 = time.perf_counter()
        rec.update(latency=t3 - t0, call=t1 - t0, action=t2 - t1, release=t3 - t2)
        if tracer.enabled:
            with book.measure():
                rec["load_table"] = _time_load_tables(spark, sf_dir, df)
        records.append(rec)
        return df.columns, rows

    # cold pass: each kind's first run, in fixed order
    cold = {}
    t = time.perf_counter()
    for kind in list(KINDS) + list(LLM_KINDS):
        cold[kind] = one(kind, "cold")
    cold_wall = time.perf_counter() - t
    cold_fp = {k: fingerprint(rows) for k, (_, rows) in cold.items()}

    ops = op_list(ctx.seed, ctx.seconds)
    book.seconds = 0.0
    gc0 = jvm_gc_s(spark) if tracer.enabled else 0.0
    t = time.perf_counter()
    for kind in ops:
        _, rows = one(kind, "warm")
        with book.measure():
            if fingerprint(rows) != cold_fp[kind]:
                res.fail(f"{kind}: warm result differs from its cold result")
    warm_wall = time.perf_counter() - t - book.seconds
    if tracer.enabled:
        ctx.extra["warm_gc_s"] = jvm_gc_s(spark) - gc0

    res.attempted = len(records)
    t = time.perf_counter()
    _gate(ctx, sf_dir, cold, inputs["exact_ids"], res)
    res.put("gate_s", time.perf_counter() - t, "s")

    warm = [r for r in records if r["phase"] == "warm"]
    lat = [r["latency"] for r in warm]
    res.put("cold_pass_s", sum(r["latency"] for r in records if r["phase"] == "cold"), "s")
    res.put("ops_per_s", len(warm) / warm_wall, "1/s")
    res.put("latency_p50_s", median(lat), "s")
    res.put("latency_tail_s", quantile(lat, tail_q(len(lat))), "s")
    res.put("warm_ops", len(warm), "count")
    res.put("latency_tail_q", tail_q(len(lat)), "ratio")
    res.put("cold_pass_wall_s", cold_wall, "s")
    for kind in list(KINDS) + list(LLM_KINDS):
        res.put(f"kind.{kind}.p50_s", median([r["latency"] for r in warm if r["kind"] == kind]), "s")
        res.put(f"kind.{kind}.cold_s", next(r["latency"] for r in records if r["kind"] == kind), "s")
    ctx.shape.update(
        warm_ops=len(warm),
        op_kind_shares={k: ops.count(k) / len(ops) for k in sorted(set(ops))},
        read_write_share={"reads": 1.0, "writes": 0.0},
    )
    if tracer.enabled:
        _layers(ctx, records, warm, warm_wall, res)


def _time_load_tables(spark, sf_dir: str, df) -> float:
    """Time ``catalog.load_table`` for every table the op's plan reads
    (each table is one ``{name}.parquet`` file, so its input files name
    the tables)."""
    from hive_release_spark import catalog

    tables = {f.rsplit("/", 1)[-1].removesuffix(".parquet") for f in df.inputFiles()}
    t = time.perf_counter()
    for name in sorted(tables):
        catalog.load_table(spark, sf_dir, name)
    return time.perf_counter() - t


def _gate(ctx, sf_dir: str, cold: dict, exact_ids: list[int], res: Result) -> None:
    """Every kind's cold result against its DuckDB oracle, and every
    injected exact duplicate found by the span deduplicator."""
    from hive_release_spark import testing
    from hive_release_spark.queries import REGISTRY

    con = testing.duckdb_con(sf_dir)
    try:
        for kind, (cols, rows) in cold.items():
            ok, why = _compare(con, REGISTRY[kind].oracle, cols, rows)
            if not ok:
                res.fail(f"{kind}: {why}")
    finally:
        con.close()
    cols, rows = cold["dedup_span_chunks"]
    by_id = {r["doc_id"]: r for r in rows}
    found = [
        d for d in exact_ids
        if d in by_id and by_id[d]["n_chunks"] > 0 and by_id[d]["n_dropped"] == by_id[d]["n_chunks"]
    ]
    full = [r for r in rows if r["n_chunks"] > 0 and r["n_dropped"] == r["n_chunks"]]
    ctx.extra["llm.pairs_out"] = len(full)
    ctx.extra["llm.dup_recall"] = len(found) / len(exact_ids)
    if len(found) != len(exact_ids):
        res.fail(f"span dedup found {len(found)} of {len(exact_ids)} injected exact duplicates")


def _compare(con, oracle: str, cols, rows) -> tuple[bool, str]:
    """``testing.compare_query`` on an already-collected result."""
    import pandas as pd

    from hive_release_spark import testing

    scols = sorted(cols)
    srows = sorted((tuple(testing.canon(r[c]) for c in scols) for r in rows), key=testing.sort_key)
    cur = con.execute(oracle)
    dcols_raw = [d[0] for d in cur.description]
    draw = cur.fetchall()
    if scols != sorted(dcols_raw):
        return False, f"schema {scols} vs {sorted(dcols_raw)}"
    order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
    drows = sorted((tuple(testing.canon(r[i]) for i in order) for r in draw), key=testing.sort_key)
    ok, why = testing.rows_match(srows, drows)
    if not ok:
        return ok, why
    spd = pd.DataFrame.from_records([tuple(r[c] for c in scols) for r in rows], columns=scols)
    return testing.driver_frames_match(spd, con.execute(oracle).df())


def _layers(ctx, records, warm, warm_wall, res: Result) -> None:
    """Per-layer numbers of the traced run."""
    counters = ctx.status.per_op([r["op"] for r in records])
    for r in records:
        r.update(counters[r["op"]])
    n = len(warm)
    res.put("queries.call_s", median([r["call"] for r in warm]), "s")
    res.put("queries.action_s", median([r["action"] for r in warm]), "s")
    res.put(
        "queries.call_share",
        sum(r["call"] for r in warm) / sum(r["call"] + r["action"] for r in warm),
        "ratio",
    )
    res.put("queries.jobs_per_op", sum(r["jobs"] for r in warm) / n, "count")
    res.put("queries.tasks_per_op", sum(r["tasks"] for r in warm) / n, "count")
    res.put(
        "queries.busy_share",
        sum(r["run_s"] for r in warm) / (sum(r["action"] for r in warm) * cores()),
        "ratio",
    )
    res.put("queries.input_bytes_per_op", sum(r["input_bytes"] for r in warm) / n, "B")
    res.put("queries.shuffle_write_bytes_per_op", sum(r["shuffle_write_bytes"] for r in warm) / n, "B")
    res.put("queries.spill_bytes_per_op", sum(r["spill_bytes"] for r in warm) / n, "B")
    res.put("queries.gc_s_per_op", ctx.extra["warm_gc_s"] / n, "s")
    res.put("catalog.load_table_s", median([r["load_table"] for r in warm]), "s")
    res.put("functions.op_s", median([r["latency"] for r in warm if r["kind"].startswith("fn_")]), "s")
    res.put("operators.cache.persists_per_op", sum(r["persists"] for r in warm) / n, "count")
    res.put("operators.cache.release_s", median([r["release"] for r in warm]), "s")
    for kind, name in LLM_KINDS.items():
        res.put(name, median([r["latency"] for r in warm if r["kind"] == kind]), "s")
    res.put("llm.pairs_out", ctx.extra["llm.pairs_out"], "count")
    res.put("llm.dup_recall", ctx.extra["llm.dup_recall"], "ratio")
    res.put("trace.ops_per_s", n / warm_wall, "1/s")
