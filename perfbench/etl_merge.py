"""Workload ``etl_merge``: ETL jobs rewriting a partitioned table.

Why it exists: Hive's second kind of user runs ETL that rewrites
partitioned tables. This is the only workload that writes. A seeded
change-data-capture (CDC) stream commits against a copy of ``orders``
split into 80 monthly partitions, rebuilt pristine for every run:

* commits go through partition-scoped ``merge_into``, ``update_table``
  and ``delete_from``, and ``insert_into`` on one partition directory;
* after each commit the stream reads back the touched partition;
* every few commits it writes a snapshot (``snapshot_write``), reads it
  back (``read_snapshot``) and expires old ones (``expire_snapshots``);
* partition choice is seeded and skewed toward recent months.

Write cost, space growth and read-after-write cost are reported side by
side, so a change that makes writes cheaper by making reads dearer
shows up.

Layers it loads: ``operators.dml``, ``operators.versioning``, the
parquet write and partition-read path (``sources``), ``catalog``
(``load_table`` on every read). Layers it bypasses: the query registry
(``queries``, ``functions``) and ``llm``. A change aimed only at
``olap_mix`` should leave this workload flat.

Correctness: a DuckDB replay of the same stream runs in lockstep on the
pristine rows. Every read-after-write must equal the replay's partition,
every snapshot its row count, and the final table the replay's table.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from statistics import median

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import Bookkeeping, Result, copy_fixture, cores, jvm_gc_s, quantile, tail_q

PART = "o_ym"
# Commit kinds in every block of ten. Warm costs cluster by kind (four
# cores: insert ~0.45 s, update and delete ~1.0 s, merge ~2.6 s). Sorted
# by cost, a block is three inserts, four updates/deletes, three merges,
# so the pooled median (mean of the 5th and 6th) falls inside the
# update/delete cluster, never on the edge between two clusters.
BLOCK = ("merge",) * 3 + ("update",) * 2 + ("delete",) * 2 + ("insert",) * 3
SNAPSHOT_EVERY = 5
MERGE_UPDATES, MERGE_INSERTS, INSERT_ROWS = 20, 10, 10
UPDATE_MOD, DELETE_MOD = 37, 53
# skew: the k-th newest month is chosen with weight 1/k
SKEW = 1.0
COMMITS_PER_SECOND = 0.66
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def build_inputs(work, fixture_dir: str, seed: int) -> dict:
    """The fixture views plus a pristine 80-partition ``orders`` copy."""
    from hive_release_spark.catalog import TABLES

    sf = work / "sf"
    if sf.exists():
        shutil.rmtree(sf)
    copy_fixture(fixture_dir, sf, TABLES)
    etl = work / "etl"
    if etl.exists():
        shutil.rmtree(etl)
    etl.mkdir(parents=True)
    orders = pq.read_table(f"{fixture_dir}/orders.parquet").replace_schema_metadata(None)
    ym = pc.add(
        pc.multiply(pc.year(orders["o_orderdate"]), 100), pc.month(orders["o_orderdate"])
    ).cast(pa.int32())
    table = orders.append_column(PART, ym).sort_by("o_orderkey")
    pq.write_to_dataset(
        table,
        str(etl / "orders.parquet"),
        partition_cols=[PART],
        basename_template="part-{i}.parquet",
    )
    compact = etl / "pristine_compact.parquet"
    pq.write_table(table, compact)
    return {
        "sf_dir": str(sf),
        "etl_dir": str(etl),
        "table": table,
        "row_bytes": compact.stat().st_size / table.num_rows,
        "shape": {
            "input_rows": table.num_rows,
            "input_bytes": _dir_bytes(str(etl / "orders.parquet")),
            "partitions": len(set(ym.to_pylist())),
        },
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _listing(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.relpath(os.path.join(root, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


class Replay:
    """The DuckDB twin of the table, advanced commit by commit."""

    def __init__(self, table: pa.Table):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.register("pristine", table)
        self.con.execute("CREATE TABLE t AS SELECT * FROM pristine")
        self.con.unregister("pristine")
        self.next_key = self.con.execute("SELECT max(o_orderkey) + 1 FROM t").fetchone()[0]

    def keys(self, part: int) -> list[int]:
        return [
            r[0]
            for r in self.con.execute(
                f"SELECT o_orderkey FROM t WHERE {PART} = {part} ORDER BY o_orderkey"
            ).fetchall()
        ]

    def _count(self, sql: str) -> int:
        return int(self.con.execute(sql).fetchone()[0])

    def merge(self, src: pa.Table, part: int) -> int:
        self.con.register("src", src)
        n = self._count(
            f"UPDATE t SET o_totalprice = src.o_totalprice, o_orderstatus = src.o_orderstatus "
            f"FROM src WHERE t.o_orderkey = src.o_orderkey AND t.{PART} = {part}"
        )
        n += self._count(
            f"INSERT INTO t SELECT * FROM src WHERE o_orderkey NOT IN "
            f"(SELECT o_orderkey FROM t WHERE {PART} = {part})"
        )
        self.con.unregister("src")
        return n

    def update(self, part: int, r: int) -> int:
        return self._count(
            f"UPDATE t SET o_totalprice = o_totalprice + CAST(1.25 AS DOUBLE), "
            f"o_orderstatus = 'P' WHERE {PART} = {part} AND o_orderkey % {UPDATE_MOD} = {r}"
        )

    def delete(self, part: int, r: int) -> int:
        return self._count(
            f"DELETE FROM t WHERE {PART} = {part} AND o_orderkey % {DELETE_MOD} = {r}"
        )

    def insert(self, src: pa.Table) -> int:
        self.con.register("src", src)
        n = self._count("INSERT INTO t SELECT * FROM src")
        self.con.unregister("src")
        return n

    def arrow(self, where: str = "TRUE") -> pa.Table:
        return self.con.execute(f"SELECT * FROM t WHERE {where}").arrow()

    def total(self) -> int:
        return self._count("SELECT count(*) FROM t")


def _new_rows(rng: random.Random, replay: Replay, part: int, n: int) -> list[dict]:
    y, m = divmod(part, 100)
    rows = []
    for _ in range(n):
        rows.append(
            {
                "o_orderkey": replay.next_key,
                "o_custkey": rng.randrange(1, 15001),
                "o_orderstatus": rng.choice(STATUSES),
                "o_totalprice": rng.randrange(100000, 50000000) / 100,
                "o_orderdate": dt.datetime(y, m, rng.randrange(1, 29)),
                "o_orderpriority": rng.choice(PRIORITIES),
                PART: part,
            }
        )
        replay.next_key += 1
    return rows


def commit_plan(seed: int, n_warm: int, parts: list[int]) -> list[tuple[str, int]]:
    """Cold commits (one per kind) then ``n_warm`` warm commits, each a
    (kind, partition) pair; kinds come in shuffled blocks of ten."""
    rng = random.Random(seed)
    newest = sorted(parts, reverse=True)
    weights = [1.0 / (k + 1) ** SKEW for k in range(len(newest))]
    kinds = ["merge", "update", "delete", "insert"]
    while len(kinds) < 4 + n_warm:
        block = list(BLOCK)
        rng.shuffle(block)
        kinds.extend(block)
    kinds = kinds[: 4 + n_warm]
    return [(k, rng.choices(newest, weights)[0]) for k in kinds]


def run(ctx, inputs: dict, res: Result) -> None:
    from pyspark.sql import functions as F

    from hive_release_spark import catalog
    from hive_release_spark.operators import dml, versioning
    from hive_release_spark.operators.cache import pipeline_scope

    spark, tracer, status = ctx.spark, ctx.tracer, ctx.status
    etl_dir = inputs["etl_dir"]
    path = os.path.join(etl_dir, "orders.parquet")
    snap_dir = os.path.join(etl_dir, "orders_snapshots")
    replay = Replay(inputs["table"])
    schema = inputs["table"].schema
    spark_schema = spark.read.parquet(path).schema
    parts = sorted(set(inputs["table"][PART].to_pylist()))
    n_warm = max(10, round(ctx.seconds * COMMITS_PER_SECOND))
    plan = commit_plan(ctx.seed, n_warm, parts)
    rng = random.Random(ctx.seed + 1)
    book = Bookkeeping()
    records: list[dict] = []  # one per timed call
    commits: list[dict] = []

    def timed(name: str, phase: str, fn, **extra):
        op_id = len(records)
        if status:
            status.tag(op_id)
        with tracer.span(name, op_id):
            t0 = time.perf_counter()
            with pipeline_scope() as tracked:
                out = fn()
                t1 = time.perf_counter()
            t2 = time.perf_counter()
        records.append(
            dict(extra, name=name, phase=phase, op=op_id, latency=t2 - t0,
                 release=t2 - t1, persists=len(tracked))
        )
        return out

    def read_partition(phase: str, part: int) -> None:
        def go():
            with tracer.span("catalog.load_table", len(records)):
                t = time.perf_counter()
                df = catalog.load_table(spark, etl_dir, "orders")
                ctx.extra.setdefault("load_table", []).append(time.perf_counter() - t)
            return df.filter(F.col(PART) == part).toArrow()

        got = timed("sources.partition_read", phase, go, part=part)
        with book.measure():
            files = [f for f in os.listdir(os.path.join(path, f"{PART}={part}")) if f.endswith(".parquet")]
            records[-1]["files"] = len(files)
            want = replay.arrow(f"{PART} = {part}")
            if not _same_rows(got, want):
                res.fail(f"read of partition {part} after commit differs from the replay")

    def commit(phase: str, kind: str, part: int) -> None:
        with book.measure():
            before = _listing(path)
            src_rows, r = None, None
            if kind == "merge":
                keys = replay.keys(part)
                upd = replay.arrow(
                    f"{PART} = {part} AND o_orderkey IN "
                    f"({','.join(map(str, rng.sample(keys, min(MERGE_UPDATES, len(keys)))))})"
                ).to_pylist()
                for row in upd:
                    row["o_totalprice"] = rng.randrange(100000, 50000000) / 100
                    row["o_orderstatus"] = rng.choice(STATUSES)
                src_rows = upd + _new_rows(rng, replay, part, MERGE_INSERTS)
            elif kind == "insert":
                src_rows = _new_rows(rng, replay, part, INSERT_ROWS)
            else:
                r = rng.randrange(UPDATE_MOD if kind == "update" else DELETE_MOD)
            src_arrow = pa.Table.from_pylist(src_rows, schema=schema) if src_rows else None
            src_df = (
                spark.createDataFrame([tuple(x.values()) for x in src_rows], spark_schema)
                if src_rows else None
            )
        pf = F.col(PART) == part
        if kind == "merge":
            fn = lambda: dml.merge_into(  # noqa: E731
                spark, path, src_df, on=["o_orderkey"],
                matched_update={
                    "o_totalprice": F.col("src.o_totalprice"),
                    "o_orderstatus": F.col("src.o_orderstatus"),
                },
                partition_filter=pf, partition_cols=[PART],
            )
        elif kind == "update":
            fn = lambda: dml.update_table(  # noqa: E731
                spark, path,
                {"o_totalprice": F.col("o_totalprice") + F.lit(1.25), "o_orderstatus": F.lit("P")},
                where=F.col("o_orderkey") % UPDATE_MOD == r,
                partition_filter=pf, partition_cols=[PART],
            )
        elif kind == "delete":
            fn = lambda: dml.delete_from(  # noqa: E731
                spark, path, where=F.col("o_orderkey") % DELETE_MOD == r,
                partition_filter=pf, partition_cols=[PART],
            )
        else:
            fn = lambda: dml.insert_into(  # noqa: E731
                spark, os.path.join(path, f"{PART}={part}"), src_df.drop(PART)
            )
        timed(f"operators.dml.{kind}", phase, fn, part=part, kind=kind)
        rec = records[-1]
        with book.measure():
            if kind == "merge":
                changed = replay.merge(src_arrow, part)
            elif kind == "update":
                changed = replay.update(part, r)
            elif kind == "delete":
                changed = replay.delete(part, r)
            else:
                changed = replay.insert(src_arrow)
            after = _listing(path)
            written = {k: v for k, v in after.items() if before.get(k) != v}
            gone = set(before) - set(after)
            touched = {os.path.dirname(k) for k in list(written) + list(gone)}
            commits.append(
                dict(
                    rec,
                    changed=changed,
                    written_bytes=sum(v[0] for v in written.values()),
                    files=sum(1 for k in written if k.endswith(".parquet")),
                    partitions=len(touched),
                )
            )
        read_partition(phase, part)

    def snapshot(phase: str) -> None:
        df = spark.read.parquet(path)
        timed("operators.versioning.snapshot_write", phase,
              lambda: versioning.snapshot_write(df, snap_dir))
        n = timed("operators.versioning.read_snapshot", phase,
                  lambda: versioning.read_snapshot(spark, snap_dir).count())
        timed("operators.versioning.expire", phase,
              lambda: versioning.expire_snapshots(snap_dir, keep_last=2))
        with book.measure():
            if n != replay.total():
                res.fail(f"snapshot holds {n} rows, replay {replay.total()}")

    t = time.perf_counter()
    for kind, part in plan[:4]:
        commit("cold", kind, part)
    snapshot("cold")
    cold_wall = time.perf_counter() - t

    book.seconds = 0.0
    gc0 = jvm_gc_s(spark) if tracer.enabled else 0.0
    t = time.perf_counter()
    for i, (kind, part) in enumerate(plan[4:], 1):
        commit("warm", kind, part)
        if i % SNAPSHOT_EVERY == 0:
            snapshot("warm")
    warm_wall = time.perf_counter() - t - book.seconds
    if tracer.enabled:
        ctx.extra["warm_gc_s"] = jvm_gc_s(spark) - gc0

    res.attempted = len(records)
    t = time.perf_counter()
    final = catalog.load_table(spark, etl_dir, "orders").toArrow()
    if not _same_rows(final, replay.arrow()):
        res.fail("final table differs from the DuckDB replay of the stream")
    res.put("gate_s", time.perf_counter() - t, "s")

    warm_commits = [c for c in commits if c["phase"] == "warm"]
    lat = [c["latency"] for c in warm_commits]
    reads = [r for r in records if r["name"] == "sources.partition_read"]
    first = {}
    for r in records:
        first.setdefault(r["name"], r["latency"])
    res.put("cold_pass_s", sum(first.values()), "s")
    res.put("cold_pass_wall_s", cold_wall, "s")
    res.put("ops_per_s", len(warm_commits) / warm_wall, "1/s")
    res.put("latency_p50_s", median(lat), "s")
    res.put("latency_tail_s", quantile(lat, tail_q(len(lat))), "s")
    res.put("warm_ops", len(lat), "count")
    res.put("latency_tail_q", tail_q(len(lat)), "ratio")
    res.put("read_after_write_p50_s", median([r["latency"] for r in reads if r["phase"] == "warm"]), "s")
    user_bytes = sum(c["changed"] for c in commits) * inputs["row_bytes"]
    res.put("bytes_written_per_user_byte", sum(c["written_bytes"] for c in commits) / user_bytes, "ratio")
    compact = os.path.join(etl_dir, "final_compact.parquet")
    pq.write_table(replay.arrow(), compact)
    table_bytes = _dir_bytes(path)
    res.put("bytes_stored_per_user_byte", table_bytes / os.path.getsize(compact), "ratio")
    for kind in ("merge", "update", "delete", "insert"):
        res.put(f"kind.{kind}.p50_s", median([c["latency"] for c in warm_commits if c["kind"] == kind]), "s")

    hot = set(sorted(parts, reverse=True)[: max(1, len(parts) // 10)])
    ctx.shape.update(
        commits=len(commits),
        commit_kind_shares={
            k: sum(c["kind"] == k for c in commits) / len(commits)
            for k in ("merge", "update", "delete", "insert")
        },
        rows_changed=sum(c["changed"] for c in commits),
        read_write_share={
            "reads": len(reads) / (len(reads) + len(commits)),
            "writes": len(commits) / (len(reads) + len(commits)),
        },
        hottest_10pct_partition_commit_share=sum(c["part"] in hot for c in commits) / len(commits),
    )
    if tracer.enabled:
        _layers(ctx, records, commits, reads, table_bytes, res, warm_wall)


def _same_rows(a: pa.Table, b: pa.Table) -> bool:
    """Equal as multisets of rows (column order and types from ``b``)."""
    if a.num_rows != b.num_rows or sorted(a.column_names) != sorted(b.column_names):
        return False
    a = a.select(b.column_names).cast(b.schema)
    keys = [(c, "ascending") for c in b.column_names]
    return a.sort_by(keys).equals(b.sort_by(keys))


def _layers(ctx, records, commits, reads, table_bytes, res: Result, warm_wall: float) -> None:
    """Per-layer numbers of the traced run."""
    counters = ctx.status.per_op([r["op"] for r in records])
    for r in records:
        r.update(counters[r["op"]])
    warm_ops = [r for r in records if r["phase"] == "warm" and r["name"].startswith("operators.dml.")]
    n = len(warm_ops)
    res.put("queries.jobs_per_op", sum(r["jobs"] for r in warm_ops) / n, "count")
    res.put("queries.tasks_per_op", sum(r["tasks"] for r in warm_ops) / n, "count")
    res.put("queries.busy_share", sum(r["run_s"] for r in warm_ops) / (sum(r["latency"] for r in warm_ops) * cores()), "ratio")
    res.put("queries.input_bytes_per_op", sum(r["input_bytes"] for r in warm_ops) / n, "B")
    res.put("queries.shuffle_write_bytes_per_op", sum(r["shuffle_write_bytes"] for r in warm_ops) / n, "B")
    res.put("queries.spill_bytes_per_op", sum(r["spill_bytes"] for r in warm_ops) / n, "B")
    res.put("queries.gc_s_per_op", ctx.extra["warm_gc_s"] / n, "s")
    res.put("catalog.load_table_s", median(ctx.extra["load_table"]), "s")
    res.put("operators.cache.persists_per_op", sum(r["persists"] for r in warm_ops) / n, "count")
    res.put("operators.cache.release_s", median([r["release"] for r in warm_ops]), "s")
    for kind in ("merge", "update", "delete", "insert"):
        res.put(f"operators.dml.{kind}_s", median([c["latency"] for c in commits if c["kind"] == kind and c["phase"] == "warm"]), "s")
    user = sum(c["changed"] for c in commits)
    res.put("operators.dml.bytes_written_per_changed_byte", res.metrics["bytes_written_per_user_byte"][0], "ratio")
    res.put("operators.dml.files_rewritten_per_commit", sum(c["files"] for c in commits) / len(commits), "count")
    res.put("operators.dml.partitions_touched_per_commit", sum(c["partitions"] for c in commits) / len(commits), "count")
    res.put("operators.dml.rows_changed_per_commit", user / len(commits), "count")
    res.put("operators.dml.failed", 0, "count")
    for name in ("snapshot_write", "read_snapshot", "expire"):
        res.put(f"operators.versioning.{name}_s", median([r["latency"] for r in records if r["name"] == f"operators.versioning.{name}" and r["phase"] == "warm"]), "s")
    res.put("sources.partition_read_s", median([r["latency"] for r in reads if r["phase"] == "warm"]), "s")
    res.put("sources.files_per_partition", sum(r["files"] for r in reads) / len(reads), "count")
    res.put("sources.table_bytes", table_bytes, "B")
    res.put("trace.ops_per_s", sum(1 for c in commits if c["phase"] == "warm") / warm_wall, "1/s")
