"""The two workloads. Each is a closed loop: one client in one
process sends its next call when the previous one has returned.

A pass is the unit that repeats: ``query_mix`` runs its nine headline
queries once; ``lake`` builds a fresh warehouse and runs its whole
sequence of commits and scans in it. Every call the benchmark
times is an *operation* (``ctx.op``); its kind says which latency it
feeds: ``query`` (query_mix), ``commit`` (a call that produces a
snapshot), ``read`` (a lake scan) or ``control`` (CREATE, ALTER,
export).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import shutil
from pathlib import Path

import tables


def materialize(df) -> None:
    """Run the whole plan through Spark's noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def canon_float(v):
    """Round floats to 12 significant digits, recursively. Spark and
    DuckDB add doubles in different orders, so large sums can differ in
    the last bits; rounding both sides keeps the check exact otherwise."""
    if isinstance(v, float) and math.isfinite(v):
        return float(f"{v:.12g}")
    if isinstance(v, (list, tuple)):
        return [canon_float(x) for x in v]
    return v


def dir_bytes(path: str | Path) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def parquet_bytes(spark_df, out: Path) -> int:
    """Bytes of ``spark_df`` written once as one plain parquet file."""
    shutil.rmtree(out, ignore_errors=True)
    spark_df.coalesce(1).write.parquet(str(out))
    size = sum(p.stat().st_size for p in out.glob("*.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    return size


class Workload:
    name = ""
    op_kind = ""  # the kind whose latencies are op_p50_s / op_p90_s
    sf = 0.0
    tables: tuple[str, ...] = tables.TABLES

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = random.Random(seed)

    def stage(self, ctx) -> None:
        """Write the seeded input tables (before the session exists)."""
        tables.write_tables(str(ctx.data_dir), self.sf, self.seed, self.tables)

    def run_pass(self, ctx, pass_id: int) -> dict:
        raise NotImplementedError

    def pass_counts(self, ctx, state: dict) -> dict:
        """Untimed per-pass counts for the traced run."""
        return {}

    def check(self, ctx, state: dict) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def fingerprints(self, ctx) -> dict[str, str]:
        """Plan fingerprints of the workload's queries (``bench.plan_fingerprint``)."""
        return {}


# ---------------------------------------------------------------------------


class QueryMix(Workload):
    """Nine of the 17 ``bench.HEADLINE`` queries over seeded TPC-H-ish
    tables, covering every operator module: a bucketed three-way join,
    two aggregations and a window (relational), exact and n-gram Jaccard
    dedup, brute-force cosine top-k, token counting and TF-IDF. The
    other eight are left out so that a run fits the benchmark's time
    budget; c02 alone adds about 2 s to every pass."""

    name = "query_mix"
    op_kind = "query"
    sf = 0.01
    QUERIES = (
        "b03_join_inner_3way", "b12_agg_pricing_summary", "b13_agg_count_distinct",
        "b18_window_ranking", "c01_dedup_exact", "c04_dedup_ngram_jaccard",
        "c05_cosine_topk_brute", "c09_token_count", "c15_tfidf_top_terms",
    )

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.queries = list(self.QUERIES)
        self.last_df: dict[str, object] = {}
        self.memo_calls = 0
        self.memo_hits = 0

    def run_pass(self, ctx, pass_id: int) -> dict:
        from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (  # noqa: PLC0415
            QUERIES,
        )

        order = list(self.queries)
        self.rng.shuffle(order)
        spark, d = ctx.spark, str(ctx.data_dir)
        for q in order:
            with ctx.op(q, "query"):
                if not ctx.tracer.enabled:
                    materialize(QUERIES[q](spark, d))
                    continue
                with ctx.tracer.span(q, "build"):
                    df = QUERIES[q](spark, d)
                with ctx.tracer.span(q, "plan"):
                    df._jdf.queryExecution().executedPlan()
                with ctx.tracer.span(q, "exec"):
                    materialize(df)
                if pass_id >= 0:
                    self.memo_calls += 1
                    self.memo_hits += df is self.last_df.get(q)
                self.last_df[q] = df
        return {}

    def check(self, ctx, state: dict) -> list[tuple[str, bool, str]]:
        import duckdb  # noqa: PLC0415

        from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (  # noqa: PLC0415
            ORACLES,
            QUERIES,
        )
        from tools.check_correctness import compare  # noqa: PLC0415

        con = duckdb.connect()
        con.execute(f"SET threads TO {ctx.cpus}")
        for tb in self.tables:
            con.execute(
                f"CREATE VIEW {tb} AS SELECT * FROM "
                f"read_parquet('{ctx.data_dir}/{tb}.parquet')"
            )
        out = []
        for q in self.queries:
            sdf = QUERIES[q](ctx.spark, str(ctx.data_dir))
            cols = sorted(sdf.columns)
            srows = [tuple(canon_float(r[c]) for c in cols) for r in sdf.collect()]
            res = con.execute(ORACLES[q])
            dcols = [x[0] for x in res.description]
            if sorted(dcols) != cols:
                out.append((q, False, f"columns {cols} vs {sorted(dcols)}"))
                continue
            idx = [dcols.index(c) for c in cols]
            drows = [tuple(canon_float(r[i]) for i in idx) for r in res.fetchall()]
            ok, detail = compare(srows, drows, cols)
            out.append((q, ok, detail or f"{len(srows)} rows"))
        con.close()
        return out

    def fingerprints(self, ctx) -> dict[str, str]:
        import bench  # noqa: PLC0415

        from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (  # noqa: PLC0415
            QUERIES,
        )

        return {
            q: bench.plan_fingerprint(QUERIES[q](ctx.spark, str(ctx.data_dir)))
            for q in self.queries
        }


# ---------------------------------------------------------------------------


class LakeWorkload(Workload):
    """Lake pieces: a fresh warehouse per pass and per-pass table
    counts."""

    def new_catalog(self, ctx, pass_id: int):
        from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (  # noqa: PLC0415
            LakeCatalog,
        )

        # fixed-width names: the warehouse path is written into every
        # metadata file, so its length must not depend on the pass id
        name = f"pass{pass_id + 1000:04d}"
        # keep only the previous pass's warehouse (the checks read the last)
        for old in ctx.lake_root.glob("pass*"):
            if old.name != f"pass{pass_id + 999:04d}":
                shutil.rmtree(old, ignore_errors=True)
        return LakeCatalog(ctx.lake_root / name, io=ctx.io)

    def table_counts(self, table, scanned) -> dict:
        live = [s for s in table.snapshots if not s.is_row_delete]
        return {
            "snapshots": len(table.all_snapshots()),
            "live_data_files": sum(len(s.files or []) for s in live),
            "files_scanned": len(scanned.inputFiles()),
            "warehouse_bytes": dir_bytes(table.location),
        }


class Lake(LakeWorkload):
    """The lake's write path in one pass, in two tables of a fresh
    warehouse.

    First the reference's own traffic: CREATE from ``orders_v1.json``,
    small appends, ALTER to ``orders_v2.json``, small appends, a full
    scan (metadata and commit cost with almost no data). Then bulk DML
    on a ``years(o_orderdate)`` copy of the seeded ``orders`` table:
    bulk appends, a merge-on-read delete, a copy-on-write update, a
    pruned scan, a sorted compaction, an Iceberg export and its read
    back (data-path cost with few commits). (Monthly partitions over
    the 80-month date range would make every write 80 tiny files.)"""

    name = "lake"
    op_kind = "commit"
    sf = 0.01
    tables = ("orders",)
    appends_per_version = 3

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        r = self.rng
        self.append_seeds = [r.randrange(2**31) for _ in range(2 * self.appends_per_version)]
        self.cut = r.uniform(0.3, 0.7)
        self.deleted_priority = r.choice(tables._PRIORITIES)
        self.updated_status = r.choice(["F", "O", "P"])
        self.prune_from = dt.datetime(r.randint(1998, 2000), r.randint(1, 12), 1)

    @property
    def delete_pred(self) -> str:
        return f"o_orderpriority = '{self.deleted_priority}'"

    @property
    def update_pred(self) -> str:
        return f"o_orderstatus = '{self.updated_status}'"

    def run_pass(self, ctx, pass_id: int) -> dict:
        cat = self.new_catalog(ctx, pass_id)
        state = self._reference_loop(ctx, cat)
        state.update(self._bulk_dml(ctx, cat))
        return state

    def _reference_loop(self, ctx, cat) -> dict:
        from sample_iceberg_schema_evolution_pyiceberg_spark import (  # noqa: PLC0415
            datagen,
            handler,
        )

        assets = Path(handler.__file__).parent / "assets"
        spark = ctx.spark
        rows = 0
        seeds = iter(self.append_seeds)
        for version in ("v1", "v2"):
            with ctx.op(f"process_event:{version}", "control"):
                resp = handler.process_event(
                    spark, cat, str(assets / f"orders_{version}.json")
                )
                if resp.has_error:
                    raise RuntimeError(f"process_event {version}: {resp.message_list}")
            table = cat.load_table("customer_order", "orders")
            for _ in range(self.appends_per_version):
                with ctx.op("append", "commit"):
                    rows += datagen.insert_orders(spark, table, version, seed=next(seeds))
        with ctx.op("scan", "read"):
            df = table.to_df(spark)
            ctx.tracer.call("table_format.scan_exec", materialize, df)
        return {"ref_table": table, "ref_rows": rows, "ref_scan_df": df}

    def _bulk_dml(self, ctx, cat) -> dict:
        from sample_iceberg_schema_evolution_pyiceberg_spark import (  # noqa: PLC0415
            iceberg_export,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (  # noqa: PLC0415
            PartitionField,
            PartitionSpec,
        )

        spark = ctx.spark
        src = spark.read.parquet(str(ctx.data_dir / "orders.parquet"))
        n = tables.row_counts(self.sf)["orders"]
        cut = int(n * self.cut)
        spec = PartitionSpec([PartitionField("o_orderdate", "year", "o_year", 1000)])
        with ctx.op("create_table", "control"):
            table = cat.create_table("bench", "orders", src.schema, spec)
        for a, b in ((0, cut), (cut, n)):
            with ctx.op("append", "commit"):
                table.append(src.filter(f"o_orderkey >= {a} AND o_orderkey < {b}"))
        with ctx.op("delete_where", "commit"):
            table.delete_where(spark, self.delete_pred, strategy="merge_on_read")
        with ctx.op("update_where", "commit"):
            table.update_where(
                spark, self.update_pred, {"o_totalprice": "o_totalprice + 100.0"}
            )
        pruned_at = table.snapshots[-1].snapshot_id
        with ctx.op("pruned_scan", "read"):
            df = table.to_df(spark, pruning=[("o_orderdate", ">=", self.prune_from)])
            ctx.tracer.call("table_format.scan_exec", materialize, df)
        with ctx.op("compact", "commit"):
            table.compact(spark, sort_by=["o_orderdate"])
        with ctx.op("export", "control"):
            iceberg_export.export_to_iceberg(table, spark)
        with ctx.op("read_back", "read"):
            back, _doc = iceberg_export.read_iceberg_table(spark, table.location)
            materialize(back)
        return {"table": table, "back": back, "src": src, "pruned_at": pruned_at}

    def pass_counts(self, ctx, state: dict) -> dict:
        spark = ctx.spark
        ref, bulk = state["ref_table"], state["table"]
        bulk_scan = bulk.to_df(spark)
        a = self.table_counts(ref, state["ref_scan_df"])
        b = self.table_counts(bulk, bulk_scan)
        c = {k: a[k] + b[k] for k in a}
        user = (parquet_bytes(state["ref_scan_df"], ctx.work / "user_rows")
                + parquet_bytes(state["src"], ctx.work / "user_rows"))
        c["write_amp"] = c["warehouse_bytes"] / user
        sid = state["pruned_at"]
        kept = len(bulk.to_df(spark, as_of_snapshot=sid, pruning=[
            ("o_orderdate", ">=", self.prune_from)]).inputFiles())
        listed = len(bulk.to_df(spark, as_of_snapshot=sid).inputFiles())
        c["pruned_file_ratio"] = 1.0 - kept / listed if listed else 0.0
        return c

    def check(self, ctx, state: dict) -> list[tuple[str, bool, str]]:
        return self._check_reference(ctx, state) + self._check_bulk(ctx, state)

    def _check_reference(self, ctx, state: dict) -> list[tuple[str, bool, str]]:
        """The reference table ends with every generated row and the v2
        schema that ``a01_evolution_episode``'s oracle declares."""
        import duckdb  # noqa: PLC0415

        from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (  # noqa: PLC0415
            ORACLES,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.operators.evolution_queries import (  # noqa: PLC0415
            _type_name,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.schema_diff import (  # noqa: PLC0415
            flatten,
        )

        table = state["ref_table"].refresh()
        n = table.to_df(ctx.spark).count()
        got = sorted(
            (path, _type_name(ff.dtype), 0 if ff.required else 1)
            for path, ff in flatten(table.schema).items()
        )
        want = sorted(duckdb.sql(ORACLES["a01_evolution_episode"]).fetchall())
        rows = state["ref_rows"]
        return [
            ("row_count", n == rows, f"{n} rows, generated {rows}"),
            ("v2_schema", got == want, "" if got == want else f"{got} vs {want}"),
        ]

    def _check_bulk(self, ctx, state: dict) -> list[tuple[str, bool, str]]:
        """The bulk table's count and ``sum(o_totalprice)`` equal DuckDB's
        over the source parquet with the same delete and update applied,
        and the Iceberg read-back equals ``to_df``."""
        import duckdb  # noqa: PLC0415

        from tools.check_correctness import compare  # noqa: PLC0415

        spark = ctx.spark
        agg = ("count(*) AS n", "sum(cast(round(o_totalprice * 100) AS bigint)) AS cents")
        lake_df = state["table"].to_df(spark)
        got = lake_df.selectExpr(*agg).collect()[0]
        want = duckdb.sql(
            f"SELECT {', '.join(agg)} FROM (SELECT * REPLACE (CASE WHEN {self.update_pred} "
            f"THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice) "
            f"FROM read_parquet('{ctx.data_dir}/orders.parquet') "
            f"WHERE NOT ({self.delete_pred}))"
        ).fetchone()
        cols = sorted(lake_df.columns)
        lake = [tuple(r[c] for c in cols) for r in lake_df.collect()]
        back = [tuple(r[c] for c in cols) for r in state["back"].collect()]
        same, detail = compare(back, lake, cols)
        return [
            ("count_and_sum", tuple(got) == tuple(want), f"lake {tuple(got)} duckdb {tuple(want)}"),
            ("export_read_back", same, detail or f"{len(back)} rows"),
        ]


WORKLOADS = {w.name: w for w in (QueryMix, Lake)}
