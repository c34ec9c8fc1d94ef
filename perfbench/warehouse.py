"""Workload ``warehouse``: a medallion refresh, then commits and reads.

Set-up writes seeded TPC-H-shaped source tables and a documents table.

The build is the reference medallion flow, timed from raw files to the
last committed gold table: ``bronze.ingest`` (trigger-once) lands every
source; silver cleanses with ``silver.*`` and a catalog UDF
(``functions.udf``); a ``plans.pipeline.Pipeline`` applies expectations
(seeded bad rows are quarantined or counted) and ``apply_changes`` builds
an SCD1 customer and an SCD2 part dimension; documents pass Gopher
curation filters and exact ``dedup``; ``facts.build_fact`` joins
lineitem/orders to both dimensions.  Gold tables are committed as
manifest-mode versioned tables, plus a materialized view over orders.

After one untimed warm-up cycle, the timed window runs a seeded,
unbounded stream of small change batches (``gen.ChangeStream``): commits — SCD1/SCD2 merges through
``versioned.transact``, ``merge.merge_versioned`` upserts and deletes,
``versioned.update_where``/``delete_where``, ``matview.refresh`` — are
interleaved with reads — ``read_current``, ``read_version`` time travel,
``table_changes`` — and gold analytic queries.  Every mutation of
``orders`` is replayed in DuckDB; each read is checked against the replay
at the version it read, and the final tables and the gold queries against
DuckDB over the same inputs.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

import duckdb
import pyarrow as pa

from . import common, gen

SCALE = (f"warehouse c{gen.N_CUSTOMER} p{gen.N_PART} o{gen.N_ORDERS} "
         f"d{gen.N_DOCS}")
SOURCES = ["customer", "part", "orders", "lineitem", "documents"]
CUST_ATTRS = ["c_name", "c_email", "c_nationkey", "c_mktsegment", "c_acctbal_cents"]
PART_ATTRS = ["p_name", "p_brand", "p_retailprice_cents"]
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice_cents",
              "o_orderdate", "o_orderpriority"]
CUST_RULES = {"email_set": "c_email IS NOT NULL",
              "nation_ok": "c_nationkey BETWEEN 0 AND 24"}
PART_RULES = {"size_ok": "p_size <= 45", "name_set": "p_name IS NOT NULL"}
T0 = "2026-01-01 00:00:00"          # refresh clock, pinned for replayable output
REQUIRED = ["the", "be", "to", "of", "and", "that", "have", "with"]


# -- canonical comparison ------------------------------------------------------

def _canon(value) -> str:
    """Cell canonical form of the repository's oracle comparison
    (``tests/conftest.py::assert_matches_oracle``): exact float repr,
    NULL marker, lists element-wise, everything else ``str``."""
    if value is None:
        return "∅"
    if isinstance(value, float):
        return "nan" if math.isnan(value) else repr(value)
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(_canon(v) for v in value) + "]"
    if hasattr(value, "item") and not isinstance(value, (str, bytes)):
        return _canon(value.item())
    return str(value)


def canon_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash: columns sorted by name, rows canonicalised
    and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def spark_hash(df) -> str:
    rows = [tuple(r) for r in df.collect()]
    return canon_hash(df.columns, rows)


def duck_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canon_hash(cols, cur.fetchall())


# -- gold queries ----------------------------------------------------------------

#: Each gold query is Spark SQL over the view ``fact_sales`` and DuckDB SQL
#: over its own ``fact_sales`` — the same text runs on both engines.
GOLD_SQL = [
    # aggregates
    """SELECT l_returnflag, count(*) AS n_lines,
              sum(l_extendedprice_cents) AS gross_cents,
              sum(l_extendedprice_cents * (100 - l_discount_pct)) AS net_centicents
       FROM fact_sales GROUP BY l_returnflag""",
    # window: top three customers by spend per nation
    """SELECT c_nationkey, o_custkey, spend, rnk FROM (
         SELECT c_nationkey, o_custkey, spend,
                rank() OVER (PARTITION BY c_nationkey
                             ORDER BY spend DESC, o_custkey) AS rnk
         FROM (SELECT c_nationkey, o_custkey,
                      sum(l_extendedprice_cents) AS spend
               FROM fact_sales WHERE c_nationkey IS NOT NULL
               GROUP BY c_nationkey, o_custkey) s) r
       WHERE rnk <= 3""",
    # window: monthly orders with a running total
    """SELECT ym, n_orders,
              sum(n_orders) OVER (ORDER BY ym
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS running_orders
       FROM (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
                    count(DISTINCT l_orderkey) AS n_orders
             FROM fact_sales GROUP BY 1) m""",
    # join with the part dimension: brand revenue, top ten
    """SELECT p_brand, sum(f.l_extendedprice_cents) AS revenue_cents,
              count(*) AS n_lines
       FROM fact_sales f JOIN part_current p ON f.l_partkey = p.p_partkey
       GROUP BY p_brand ORDER BY revenue_cents DESC, p_brand LIMIT 10""",
]


# -- DuckDB oracle over the generated inputs -----------------------------------------

def oracle(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in SOURCES:
        con.execute(f"CREATE VIEW src_{name} AS SELECT * FROM "
                    f"read_parquet('{paths[name]}/*.parquet')")
    cust_ok = " AND ".join(f"({r})" for r in CUST_RULES.values())
    part_ok = " AND ".join(f"({r})" for r in PART_RULES.values())
    con.execute(f"""CREATE TABLE customer_dim AS
        SELECT c_custkey, c_first_name || ' ' || c_last_name AS c_name, c_email,
               c_nationkey, c_mktsegment, c_acctbal_cents
        FROM src_customer WHERE coalesce({cust_ok}, false)""")
    con.execute(f"""CREATE TABLE part_dim AS
        SELECT p_partkey, p_name, p_brand, p_retailprice_cents, true AS is_current
        FROM src_part WHERE coalesce({part_ok}, false)""")
    con.execute("CREATE VIEW part_current AS SELECT * FROM part_dim WHERE is_current")
    con.execute("""CREATE TABLE fact_sales AS
        SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity,
               l.l_extendedprice_cents, l.l_discount_pct, l.l_returnflag,
               o.o_custkey, o.o_orderdate, c.c_nationkey
        FROM src_lineitem l JOIN src_orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer_dim c ON o.o_custkey = c.c_custkey""")
    req = ", ".join(f"'{w}'" for w in REQUIRED)
    con.execute(f"""CREATE TABLE docs_curated AS
        WITH t AS (SELECT *, string_split(lower(trim(text)), ' ') AS toks
                   FROM src_documents),
             ok AS (SELECT * FROM t WHERE len(toks) >= 50
                    AND len(list_intersect(list_distinct(toks), [{req}])) >= 2)
        SELECT doc_id, source, text FROM ok
        WHERE doc_id IN (SELECT min(doc_id) FROM ok GROUP BY lower(text))""")
    con.execute(f"CREATE TABLE o_v0 AS SELECT {', '.join(ORDER_COLS)} FROM src_orders")
    return con


class Warehouse:
    """Engine-side state of one run plus its DuckDB replay."""

    def __init__(self, ctx: common.Context, paths: dict[str, str]):
        from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans import (
            facts, matview, merge, scd,
        )
        from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.sources import (
            versioned,
        )

        self.facts, self.matview, self.merge, self.scd = facts, matview, merge, scd
        self.versioned = versioned
        self.ctx = ctx
        self.spark = ctx.spark
        self.src = paths
        self.gold = {n: ctx.path("gold", n) for n in
                     ("customer_dim", "part_dim", "orders", "fact_sales",
                      "docs_curated", "orders_by_status")}
        self.con = oracle(paths)
        self.orders_v: list[int] = []     # committed versions of gold orders
        self.mv_base_v = None
        self.expectations: dict[str, int] = {}
        self.gold_want: list[str] = []    # DuckDB answer hash per gold query

    # -- the refresh ------------------------------------------------------------

    def refresh(self) -> None:
        from pyspark.sql import functions as F

        from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.functions import udf
        from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.operators import (
            curation, dedup, joins, silver,
        )
        from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.plans.pipeline import (
            Pipeline,
        )
        from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark.streaming import (
            bronze,
        )

        ctx, spark, span = self.ctx, self.spark, self.ctx.rec.span
        bronze_dirs = {}
        for name in SOURCES:
            bronze_dirs[name] = ctx.path("bronze", name)
            with span(f"ingest:{name}", "bronze"):
                bronze.ingest(spark, self.src[name], bronze_dirs[name],
                              ctx.path("checkpoints", name))

        with span("cleanse", "silver"):
            def read(name):
                return silver.drop_rescued(spark.read.parquet(bronze_dirs[name]))

            cust = silver.full_name(read("customer"), "c_first_name", "c_last_name", "c_name")
            cust = silver.split_domain(cust, "c_email", "email_domain")
            cust = silver.derive(cust, c_seq=F.lit(1))
            udf.create_sql_udf(spark, "list_discount", "cents BIGINT", "BIGINT",
                               "cents * 9 div 10")
            part = udf.with_udf_column(read("part"), "p_discount_cents",
                                       "list_discount", "p_retailprice_cents")
            orders = silver.project(read("orders"), *ORDER_COLS)
            lines = read("lineitem")
            docs = read("documents")

        p = Pipeline("gold")

        @p.table(name="customers_silver", expect_all_or_quarantine=CUST_RULES)
        def customers_silver(spark):
            return cust

        @p.view(name="parts_silver", expect=PART_RULES, expect_all_or_drop=PART_RULES)
        def parts_silver(spark):
            return part

        p.apply_changes(target="customer_dim", source="customers_silver",
                        keys=["c_custkey"], sequence_by="c_seq", stored_as_scd_type=1,
                        track_history_column_list=CUST_ATTRS, now=T0)
        p.apply_changes(target="part_dim", source="parts_silver",
                        keys=["p_partkey"], sequence_by="p_seq", stored_as_scd_type=2,
                        track_history_column_list=PART_ATTRS, now=T0)

        @p.table(name="docs_curated")
        def docs_curated(spark):
            flags = curation.gopher_quality_flags(docs)
            kept = docs.join(flags.filter("gopher_pass").select("doc_id"), "doc_id")
            return dedup.exact_dedup(kept)

        with span("run", "pipeline"):
            result = p.run(spark)
            out = result.outputs
            cust_dim = out["customer_dim"].localCheckpoint(eager=True)
            part_dim = out["part_dim"].localCheckpoint(eager=True)
            quarantined = out["customers_silver__quarantine"].count()
        report = result.expectation_reports["parts_silver"]
        self.expectations = {
            "expectations.rows_failed": sum(report.violations.values()),
            "expectations.rows_quarantined": quarantined,
        }
        with span("exact_dedup", "dedup"):
            docs_out = out["docs_curated"].localCheckpoint(eager=True)

        with span("build_fact", "facts"):
            base = joins.enrich(lines, [(orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderdate"),
                "l_orderkey", "merge")], how="inner")
            cust_keys = cust_dim.select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey",
                F.col("dim_skey").alias("customer_skey"))
            fact = self.facts.build_fact(
                base, [(cust_keys, "o_custkey")],
                select_cols=["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                             "l_extendedprice_cents", "l_discount_pct", "l_returnflag",
                             "o_custkey", "o_orderdate", "c_nationkey", "customer_skey"],
                now=T0,
            ).localCheckpoint(eager=True)

        v = self.versioned
        for name, df in (("customer_dim", cust_dim), ("part_dim", part_dim),
                         ("orders", orders), ("fact_sales", fact),
                         ("docs_curated", docs_out)):
            with span(f"write:{name}", "versioned.write"):
                ver = v.overwrite_versioned(df, self.gold[name], snapshot_mode="manifest")
            if name == "orders":
                self.orders_v = [ver]
        with span("create:orders_by_status", "matview"):
            self.matview.create(
                spark, self.gold["orders"], self.gold["orders_by_status"],
                key_cols=["o_orderkey"], group_cols=["o_orderstatus"],
                agg_specs={"n_orders": ("count", None),
                           "total_cents": ("sum", "o_totalprice_cents")},
                snapshot_mode="manifest",
            )
        self.mv_base_v = self.orders_v[-1]
        self.con.execute(f"ALTER TABLE o_v0 RENAME TO o_v{self.orders_v[0]}")

    def check_refresh(self) -> None:
        """Gold tables and expectation counts against DuckDB over the inputs."""
        from pyspark.sql import functions as F

        ctx, v, con = self.ctx, self.versioned, self.con
        cur = {n: v.read_current(self.spark, self.gold[n])
               for n in ("customer_dim", "part_dim", "fact_sales", "docs_curated")}
        cust_cols = ", ".join(["c_custkey", *CUST_ATTRS])
        part_cols = ", ".join(["p_partkey", *PART_ATTRS, "is_current"])
        fact_cols = [c for c in cur["fact_sales"].columns
                     if c not in ("customer_skey", "created_dt", "updated_dt")]
        pairs = [
            (cur["customer_dim"].selectExpr(*cust_cols.split(", ")),
             f"SELECT {cust_cols} FROM customer_dim"),
            (cur["part_dim"].selectExpr(*part_cols.split(", ")),
             f"SELECT {part_cols} FROM part_dim"),
            (cur["fact_sales"].select(*fact_cols),
             f"SELECT {', '.join(fact_cols)} FROM fact_sales"),
            (cur["docs_curated"].select("doc_id", "source", "text"),
             "SELECT doc_id, source, text FROM docs_curated"),
        ]
        for df, sql in pairs:
            ctx.check(spark_hash(df) == duck_hash(con, sql), f"gold table != oracle: {sql}")
        fact = cur["fact_sales"]
        ctx.check(fact.filter(F.col("customer_skey").isNull()
                              & F.col("c_nationkey").isNotNull()).count() == 0,
                  "fact_sales: matched customer without surrogate key")
        want_q = con.execute(
            "SELECT count(*) FROM src_customer WHERE NOT coalesce("
            + " AND ".join(f"({r})" for r in CUST_RULES.values()) + ", false)"
        ).fetchone()[0]
        want_f = sum(con.execute(
            f"SELECT count(*) FROM src_part WHERE NOT coalesce({r}, false)"
        ).fetchone()[0] for r in PART_RULES.values())
        ctx.check(self.expectations["expectations.rows_quarantined"] == want_q,
                  "quarantined rows != oracle")
        ctx.check(self.expectations["expectations.rows_failed"] == want_f,
                  "expectation violations != oracle")

    # -- the op stream ------------------------------------------------------------

    def gold_views(self) -> None:
        """Register the gold query inputs once, on the refreshed snapshot."""
        with self.ctx.rec.span("read_current:gold", "versioned.read"):
            self.versioned.read_current(self.spark, self.gold["fact_sales"]) \
                .createOrReplaceTempView("fact_sales")
            self.versioned.read_current(self.spark, self.gold["part_dim"]) \
                .filter("is_current").createOrReplaceTempView("part_current")
        self.gold_want = [duck_hash(self.con, q) for q in GOLD_SQL]

    def _frame(self, table: pa.Table):
        return self.spark.createDataFrame(table)

    def _orders_commit(self, ver: int, dml: str) -> None:
        """Replay one committed change of gold orders in DuckDB."""
        prev = self.orders_v[-1]
        self.con.execute(f"CREATE TABLE o_v{ver} AS SELECT * FROM o_v{prev}")
        self.con.execute(dml.format(t=f"o_v{ver}"))
        self.orders_v.append(ver)

    def do(self, kind: str, pl: dict, i: int, key: str | None = None) -> None:
        """Issue op ``i`` of the stream and check it; its latency is
        recorded under ``key`` (default: its kind)."""
        from pyspark.sql import functions as F

        ctx, v, spark = self.ctx, self.versioned, self.spark
        k = key or kind
        ts = f"2026-02-01 00:{i // 60 % 60:02d}:{i % 60:02d}"
        if kind == "scd1_customer":
            batch = self._frame(pl["rows"])
            ver = ctx.op(k, "scd1_merge", "scd", lambda: v.transact(
                spark, self.gold["customer_dim"],
                lambda snap: self.scd.scd1_merge(snap, batch, ["c_custkey"], CUST_ATTRS,
                                                 "dim_skey", now=ts),
                operation="SCD1"))
            if ver is None:
                return
            self.con.register("b", pl["rows"])
            self.con.execute("""DELETE FROM customer_dim
                WHERE c_custkey IN (SELECT c_custkey FROM b);
                INSERT INTO customer_dim SELECT * FROM b""")
            self.con.unregister("b")
        elif kind == "scd2_part":
            batch = self._frame(pl["rows"])
            ver = ctx.op(k, "scd2_merge", "scd", lambda: v.transact(
                spark, self.gold["part_dim"],
                lambda snap: self.scd.scd2_merge(snap, batch, ["p_partkey"], PART_ATTRS,
                                                 now=ts),
                operation="SCD2"))
            if ver is None:
                return
            self.con.register("b", pl["rows"])
            same = " AND ".join(f"t.{c} = b.{c}" for c in PART_ATTRS)
            self.con.execute(f"""UPDATE part_dim t SET is_current = false FROM b
                WHERE t.is_current AND t.p_partkey = b.p_partkey AND NOT ({same})""")
            self.con.execute(f"""INSERT INTO part_dim SELECT b.*, true FROM b
                WHERE NOT EXISTS (SELECT 1 FROM part_dim t WHERE t.is_current
                                  AND t.p_partkey = b.p_partkey)""")
            self.con.unregister("b")
        elif kind == "merge_upsert":
            batch = self._frame(pl["rows"])
            m = self.merge
            ver = ctx.op(k, "merge_versioned", "merge", lambda: m.merge_versioned(
                spark, self.gold["orders"], batch, ["o_orderkey"],
                update_set={c: m.s(c) for c in ORDER_COLS[1:]},
                insert_values={c: m.s(c) for c in ORDER_COLS}))
            if ver is not None:
                self.con.register("b", pl["rows"])
                self._orders_commit(ver, "DELETE FROM {t} WHERE o_orderkey IN "
                                   "(SELECT o_orderkey FROM b); INSERT INTO {t} SELECT * FROM b")
                self.con.unregister("b")
        elif kind == "merge_delete":
            batch = self._frame(pl["rows"])
            ver = ctx.op(k, "merge_versioned", "merge",
                         lambda: self.merge.merge_versioned(
                             spark, self.gold["orders"], batch, ["o_orderkey"],
                             delete_condition=F.lit(True), operation="DELETE"))
            if ver is not None:
                keys = ", ".join(str(k) for k in pl["rows"].column("o_orderkey").to_pylist())
                self._orders_commit(ver, f"DELETE FROM {{t}} WHERE o_orderkey IN ({keys})")
        elif kind == "update_where":
            cond = f"o_orderkey % {pl['mod']} = {pl['rem']}"
            ver = ctx.op(k, "update_where", "versioned.dml", lambda: v.update_where(
                spark, self.gold["orders"], cond,
                {"o_totalprice_cents": f"o_totalprice_cents * {pl['pct']} div 100"}))
            if ver is not None:
                self._orders_commit(ver, f"""UPDATE {{t}} SET o_totalprice_cents =
                    o_totalprice_cents * {pl['pct']} // 100 WHERE {cond}""")
        elif kind == "delete_where":
            cond = f"o_orderkey % {pl['mod']} = {pl['rem']}"
            ver = ctx.op(k, "delete_where", "versioned.dml",
                         lambda: v.delete_where(spark, self.gold["orders"], cond))
            if ver is not None:
                self._orders_commit(ver, f"DELETE FROM {{t}} WHERE {cond}")
        elif kind == "matview_refresh":
            out = ctx.op(k, "matview_refresh", "matview",
                         lambda: self.matview.refresh(spark, self.gold["orders_by_status"]))
            if out is not None:
                self.mv_base_v = out["base_version"]
        elif kind == "read_current":
            got = ctx.op(k, "read_current", "versioned.read", lambda: v.read_current(
                spark, self.gold["orders"]).agg(
                    F.count(F.lit(1)), F.sum("o_totalprice_cents")).collect()[0])
            if got is not None:
                self._check_orders(got, self.orders_v[-1])
        elif kind == "read_version":
            ver = self.orders_v[max(0, len(self.orders_v) - 1 - gen.READ_BACK)]
            got = ctx.op(k, "read_version", "versioned.read", lambda: v.read_version(
                spark, self.gold["orders"], ver).agg(
                    F.count(F.lit(1)), F.sum("o_totalprice_cents")).collect()[0])
            if got is not None:
                self._check_orders(got, ver)
        elif kind == "table_changes":
            hi = self.orders_v[-1]
            lo = self.orders_v[max(0, len(self.orders_v) - 1 - gen.CHANGES_SPAN)]
            got = ctx.op(k, "table_changes", "versioned.changes", lambda: v.table_changes(
                spark, self.gold["orders"], ["o_orderkey"], lo, hi)
                .groupBy("_change_type").count().collect())
            if got is not None:
                want = self._changes_oracle(lo, hi)
                ctx.check({r[0]: r[1] for r in got} == want,
                          f"table_changes {lo}->{hi}: {got} != {want}")
        elif kind.startswith("gold_query"):
            q = int(kind[len("gold_query"):])
            got = ctx.op(k, kind, "gold_query", lambda: spark.sql(GOLD_SQL[q]).collect())
            if got is not None:
                cols = list(got[0].__fields__) if got else []
                ctx.check(canon_hash(cols, [tuple(r) for r in got]) == self.gold_want[q],
                          f"gold query {q} != oracle")
        else:
            raise ValueError(kind)

    def _check_orders(self, got, ver: int) -> None:
        want = self.con.execute(
            f"SELECT count(*), sum(o_totalprice_cents) FROM o_v{ver}").fetchone()
        self.ctx.check(tuple(got) == tuple(want), f"orders v{ver}: {tuple(got)} != {want}")

    def _changes_oracle(self, lo: int, hi: int) -> dict[str, int]:
        a, b = f"o_v{lo}", f"o_v{hi}"
        cols = ORDER_COLS[1:]
        old = ", ".join(f"a.{c}" for c in cols)
        new = ", ".join(f"b.{c}" for c in cols)
        row = self.con.execute(f"""SELECT
            count(*) FILTER (WHERE a.o_orderkey IS NULL),
            count(*) FILTER (WHERE b.o_orderkey IS NULL),
            count(*) FILTER (WHERE a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                             AND ({old}) IS DISTINCT FROM ({new}))
            FROM {a} a FULL JOIN {b} b ON a.o_orderkey = b.o_orderkey""").fetchone()
        out = {"insert": row[0], "delete": row[1],
               "update_preimage": row[2], "update_postimage": row[2]}
        return {k: n for k, n in out.items() if n}

    def check_final(self) -> None:
        """Final table states against the DuckDB replay."""
        ctx, v, con = self.ctx, self.versioned, self.con
        cust_cols = ", ".join(["c_custkey", *CUST_ATTRS])
        part_cols = ", ".join(["p_partkey", *PART_ATTRS, "is_current"])
        cur = {n: v.read_current(self.spark, self.gold[n])
               for n in ("customer_dim", "part_dim", "orders", "orders_by_status")}
        pairs = [
            (cur["customer_dim"].selectExpr(*cust_cols.split(", ")),
             f"SELECT {cust_cols} FROM customer_dim"),
            (cur["part_dim"].selectExpr(*part_cols.split(", ")),
             f"SELECT {part_cols} FROM part_dim"),
            (cur["orders"], f"SELECT * FROM o_v{self.orders_v[-1]}"),
            (cur["orders_by_status"].select("o_orderstatus", "n_orders", "total_cents"),
             f"""SELECT o_orderstatus, count(*) AS n_orders,
                        sum(o_totalprice_cents) AS total_cents
                 FROM o_v{self.mv_base_v} GROUP BY o_orderstatus"""),
        ]
        for df, sql in pairs:
            ctx.check(spark_hash(df) == duck_hash(con, sql), f"final state != replay: {sql}")

    def storage(self) -> dict[str, float]:
        """Bytes and files on disk, read from outside the engine: data files
        (retained versions included) and the version logs beside them."""
        data = log = files = 0
        for path in self.gold.values():
            for top in (path, path + ".__versions"):
                for root, _d, fs in os.walk(top):
                    in_log = f"{os.sep}_log" in root[len(top):] or root.endswith("_log")
                    for f in fs:
                        size = os.path.getsize(os.path.join(root, f))
                        if f.endswith(".parquet") and not in_log:
                            data += size
                            files += 1
                        elif f.endswith(".json") or in_log:
                            log += size
        tail = self.versioned.log_read_footprint(self.gold["orders"])["tail_files_read"]
        return {"versioned.data_bytes": data, "versioned.log_bytes": log,
                "versioned.files": files, "versioned.log_tail_files_read": tail,
                **self.expectations}


def run(ctx: common.Context) -> dict:
    def prepare(spark, rep_dir):
        tables = gen.warehouse_tables(ctx.seed)
        paths = gen.write_tables(tables, os.path.join(rep_dir, "source"))
        n = spark.read.parquet(paths["orders"]).count()
        if n != gen.N_ORDERS:
            raise RuntimeError(f"orders load read {n} rows")
        return tables, paths

    (tables, paths), setup_s = common.repeated_setup(ctx, 3, prepare)
    with ctx.rec.span("oracle"):
        wh = Warehouse(ctx, paths)

    with ctx.rec.span("refresh") as sp:
        wh.refresh()
    build_s = sp.duration
    ctx.attempted += 1
    with ctx.rec.span("check_refresh"):
        wh.check_refresh()
        wh.gold_views()

    stream = gen.ChangeStream(ctx.seed, tables)
    user_bytes = sum(t.nbytes for t in tables.values())
    # One full op cycle runs first — checked like the rest, kept out of the
    # latency figures — so that every op kind in the window runs warm code,
    # however many cycles a slow or fast host fits in the window.
    with ctx.rec.span("warmup"):
        for i in range(len(gen.OP_CYCLE)):
            kind, payload = stream.op(i)
            wh.do(kind, payload, i, key="warmup")
            if "rows" in payload:
                user_bytes += payload["rows"].nbytes
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    i = len(gen.OP_CYCLE)
    with ctx.rec.span("window"):
        while time.perf_counter() < deadline:
            kind, payload = stream.op(i)
            wh.do(kind, payload, i)
            if "rows" in payload:
                user_bytes += payload["rows"].nbytes
            i += 1
    with ctx.rec.span("check_final"):
        wh.check_final()

    ctx.extra["ops_issued"] = i
    storage = wh.storage()
    # bytes on disk (data + log) per byte of user rows committed, counted
    # as the in-memory Arrow size of the sources and the change batches
    ctx.extra["write_amplification"] = (
        (storage["versioned.data_bytes"] + storage["versioned.log_bytes"]) / user_bytes)
    return {
        "setup_s": setup_s,
        "build_s": build_s,
        "read": {k: d for k, d in ctx.ops.items()
                 if k not in gen.COMMIT_OPS and k != "warmup"},
        "write": {k: d for k, d in ctx.ops.items() if k in gen.COMMIT_OPS},
        "storage": storage,
    }


def named_metrics(ctx: common.Context, res: dict) -> dict:
    """The workload's metrics under the names the layer map uses."""
    reads = [d for k, ds in res["read"].items() if not k.startswith("gold") for d in ds]
    gold = [d for k, ds in res["read"].items() if k.startswith("gold") for d in ds]
    commits = [d for ds in res["write"].values() for d in ds]
    return {
        "refresh_s": res["build_s"],
        "commit_p50_s": statistics.median(commits),
        "commit_tail_s": common.tail(commits),
        "read_p50_s": statistics.median(reads),
        "read_tail_s": common.tail(reads),
        "gold_query_p50_s": statistics.median(gold),
        "write_amplification": ctx.extra["write_amplification"],
        "per_kind_p50_s": {k: statistics.median(ds)
                           for k, ds in {**res["read"], **res["write"]}.items()},
        **res["storage"],
    }
