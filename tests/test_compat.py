"""Redshift -> Spark SQL transpiler (etl_pipelines_spark.compat).

Two tiers: text-level rewrite checks (fast, no session) and
execution checks that run transpiled Redshift-dialect SQL against
real temp views and assert VALUES, not just parses. The dialect
constructs covered mirror the reference's usage inventory
(the frozen TRANSPILE_COVERAGE.json sweep): QUALIFY, UPDATE ... FROM,
DELETE ... USING, CREATE TEMP TABLE (LIKE ...), WITH NO SCHEMA
BINDING, ``~``-family operators, AT TIME ZONE, quoted datetime
units, JSON_EXTRACT_PATH_TEXT, TO_CHAR, IDENTITY columns, Jinja /
format-string template holes.
"""
from __future__ import annotations

import re

import pytest

from etl_pipelines_spark.compat import (
    TranspileError,
    install,
    run_sql,
    split_statements,
    transpile,
)


def norm(s: str) -> str:
    return " ".join(s.split())


class TestTextRewrites:
    def test_passthrough_is_lossless(self):
        sql = "SELECT a::int, b || c FROM t WHERE a <> 2 -- note"
        assert transpile(sql) == sql

    def test_getdate_and_sysdate(self):
        assert "current_timestamp()" in transpile("SELECT GETDATE()")
        assert "current_timestamp()" in transpile("SELECT SYSDATE")

    def test_update_from_becomes_merge(self):
        out = transpile(
            "UPDATE tgt SET a = s.a, b = s.b FROM stage s "
            "WHERE tgt.id = s.id"
        )
        assert norm(out) == norm(
            "MERGE INTO tgt USING stage s ON tgt.id = s.id "
            "WHEN MATCHED THEN UPDATE SET a = s.a, b = s.b"
        )

    def test_update_from_join_wraps_subquery(self):
        out = transpile(
            "UPDATE tgt SET a = t.x FROM tgt t "
            "INNER JOIN pii ON t.id = pii.id"
        )
        assert "USING (SELECT * FROM tgt t" in out
        assert ") t ON true" in out

    def test_update_without_from_passes_through(self):
        sql = "UPDATE t SET a = 1 WHERE b = 2"
        assert transpile(sql) == sql

    def test_delete_using_becomes_merge(self):
        out = transpile(
            "DELETE FROM tgt USING stage s WHERE tgt.id = s.id"
        )
        assert norm(out) == norm(
            "MERGE INTO tgt USING stage s ON tgt.id = s.id "
            "WHEN MATCHED THEN DELETE"
        )

    def test_create_temp_like_becomes_empty_clone_view(self):
        out = transpile(
            "CREATE TEMP TABLE stage_dl (LIKE sch.base)"
        )
        assert norm(out) == norm(
            "CREATE OR REPLACE TEMPORARY VIEW stage_dl AS "
            "SELECT * FROM sch.base WHERE 1 = 0"
        )

    def test_create_table_like_permanent(self):
        out = transpile("CREATE TABLE a.b (LIKE c.d)")
        assert norm(out) == "CREATE TABLE a.b LIKE c.d"

    def test_no_schema_binding_stripped(self):
        out = transpile(
            "CREATE VIEW v AS SELECT 1 AS a WITH NO SCHEMA BINDING"
        )
        assert "SCHEMA BINDING" not in out

    def test_set_to_becomes_eq(self):
        out = transpile("SET enable_case_sensitive_identifier TO TRUE")
        assert "=" in out and " TO " not in out

    def test_refresh_mv(self):
        out = transpile("REFRESH MATERIALIZED VIEW sch.mv1")
        assert norm(out) == "REFRESH TABLE sch.mv1"

    def test_truncate_gets_table_keyword(self):
        assert norm(transpile("TRUNCATE sch.t")) == "TRUNCATE TABLE sch.t"
        sql = "TRUNCATE TABLE sch.t"
        assert transpile(sql) == sql

    def test_identity_clause_stripped(self):
        out = transpile(
            "CREATE TABLE t (id INT IDENTITY(1,1), v VARCHAR(10))"
        )
        assert "IDENTITY" not in out.upper()

    def test_double_precision(self):
        out = transpile("SELECT price::DOUBLE PRECISION FROM t")
        assert "PRECISION" not in out.upper()
        assert "DOUBLE" in out.upper()

    def test_at_time_zone(self):
        out = transpile(
            "UPDATE t SET valid_to = current_timestamp "
            "AT TIME ZONE 'CEST'"
        )
        # 'CEST' normalizes to its fixed offset (r11): Spark's zone
        # parser rejects DST abbreviations Redshift accepts
        assert "from_utc_timestamp(current_timestamp, '+02:00')" in out

    def test_postgres_like_ops(self):
        assert "LIKE" in transpile("SELECT a ~~ 'x%' FROM t")
        assert "NOT ILIKE" in transpile("SELECT a !~~* 'x%' FROM t")

    def test_tilde_regex(self):
        out = transpile('SELECT "user_id" ~ \'^[0-9]+$\' FROM t')
        assert "RLIKE" in out

    def test_unary_tilde_after_keyword_passes_through(self):
        """r6 advice: `~` right after a reserved keyword is bitwise
        NOT, not a fused RLIKE identifier."""
        assert transpile("SELECT ~5") == "SELECT ~5"
        assert transpile("SELECT a FROM t WHERE ~x = 3") == (
            "SELECT a FROM t WHERE ~x = 3"
        )

    def test_binary_tilde_keeps_space(self):
        out = transpile("SELECT a~'^x' FROM t")
        assert "RLIKE '^x'" in out

    def test_postfix_isnull(self):
        out = transpile("SELECT 1 FROM t WHERE a isnull")
        assert "IS NULL" in out
        out = transpile("SELECT 1 FROM t WHERE a NOTNULL AND b=2")
        assert "IS NOT NULL" in out
        # SQL-Server-style 2-arg call form rewrites to NVL (r12:
        # Spark's isnull is strictly the 1-arg null test — the old
        # pass-through failed analysis with WRONG_NUM_ARGS)
        assert "nvl(a, b)" in transpile("SELECT isnull(a, b) FROM t")

    def test_psql_bind_variables(self):
        out = transpile("DELETE FROM t WHERE year = :year AND m=:m")
        assert "__param_year__" in out and "__param_m__" in out
        # :: casts are untouched
        assert "::" in transpile("SELECT a::int FROM t")

    def test_delete_without_from(self):
        out = transpile("DELETE stg.events WHERE d < '2024-01-01'")
        assert out.upper().startswith("DELETE FROM")

    def test_drop_cascade_stripped(self):
        out = transpile("drop table if exists s.t  cascade")
        assert "cascade" not in out.lower()

    def test_varchar_max_and_timestamp_precision(self):
        assert "string" in transpile("SELECT a::varchar(max) FROM t")
        out = transpile("SELECT b::timestamp(0) FROM t")
        assert "(0)" not in out and "timestamp" in out
        # numbered varchar survives
        assert "varchar(12)" in transpile("SELECT a::varchar(12) FROM t")

    def test_temp_table_with_column_defs_stays_table(self):
        out = transpile(
            "CREATE TEMP TABLE stage (reference_date date)"
        )
        assert "VIEW" not in out.upper()
        assert "CREATE TABLE" in out.upper()
        # CTAS temp still becomes a view
        out2 = transpile("CREATE TEMP TABLE s AS SELECT 1 a")
        assert "TEMPORARY VIEW" in out2.upper()

    def test_ddl_bare_null_column_constraint(self):
        out = transpile(
            "CREATE TABLE IF NOT EXISTS d.t (a INTEGER NOT NULL, "
            "b float NULL, c string NULL)"
        )
        assert "NOT NULL" in out
        assert re.search(r"(?i)\bfloat\s+NULL", out) is None

    def test_array_agg_order_by(self):
        out = transpile(
            "SELECT array_agg(name ORDER BY sku, store_id) AS ns "
            "FROM t GROUP BY 1"
        )
        assert "array_sort" in out and "named_struct" in out
        assert "__x.v" in out
        with pytest.raises(TranspileError):
            transpile("SELECT array_agg(a ORDER BY b DESC) FROM t")

    def test_with_delete_using_folds_cte(self):
        out = transpile(
            "WITH dups AS (SELECT id FROM s GROUP BY 1) "
            "DELETE FROM tgt.t USING dups src "
            "WHERE src.id = tgt.t.id"
        )
        assert out.startswith("MERGE INTO tgt.t USING (WITH dups")
        assert "SELECT * FROM dups) src" in out
        assert "WHEN MATCHED THEN DELETE" in out

    def test_qualify_trailing_comment_stripped(self):
        out = transpile(
            "SELECT a FROM t\n"
            "QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1 -- keep one\n"
        )
        assert "keep one" not in out
        assert "__qualify__" in out

    def test_json_path_space_key_takes_bracket_branch(self):
        out = transpile(
            "SELECT JSON_EXTRACT_PATH_TEXT(j, 'a b', 'c') FROM t"
        )
        # `$.a b` is unparseable by get_json_object (silent NULLs) —
        # space keys must use bracket form (r6 advice)
        assert "$[''a b''].c" in out  # SQL-escaped '$[\'a b\'].c'

    def test_quoted_units(self):
        out = transpile("SELECT DATEADD('month', 1, d) FROM t")
        assert "'month'" not in out
        out = transpile("SELECT DATE_ADD('week', -1, d) FROM t")
        assert "'week'" not in out and "week" in out
        # 2-arg date_add must pass through untouched
        sql = "SELECT DATE_ADD(d, 7) FROM t"
        assert transpile(sql) == sql

    def test_extract_quoted_epoch(self):
        out = transpile("SELECT EXTRACT('epoch' FROM ts) FROM t")
        assert "'epoch'" not in out and "epoch" in out

    def test_jinja_hole_in_literal(self):
        out = transpile(
            "SELECT 1 FROM t WHERE y = '{{ti.xcom_pull(key='year')}}'"
        )
        assert out.endswith("'__jinja_param__'")

    def test_format_brace_hole(self):
        out = transpile("DELETE FROM {schema_name}.{table_name} WHERE 1=1")
        assert "__param_schema_name__.__param_table_name__" in out

    def test_bool_and_datetime_types(self):
        assert "boolean" in transpile("SELECT a::BOOL FROM t")
        assert "timestamp" in transpile("SELECT a::datetime FROM t")
        # "datetime" as a column name must survive
        sql = "SELECT datetime FROM t"
        assert transpile(sql) == sql

    def test_timestamp_with_time_zone_type(self):
        out = transpile("CREATE TABLE t (a TIMESTAMP WITH TIME ZONE)")
        assert "ZONE" not in out.upper()

    def test_temp_view_name_qualifier_stripped(self):
        out = transpile("CREATE TEMP TABLE sch.stage AS SELECT 1 AS a")
        assert "TEMPORARY VIEW stage" in out

    def test_minmax_within_group_dropped(self):
        out = transpile(
            "select max(a) within group (order by b) as m, "
            "min(a) within group (order by b desc) as n from t"
        )
        assert norm(out) == "select max(a) as m, min(a) as n from t"
        # listagg keeps its WITHIN GROUP (Spark parses it natively)
        sql = "select listagg(a, ',') within group (order by a) from t"
        assert transpile(sql) == sql

    def test_fn_renames(self):
        assert "repeat(" in transpile("SELECT REPLICATE('x', 3)")
        # only in call position
        sql = "SELECT replicate FROM t"
        assert transpile(sql) == sql

    def test_datetime_format_single_pass(self):
        # the affiliate-feed shapes (affiliate_cj_submitted_orders):
        # translation is correct applied ONCE; run_sql applies once.
        out = transpile(
            "SELECT TO_TIMESTAMP(d, 'MM/DD/YYYY HH:MI:SS AM') FROM t"
        )
        assert "'MM/dd/yyyy hh:mm:ss a'" in out
        out = transpile(
            "SELECT to_timestamp(d, 'yyyy-mm-dd HH24:MI:SS') FROM t"
        )
        assert "'yyyy-MM-dd HH:mm:ss'" in out

    def test_split_statements_respects_literals(self):
        stmts = split_statements("SELECT ';'; SELECT 2 -- c;\n; SELECT 3")
        assert len(stmts) == 3


class TestExecution:
    @pytest.fixture(autouse=True)
    def views(self, spark):
        install(spark)
        spark.createDataFrame(
            [(1, "alice", 10.0, "2024-01-02"),
             (2, "bob", 20.0, "2024-01-03"),
             (3, "carol", 20.0, "2024-01-03"),
             (4, None, 5.0, "2024-02-10")],
            "id int, name string, amt double, d string",
        ).createOrReplaceTempView("compat_t")
        yield
        spark.catalog.dropTempView("compat_t")

    def test_qualify_rownum(self, spark):
        df = run_sql(
            spark,
            "SELECT d, amt FROM compat_t "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY d ORDER BY amt) = 1",
        )
        rows = {(r.d, r.amt) for r in df.collect()}
        assert rows == {("2024-01-02", 10.0), ("2024-01-03", 20.0),
                        ("2024-02-10", 5.0)}
        assert df.columns == ["d", "amt"]

    def test_qualify_distinct_filters_before_dedup(self, spark):
        # Snowflake/Redshift order: QUALIFY runs before DISTINCT, so
        # both d='2024-01-03' rows (rank 1 and 2) must collapse to
        # the rank<=2 distinct amt set
        df = run_sql(
            spark,
            "SELECT DISTINCT amt FROM compat_t "
            "QUALIFY RANK() OVER (ORDER BY amt) <= 2",
        )
        assert {r.amt for r in df.collect()} == {5.0, 10.0}

    def test_json_extract_path(self, spark):
        df = run_sql(
            spark,
            """SELECT JSON_EXTRACT_PATH_TEXT(
                 '{"a": {"b": "deep"}}', 'a', 'b') AS v""",
        )
        assert df.collect()[0].v == "deep"

    def test_to_char(self, spark):
        df = run_sql(
            spark,
            "SELECT TO_CHAR(DATE '2024-03-05', 'YYYY-MM-DD') AS v",
        )
        assert df.collect()[0].v == "2024-03-05"

    def test_udfs(self, spark):
        row = run_sql(
            spark,
            "SELECT CHARINDEX('b', 'abc') AS ci, ISNUMERIC('3.5') AS n1,"
            " ISNUMERIC('x5') AS n2, IS_VALID_JSON('{\"a\":1}') AS j,"
            " IS_VALID_JSON_ARRAY('[1,2]') AS ja, FUNC_SHA1('x') AS h",
        ).collect()[0]
        assert (row.ci, row.n1, row.n2, row.j, row.ja) == (
            2, True, False, True, True)
        assert len(row.h) == 40

    def test_replicate_and_similar_to(self, spark):
        row = run_sql(
            spark,
            "SELECT REPLICATE('x', LEN('abc')) AS r,"
            " 'banana' SIMILAR TO 'b%na' AS s",
        ).collect()[0]
        assert row.r == "xxx" and row.s is True

    def test_at_time_zone_exec(self, spark):
        row = run_sql(
            spark,
            "SELECT TIMESTAMP '2024-06-01 12:00:00' "
            "AT TIME ZONE 'Europe/Berlin' AS v",
        ).collect()[0]
        assert str(row.v) == "2024-06-01 14:00:00"  # UTC+2 in summer

    def test_tilde_ops_exec(self, spark):
        row = run_sql(
            spark,
            "SELECT 'abc123' ~ '^[a-z]+[0-9]+$' AS re,"
            " 'HELLO' ~~* 'he%' AS il, 'abc' !~ '^z' AS nre",
        ).collect()[0]
        assert (row.re, row.il, row.nre) == (True, True, True)

    def test_create_temp_like_round_trip(self, spark):
        run_sql(
            spark, "CREATE TEMP TABLE clone_dl (LIKE compat_t)"
        )
        df = spark.table("clone_dl")
        assert df.columns == ["id", "name", "amt", "d"]
        assert df.count() == 0
        spark.catalog.dropTempView("clone_dl")

    def test_multi_statement_script(self, spark):
        df = run_sql(
            spark,
            """
            SET enable_case_sensitive_identifier TO TRUE;
            CREATE TEMP TABLE big AS
              SELECT * FROM compat_t WHERE amt >= 10;
            SELECT COUNT(*) AS n FROM tmp_big
            """.replace("tmp_big", "big"),
        )
        assert df.collect()[0].n == 3
        spark.catalog.dropTempView("big")

    def test_update_from_merge_semantics(self, spark, tmp_path):
        # MERGE needs a writable table: run the rewritten statement
        # through the engine's keyed-upsert writer semantics instead
        # -- here we assert the MERGE text parses and the plan is a
        # MergeIntoTable command on a v2-capable catalog-less check.
        out = transpile(
            "UPDATE tgt SET amt = s.amt FROM stage s "
            "WHERE tgt.id = s.id"
        )
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(out)
        assert "MergeIntoTable" in plan.getClass().getSimpleName()

    def test_loud_stop_on_unfixable(self):
        with pytest.raises(TranspileError):
            transpile("SELECT a SIMILAR TO b FROM t")  # non-literal


class TestReferenceShapedScript:
    """A reference-shaped Redshift script (same constructs as the
    Datawarehouse-ETL incremental loaders; text is original) runs
    end-to-end on the testdata tables."""

    def test_incremental_loader_shape(self, spark, sf_dir):
        install(spark)
        spark.read.parquet(f"{sf_dir}/orders.parquet") \
            .createOrReplaceTempView("src_orders")
        script = """
        SET enable_case_sensitive_identifier TO TRUE;

        CREATE TEMP TABLE orders_stage AS
        SELECT
            o_orderkey AS order_id,
            o_custkey  AS customer_id,
            o_totalprice::DOUBLE PRECISION AS order_value,
            TO_CHAR(o_orderdate, 'YYYY-MM') AS order_month,
            CASE WHEN o_orderstatus ~ '^[OF]$' THEN 'closedish'
                 ELSE 'other' END AS status_class
        FROM src_orders
        WHERE o_orderpriority !~~ '5%'
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC,
            o_orderkey DESC) = 1;

        SELECT order_month,
               COUNT(*) AS n_latest,
               SUM(order_value)::DECIMAL(18,2) AS latest_value
        FROM orders_stage
        GROUP BY 1
        ORDER BY 1
        """
        df = run_sql(spark, script)
        rows = df.collect()
        assert len(rows) > 10
        assert df.columns == ["order_month", "n_latest", "latest_value"]
        # the QUALIFY kept exactly one row per customer
        total = sum(r.n_latest for r in rows)
        n_cust = (
            spark.table("src_orders")
            .where("o_orderpriority NOT LIKE '5%'")
            .select("o_custkey").distinct().count()
        )
        assert total == n_cust
        spark.catalog.dropTempView("orders_stage")
        spark.catalog.dropTempView("src_orders")


class TestRealReferenceFile:
    """A REAL reference file (read from /root/reference at test time,
    never copied into this repo) runs end-to-end: the Redshift text
    through compat.run_sql on Spark, and the SAME original text
    through DuckDB (which speaks QUALIFY natively) — the two engines
    must produce identical rows over identical synthesized fixtures.
    File: Datawarehouse-ETL/1_ods_finance/00_billing_invoices_clerk
    .sql — DROP + CTAS with two QUALIFY dedups over COALESCE'd keys
    and an inner join."""

    REF = (
        "/root/reference/Datawarehouse-ETL/1_ods_finance/"
        "00_billing_invoices_clerk.sql"
    )

    @pytest.fixture()
    def fixture_frames(self):
        import pandas as pd

        # invoices: 20 ids; a third CREDIT NOTE (filtered), group/
        # movement ids exercise every COALESCE branch; created_at
        # unique per final partition so the rn=1 pick is total-order
        # deterministic in both engines.
        inv = pd.DataFrame({
            "id": range(1, 21),
            "number": [f"INV-{i:04d}" for i in range(1, 21)],
            "number_sequence": [i * 7 % 13 for i in range(1, 21)],
            "payment_group_id": pd.array(
                [None if i % 3 == 0 else 500 + i % 5
                 for i in range(1, 21)],
                dtype="Int64",
            ),
            "movement_id": pd.array(
                [None if i % 2 == 0 else 700 + i % 4
                 for i in range(1, 21)],
                dtype="Int64",
            ),
            "type": [
                "CREDIT NOTE" if i % 3 == 1 else "INVOICE"
                for i in range(1, 21)
            ],
            "created_at": pd.to_datetime(
                [f"2024-03-{(i % 27) + 1:02d} 10:{i:02d}:00"
                 for i in range(1, 21)]
            ),
        })
        # pdfs: ~2 rows per invoice with distinct created_at so the
        # inner QUALIFY actually dedups; payments_id null on evens.
        rows = []
        for i in range(1, 21):
            for rep in range(1 + (i % 2)):
                rows.append({
                    "invoice_id": i,
                    "payments_id": None if i % 2 == 0 else 9000 + i,
                    "invoice_number": f"PDF-{i:04d}-{rep}",
                    "invoice_date": f"2024-03-{(i % 27) + 1:02d}",
                    "public_url": f"https://x/inv/{i}/{rep}",
                    "order_number": f"R{i:05d}",
                    "invoice_due_date": f"2024-04-{(i % 27) + 1:02d}",
                    "customer_id": 100 + i % 7,
                    "invoice_start": "2024-03-01",
                    "invoice_end": "2024-03-31",
                    "amount_total": round(i * 9.99 + rep, 2),
                    "created_at": pd.Timestamp(
                        f"2024-03-{(i % 27) + 1:02d} 12:{i:02d}:{rep:02d}"
                    ),
                })
        return inv, pd.DataFrame(rows)

    def test_reference_file_both_engines_agree(
        self, spark, fixture_frames
    ):
        import duckdb
        import os

        if not os.path.exists(self.REF):
            pytest.skip("reference tree not available")
        text = open(self.REF).read()
        inv, pdf = fixture_frames

        # --- Spark side: real catalog tables, transpiled script
        spark.sql("CREATE DATABASE IF NOT EXISTS oltp_clerk")
        spark.sql("CREATE DATABASE IF NOT EXISTS ods_production")
        spark.createDataFrame(inv).write.mode("overwrite") \
            .saveAsTable("oltp_clerk.invoice")
        spark.createDataFrame(pdf).write.mode("overwrite") \
            .saveAsTable("oltp_clerk.invoice_pdf")
        try:
            run_sql(spark, text)
            got = (
                spark.table("ods_production.billing_invoices_clerk")
                .toPandas()
            )

            # --- DuckDB side: the ORIGINAL dialect text, verbatim
            con = duckdb.connect()
            con.execute("CREATE SCHEMA oltp_clerk")
            con.execute("CREATE SCHEMA ods_production")
            con.register("inv_src", inv)
            con.register("pdf_src", pdf)
            con.execute(
                "CREATE TABLE oltp_clerk.invoice AS SELECT * FROM inv_src"
            )
            con.execute(
                "CREATE TABLE oltp_clerk.invoice_pdf AS "
                "SELECT * FROM pdf_src"
            )
            for stmt in split_statements(text):
                con.execute(stmt)
            want = con.execute(
                "SELECT * FROM ods_production.billing_invoices_clerk"
            ).df()

            assert list(got.columns) == list(want.columns)
            key = ["invoice_id"]
            g = got.sort_values(key).reset_index(drop=True)
            w = want.sort_values(key).reset_index(drop=True)
            assert len(g) == len(w) and len(g) > 0
            for c in g.columns:
                gc = g[c].astype(str).tolist()
                wc = w[c].astype(str).tolist()
                assert gc == wc, f"column {c} differs"
        finally:
            spark.sql(
                "DROP TABLE IF EXISTS ods_production.billing_invoices_clerk"
            )
            spark.sql("DROP TABLE IF EXISTS oltp_clerk.invoice")
            spark.sql("DROP TABLE IF EXISTS oltp_clerk.invoice_pdf")


class TestTokenizerProperties:
    """The tokenizer's load-bearing invariant: rendering the token
    stream reproduces the input byte-for-byte, for ANY input — every
    rewrite pass depends on it (untouched regions must survive
    verbatim)."""

    def test_lossless_on_arbitrary_text(self):
        from hypothesis import given, settings, strategies as st
        from etl_pipelines_spark.compat.transpile import tokenize

        @settings(max_examples=300, deadline=None)
        @given(st.text(
            alphabet=st.characters(min_codepoint=9, max_codepoint=0x2ff),
            max_size=120,
        ))
        def check(s):
            assert "".join(t.text for t in tokenize(s)) == s

        check()

    def test_lossless_on_sql_shaped_text(self):
        from hypothesis import given, settings, strategies as st
        from etl_pipelines_spark.compat.transpile import tokenize

        frag = st.sampled_from([
            "SELECT ", "'it''s'", '"qid"', "::int", " -- c\n", "/*b*/",
            "~*", "!~~", "{{ x }}", "1.5e3", "a.b", "(", ")", ",", ";",
            "#tmp", "||", "%", "interval '7 days'",
        ])

        @settings(max_examples=300, deadline=None)
        @given(st.lists(frag, max_size=25))
        def check(parts):
            s = "".join(parts)
            assert "".join(t.text for t in tokenize(s)) == s

        check()


class TestArrayAggOrderKeySplit:
    def test_order_key_with_call_commas_splits_at_depth_zero(self):
        """A sort key containing a comma-bearing call (coalesce(a,b))
        must stay ONE key — the old rendered-string split cut inside
        the call and emitted malformed named_struct SQL that only
        failed later at Spark parse time (ADVICE r7 medium)."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT array_agg(x ORDER BY coalesce(a,b), c) FROM t"
        )
        assert "named_struct('o0', coalesce(a,b), 'o1', c, 'v', x)" in \
            out.replace("coalesce(a, b)", "coalesce(a,b)"), out


class TestTrinoDialect:
    """r9: the two machine-adjudicated dialect gaps closed — Trino/
    Athena constructs (bi-airflow Athena feeds) and SQL-standard
    nested-join deferred ON (dm_b2b, valid Redshift/DuckDB, rejected
    by Spark's join grammar)."""

    def test_json_family_maps_to_get_json_object(self):
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT JSON_EXTRACT_SCALAR(json_parse(payload), '$.a') FROM t"
        )
        assert "get_json_object" in out, out
        assert "json_parse" not in out and "parse_json" not in out, out

    def test_cast_trino_complex_type_becomes_from_json(self):
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT cast(json_extract(p, '$.items') as "
            "ARRAY(MAP(VARCHAR, JSON))) FROM t"
        )
        # a JSON-valued map collapses to the raw-JSON string element
        assert "from_json(get_json_object(p, '$.items'), " in out, out
        assert "'array<string>'" in out, out

    def test_cast_top_level_json_map_becomes_plain_cast(self):
        """ADVICE r9: a TOP-LEVEL JSON-valued map renders as scalar
        'string', and from_json rejects scalar schemas — emit
        cast(x AS string), not from_json(x, 'string')."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile("SELECT cast(x as MAP(VARCHAR, JSON)) FROM t")
        assert "from_json" not in out, out
        assert "cast(x AS string)" in out, out

    def test_cast_as_json_becomes_string(self):
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile("SELECT cast(x as JSON) FROM t")
        assert "cast(x as string)" in out.lower(), out

    def test_comma_unnest_becomes_lateral_explode(self, spark):
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT id, c FROM src, UNNEST(arr) AS t(c)"
        )
        assert "lateral explode(arr)" in out.lower(), out
        spark.sql(
            "create or replace temp view src as "
            "select 1 as id, array('x','y') as arr"
        )
        rows = sorted((r.id, r.c) for r in spark.sql(out).collect())
        assert rows == [(1, "x"), (1, "y")]

    def test_left_join_unnest_on_true_keeps_outer_semantics(self, spark):
        """ADVICE r9: 'LEFT JOIN UNNEST(e) AS t(c) ON TRUE' (the
        standard Trino left-unnest idiom) must rewrite to Spark's
        lateral TVF join with the LEFT keyword and ON clause kept —
        empty arrays keep their row with a NULL element."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT id, c FROM src2 LEFT JOIN UNNEST(arr) AS t(c) ON TRUE"
        )
        assert "left join lateral explode(arr)" in out.lower(), out
        assert "on true" in out.lower(), out
        spark.sql(
            "create or replace temp view src2 as select * from values "
            "(1, array('x','y')), (2, array()) as t(id, arr)"
        )
        rows = sorted(
            (r.id, r.c) for r in spark.sql(out).collect()
        )
        assert rows == [(1, "x"), (1, "y"), (2, None)]

    def test_inner_join_unnest_on_true(self, spark):
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT id, c FROM src2 INNER JOIN UNNEST(arr) AS t(c) ON TRUE"
        )
        assert "inner join lateral explode(arr)" in out.lower(), out
        spark.sql(
            "create or replace temp view src2 as select * from values "
            "(1, array('x','y')), (2, array()) as t(id, arr)"
        )
        rows = sorted((r.id, r.c) for r in spark.sql(out).collect())
        assert rows == [(1, "x"), (1, "y")]

    def test_orderless_window_gets_constant_order(self, spark):
        """Redshift allows ROW_NUMBER()/RANK() with no window ORDER
        BY (arbitrary order); Spark hard-requires the clause. The
        pass appends ORDER BY 1 — a constant, so the order stays
        engine-arbitrary exactly like Redshift — and the numbering
        contract (each partition gets a permutation of 1..n) holds."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT g, row_number() OVER (PARTITION BY g) AS rn "
            "FROM owin_t"
        )
        assert "PARTITION BY g ORDER BY 1" in out, out
        # ordered specs and non-sequence window functions untouched
        assert "ORDER BY 1" not in transpile(
            "SELECT sum(x) OVER (PARTITION BY g), "
            "lag(x) OVER (PARTITION BY g ORDER BY ts) FROM t"
        )
        spark.sql(
            "create or replace temp view owin_t as select * from values"
            " ('a'),('a'),('a'),('b') as v(g)"
        )
        rows = spark.sql(out).collect()
        got = {}
        for r in rows:
            got.setdefault(r.g, []).append(r.rn)
        assert sorted(got["a"]) == [1, 2, 3]
        assert sorted(got["b"]) == [1]

    def test_fn_arity_shims(self, spark):
        """Variadic NVL -> COALESCE; unit-first TRUNC swaps to
        Spark's (date, unit) order — the unit-first call analyzes
        clean in Spark and silently returns NULL for every row, the
        worst failure mode; REGEXP_SUBSTR's position/occurrence/
        parameters tail drops when it spells the 2-arg default, with
        a literal 'i' folding into the pattern as an inline flag."""
        import pytest

        from etl_pipelines_spark.compat.transpile import (
            TranspileError,
            transpile,
        )

        spark.sql(
            "create or replace temp view arity_t as select "
            "date'2024-03-15' d, 'DE1234567890123456 x' s, "
            "cast(null as string) a, 'B' b, 'C' c"
        )
        out = transpile(
            "SELECT trunc('month', d) m, nvl(a, b, c) n, "
            "regexp_substr(s, 'de[0-9]{16}', 1, 1, 'i') r "
            "FROM arity_t"
        )
        assert "coalesce(a, b, c)" in out, out
        assert "trunc(d, 'month')" in out, out
        assert "'(?i)de[0-9]{16}'" in out, out
        row = spark.sql(out).collect()[0]
        assert str(row.m) == "2024-03-01"  # unit-first form gives NULL
        assert row.n == "B"
        assert row.r == "DE1234567890123456"
        # 2-arg forms and non-unit TRUNC pass through untouched
        assert "nvl(a, b)" in transpile("SELECT nvl(a, b) FROM t")
        assert "trunc(d, 'month')" in transpile(
            "SELECT trunc(d, 'month') FROM t"
        )
        # non-default position: loud-stop, never silent
        with pytest.raises(TranspileError):
            transpile("SELECT regexp_substr(s, 'x', 2) FROM t")
        # Nth occurrence (r12): regexp_extract_all materializes all
        # matches; try_element_at takes the Nth, NULL when absent
        out3 = transpile("SELECT regexp_substr(s, 'x[0-9]', 1, 3) v FROM rs_t")
        assert "try_element_at(regexp_extract_all(s, 'x[0-9]', 0), 3)" in out3, out3
        spark.sql(
            "create or replace temp view rs_t as "
            "select 'x1 y x2 z x3 x4' s"
        )
        assert spark.sql(out3).collect()[0].v == "x3"
        out4 = transpile("SELECT regexp_substr(s, 'x[0-9]', 1, 9) v FROM rs_t")
        assert spark.sql(out4).collect()[0].v is None
        # non-literal occurrence still loud-stops
        with pytest.raises(TranspileError):
            transpile("SELECT regexp_substr(s, 'x', 1, n) FROM t")

    def test_listagg_distinct_order_mismatch(self, spark):
        """LISTAGG(DISTINCT x) WITHIN GROUP (ORDER BY y): ordering
        deduped values by a different column is ill-defined — modern
        Redshift requires the order to be the listagg expression and
        Spark rejects the mismatch. The rewrite orders by the
        DISTINCT input; matching orders and non-DISTINCT calls pass
        through untouched."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT LISTAGG(DISTINCT bank_reference, ',') "
            "WITHIN GROUP (ORDER BY order_id) AS l FROM lga_t"
        )
        assert "ORDER BY bank_reference)" in out, out
        assert "ORDER BY y)" in transpile(
            "SELECT LISTAGG(x, ',') WITHIN GROUP (ORDER BY y) FROM t"
        )
        assert "ORDER BY a.src)" in transpile(
            "SELECT LISTAGG(DISTINCT a.src, '/') "
            "WITHIN GROUP (ORDER BY a.src) FROM t"
        )
        spark.sql(
            "create or replace temp view lga_t as select * from values"
            " ('b',2),('a',1),('a',3) as v(bank_reference, order_id)"
        )
        assert spark.sql(out).collect()[0].l == "a,b"

    def test_listagg_distinct_order_direction_preserved(self, spark):
        """r11 ADVICE #1: ORDER BY x DESC on a DISTINCT LISTAGG of x
        is accepted by Spark as-is — a trailing direction keyword is
        not an expression mismatch and must not be rewritten (the
        old _norm comparison silently reversed the order). When the
        expression DOES mismatch, the direction carries over."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT LISTAGG(DISTINCT x, ',') "
            "WITHIN GROUP (ORDER BY x DESC) AS l FROM lgd_t"
        )
        assert "ORDER BY x DESC)" in out, out
        spark.sql(
            "create or replace temp view lgd_t as select * from values"
            " ('b'),('a'),('c'),('a') as v(x)"
        )
        assert spark.sql(out).collect()[0].l == "c,b,a"
        # NULLS LAST is likewise a modifier, not a mismatch
        assert "ORDER BY x NULLS LAST)" in transpile(
            "SELECT LISTAGG(DISTINCT x, ',') "
            "WITHIN GROUP (ORDER BY x NULLS LAST) FROM t"
        )
        # expression mismatch: rewrite to the input, direction kept
        out2 = transpile(
            "SELECT LISTAGG(DISTINCT x, ',') "
            "WITHIN GROUP (ORDER BY y DESC) AS l FROM lgd_t"
        )
        assert "ORDER BY x DESC)" in out2, out2

    def test_trunc_unit_first_below_month(self, spark):
        """r11 ADVICE #2: unit-first TRUNC with a datepart below
        trunc()'s month/week floor rewrites to date_trunc (which is
        unit-first natively); an unrecognizable literal unit
        loud-stops instead of becoming Spark's silent all-NULL."""
        from etl_pipelines_spark.compat.transpile import (
            TranspileError,
            transpile,
        )

        out = transpile("SELECT trunc('day', ts) v FROM tdt_t")
        assert "date_trunc('day', ts)" in out, out
        spark.sql(
            "create or replace temp view tdt_t as "
            "select timestamp'2024-03-15 13:45:12' ts"
        )
        assert str(spark.sql(out).collect()[0].v) == "2024-03-15 00:00:00"
        # Redshift abbreviations canonicalize
        assert "date_trunc('day', ts)" in transpile(
            "SELECT trunc('dd', ts) FROM t"
        )
        assert "date_trunc('hour', ts)" in transpile(
            "SELECT trunc('h', ts) FROM t"
        )
        # numeric TRUNC untouched; unrecognized unit loud-stops
        assert "trunc(1.567, 2)" in transpile("SELECT trunc(1.567, 2)")
        with pytest.raises(TranspileError):
            transpile("SELECT trunc('fortnight', ts) FROM t")

    def test_fn_arity_shims_r12(self, spark):
        """Corpus arity gaps surfaced by the r12 sweep: 1-arg
        TRUNC(ts) (Redshift: truncate to day, returns DATE),
        JSON_ARRAY_LENGTH(j, true) (null_if_invalid flag — Spark's
        1-arg form already NULLs on invalid), SQL-Server-style
        2-arg ISNULL, and the underscore spellings DATE_DIFF /
        DATE_ADD which Spark only parses 3-arg as DATEDIFF /
        DATEADD."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT trunc(ts) d, json_array_length(j, true) n, "
            "isnull(a, 'x') v, date_diff('day', ts, ts2) dd, "
            "date_add('day', 2, ts) da FROM fa_t"
        )
        assert "to_date(ts)" in out, out
        assert "json_array_length(j)" in out, out
        assert "nvl(a, 'x')" in out, out
        # date_diff renames to datediff, then the boundary pass owns it
        assert "dd_boundary_day(ts, ts2)" in out, out
        assert "dateadd(day, 2, ts)" in out, out
        spark.sql(
            "create or replace temp view fa_t as select "
            "timestamp'2024-03-15 13:45:12' ts, "
            "timestamp'2024-03-18 01:00:00' ts2, "
            "'[1,2,3]' j, cast(null as string) a"
        )
        from etl_pipelines_spark.compat.transpile import install

        install(spark)
        row = spark.sql(out).collect()[0]
        assert str(row.d) == "2024-03-15"
        assert row.n == 3
        assert row.v == "x"
        # Redshift boundary semantics: Mar 15 13:45 -> Mar 18 01:00
        # crosses THREE midnights (Spark's native elapsed form says 2)
        assert row.dd == 3
        assert str(row.da).startswith("2024-03-17")
        # 1-arg isnull stays the null test; 2-arg forms untouched
        assert "isnull(a)" in transpile("SELECT isnull(a) FROM t")
        assert "date_add(d, 1)" in transpile(
            "SELECT date_add(d, 1) FROM t"
        )
        assert "json_array_length(j)" in transpile(
            "SELECT json_array_length(j) FROM t"
        )

    def test_datediff_boundary_semantics(self, spark):
        """Redshift DATEDIFF counts unit boundaries CROSSED; Spark's
        native 3-arg datediff counts complete elapsed units and
        analyzes clean — the silent-divergence class. Every unit is
        pinned to its Redshift truth value across a boundary that
        the elapsed form would read as 0."""
        from etl_pipelines_spark.compat.transpile import (
            install,
            transpile,
        )

        install(spark)
        out = transpile(
            "SELECT datediff('year', y1, y2) yy, "
            "datediff('quarter', q1, q2) qq, "
            "datediff('month', m1, m2) mm, "
            "datediff('week', w1, w2) ww, "
            "datediff('day', d1, d2) dd, "
            "datediff('hour', h1, h2) hh, "
            "datediff('minute', h1, h2) mi, "
            "datediff(seconds, s1, s2) ss FROM ddb_t"
        )
        for fn in ("year", "quarter", "month", "week", "day", "hour",
                   "minute", "second"):
            assert f"dd_boundary_{fn}(" in out, out
        spark.sql(
            "create or replace temp view ddb_t as select "
            "date'2023-12-31' y1, date'2024-01-01' y2, "
            "date'2024-03-31' q1, date'2024-04-01' q2, "
            "date'2024-01-31' m1, date'2024-02-01' m2, "
            "date'2024-03-17' w1, date'2024-03-18' w2, "  # Sun -> Mon
            "timestamp'2024-03-15 23:59:59' d1, "
            "timestamp'2024-03-16 00:00:01' d2, "
            "timestamp'2024-03-15 10:59:58' h1, "
            "timestamp'2024-03-15 11:00:02' h2, "
            "timestamp'2024-03-15 10:59:59.900' s1, "
            "timestamp'2024-03-15 11:00:00.100' s2"
        )
        row = spark.sql(out).collect()[0]
        assert (row.yy, row.qq, row.mm, row.ww) == (1, 1, 1, 1), row
        assert (row.dd, row.hh, row.mi, row.ss) == (1, 1, 1, 1), row
        # 2-arg datediff (already boundary-day in Spark) untouched
        assert "datediff(a, b)" in transpile("SELECT datediff(a, b)")

    def test_interval_glued_literal(self, spark):
        """Redshift tolerates INTERVAL '1MONTH'; Spark requires the
        space. The literal splits; spaced and bare forms untouched."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT date'2024-01-31' + INTERVAL '1MONTH' v"
        )
        assert "INTERVAL '1 MONTH'" in out, out
        assert str(spark.sql(out).collect()[0].v) == "2024-02-29"
        assert "INTERVAL '2 days'" in transpile(
            "SELECT d + INTERVAL '2 days' FROM t"
        )

    def test_at_time_zone_dst_abbreviation(self, spark):
        """Redshift treats DST abbreviations (CEST, PDT, ...) as
        fixed UTC offsets; Spark's zone parser rejects them. The
        rewrite maps to the literal offset — not a region zone,
        whose offset would float with DST."""
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile("SELECT ts AT TIME ZONE 'CEST' AS v FROM tz_t")
        assert "'+02:00'" in out, out
        assert "Europe/Berlin" in transpile(
            "SELECT ts AT TIME ZONE 'Europe/Berlin' FROM t"
        )
        spark.sql(
            "create or replace temp view tz_t as "
            "select timestamp'2024-01-01 00:00:00' ts"
        )
        row = spark.sql(out).collect()[0]
        assert str(row.v) == "2024-01-01 02:00:00"

    def test_mysql_date_format_codes(self):
        from etl_pipelines_spark.compat.transpile import transpile

        out = transpile(
            "SELECT date_format(ts, '%Y-%m-%d %H:%i:%s') FROM t"
        )
        assert "'yyyy-MM-dd HH:mm:ss'" in out, out

    def test_deferred_on_parenthesizes_and_preserves_values(self, spark):
        from etl_pipelines_spark.compat.transpile import transpile

        spark.sql(
            "create or replace temp view ta as select 1 x union all select 2 x"
        )
        spark.sql("create or replace temp view tb as select 1 x")
        spark.sql("create or replace temp view tc as select 1 x")
        deferred = (
            "select a.x, b.x bx, c.x cx from ta a "
            "left join tb b left join tc c on b.x=c.x on a.x=b.x"
        )
        explicit = (
            "select a.x, b.x bx, c.x cx from ta a "
            "left join (tb b left join tc c on b.x=c.x) on a.x=b.x"
        )
        got = sorted(map(str, spark.sql(transpile(deferred)).collect()))
        want = sorted(map(str, spark.sql(explicit).collect()))
        assert got == want

    def test_normal_joins_untouched_by_deferred_on_pass(self):
        from etl_pipelines_spark.compat.transpile import transpile

        sql = (
            "SELECT * FROM a JOIN b ON a.x=b.x LEFT JOIN c ON b.y=c.y "
            "WHERE a.z > 1"
        )
        out = transpile(sql)
        assert "(" not in out.replace("(a.", "(").replace("(1", "("), out
