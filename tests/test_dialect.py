"""Dialect layer unit tests: splitter + rewriter + shims."""

from __future__ import annotations

import pytest

from flink_sql_toolkit_spark.dialect import rewrite, split_statements
from flink_sql_toolkit_spark.sources.ddl import flink_type_to_spark, parse_create_table


class TestSplitter:
    def test_basic(self):
        assert split_statements("SELECT 1; SELECT 2") == ["SELECT 1", "SELECT 2"]

    def test_semicolon_in_literal(self):
        assert split_statements("SELECT 'a;b'; SELECT 2") == ["SELECT 'a;b'", "SELECT 2"]

    def test_comments(self):
        out = split_statements("-- x;\nSELECT 1; /* y; */ SELECT 2")
        assert len(out) == 2

    def test_statement_set_is_one(self):
        out = split_statements(
            "BEGIN STATEMENT SET; INSERT INTO a SELECT 1; INSERT INTO b SELECT 2; END; SELECT 3"
        )
        assert len(out) == 2
        assert out[0].upper().startswith("BEGIN STATEMENT SET")

    def test_escaped_quote(self):
        assert split_statements("SELECT 'it''s; fine'; SELECT 1") == [
            "SELECT 'it''s; fine'",
            "SELECT 1",
        ]


class TestRewriter:
    def test_tumble(self):
        out = rewrite(
            "SELECT window_start, COUNT(*) FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts), INTERVAL '1' HOUR)) GROUP BY window_start"
        )
        assert "window(ts, '1 hour')" in out
        assert "TUMBLE" not in out.upper()

    def test_hop_arg_order_swapped(self):
        out = rewrite(
            "SELECT * FROM TABLE(HOP(TABLE t, DESCRIPTOR(ts), INTERVAL '5' MINUTE, INTERVAL '10' MINUTE))"
        )
        # Flink: (slide, size); Spark window(): (size, slide)
        assert "window(ts, '10 minute', '5 minute')" in out

    def test_session_and_cumulate(self):
        # row-preserving SESSION = gaps-and-islands merge (a projected
        # session_window never merges in Spark — late-r9 fix); the
        # window-agg shape folds to grouped session_window instead
        out = rewrite(
            "SELECT * FROM TABLE(SESSION(TABLE t, DESCRIPTOR(ts), INTERVAL '30' SECOND))"
        )
        assert "SUM(_new) OVER" in out and "INTERVAL '30 second'" in out
        out = rewrite(
            "SELECT k, window_start, COUNT(*) AS n FROM "
            "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' SECOND)) "
            "GROUP BY k, window_start"
        )
        assert "GROUP BY k, session_window(ts, '30 second')" in out
        assert "session_window(ts, '30 second').start AS window_start" in out
        out = rewrite(
            "SELECT * FROM TABLE(CUMULATE(TABLE t, DESCRIPTOR(ts), INTERVAL '15' MINUTE, INTERVAL '1' HOUR))"
        )
        assert "LATERAL VIEW explode(sequence" in out

    def test_constructors_and_subscripts(self):
        assert rewrite("SELECT ARRAY[1,2,3][2]") == "SELECT element_at(array(1,2,3), 2)"
        assert rewrite("SELECT MAP['k', 1]['k']") == "SELECT element_at(map('k', 1), 'k')"
        assert rewrite("SELECT tags[1] FROM t") == "SELECT element_at(tags, 1) FROM t"

    def test_similar_to(self):
        assert rewrite("SELECT x SIMILAR TO 'a%'") == "SELECT x RLIKE '^(?:a.*)$'"
        assert "NOT RLIKE" in rewrite("SELECT x NOT SIMILAR TO 'a_'")

    def test_unknown_and_hex_literals(self):
        # syntax-test.fsql literals section: UNKNOWN / 0xFF
        assert rewrite("SELECT TRUE AND UNKNOWN") == (
            "SELECT TRUE AND CAST(NULL AS BOOLEAN)"
        )
        assert rewrite("SELECT x IS NOT UNKNOWN") == "SELECT x IS NOT NULL"
        assert rewrite("SELECT 0xFF") == "SELECT 255"
        # masked literals stay untouched
        assert rewrite("SELECT '0xFF UNKNOWN'") == "SELECT '0xFF UNKNOWN'"

    def test_types(self):
        assert rewrite("CAST(x AS TIMESTAMP(3))") == "CAST(x AS TIMESTAMP_NTZ)"
        assert rewrite("CAST(x AS TIMESTAMP_LTZ(3))") == "CAST(x AS TIMESTAMP)"
        assert rewrite("CAST(x AS MULTISET<STRING>)") == "CAST(x AS MAP<STRING, INT>)"

    def test_fetch_first(self):
        assert rewrite("SELECT * FROM t FETCH FIRST 7 ROWS ONLY").endswith("LIMIT 7")

    def test_literals_untouched(self):
        sql = "SELECT 'ARRAY[1]', '%SIMILAR TO%' FROM t"
        assert rewrite(sql) == sql

    def test_dayname(self):
        assert rewrite("SELECT DAYNAME(d)") == "SELECT date_format(d, 'EEEE')"


class TestDDLParser:
    def test_full_table(self):
        t = parse_create_table(
            """
            CREATE TABLE orders (
              order_id BIGINT NOT NULL,
              price DECIMAL(10,2),
              tags ARRAY<STRING>,
              proc AS PROCTIME(),
              event_time TIMESTAMP(3) METADATA FROM 'timestamp' VIRTUAL,
              WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND,
              PRIMARY KEY (order_id) NOT ENFORCED
            ) PARTITIONED BY (dt) WITH (
              'connector' = 'kafka',
              'topic' = 'orders',
              'properties.bootstrap.servers' = 'localhost:9092'
            );
            """
        )
        assert t.name == "orders"
        assert [c.name for c in t.columns] == ["order_id", "price", "tags"]
        assert t.columns[0].nullable is False
        assert t.columns[2].spark_type == "array<string>"
        assert t.computed[0].name == "proc"
        assert t.metadata[0].key == "timestamp"
        assert t.metadata[0].virtual is True
        assert t.watermark.column == "event_time"
        assert t.watermark.delay == "5 seconds"
        assert t.primary_key == ["order_id"]
        assert t.partitioned_by == ["dt"]
        assert t.connector == "kafka"

    def test_source_watermark(self):
        t = parse_create_table(
            """
            CREATE TABLE s (id BIGINT, ts TIMESTAMP_LTZ(3),
              WATERMARK FOR ts AS SOURCE_WATERMARK()
            ) WITH ('connector' = 'kafka', 'topic' = 't');
            """
        )
        # SOURCE_WATERMARK() → source-default 0-delay watermark (§2.11)
        assert t.watermark.column == "ts"
        assert t.watermark.delay == "0 seconds"

    @pytest.mark.parametrize(
        ("flink", "spark"),
        [
            ("TIMESTAMP(3)", "timestamp_ntz"),
            ("TIMESTAMP_LTZ(3)", "timestamp"),
            ("VARCHAR(255)", "string"),
            ("BYTES", "binary"),
            ("MULTISET<STRING>", "map<string, int>"),
            # ROW field types recurse (review r9: CTAS-emitted
            # ROW<ts TIMESTAMP_LTZ(6)> must round-trip to valid Spark)
            ("ROW<name STRING, age INT>", "struct<name: string, age: int>"),
            ("ROW<ts TIMESTAMP_LTZ(6), n BYTES>", "struct<ts: timestamp, n: binary>"),
            ("MAP<STRING, MAP<STRING, INT>>", "map<string, map<string, int>>"),
            ("ARRAY<INTEGER>", "array<int>"),
            ("DECIMAL(10,2)", "decimal(10,2)"),
        ],
    )
    def test_types(self, flink, spark):
        assert flink_type_to_spark(flink) == spark


class TestGroupsFrames:
    """SQL:2011 GROUPS frames → dense_rank + integer-RANGE rewrite
    (VERDICT r4 ask #7: general bounds, not just n-PRECEDING)."""

    def test_rewrite_shape(self):
        out = rewrite(
            "SELECT k, SUM(v) OVER (PARTITION BY p ORDER BY k "
            "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM t WHERE v > 0"
        )
        assert "GROUPS" not in out.upper().replace("__GROUPS_FRAMES", "")
        assert "DENSE_RANK() OVER (PARTITION BY p ORDER BY k)" in out
        assert "ORDER BY __grp_0 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW" in out
        assert "WHERE v > 0)" in out  # WHERE folded inside the wrap

    def test_rewrite_named_window_and_shared_spec(self):
        out = rewrite(
            "SELECT k, SUM(v) OVER w AS a, COUNT(*) OVER "
            "(ORDER BY k GROUPS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS b "
            "FROM t WINDOW w AS (ORDER BY k GROUPS 1 PRECEDING)"
        )
        # both specs share one ORDER BY k group column
        assert out.count("DENSE_RANK()") == 1
        assert "RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING" in out
        assert "RANGE 1 PRECEDING" in out

    def test_rejects_unsupported(self):
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="ORDER BY"):
            rewrite("SELECT SUM(v) OVER (GROUPS 1 PRECEDING) FROM t")
        with _pytest.raises(NotImplementedError, match="GROUP BY"):
            rewrite(
                "SELECT k, SUM(SUM(v)) OVER (ORDER BY k GROUPS 1 PRECEDING) "
                "FROM t GROUP BY k"
            )

    def test_rejects_groups_in_subquery(self):
        """A GROUPS frame nested in a derived table / CTE would get a
        __grp_i column the top-level wrap never injects — typed
        rejection, not an opaque unresolved-column error (ADVICE r5)."""
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="subquery"):
            rewrite(
                "SELECT * FROM (SELECT k, SUM(v) OVER (ORDER BY k "
                "GROUPS 1 PRECEDING) AS s FROM t) d"
            )
        with _pytest.raises(NotImplementedError, match="subquery"):
            rewrite(
                "WITH c AS (SELECT k, SUM(v) OVER (ORDER BY k "
                "GROUPS 1 PRECEDING) AS s FROM t) SELECT * FROM c"
            )
        # a top-level GROUPS frame still rewrites even when the FROM
        # source is itself a subquery
        out = rewrite(
            "SELECT k, SUM(v) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s "
            "FROM (SELECT k, v FROM t WHERE v > 0) d"
        )
        assert "DENSE_RANK()" in out

    def test_groups_semantics_with_ties(self, spark):
        """Hand-computed GROUPS semantics: ties share the frame, and
        group distance (not value distance) drives inclusion — k=5 is
        1 GROUP after k=3 even though the value gap is 2."""
        rows = [(1, 10), (1, 20), (2, 5), (3, 1), (3, 2), (5, 100)]
        spark.createDataFrame(rows, ["k", "v"]).createOrReplaceTempView("gf")
        out = spark.sql(
            rewrite(
                "SELECT k, v, SUM(v) OVER (ORDER BY k "
                "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM gf"
            )
        ).collect()
        got = {(r.k, r.v): r.s for r in out}
        assert got == {
            (1, 10): 30, (1, 20): 30,   # no preceding group; peers included
            (2, 5): 35,                 # k=1 group + own
            (3, 1): 8, (3, 2): 8,       # k=2 group + own peers
            (5, 100): 103,              # k=3 is the 1-preceding GROUP
        }

    def test_groups_following_semantics(self, spark):
        rows = [(1, 10), (2, 5), (2, 7), (4, 100)]
        spark.createDataFrame(rows, ["k", "v"]).createOrReplaceTempView("gf2")
        out = spark.sql(
            rewrite(
                "SELECT k, v, SUM(v) OVER (ORDER BY k "
                "GROUPS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS s FROM gf2"
            )
        ).collect()
        got = {(r.k, r.v): r.s for r in out}
        assert got == {(1, 10): 22, (2, 5): 112, (2, 7): 112, (4, 100): 100}


class TestGrammarGapFunctions:
    """r9 grammar audit: every function the reference grammar declares
    (tmLanguage.json builtin batteries) resolves through the engine —
    named bitwise ops, SHA512, MAP_UNION, the IS_JSON_<type> family,
    SQL/JSON aggregates, legacy-window ROWTIME/PROCTIME auxiliaries,
    and Flink's numeric TO_TIMESTAMP_LTZ."""

    @pytest.fixture(scope="class")
    def sess(self, spark):
        from flink_sql_toolkit_spark.engine import Engine

        s = Engine(spark).open_session("grammar-gap")
        yield s
        s.close()

    def _one(self, sess, sql):
        return sess.execute_statement(sql).fetch()["data"][0]

    def test_named_bitwise(self, sess):
        row = self._one(
            sess,
            "SELECT BITAND(12, 10) AS a, BITOR(12, 10) AS o, "
            "BITXOR(12, 10) AS x, BITNOT(5) AS n, "
            "BIT_LSHIFT(1, 3) AS l, BIT_RSHIFT(8, 2) AS r",
        )
        assert row == [8, 14, 6, -6, 8, 2]

    def test_sha512(self, sess):
        # SHA-512('abc') from the FIPS 180 spec example
        (h,) = self._one(sess, "SELECT SHA512('abc') AS h")
        assert h.startswith("ddaf35a193617aba") and len(h) == 128

    def test_map_union_last_wins(self, sess):
        (v,) = self._one(
            sess,
            "SELECT element_at(MAP_UNION(MAP['a',1], MAP['a',2,'b',3]), 'a') AS v",
        )
        assert v == 2

    def test_is_json_family(self, sess):
        row = self._one(
            sess,
            "SELECT IS_JSON_ARRAY('[1]') AS a1, IS_JSON_ARRAY('{}') AS a2, "
            'IS_JSON_OBJECT(\'{"k":1}\') AS o1, IS_JSON_OBJECT(\'[1]\') AS o2, '
            "IS_JSON_SCALAR('123') AS s1, IS_JSON_SCALAR('[1]') AS s2, "
            "IS_JSON_SCALAR('nope') AS s3",
        )
        assert row == [True, False, True, False, True, False, False]

    def test_json_aggregates(self, sess):
        import json

        (arr,) = self._one(
            sess, "SELECT JSON_ARRAYAGG(v) AS x FROM (VALUES (1),(2),(3)) AS t(v)"
        )
        assert sorted(json.loads(arr)) == [1, 2, 3]
        # both the KEY k VALUE v and bare k VALUE v spellings
        (obj,) = self._one(
            sess,
            "SELECT JSON_OBJECTAGG(KEY k VALUE v) AS x "
            "FROM (VALUES ('a',1),('b',2)) AS t(k,v)",
        )
        assert json.loads(obj) == {"a": 1, "b": 2}
        (obj2,) = self._one(
            sess,
            "SELECT JSON_OBJECTAGG(k VALUE v) AS x FROM (VALUES ('c',7)) AS t(k,v)",
        )
        assert json.loads(obj2) == {"c": 7}

    def test_legacy_window_rowtime(self, sess):
        from datetime import datetime

        rt, we = self._one(
            sess,
            "SELECT TUMBLE_ROWTIME(ts, INTERVAL '5' MINUTE) AS rt, "
            "TUMBLE_END(ts, INTERVAL '5' MINUTE) AS we "
            "FROM (SELECT TIMESTAMP '2026-01-01 00:01:00' AS ts) "
            "GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE)",
        )
        # rowtime = window end - 1ms (the last instant inside)
        assert we == datetime(2026, 1, 1, 0, 5)
        assert rt == datetime(2026, 1, 1, 0, 4, 59, 999000)

    def test_to_timestamp_ltz_numeric(self, sess):
        from datetime import datetime

        a, b = self._one(
            sess,
            "SELECT TO_TIMESTAMP_LTZ(0, 0) AS a, TO_TIMESTAMP_LTZ(1500, 3) AS b",
        )
        assert a == datetime(1970, 1, 1, 0, 0)
        assert b == datetime(1970, 1, 1, 0, 0, 1, 500000)

    def test_niladic_metadata_keywords(self, sess):
        cat, db, su, sy = self._one(
            sess,
            "SELECT CURRENT_CATALOG AS c, CURRENT_DATABASE AS d, "
            "SESSION_USER AS s, SYSTEM_USER AS y",
        )
        assert cat and db and su and sy  # all resolve, all non-empty

    def test_native_passthrough_battery(self, sess):
        """Grammar names that ARE Spark builtins — pinned so a Spark
        upgrade that drops/renames one is caught here, not by a user."""
        row = self._one(
            sess,
            "SELECT ACOS(1.0) AS a, ATAN2(0.0, 1.0) AS b, COSH(0.0) AS c, "
            "SINH(0.0) AS d, CAST(CEILING(1.2) AS INT) AS e2, "
            "CHARACTER_LENGTH('abc') AS f, "
            "ARRAY_APPEND(ARRAY[1], 2) AS g, ARRAY_PREPEND(ARRAY[1], 0) AS h, "
            "ARRAY_REMOVE(ARRAY[1,2,1], 1) AS i2, "
            "ARRAY_EXCEPT(ARRAY[1,2], ARRAY[2]) AS j, "
            "ARRAY_INTERSECT(ARRAY[1,2], ARRAY[2,3]) AS k, "
            "ARRAY_UNION(ARRAY[1], ARRAY[2]) AS l, "
            "MAP_KEYS(MAP['a',1]) AS m, MAP_VALUES(MAP['a',1]) AS n, "
            "'Apache' ILIKE 'apa%' AS o, "
            "CAST(NEXT_DAY(DATE '2026-01-01', 'MONDAY') AS STRING) AS p, "
            "FROM_UNIXTIME(0) AS q, "
            "CAST(DATE_SUB(DATE '2026-01-10', 3) AS STRING) AS r, "
            "BIT_COUNT(7) AS s, CAST(BIT_GET(5, 2) AS INT) AS t, "
            "TYPEOF(1) AS u",
        )
        assert row == [
            0.0, 0.0, 1.0, 0.0, 2, 3,
            [1, 2], [0, 1], [2], [1], [2], [1, 2],
            ["a"], [1], True,
            "2026-01-05", "1970-01-01 00:00:00", "2026-01-07",
            3, 1, "int",
        ]


class TestToTimestampLtzNumeric:
    """Review r9: the one-arg numeric-COLUMN form must take the
    epoch-millis path, not Spark's string-parsing builtin."""

    def test_column_and_expression_forms(self):
        from flink_sql_toolkit_spark.dialect.rewriter import rewrite

        assert rewrite("SELECT TO_TIMESTAMP_LTZ(epoch_ms) FROM t") == \
            "SELECT timestamp_millis(CAST(epoch_ms AS BIGINT)) FROM t"
        assert "timestamp_millis(CAST(a + b AS BIGINT))" in rewrite(
            "SELECT TO_TIMESTAMP_LTZ(a + b) FROM t"
        )
        # inner call with its own comma stays one argument
        assert "timestamp_millis(CAST(f(x, y) AS BIGINT))" in rewrite(
            "SELECT TO_TIMESTAMP_LTZ(f(x, y)) FROM t"
        )

    def test_string_literal_keeps_spark_builtin(self):
        from flink_sql_toolkit_spark.dialect.rewriter import rewrite

        out = rewrite("SELECT TO_TIMESTAMP_LTZ('2024-01-01 00:00:00') FROM t")
        assert "TO_TIMESTAMP_LTZ('2024-01-01 00:00:00')" in out

    def test_unsupported_precision_left_for_typed_error(self):
        from flink_sql_toolkit_spark.dialect.rewriter import rewrite

        assert "TO_TIMESTAMP_LTZ(e, 6)" in rewrite("SELECT TO_TIMESTAMP_LTZ(e, 6) FROM t")

    def test_numeric_value_live(self, spark):
        row = spark.sql(
            __import__("flink_sql_toolkit_spark.dialect.rewriter", fromlist=["rewrite"])
            .rewrite("SELECT TO_TIMESTAMP_LTZ(ms) AS ts FROM (SELECT CAST(86400000 AS BIGINT) AS ms)")
        ).collect()[0]
        assert row.ts.year == 1970 and row.ts.day == 2  # epoch + 1 day


class TestBodyComments:
    """Inline comments inside the CREATE TABLE column list
    (syntax-test.fsql:19) — previously the item carrying the comment
    (the corpus table's WATERMARK) was silently dropped."""

    def test_inline_comment_does_not_eat_watermark(self):
        t = parse_create_table(
            "CREATE TABLE c (a INT,\n"
            "  ts AS PROCTIME(),  -- computed column with PROCTIME\n"
            "  WATERMARK FOR ot AS ot - INTERVAL '5' SECOND,\n"
            "  ot TIMESTAMP(3) /* block comment */,\n"
            "  s STRING COMMENT 'not -- a comment'\n"
            ") WITH ('connector'='blackhole');"
        )
        assert t.watermark is not None and t.watermark.delay == "5 seconds"
        assert [c.name for c in t.columns] == ["a", "ot", "s"]
        assert t.computed[0].expr == "PROCTIME()"
        # '--' inside a string literal survives
        assert t.columns[-1].comment == "not -- a comment"


class TestSessionFoldReviewFixes:
    """Fourth late-r9 review pass: SESSION fold/fallback edge cases."""

    def test_multi_key_partition_by(self):
        out = rewrite(
            "SELECT a, b, window_start, COUNT(*) AS n FROM "
            "TABLE(SESSION(TABLE t PARTITION BY a, b, DESCRIPTOR(ts), INTERVAL '10' MINUTE)) "
            "GROUP BY a, b, window_start"
        )
        assert "GROUP BY a, b, session_window(ts, '10 minute')" in out

    def test_relation_alias_kept(self):
        out = rewrite(
            "SELECT k, window_start, COUNT(*) AS n FROM "
            "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' SECOND)) s "
            "WHERE s.v > 0 GROUP BY k, window_start"
        )
        assert "FROM t AS s WHERE s.v > 0" in out

    def test_month_gap_typed_error(self):
        with pytest.raises(ValueError, match="INTERVAL gap"):
            rewrite(
                "SELECT k, window_start, COUNT(*) AS n FROM "
                "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), INTERVAL '1' MONTH)) "
                "GROUP BY k, window_start"
            )

    def test_sub_second_gap_preserved(self):
        out = rewrite(
            "SELECT * FROM TABLE(SESSION(TABLE t, DESCRIPTOR(ts), INTERVAL '500' MILLISECOND))"
        )
        assert "'500 millisecond'" in out  # not truncated to 0 seconds

    def test_order_by_unselected_bound_falls_back(self):
        out = rewrite(
            "SELECT k, COUNT(*) AS n FROM "
            "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' SECOND)) "
            "GROUP BY k, window_start ORDER BY window_start"
        )
        assert "SUM(_new) OVER" in out  # row-preserving fallback
        out = rewrite(
            "SELECT k, window_start, COUNT(*) AS n FROM "
            "TABLE(SESSION(TABLE t PARTITION BY k, DESCRIPTOR(ts), INTERVAL '30' SECOND)) "
            "GROUP BY k, window_start ORDER BY window_start"
        )
        assert "GROUP BY k, session_window" in out  # selected bound folds

    def test_comment_with_comma_does_not_split_body(self):
        t = parse_create_table(
            "CREATE TABLE c3 (a INT, -- legacy, deprecated\n b INT)"
            " WITH ('connector'='blackhole');"
        )
        assert [c.name for c in t.columns] == ["a", "b"]
        t = parse_create_table(
            "CREATE TABLE c4 (a INT, -- user's id\n b INT,\n"
            " WATERMARK FOR ts AS ts,\n ts TIMESTAMP(3))"
            " WITH ('connector'='blackhole');"
        )
        assert [c.name for c in t.columns] == ["a", "b", "ts"]
        assert t.watermark is not None


def test_tvf_arity_typed_error():
    """A window TVF with too few arguments raises the typed ValueError
    (fuzzing found an IndexError on a one-argument CUMULATE)."""
    with pytest.raises(ValueError, match="at least"):
        rewrite("SELECT * FROM TABLE(CUMULATE(t))")
    with pytest.raises(ValueError, match="at least"):
        rewrite("SELECT * FROM TABLE(TUMBLE(TABLE t, DESCRIPTOR(ts)))")


class TestQuantifiedSubqueries:
    """`= ANY|SOME (subquery)` and `<> ALL (subquery)` are exact
    spellings of IN / NOT IN; Spark SQL parses neither, so the
    rewriter maps them and rejects every other quantified comparison
    with a typed error."""

    @pytest.mark.parametrize(
        ("flink", "spark"),
        [
            ("a = ANY (SELECT b FROM u)", "a IN (SELECT b FROM u)"),
            ("a=some(select b from u)", "a IN (select b from u)"),
            ("a <> ALL (SELECT b FROM u)", "a NOT IN (SELECT b FROM u)"),
            ("a != ALL ((SELECT b FROM u))", "a NOT IN ((SELECT b FROM u))"),
        ],
    )
    def test_rewrites_to_in(self, flink, spark):
        assert rewrite(f"SELECT a FROM t WHERE {flink}") == (
            f"SELECT a FROM t WHERE {spark}"
        )

    @pytest.mark.parametrize(
        "cond",
        [
            "a > ANY (SELECT b FROM u)",
            "a <= ALL (SELECT b FROM u)",
            "a = ALL (SELECT b FROM u)",
            "a <> SOME (SELECT b FROM u)",
        ],
    )
    def test_other_quantified_comparisons_rejected(self, cond):
        with pytest.raises(NotImplementedError, match="= ANY|SOME"):
            rewrite(f"SELECT a FROM t WHERE {cond}")

    def test_like_any_list_and_union_all_untouched(self):
        for sql in (
            "SELECT a FROM t WHERE s LIKE ANY ('x%', 'y%')",
            "SELECT a FROM t WHERE s NOT LIKE ALL ('x%', 'y%')",
            "SELECT a FROM t UNION ALL (SELECT b FROM u)",
            "SELECT a FROM t WHERE s = 'x = ANY (SELECT 1)'",
        ):
            assert rewrite(sql) == sql

    def test_null_semantics_match_duckdb(self, spark):
        """Spark on the rewrite vs DuckDB's native quantified
        comparison, with NULL on either side of the comparison."""
        import duckdb

        t = "(VALUES (1), (2), (CAST(NULL AS INT))) AS t(x)"
        con = duckdb.connect()
        try:
            for sub in ("SELECT 1", "SELECT 1 UNION ALL SELECT NULL"):
                for cond in (f"x = ANY ({sub})", f"x <> ALL ({sub})"):
                    sql = f"SELECT x FROM {t} WHERE {cond} ORDER BY x"
                    want = [r[0] for r in con.execute(sql).fetchall()]
                    got = [r[0] for r in spark.sql(rewrite(sql)).collect()]
                    assert got == want, (cond, sub)
        finally:
            con.close()
