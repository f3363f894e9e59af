"""ClickHouse-SQL → Spark-SQL translation tests.

String-level: each corpus dialect form rewrites to the expected Spark
expression. Execution-level: the reference's literal golden-corpus
queries (``src/corpus/orm_none.txt`` shapes, retargeted at the driver's
``orders`` table) run through ``Engine.sql(dialect="clickhouse")`` and
match the same computation written natively in Spark.
"""

from __future__ import annotations

import pytest
import re

from clickhouse_build_spark.engine import Engine
from clickhouse_build_spark.functions.chsql import translate_ch_sql
from tests.conftest import SF_SMOKE

T = translate_ch_sql


# --------------------------------------------------------- string level


def test_bare_count_becomes_count_star():
    assert T("SELECT count() AS count FROM t") == "SELECT count(*) AS count FROM t"


def test_tostartofmonth():
    assert (
        T("SELECT toStartOfMonth(date) AS month FROM t")
        == "SELECT to_date(date_trunc('MONTH', date)) AS month FROM t"
    )


def test_if_empty_label_corpus_form():
    # corpus/orm_none.txt:464 — the F2 mapping.
    out = T("if(empty(category), 'Uncategorized', category)")
    assert out == (
        "if(((category) IS NULL OR (category) = ''), 'Uncategorized', category)"
    )


def test_casts():
    assert T("toFloat64(amount)") == "CAST(amount AS DOUBLE)"
    assert T("toInt32(x)") == "CAST(x AS INT)"
    assert T("toString(x)") == "CAST(x AS STRING)"
    assert T("toDate(d)") == "to_date(d)"


def test_param_placeholder_binding_style():
    # corpus/orm_none.txt:432-438 — {name:Type} → :name markers.
    assert (
        T("WHERE date >= {start_date:String} AND n = {n:UInt32}")
        == "WHERE date >= :start_date AND n = :n"
    )


def test_agg_combinators():
    assert T("countIf(x > 0)") == "count_if(x > 0)"
    assert T("sumIf(amount, x > 0)") == (
        "coalesce(sum(CASE WHEN x > 0 THEN amount END), 0)"
    )
    assert T("avgIf(a, c)") == "avg(CASE WHEN c THEN a END)"
    assert T("uniq(user_id)") == "approx_count_distinct(user_id)"
    assert T("uniqExact(user_id)") == "count(DISTINCT user_id)"
    assert T("argMax(name, ts)") == "max_by(name, ts)"
    assert T("anyLast(v)") == "last(v)"


def test_parametric_quantile_combinators():
    assert T("quantile(0.5)(x)") == "percentile_approx(x, 0.5)"
    assert T("quantileExact(0.9)(x)") == "percentile(x, 0.9)"
    assert T("quantilesExact(0.25, 0.75)(x)") == "percentile(x, array(0.25, 0.75))"


def test_multiif_and_arithmetic():
    assert (
        T("multiIf(a > 1, 'x', b > 2, 'y', 'z')")
        == "CASE WHEN a > 1 THEN 'x' WHEN b > 2 THEN 'y' ELSE 'z' END"
    )
    assert T("intDiv(a, b)") == "((a) DIV (b))"
    assert T("modulo(a, 7)") == "((a) % (7))"


def test_date_functions():
    assert T("toYear(d)") == "year(d)"
    assert T("toYYYYMM(d)") == "(year(d) * 100 + month(d))"
    assert T("dateDiff('day', a, b)") == "timestampdiff(DAY, a, b)"
    assert T("addDays(d, 7)") == "timestampadd(DAY, (7), d)"
    assert T("subtractDays(d, 7)") == "timestampadd(DAY, -(7), d)"
    # CH toDayOfWeek: Monday=1 ... Sunday=7 (Spark dayofweek: Sunday=1)
    assert T("toDayOfWeek(d)") == "(((dayofweek(d) + 5) % 7) + 1)"


def test_string_and_array_functions():
    assert T("position(haystack, needle)") == "locate(needle, haystack)"
    assert T("has(arr, 3)") == "array_contains(arr, 3)"
    assert T("arrayFilter(x -> x > 0, arr)") == "filter(arr, x -> x > 0)"
    assert T("arrayMap(x -> x * 2, arr)") == "transform(arr, x -> x * 2)"
    assert T("splitByChar(',', s)") == "split(s, concat('\\\\Q', ',', '\\\\E'))"
    assert T("arrayJoin(tags)") == "explode(tags)"


def test_nested_rewrites():
    assert (
        T("sum(toFloat64(amount))") == "sum(CAST(amount AS DOUBLE))"
    )
    assert T("toYear(toDate(s))") == "year(to_date(s))"


def test_string_literals_and_comments_are_opaque():
    q = "SELECT 'toStartOfMonth(x)' AS s, count() AS c -- count() here\nFROM t"
    out = T(q)
    assert "'toStartOfMonth(x)'" in out  # literal untouched
    assert "count(*) AS c" in out
    assert "-- count() here" in out  # comment untouched


def test_any_subquery_predicate_is_preserved():
    assert "any(SELECT" in T("WHERE x > any(SELECT y FROM t)")
    assert T("SELECT any(v) FROM t") == "SELECT first(v) FROM t"


def test_unknown_functions_pass_through():
    assert T("SELECT cityHash64(x) FROM t") == "SELECT cityHash64(x) FROM t"


# ------------------------------------------------------ execution level


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(SF_SMOKE, spark=spark)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_corpus_global_stats_shape_executes(engine):
    """corpus/orm_none.txt:447 — `SELECT count() as count, sum(amount) as
    total` retargeted at orders."""
    got = engine.sql(
        "SELECT count() AS count, sum(toFloat64(o_totalprice)) AS total "
        "FROM orders",
        dialect="clickhouse",
    )
    want = engine.sql(
        "SELECT count(*) AS count, sum(CAST(o_totalprice AS DOUBLE)) AS total "
        "FROM orders"
    )
    assert _rows(got) == _rows(want)


def test_corpus_monthly_rollup_executes(engine):
    """corpus/orm_none.txt:484-490 — toStartOfMonth + GROUP BY alias +
    ORDER BY alias DESC."""
    got = engine.sql(
        "SELECT toStartOfMonth(o_orderdate) AS month, count() AS count, "
        "sum(o_totalprice) AS total FROM orders GROUP BY month "
        "ORDER BY month DESC LIMIT 3",
        dialect="clickhouse",
    )
    want = engine.sql(
        "SELECT to_date(date_trunc('MONTH', o_orderdate)) AS month, "
        "count(*) AS count, sum(o_totalprice) AS total FROM orders "
        "GROUP BY month ORDER BY month DESC LIMIT 3"
    )
    assert _rows(got) == _rows(want)


def test_corpus_label_grouping_executes(engine):
    """corpus/orm_none.txt:463-469 shape — if(empty(...)) label + group +
    order by aggregate."""
    got = engine.sql(
        "SELECT if(empty(o_orderpriority), 'None', o_orderpriority) AS label, "
        "count() AS cnt FROM orders GROUP BY label ORDER BY cnt DESC, label",
        dialect="clickhouse",
    )
    want = engine.sql(
        "SELECT coalesce(nullif(o_orderpriority, ''), 'None') AS label, "
        "count(*) AS cnt FROM orders GROUP BY label ORDER BY cnt DESC, label"
    )
    assert _rows(got) == _rows(want)


def test_parameterized_ch_query_executes(engine):
    got = engine.sql(
        "SELECT count() AS n FROM orders "
        "WHERE o_orderdate >= {start:String} AND o_orderstatus = {st:String}",
        params={"start": "1996-01-01", "st": "O"},
        dialect="clickhouse",
    )
    want = engine.sql(
        "SELECT count(*) AS n FROM orders "
        "WHERE o_orderdate >= '1996-01-01' AND o_orderstatus = 'O'"
    )
    assert _rows(got) == _rows(want)


def test_ch_aggregate_suite_executes(engine):
    got = engine.sql(
        "SELECT uniqExact(o_custkey) AS buyers, "
        "countIf(o_totalprice > 100000) AS big, "
        "sumIf(o_totalprice, o_orderstatus = 'F') AS f_total, "
        "argMax(o_orderkey, o_orderdate) AS latest_key, "
        "quantileExact(0.5)(o_totalprice) AS p50 "
        "FROM orders",
        dialect="clickhouse",
    )
    want = engine.sql(
        "SELECT count(DISTINCT o_custkey) AS buyers, "
        "count_if(o_totalprice > 100000) AS big, "
        "coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0)"
        " AS f_total, "
        "max_by(o_orderkey, o_orderdate) AS latest_key, "
        "percentile(o_totalprice, 0.5) AS p50 "
        "FROM orders"
    )
    assert _rows(got) == _rows(want)


def test_unknown_dialect_rejected(engine):
    with pytest.raises(ValueError):
        engine.sql("SELECT 1", dialect="oracle")


# ------------------------------------------------------ postgres dialect


def test_pg_positional_params_and_casts():
    from clickhouse_build_spark.functions.chsql import translate_pg_sql

    out = translate_pg_sql(
        "SELECT COALESCE(SUM(amount), 0)::float8 AS total FROM expenses "
        "WHERE date >= $1 AND category = $2"
    )
    assert out == (
        "SELECT CAST(COALESCE(SUM(amount), 0) AS DOUBLE) AS total "
        "FROM expenses WHERE date >= :p1 AND category = :p2"
    )


def test_translator_identity_on_plain_sql():
    """Plain ANSI/Spark SQL must survive the CH translator BYTE-
    IDENTICAL (modulo the documented whitespace-before-paren
    normalization): every clause rewriter and the function pass are
    no-ops when no CH idiom is present. Guards against a rewriter
    growing an over-eager match (the class of bug that would silently
    corrupt user queries rather than failing loudly)."""
    plain = [
        "SELECT a, sum(b) AS s FROM t GROUP BY a HAVING sum(b) > 3 "
        "ORDER BY a LIMIT 5",
        "SELECT * FROM t1 JOIN t2 ON t1.k = t2.k WHERE t1.x IN "
        "(SELECT x FROM t3) AND t1.y LIKE 'a%'",
        "SELECT CASE WHEN x > 0 THEN 'p' ELSE 'n' END AS sgn, "
        "count(*) AS n FROM t GROUP BY 1",
        "WITH c AS (SELECT k, max(v) AS mv FROM t GROUP BY k) "
        "SELECT c.k, c.mv FROM c WHERE c.mv IS NOT NULL",
        "SELECT a, row_number() OVER (PARTITION BY g ORDER BY ts) "
        "AS rn FROM events_tbl",
        "SELECT x FROM t UNION ALL SELECT x FROM u EXCEPT SELECT x FROM v",
        "SELECT coalesce(a, 0) + greatest(b, c) FROM t "
        "WHERE ts BETWEEN DATE '2024-01-01' AND DATE '2024-06-30'",
    ]
    norm = lambda s: re.sub(r"\s+\(", "(", s)  # noqa: E731
    for q in plain:
        assert T(q) == norm(q), q


def test_pg_json_text_extraction(spark):
    """PG ``->>`` maps to get_json_object (unquoted-scalar contract
    matches exactly); string keys, 0-based array indexes, composition
    with ::casts; the json-preserving ``->`` stays unmapped."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as T,
    )

    assert T("SELECT props ->> 'k' FROM t") == (
        "SELECT get_json_object(props, '$.k') FROM t"
    )
    assert T("SELECT (props ->> 'k')::int4 FROM t") == (
        "SELECT CAST((get_json_object(props, '$.k')) AS INT) FROM t"
    )
    assert T("SELECT arr ->> 0 FROM t") == (
        "SELECT get_json_object(arr, '$[0]') FROM t"
    )
    with pytest.raises(ValueError, match="literal string key"):
        T("SELECT props ->> k FROM t")
    r = run_pg_sql(
        spark,
        "SELECT (j ->> 'a')::int4 AS a, j ->> 'b' AS b, ja ->> 1 AS e1 "
        "FROM (SELECT '{\"a\": 7, \"b\": \"x\"}' AS j, "
        "'[10, 20]' AS ja) t",
    ).first()
    assert r["a"] == 7 and r["b"] == "x" and r["e1"] == "20"


def test_pg_regex_match_operators(spark):
    """PG ~ / ~* / !~ / !~* map to RLIKE (with a translate-time (?i)
    splice for the case-insensitive forms); prefix ~ is left alone."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as T,
    )

    assert T("SELECT x FROM t WHERE name ~ '^ab'") == (
        "SELECT x FROM t WHERE (name RLIKE '^ab')"
    )
    assert T("SELECT x FROM t WHERE name ~* '^ab'") == (
        "SELECT x FROM t WHERE (name RLIKE '(?i)^ab')"
    )
    assert T("SELECT x FROM t WHERE name !~ '^ab'") == (
        "SELECT x FROM t WHERE (NOT (name RLIKE '^ab'))"
    )
    assert T("SELECT ~5 AS b FROM t") == "SELECT ~5 AS b FROM t"
    with pytest.raises(ValueError, match="literal pattern"):
        T("SELECT x FROM t WHERE name ~* other_col")
    r = run_pg_sql(
        spark,
        "SELECT count(*) FILTER (WHERE s ~ '^a') AS a_ct, "
        "count(*) FILTER (WHERE s ~* '^A') AS ai_ct, "
        "count(*) FILTER (WHERE s !~* '^a') AS no_a "
        "FROM (SELECT * FROM VALUES ('abc'), ('Abc'), ('xyz') AS t(s))",
    ).first()
    assert r["a_ct"] == 1 and r["ai_ct"] == 2 and r["no_a"] == 1


def test_pg_distinct_on(spark):
    """PG DISTINCT ON: first row per key in the residual ORDER BY;
    ON keys must lead the ORDER BY (as PG requires); keyless residual
    order pins the pick with the content hash; LIMIT rejected."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as T,
    )

    data = (
        "(SELECT * FROM VALUES (1, 10, 'a'), (1, 20, 'b'), (2, 5, 'c') "
        "AS t(uid, ts, v))"
    )
    rows = run_pg_sql(
        spark,
        f"SELECT DISTINCT ON (uid) uid, v FROM {data} t "
        "ORDER BY uid, ts DESC",
    ).collect()
    assert sorted((r["uid"], r["v"]) for r in rows) == [(1, "b"), (2, "c")]
    # multiple residual keys + direction on the ON key itself
    rows = run_pg_sql(
        spark,
        f"SELECT DISTINCT ON (uid) uid, v FROM {data} t "
        "ORDER BY uid DESC, ts ASC, v ASC",
    ).collect()
    assert sorted((r["uid"], r["v"]) for r in rows) == [(1, "a"), (2, "c")]
    with pytest.raises(ValueError, match="lead with"):
        T("SELECT DISTINCT ON (uid) uid FROM t ORDER BY ts DESC")
    with pytest.raises(ValueError, match="ORDER BY"):
        T("SELECT DISTINCT ON (uid) uid FROM t")
    with pytest.raises(ValueError, match="LIMIT"):
        T("SELECT DISTINCT ON (uid) uid FROM t ORDER BY uid, ts LIMIT 3")


def test_pg_cast_operand_forms():
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as T

    assert T("SELECT amount::numeric FROM t") == (
        "SELECT CAST(amount AS DOUBLE) FROM t"
    )
    assert T("SELECT (a + b)::int8 FROM t") == (
        "SELECT CAST((a + b) AS BIGINT) FROM t"
    )
    assert T("SELECT sum(x)::numeric FROM t") == (
        "SELECT CAST(sum(x) AS DOUBLE) FROM t"
    )
    assert T("SELECT '5'::int4") == "SELECT CAST('5' AS INT)"
    assert T("SELECT x::text::int4 FROM t") == (
        "SELECT CAST(CAST(x AS STRING) AS INT) FROM t"
    )


def test_pg_corpus_query_executes(engine):
    """The literal pg-expense-direct stats query shape
    (…stats/route.ts:27-30), retargeted at orders, positional params."""
    got = engine.sql(
        "SELECT COUNT(*) as count, COALESCE(SUM(o_totalprice), 0)::float8 "
        "as total FROM orders WHERE 1=1 AND o_orderdate >= $1 "
        "AND o_orderdate <= $2",
        params=["1996-01-01", "1996-12-31"],
        dialect="postgres",
    )
    want = engine.sql(
        "SELECT COUNT(*) as count, "
        "CAST(COALESCE(SUM(o_totalprice), 0) AS DOUBLE) as total "
        "FROM orders WHERE o_orderdate >= '1996-01-01' "
        "AND o_orderdate <= '1996-12-31'"
    )
    assert _rows(got) == _rows(want)


def test_pg_date_trunc_monthly_executes(engine):
    """…stats/route.ts:45-54 shape — DATE_TRUNC is native Spark, only
    $N needs translation."""
    got = engine.sql(
        "SELECT DATE_TRUNC('month', o_orderdate) as month, COUNT(*) as count "
        "FROM orders WHERE o_orderdate >= $1 GROUP BY month ORDER BY month "
        "LIMIT 5",
        params=["1997-01-01"],
        dialect="postgres",
    )
    want = engine.sql(
        "SELECT DATE_TRUNC('month', o_orderdate) as month, COUNT(*) as count "
        "FROM orders WHERE o_orderdate >= '1997-01-01' GROUP BY month "
        "ORDER BY month LIMIT 5"
    )
    assert _rows(got) == _rows(want)


# --------------------------------------------- review-hardening cases


def test_split_separator_is_regex_quoted(spark):
    out = T("splitByChar('.', 'a.b.c')")
    got = spark.sql(f"SELECT {out} AS parts").head()["parts"]
    assert got == ["a", "b", "c"]
    out2 = T("splitByChar('|', 'x|y')")
    assert spark.sql(f"SELECT {out2} AS p").head()["p"] == ["x", "y"]


def test_position_one_arg_form_passes_through():
    assert T("position('x' IN name)") == "position('x' IN name)"


def test_ch_backslash_escaped_literal_is_opaque():
    q = r"SELECT replaceAll(x, 'don\'t', '') FROM t"
    out = T(q)
    assert r"'don\'t'" in out
    assert out == r"SELECT replace(x, 'don\'t', '') FROM t"


def test_pg_parameterized_type_casts():
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    assert P("SELECT total::numeric(10,2)") == (
        "SELECT CAST(total AS DECIMAL(10,2))"
    )
    assert P("SELECT name::varchar(255)") == "SELECT CAST(name AS STRING)"


def test_pg_literals_are_opaque():
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    q = "SELECT 'cost: $1 per a::b unit', amount::numeric FROM t WHERE x = $1"
    out = P(q)
    assert "'cost: $1 per a::b unit'" in out
    assert out.endswith("WHERE x = :p1")
    assert "CAST(amount AS DOUBLE)" in out


# ---------------------------------------- clause rewrites (round 8)


def test_limit_by_requires_order_by():
    import pytest

    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    with pytest.raises(ValueError, match="ORDER BY"):
        translate_ch_sql("SELECT a FROM orders LIMIT 3 BY a")


def test_sample_unknown_table_and_bad_offset_fail_loudly():
    import pytest

    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    with pytest.raises(ValueError, match="sampling key"):
        translate_ch_sql("SELECT 1 FROM mystery SAMPLE 1/8")
    with pytest.raises(ValueError, match="denominator"):
        translate_ch_sql("SELECT 1 FROM orders SAMPLE 1/8 OFFSET 1/4")


def test_clause_keywords_inside_literals_untouched():
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    q = "SELECT 'LIMIT 3 BY x' AS s, 'FROM orders SAMPLE 1/2' AS t FROM nation"
    assert translate_ch_sql(q) == q


def test_sample_rewrite_shape():
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql("SELECT count() FROM orders SAMPLE 1/8 OFFSET 3/8")
    # the function-rewrite pass normalizes whitespace before parens
    assert re.sub(r"\s+", " ", t).find("FROM(SELECT * FROM orders WHERE") >= 0 or \
        "FROM (SELECT * FROM orders WHERE" in t
    assert ") AS orders" in t
    assert "o_orderkey" in t  # the declared sampling key
    # 3/8 and 4/8 of 2^32
    assert "1610612736" in t and "2147483648" in t


def test_limit_by_rewrite_shape():
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql(
        "SELECT a, count() AS n FROM orders GROUP BY a ORDER BY n DESC LIMIT 3 BY a LIMIT 7"
    )
    flat = re.sub(r"\s+", " ", t).replace("OVER(", "OVER (").replace(
        "EXCEPT(", "EXCEPT ("
    )
    assert "row_number() OVER (PARTITION BY a ORDER BY n DESC)" in flat
    assert "__rn <= 3" in flat
    assert flat.rstrip().endswith("LIMIT 7")
    assert "SELECT * EXCEPT (__rn)" in flat


def test_prewhere_merges_with_where():
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql(
        "SELECT a FROM orders PREWHERE x > 1 WHERE y < 2 GROUP BY a"
    )
    flat = re.sub(r"\s+", " ", t).replace("(", " (").replace("  ", " ")
    assert "WHERE (x > 1) AND (y < 2)" in flat
    assert "PREWHERE" not in t
    # bare PREWHERE becomes WHERE
    t2 = translate_ch_sql("SELECT a FROM orders PREWHERE x > 1 ORDER BY a")
    assert "WHERE x > 1" in t2 and "PREWHERE" not in t2


def test_with_totals_becomes_grouping_sets():
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql("SELECT a, b, count() FROM orders GROUP BY a, b WITH TOTALS")
    flat = re.sub(r"\s+", " ", t).replace("SETS(", "SETS (")
    assert "GROUP BY GROUPING SETS ((a, b), ())" in flat


def test_array_join_becomes_lateral_view():
    import pytest

    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql(
        "SELECT x, count() FROM documents ARRAY JOIN arr AS x GROUP BY x"
    )
    flat = re.sub(r"\s+", " ", t)
    assert "LATERAL VIEW explode" in flat and "AS x" in flat
    t2 = translate_ch_sql("SELECT x FROM documents LEFT ARRAY JOIN arr AS x")
    assert "LATERAL VIEW OUTER explode" in re.sub(r"\s+", " ", t2)
    with pytest.raises(ValueError, match="AS alias"):
        translate_ch_sql("SELECT 1 FROM documents ARRAY JOIN arr GROUP BY 1")


def test_final_requires_declared_contract():
    import pytest

    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql("SELECT count() FROM events FINAL")
    flat = re.sub(r"\s+", " ", t).replace("OVER(", "OVER (")
    assert "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)" in flat
    assert "__rn = 1" in flat
    with pytest.raises(ValueError, match="REPLACING_KEYS"):
        translate_ch_sql("SELECT count() FROM orders FINAL")


def test_settings_tail_and_global_modifier_stripped():
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql(
        "SELECT a FROM orders ORDER BY a SETTINGS max_threads = 4, join_algorithm = 'hash'"
    )
    assert "SETTINGS" not in t and t.rstrip().endswith("ORDER BY a")
    t2 = translate_ch_sql(
        "SELECT a FROM orders o GLOBAL LEFT JOIN nation n ON a = b "
        "WHERE a GLOBAL IN (SELECT 1)"
    )
    assert "GLOBAL" not in t2
    assert "LEFT JOIN" in t2 and "IN" in t2
    # literal safety
    t3 = translate_ch_sql("SELECT 'GLOBAL JOIN SETTINGS x' AS s FROM nation")
    assert "'GLOBAL JOIN SETTINGS x'" in t3


def test_sample_band_bounds_validated_in_translator():
    import pytest

    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    with pytest.raises(ValueError, match="0 < num"):
        translate_ch_sql("SELECT count() FROM orders SAMPLE 0/8")
    with pytest.raises(ValueError, match="0 < num"):
        translate_ch_sql("SELECT count() FROM orders SAMPLE 3/8 OFFSET 7/8")


def test_final_with_sample_fails_loudly():
    import pytest

    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    with pytest.raises(ValueError, match="FINAL combined with SAMPLE"):
        translate_ch_sql("SELECT count() FROM events FINAL SAMPLE 1/2")


def test_nested_array_join_rewrites_inside_subquery():
    """r09: ARRAY JOIN inside a subquery rewrites (it used to fail
    loudly); the shared alias counter keeps lateral views distinct
    across nesting levels."""
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql(
        "SELECT t.x FROM (SELECT x FROM documents ARRAY JOIN arr AS x) t"
    )
    assert "LATERAL VIEW explode(arr)" in t and "ARRAY JOIN" not in t
    t2 = translate_ch_sql(
        "SELECT a, b FROM (SELECT x AS a, arr2 FROM t ARRAY JOIN arr AS x) "
        "sub ARRAY JOIN arr2 AS b"
    )
    assert "__aj0" in t2 and "__aj1" in t2


def test_nested_limit_by_rewrites_per_scope():
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql(
        "SELECT k, v FROM (SELECT k, v FROM t ORDER BY v DESC LIMIT 2 BY k) "
        "WHERE v > 0"
    )
    assert "row_number() OVER" in t and "LIMIT 2 BY" not in t
    # top-level + nested together: both scopes rewrite independently
    t2 = translate_ch_sql(
        "SELECT k, v FROM (SELECT k, v FROM t ORDER BY v DESC LIMIT 2 BY k) "
        "s ORDER BY v DESC LIMIT 1 BY k"
    )
    assert t2.count("row_number() OVER") == 2


def test_limit_by_final_limit_follows_query_order():
    """CH applies the trailing LIMIT m to the ORDER BY stream after
    per-group capping — the rewrite must NOT prepend the BY keys."""
    from clickhouse_build_spark.functions.chsql import translate_ch_sql

    t = translate_ch_sql(
        "SELECT a, count() AS n FROM orders GROUP BY a ORDER BY n DESC LIMIT 3 BY a LIMIT 7"
    )
    flat = re.sub(r"\s+", " ", t)
    assert flat.rstrip().endswith("ORDER BY n DESC LIMIT 7")


# ------------------------------------------------- r09 additions


def _flat(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def test_json_extract_family_maps_to_get_json_object():
    t = translate_ch_sql(
        "SELECT JSONExtractString(props, 'plan') AS p, "
        "JSONExtractInt(props, 'items', 2) AS i2, "
        "JSONExtractFloat(props, 'score') AS s, "
        "JSONExtractBool(props, 'ok') AS b FROM events"
    )
    assert "get_json_object(props, '$.plan')" in t
    # CH indexes are 1-based; JsonPath is 0-based
    assert "get_json_object(props, '$.items[1]') AS BIGINT" in t
    assert "AS DOUBLE" in t and "AS BOOLEAN" in t


def test_json_has_and_length():
    t = translate_ch_sql("SELECT JSONHas(props, 'k') AS h FROM events")
    assert "array_contains(json_object_keys(props), 'k')" in t
    t2 = translate_ch_sql("SELECT JSONLength(props) AS n FROM events")
    assert "json_array_length(props)" in t2
    assert "size(json_object_keys(props))" in t2


def test_json_dynamic_path_fails_loudly():
    with pytest.raises(ValueError, match="literal keys"):
        translate_ch_sql("SELECT JSONExtractString(props, col) FROM events")


def test_format_datetime_specifier_mapping():
    t = translate_ch_sql(
        "SELECT formatDateTime(ts, '%Y-%m-%dT%H:%i:%S') AS s FROM events"
    )
    # literal T must be JDK-quoted, %i is minutes, %M would be month name
    assert "date_format(ts, 'yyyy-MM-dd''T''HH:mm:ss')" in t
    with pytest.raises(ValueError, match="unsupported specifier"):
        translate_ch_sql("SELECT formatDateTime(ts, '%Q') FROM events")
    with pytest.raises(ValueError, match="literal format"):
        translate_ch_sql("SELECT formatDateTime(ts, fmt_col) FROM events")


def test_to_start_of_interval_units():
    t = translate_ch_sql(
        "SELECT toStartOfInterval(ts, INTERVAL 10 MINUTE) AS b FROM events"
    )
    assert "floor(unix_timestamp(ts) / 600)" in t and "* 600" in t
    t2 = translate_ch_sql(
        "SELECT toStartOfInterval(d, INTERVAL 1 QUARTER) AS b FROM t"
    )
    assert "months_between" in t2 and "/ 3" in t2
    t3 = translate_ch_sql(
        "SELECT toStartOfInterval(d, INTERVAL 2 WEEK) AS b FROM t"
    )
    assert "DATE '1970-01-05'" in t3  # Monday-aligned like CH
    with pytest.raises(ValueError, match="unsupported unit"):
        translate_ch_sql(
            "SELECT toStartOfInterval(ts, INTERVAL 5 NANOSECOND) FROM t"
        )


def test_dictget_rewrites_to_scalar_subquery():
    t = translate_ch_sql(
        "SELECT dictGet('nations', 'n_name', c_nationkey) AS n FROM customer"
    )
    assert _flat(t).startswith(
        "SELECT (SELECT n_name FROM nation WHERE n_nationkey = (c_nationkey))"
    )
    t2 = translate_ch_sql(
        "SELECT dictGetOrDefault('regions', 'r_name', k, 'x') AS n FROM t"
    )
    assert "coalesce((SELECT r_name FROM region WHERE r_regionkey = (k)), 'x')" in t2
    with pytest.raises(ValueError, match="not declared"):
        translate_ch_sql("SELECT dictGet('nope', 'a', k) FROM t")


def test_topk_rewrite_is_exact_ranked_count():
    t = translate_ch_sql(
        "SELECT event_type, arrayStringConcat(topK(3)(user_id), ',') AS u, "
        "count() AS cnt FROM events GROUP BY event_type"
    )
    f = _flat(t)
    assert "row_number() OVER" in f and "__rn <= 3" in f
    assert "ORDER BY __c DESC, __val" in f  # count desc, value asc tiebreak
    # the join key is a STRUCT of the group keys so NULL groups survive
    assert "USING(__jk)" in f.replace("USING (", "USING(")
    assert "struct(event_type) AS __jk" in f
    # the sibling count() is computed once in __agg, not re-aggregated
    assert f.count("count(*) AS cnt") == 1 and "cnt FROM" in f


def test_topk_global_no_group_by():
    t = translate_ch_sql(
        "SELECT arrayStringConcat(topK(2)(event_type), ',') AS t FROM events"
    )
    assert "PARTITION BY" not in t and "__rn <= 2" in t


def test_topk_weighted_uses_weight_sum():
    t = translate_ch_sql(
        "SELECT k, arrayStringConcat(topKWeighted(2)(x, w), ',') AS t "
        "FROM src GROUP BY k"
    )
    assert "sum(w) AS __c" in t


def test_topk_having_fails_loudly():
    with pytest.raises(ValueError, match="HAVING"):
        translate_ch_sql(
            "SELECT topK(3)(x) AS t FROM src GROUP BY k HAVING count() > 1"
        )


def test_settings_tail_validation():
    # valid key=value pairs strip silently
    t = translate_ch_sql(
        "SELECT count() AS c FROM events SETTINGS max_threads = 4, "
        "use_uncompressed_cache = 1"
    )
    assert "SETTINGS" not in t
    # a word-only tail (FORMAT JSON) must NOT be swallowed
    with pytest.raises(ValueError, match="SETTINGS"):
        translate_ch_sql(
            "SELECT count() FROM events SETTINGS max_threads = 4 FORMAT JSON"
        )


def test_two_array_joins_get_distinct_aliases():
    t = translate_ch_sql(
        "SELECT a, b FROM t ARRAY JOIN xs AS a ARRAY JOIN ys AS b"
    )
    assert "__aj0" in t and "__aj1" in t


def test_limit_by_order_expression_resolves_to_alias():
    t = translate_ch_sql(
        "SELECT k, count() AS n FROM t GROUP BY k ORDER BY count() DESC "
        "LIMIT 2 BY k"
    )
    f = _flat(t)
    assert "ORDER BY n DESC" in f and "count(*) DESC" not in f
    with pytest.raises(ValueError, match="does not match"):
        translate_ch_sql(
            "SELECT k, count() AS n FROM t GROUP BY k "
            "ORDER BY sum(v) DESC LIMIT 2 BY k"
        )


def test_r09_breadth_function_batch(spark):
    """The r09 breadth batch executes with CH semantics: 1-based
    indexOf, (lambda, arr) argument order, arraySlice's optional
    length, Monday weekday, bit ops."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    row = run_ch_sql(
        spark,
        "SELECT indexOf([10, 20, 30], 20) AS idx,"
        " indexOf([10], 99) AS absent,"
        " arrayCount(x -> x > 1, [1, 2, 3]) AS cnt,"
        " arrayExists(x -> x = 2, [1, 2]) AS ex,"
        " arrayAll(x -> x > 0, [1, 2]) AS al,"
        " arraySum([1.5, 2.5]) AS s,"
        " arrayAvg([2, 4]) AS av,"
        " arrayMin([3, 1]) AS mn,"
        " arrayMax([3, 1]) AS mx,"
        " arrayUniq([1, 1, 2]) AS u,"
        " arraySlice([1, 2, 3, 4], 2) AS sl,"
        " arraySlice([1, 2, 3, 4], 2, 2) AS sl2,"
        " countEqual([1, 2, 2], 2) AS ceq,"
        " trimBoth('  x  ') AS tb,"
        " leftPad('7', 3, '0') AS lp,"
        " match('abc123', '[a-z]+\\\\d+') AS m,"
        " toUnixTimestamp(toDateTime('1970-01-01 00:01:00')) AS ux,"
        " dateAdd('day', 2, toDate('2024-01-01')) AS da,"
        " bitAnd(6, 3) AS ba, bitShiftLeft(1, 4) AS bs",
    ).first()
    assert row["idx"] == 2 and row["absent"] == 0
    assert row["cnt"] == 2 and row["ex"] and row["al"]
    assert row["s"] == 4.0 and row["av"] == 3.0
    assert row["mn"] == 1 and row["mx"] == 3 and row["u"] == 2
    assert list(row["sl"]) == [2, 3, 4] and list(row["sl2"]) == [2, 3]
    assert row["ceq"] == 2 and row["tb"] == "x" and row["lp"] == "007"
    assert row["m"] and row["ux"] == 60
    assert str(row["da"]).startswith("2024-01-03")
    assert row["ba"] == 2 and row["bs"] == 16


def test_bracket_literals_and_subscripts():
    assert T("SELECT [1, 2, 3] AS a FROM t") == (
        "SELECT array(1, 2, 3) AS a FROM t"
    )
    assert T("SELECT [[1], [2]] AS a FROM t") == (
        "SELECT array(array(1), array(2)) AS a FROM t"
    )
    # CH subscripts are 1-based = Spark element_at, NOT Spark's 0-based
    # [i]; try_ so ANSI out-of-range yields NULL not an error
    assert T("SELECT arr[1] AS first FROM t") == (
        "SELECT try_element_at(arr, 1) AS first FROM t"
    )
    assert T("SELECT t.arr[-1] FROM t") == "SELECT try_element_at(t.arr, -1) FROM t"
    assert "'[not an array]'" in T("SELECT '[not an array]' FROM t")
    with pytest.raises(ValueError, match="arrayElement"):
        T("SELECT f(x)[1] FROM t")


def test_state_merge_and_remaining_if_combinators(spark):
    """uniqState/uniqMerge map to the Datasketches pair aggstate.py
    pins semantics for; the -If family wraps the mapped aggregates."""
    assert T("SELECT uniqState(x) FROM t") == "SELECT hll_sketch_agg(x) FROM t"
    assert T("SELECT uniqMerge(s) FROM t") == (
        "SELECT hll_sketch_estimate(hll_union_agg(s)) FROM t"
    )
    assert T("uniqIf(u, c)") == "approx_count_distinct(CASE WHEN c THEN u END)"
    assert T("uniqExactIf(u, c)") == "count(DISTINCT CASE WHEN c THEN u END)"
    assert T("argMaxIf(n, ts, c)") == (
        "max_by(CASE WHEN c THEN n END, CASE WHEN c THEN ts END)"
    )
    # two-stage lifecycle executes: per-day states, merged estimate ==
    # direct uniqExact for this small exact-regime cardinality
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    from clickhouse_build_spark.catalog import load_tables

    load_tables(spark, SF_SMOKE)
    merged = run_ch_sql(
        spark,
        "SELECT uniqMerge(s) AS u FROM "
        "(SELECT toDate(ts) AS d, uniqState(user_id) AS s "
        "FROM events GROUP BY d)",
    ).first()["u"]
    exact = run_ch_sql(
        spark, "SELECT uniqExact(user_id) AS u FROM events"
    ).first()["u"]
    assert merged == exact  # n_users << sketch exact regime at smoke SF


def test_asof_join_rewrite_shape_and_loud_failures():
    t = T(
        "SELECT v.event_id AS i FROM events AS v ASOF LEFT JOIN errs AS e "
        "ON v.user_id = e.user_id AND v.ts >= e.ts WHERE v.event_type = 'view'"
    )
    f = _flat(t)
    # union + ordered window carry-forward, probe refs -> carried structs
    assert "UNION ALL" in f and "last_value(__bs, true) OVER" in f
    assert "ORDER BY __ts ASC, __p ASC" in f  # >= : backward, inclusive
    assert "__asof.__ps.event_id AS i" in f
    assert "__asof.__ps.event_type = 'view'" in f
    # inner join filters unmatched probes; LEFT keeps them
    t2 = T("SELECT v.x AS x FROM a AS v ASOF JOIN b AS e ON v.k = e.k AND v.ts > e.ts")
    assert "__m IS NOT NULL" in t2 and "ORDER BY __ts ASC, __p DESC" in t2
    # normalization: condition written build-side-first flips
    t3 = T("SELECT v.x AS x FROM a AS v ASOF JOIN b AS e ON e.k = v.k AND e.ts <= v.ts")
    assert "ORDER BY __ts ASC, __p ASC" in t3
    with pytest.raises(ValueError, match="exactly one inequality"):
        T("SELECT v.x FROM a AS v ASOF JOIN b AS e ON v.k = e.k AND v.t >= e.t AND v.u > e.u")
    with pytest.raises(ValueError, match="at least one equality"):
        T("SELECT v.x FROM a AS v ASOF JOIN b AS e ON v.ts >= e.ts")
    with pytest.raises(ValueError, match="ASOF JOIN side"):
        T("SELECT v.x FROM a JOIN c ON a.k = c.k ASOF JOIN b AS e ON a.k = e.k AND a.t >= e.t")


def test_register_dictionary_and_asof_alias_guard(spark):
    from clickhouse_build_spark.functions.chsql import (
        DICTIONARIES,
        register_dictionary,
        run_ch_sql,
    )
    from clickhouse_build_spark.catalog import load_tables

    register_dictionary("suppliers", "supplier", "s_suppkey")
    try:
        load_tables(spark, SF_SMOKE)
        row = run_ch_sql(
            spark,
            "SELECT dictGet('suppliers', 's_name', 1) AS n",
        ).first()
        assert row["n"] is not None
    finally:
        DICTIONARIES.pop("suppliers", None)
    with pytest.raises(ValueError, match="invalid dictionary"):
        register_dictionary("x; drop", "t", "k")
    with pytest.raises(ValueError, match="distinct aliases"):
        T("SELECT a.x FROM t AS a ASOF JOIN u AS a ON a.k = a.k AND a.t >= a.t")


def test_review_r09_fixes(spark):
    """Regression pins for the r09 self-review findings."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    # IN [..] becomes a parenthesized list, not array()
    t = _flat(T("SELECT x FROM t WHERE x IN [1, 2] AND y NOT IN [3]")).replace("IN(", "IN (")
    assert "IN (1, 2)" in t and "IN (3)" in t and "array" not in t
    # subscripts are try_element_at (ANSI out-of-range -> NULL, not error)
    assert "try_element_at(arr, 9)" in T("SELECT arr[9] FROM t")
    row = run_ch_sql(
        spark, "SELECT [1, 2][9] IS NULL AS oob"
    ).first()
    assert row is None or row["oob"]  # executes, no INVALID_ARRAY_INDEX
    # %c is zero-padded month like CH
    assert "date_format(ts, 'MM')" in T("SELECT formatDateTime(ts, '%c') FROM t")
    # topK: NULL group keys survive (struct join key), verified live
    spark.sql(
        "SELECT * FROM VALUES (NULL, 'a'), (NULL, 'a'), (NULL, 'b'), "
        "(1, 'c') AS t(k, x)"
    ).createOrReplaceTempView("__tk_null_src")
    rows = {
        (r["k"], r["t"], r["c"])
        for r in run_ch_sql(
            spark,
            "SELECT k, arrayStringConcat(topK(2)(x), ',') AS t, "
            "count() AS c FROM __tk_null_src GROUP BY k",
        ).collect()
    }
    assert rows == {(None, "a,b", 3), (1, "c", 1)}
    # ASOF: NULL keys never match (build side filtered)
    spark.sql(
        "SELECT * FROM VALUES (CAST(NULL AS INT), 10, 'p1'), (1, 10, 'p2') "
        "AS t(k, ts, tag)"
    ).createOrReplaceTempView("__asof_p")
    spark.sql(
        "SELECT * FROM VALUES (CAST(NULL AS INT), 5, 'bN'), (1, 5, 'b1') "
        "AS t(k, ts, tag)"
    ).createOrReplaceTempView("__asof_b")
    rows = {
        (r["ptag"], r["btag"])
        for r in run_ch_sql(
            spark,
            "SELECT p.tag AS ptag, b.tag AS btag FROM __asof_p AS p "
            "ASOF LEFT JOIN __asof_b AS b "
            "ON p.k = b.k AND p.ts >= b.ts",
        ).collect()
    }
    assert rows == {("p1", None), ("p2", "b1")}


def test_r09b_url_function_family(spark):
    """URL family maps to parse_url with CH's ''-on-absent contract."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    row = run_ch_sql(
        spark,
        "SELECT protocol('https://www.ex.com/a/b?k=1&z=2#f') AS pr,"
        " domain('https://www.ex.com/a?x=1') AS d,"
        " domainWithoutWWW('https://www.ex.com/a') AS dw,"
        " topLevelDomain('https://sub.ex.org/a') AS tld,"
        " path('https://ex.com/a/b?k=1') AS p,"
        " pathFull('https://ex.com/a/b?k=1') AS pf,"
        " queryString('https://ex.com/a?k=1&z=2#f') AS qs,"
        " fragment('https://ex.com/a#sec') AS fr,"
        " extractURLParameter('https://ex.com/?a=1&b=2', 'b') AS b,"
        " extractURLParameter('https://ex.com/?a=1', 'zz') AS miss,"
        " cutQueryString('https://ex.com/a?q=1') AS cq,"
        " cutFragment('https://ex.com/a#x') AS cf,"
        " encodeURLComponent('1 2&x') AS enc,"
        " decodeURLComponent('1%202+3') AS dec",
    ).first()
    assert row["pr"] == "https" and row["d"] == "www.ex.com"
    assert row["dw"] == "ex.com" and row["tld"] == "org"
    assert row["p"] == "/a/b" and row["pf"] == "/a/b?k=1"
    assert row["qs"] == "k=1&z=2" and row["fr"] == "sec"
    assert row["b"] == "2" and row["miss"] == ""
    assert row["cq"] == "https://ex.com/a" and row["cf"] == "https://ex.com/a"
    # CH-style %20 (not form '+'); '+' survives decode as a literal
    assert row["enc"] == "1%202%26x" and row["dec"] == "1 2+3"


def test_r09b_array_breadth(spark):
    """arrayFirst/Last/FirstIndex, cumSum/difference (type-preserving),
    compact, push/pop, hasAll/hasAny, range/enumerate guards."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    row = run_ch_sql(
        spark,
        "SELECT arrayFirst(x -> x > 1, [1, 2, 3]) AS fst,"
        " arrayFirst(x -> x > 9, [1]) AS fmiss,"
        " arrayLast(x -> x < 3, [1, 2, 3]) AS lst,"
        " arrayFirstIndex(x -> x = 2, [1, 2, 3]) AS fi,"
        " arrayFirstIndex(x -> x = 9, [1]) AS fimiss,"
        " arrayLastIndex(x -> x = 2, [2, 1, 2]) AS li,"
        " arrayCumSum([1, 2, 3]) AS cs,"
        " arrayDifference([10, 13, 17]) AS ad,"
        " arrayCompact([1, 1, 2, 2, 1]) AS ac,"
        " arrayIntersect([1, 2, 3], [2, 3, 4]) AS ai,"
        " hasAll([1, 2, 3], [1, 3]) AS ha,"
        " hasAll([1, 2], [9]) AS hamiss,"
        " hasAny([1, 2], [2, 9]) AS hy,"
        " arrayPushBack([1, 2], 9) AS pb,"
        " arrayPushFront([1, 2], 9) AS pf,"
        " arrayPopBack([1, 2, 3]) AS pob,"
        " arrayPopFront([1, 2, 3]) AS pof,"
        " range(4) AS r, range(0) AS r0, range(2, 5) AS r2,"
        " arrayEnumerate([7, 8]) AS en",
    ).first()
    assert row["fst"] == 2 and row["fmiss"] is None and row["lst"] == 2
    assert row["fi"] == 2 and row["fimiss"] == 0 and row["li"] == 3
    assert list(row["cs"]) == [1, 3, 6] and list(row["ad"]) == [0, 3, 4]
    assert list(row["ac"]) == [1, 2, 1] and list(row["ai"]) == [2, 3]
    assert row["ha"] and not row["hamiss"] and row["hy"]
    assert list(row["pb"]) == [1, 2, 9] and list(row["pf"]) == [9, 1, 2]
    assert list(row["pob"]) == [1, 2] and list(row["pof"]) == [2, 3]
    assert list(row["r"]) == [0, 1, 2, 3] and list(row["r0"]) == []
    assert list(row["r2"]) == [2, 3, 4] and list(row["en"]) == [1, 2]


def test_r09b_string_math_date_breadth(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    row = run_ch_sql(
        spark,
        "SELECT startsWith('hello', 'he') AS sw,"
        " endsWith('hello', 'lo') AS ew,"
        " countSubstrings('aXbXc', 'X') AS ns,"
        " positionCaseInsensitive('HeLLo', 'll') AS pc,"
        " multiSearchAny('haystack', ['ned', 'hay']) AS msa,"
        " tokens('a-b c_1!') AS tk,"
        " replaceRegexpAll('2024-01-02', '(\\\\d+)-(\\\\d+)-(\\\\d+)',"
        "                  '\\\\3/\\\\2/\\\\1') AS rr,"
        " replaceOne('aXbX', 'X', '-') AS ro,"
        " substringIndex('a.b.c', '.', 2) AS si,"
        " hex(MD5('abc')) AS h,"
        " roundBankers(2.5) AS rb,"
        " intDivOrZero(7, 0) AS iz, moduloOrZero(7, 0) AS mz,"
        " exp2(10) AS e2, bitCount(7) AS bc,"
        " isNaN(0.0) AS nn, isFinite(3.0) AS fin,"
        " isInfinite(double('Infinity')) AS inf,"
        " toQuarter(toDate('2024-05-03')) AS q,"
        " toDayOfYear(toDate('2024-02-01')) AS dy,"
        " toLastDayOfMonth(toDate('2024-02-01')) AS ld,"
        " addWeeks(toDate('2024-01-01'), 2) AS aw,"
        " toStartOfFiveMinutes(toDateTime('2024-01-01 00:07:33')) AS s5",
    ).first()
    assert row["sw"] and row["ew"] and row["ns"] == 2 and row["pc"] == 3
    assert row["msa"] and list(row["tk"]) == ["a", "b", "c", "1"]
    assert row["rr"] == "02/01/2024" and row["ro"] == "a-bX"
    assert row["si"] == "a.b"
    assert row["h"] == "900150983CD24FB0D6963F7D28E17F72"
    assert float(row["rb"]) == 2.0
    assert row["iz"] == 0 and row["mz"] == 0
    assert row["e2"] == 1024.0 and row["bc"] == 3
    assert not row["nn"] and row["fin"] and row["inf"]
    assert row["q"] == 2 and row["dy"] == 32
    assert str(row["ld"]) == "2024-02-29"
    assert str(row["aw"]).startswith("2024-01-15")
    assert str(row["s5"]) == "2024-01-01 00:05:00"


def test_r09b_stat_aggregates_and_rollup(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    rows = run_ch_sql(
        spark,
        "SELECT k, stddevPop(x) AS sp, stddevSamp(x) AS ss,"
        " varPop(x) AS vp, varSamp(x) AS vs,"
        " avgWeighted(x, w) AS aw, groupBitOr(b) AS bo,"
        " groupBitAnd(b) AS ba, groupBitXor(b) AS bx"
        " FROM (SELECT 1 AS k, 1 AS x, 2 AS w, 5 AS b"
        "       UNION ALL SELECT 1, 3, 1, 3) GROUP BY k",
    ).collect()
    r = rows[0]
    assert r["sp"] == 1.0 and r["vs"] == 2.0
    assert abs(r["aw"] - 5.0 / 3.0) < 1e-12
    assert r["bo"] == 7 and r["ba"] == 1 and r["bx"] == 6
    # WITH ROLLUP passes through to Spark's identical clause
    roll = run_ch_sql(
        spark,
        "SELECT k, count() AS n FROM"
        " (SELECT 1 AS k UNION ALL SELECT 1 UNION ALL SELECT 2)"
        " GROUP BY k WITH ROLLUP",
    ).collect()
    assert (None, 3) in [(r["k"], r["n"]) for r in roll]
    assert len(roll) == 3


def test_r09b_sketch_quantile_variants(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    row = run_ch_sql(
        spark,
        "SELECT quantileTDigest(0.5)(x) AS td,"
        " quantileTiming(0.5)(x) AS tm,"
        " quantileBFloat16(0.5)(x) AS bf,"
        " quantileDeterministic(0.5)(x, x) AS dt,"
        " quantilesTDigest(0.25, 0.75)(x) AS tds"
        " FROM (SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3)",
    ).first()
    assert row["td"] == 2 and row["tm"] == 2 and row["bf"] == 2
    assert row["dt"] == 2 and list(row["tds"]) == [1, 3]


def test_r09b_map_aggregate_family(spark):
    """sumMap/minMap/maxMap: per-key merge across rows, sorted keys,
    type-preserving sums (CH tuple-of-arrays as struct keys/values)."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    rows = run_ch_sql(
        spark,
        "SELECT g, sumMap(ka, va) AS sm, minMap(ka, va) AS mn,"
        " maxMap(ka, va) AS mx FROM"
        " (SELECT 1 AS g, ['a', 'b'] AS ka, [1, 2] AS va"
        "  UNION ALL SELECT 1, ['b', 'c'], [5, 7]"
        "  UNION ALL SELECT 2, ['z'], [9])"
        " GROUP BY g",
    ).collect()
    by_g = {r["g"]: r for r in rows}
    assert list(by_g[1]["sm"]["keys"]) == ["a", "b", "c"]
    assert list(by_g[1]["sm"]["values"]) == [1, 7, 7]
    assert list(by_g[1]["mn"]["values"]) == [1, 2, 7]
    assert list(by_g[1]["mx"]["values"]) == [1, 5, 7]
    assert list(by_g[2]["sm"]["keys"]) == ["z"]
    assert list(by_g[2]["sm"]["values"]) == [9]
    # Map-typed single-argument form
    r = run_ch_sql(
        spark,
        "SELECT sumMap(m) AS sm FROM"
        " (SELECT map('x', toFloat64(1.5), 'y', toFloat64(2.0)) AS m"
        "  UNION ALL SELECT map('y', toFloat64(3.0)))",
    ).first()
    assert list(r["sm"]["keys"]) == ["x", "y"]
    assert list(r["sm"]["values"]) == [1.5, 5.0]


# -------------------- r10: every clause rewrite EXECUTES (VERDICT r09 #1)
# The r9 SAMPLE regression shipped because the clause tests asserted the
# rewritten STRING but never ran it — a later function-map pass clobbered
# the rewrite's internal MD5 and no test noticed. Each test here executes
# the translated SQL against the real catalog and checks values against a
# hand-written native-Spark equivalent.


def test_exec_sample_clause(engine):
    from clickhouse_build_spark.functions.dialect import sample_clause_spark_sql

    got = engine.sql(
        "SELECT count() AS n FROM orders SAMPLE 1/8 OFFSET 3/8",
        dialect="clickhouse",
    ).first()["n"]
    band = sample_clause_spark_sql("o_orderkey", 1, 8, 3)
    want = engine.sql(
        f"SELECT count(*) AS n FROM orders WHERE {band}"
    ).first()["n"]
    assert got == want and got > 0


def test_exec_sample_plus_limit_by(engine):
    """The exact r9-regression composition: SAMPLE + LIMIT BY in one query."""
    from clickhouse_build_spark.functions.dialect import sample_clause_spark_sql

    got = _rows(
        engine.sql(
            "SELECT o_orderstatus AS st, o_orderkey AS k FROM orders "
            "SAMPLE 1/2 ORDER BY k ASC LIMIT 2 BY st",
            dialect="clickhouse",
        ).orderBy("st", "k")
    )
    band = sample_clause_spark_sql("o_orderkey", 1, 2, 0)
    want = _rows(
        engine.sql(
            "SELECT st, k FROM (SELECT o_orderstatus AS st, o_orderkey AS k, "
            "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ASC) AS rn "
            f"FROM orders WHERE {band}) WHERE rn <= 2"
        ).orderBy("st", "k")
    )
    assert got == want and len(got) > 0


def test_exec_final(engine):
    got = engine.sql(
        "SELECT count() AS n FROM events FINAL", dialect="clickhouse"
    ).first()["n"]
    want = engine.sql(
        "SELECT count(DISTINCT user_id) AS n FROM events"
    ).first()["n"]
    assert got == want and got > 0


def test_exec_array_join(engine):
    got = engine.sql(
        "SELECT n_name, x FROM nation ARRAY JOIN [1, 2] AS x",
        dialect="clickhouse",
    )
    rows = _rows(got.orderBy("n_name", "x"))
    base = engine.sql("SELECT count(*) AS n FROM nation").first()["n"]
    assert len(rows) == 2 * base
    assert {r[1] for r in rows} == {1, 2}


def test_exec_prewhere(engine):
    got = engine.sql(
        "SELECT count() AS n FROM orders PREWHERE o_totalprice > 1000 "
        "WHERE o_orderstatus = 'F'",
        dialect="clickhouse",
    ).first()["n"]
    want = engine.sql(
        "SELECT count(*) AS n FROM orders "
        "WHERE o_totalprice > 1000 AND o_orderstatus = 'F'"
    ).first()["n"]
    assert got == want and got > 0


def test_exec_with_totals(engine):
    rows = _rows(
        engine.sql(
            "SELECT o_orderstatus AS st, count() AS n FROM orders "
            "GROUP BY st WITH TOTALS",
            dialect="clickhouse",
        )
    )
    groups = {r[0]: r[1] for r in rows if r[0] is not None}
    totals = [r[1] for r in rows if r[0] is None]
    assert len(totals) == 1 and totals[0] == sum(groups.values())
    assert len(groups) >= 2


def test_exec_asof_join(engine):
    got = _rows(
        engine.sql(
            "SELECT v.event_id AS i, e.ts AS m_ts FROM "
            "(SELECT * FROM events WHERE event_type = 'view') AS v "
            "ASOF LEFT JOIN "
            "(SELECT * FROM events WHERE event_type = 'error') AS e "
            "ON v.user_id = e.user_id AND v.ts >= e.ts",
            dialect="clickhouse",
        ).orderBy("i")
    )
    want = _rows(
        engine.sql(
            "SELECT i, max(ets) AS m_ts FROM ("
            " SELECT v.event_id AS i, e.ts AS ets"
            " FROM (SELECT * FROM events WHERE event_type = 'view') v"
            " LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e"
            " ON v.user_id = e.user_id AND e.ts <= v.ts) GROUP BY i"
        ).orderBy("i")
    )
    assert got == want and len(got) > 0


def test_exec_asof_bare_star_expands_to_joined_row(engine):
    """ADVICE r09 medium: bare `SELECT *` must yield the joined row, not
    the internal __ps/__m structs."""
    df = engine.sql(
        "SELECT * FROM "
        "(SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') AS v "
        "ASOF JOIN "
        "(SELECT user_id, ts AS ets FROM events WHERE event_type = 'error') AS e "
        "ON v.user_id = e.user_id AND v.ts >= e.ets",
        dialect="clickhouse",
    )
    assert not any(c.startswith("__") for c in df.columns)
    assert df.columns == ["user_id", "ts", "event_id", "user_id", "ets"]
    r = df.limit(1).collect()
    assert len(r) == 1


def test_exec_topk(engine):
    got = engine.sql(
        "SELECT topK(2)(o_orderstatus) AS t FROM orders",
        dialect="clickhouse",
    ).first()["t"]
    counts = {
        r["st"]: r["n"]
        for r in engine.sql(
            "SELECT o_orderstatus AS st, count(*) AS n FROM orders GROUP BY st"
        ).collect()
    }
    want = [s for s, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))][:2]
    assert list(got) == want


def test_exec_limit_by(engine):
    got = _rows(
        engine.sql(
            "SELECT o_custkey AS c, o_orderkey AS k FROM orders "
            "ORDER BY k ASC LIMIT 2 BY c",
            dialect="clickhouse",
        ).orderBy("c", "k")
    )
    want = _rows(
        engine.sql(
            "SELECT c, k FROM (SELECT o_custkey AS c, o_orderkey AS k, "
            "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey ASC) AS rn "
            "FROM orders) WHERE rn <= 2"
        ).orderBy("c", "k")
    )
    assert got == want and len(got) > 0


def test_sample_band_md5_survives_function_pass():
    """The r9 regression in miniature: the md5→unhex(md5) byte-contract
    mapping must not clobber the SAMPLE band's internal portable hash."""
    t = T("SELECT count() AS n FROM orders SAMPLE 1/8 OFFSET 3/8")
    assert "unhex" not in t and "__chb_keep__" not in t
    assert "MD5(CONCAT('sample:'" in t
    # user-written md5 still gets the byte-contract mapping
    t2 = T("SELECT hex(MD5(o_comment)) AS h FROM orders SAMPLE 1/2")
    assert "unhex(md5(o_comment))" in t2
    assert "unhex(md5(CONCAT('sample:'" not in t2


def test_backref_dollar_literal_escaped(spark):
    # ADVICE r09: a literal '$' in the CH replacement must not read as a
    # Java group reference.
    t = T("SELECT replaceRegexpAll(s, 'x+', 'costs $5') AS r FROM t")
    assert "\\\\$5" in t
    r = spark.sql(
        "SELECT " + T("replaceRegexpAll('axxb', 'x+', 'costs $5')") + " AS r"
    ).first()["r"]
    assert r == "acosts $5b"


def test_encode_url_component_rfc3986_deltas(spark):
    # ADVICE r09: '~' stays literal (Java form-encodes %7E), '*' encodes
    # %2A (Java keeps it), ' ' encodes %20 (Java '+').
    r = spark.sql(
        "SELECT " + T("encodeURLComponent('a b~c*')") + " AS r"
    ).first()["r"]
    assert r == "a%20b~c%2A"
    d = spark.sql(
        "SELECT " + T("decodeURLComponent('a%20b~c%2A')") + " AS d"
    ).first()["d"]
    assert d == "a b~c*"


# ------------------- r10: behavioral aggregates + WITH FILL (VERDICT #4/#9)


def test_window_funnel_executes_inline(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    # user 1: full chain inside 100s; user 2: step2 outside the window;
    # user 3: steps out of order; user 4: level 1 only
    rows = run_ch_sql(
        spark,
        "SELECT uid, windowFunnel(100)(t, e = 'a', e = 'b', e = 'c') AS lvl "
        "FROM (SELECT * FROM VALUES "
        "(1, TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(1, TIMESTAMP'2024-01-01 00:00:30', 'b'),"
        "(1, TIMESTAMP'2024-01-01 00:01:00', 'c'),"
        "(2, TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(2, TIMESTAMP'2024-01-01 00:10:00', 'b'),"
        "(3, TIMESTAMP'2024-01-01 00:00:00', 'b'),"
        "(3, TIMESTAMP'2024-01-01 00:00:10', 'a'),"
        "(4, TIMESTAMP'2024-01-01 00:00:00', 'a')"
        " AS t(uid, t, e)) GROUP BY uid",
    ).collect()
    got = {r["uid"]: r["lvl"] for r in rows}
    assert got == {1: 3, 2: 1, 3: 1, 4: 1}


def test_window_funnel_late_chain_start_found(spark):
    """The max-start greedy must find a chain from a LATER cond1 event
    when the earliest one is out of window."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT windowFunnel(60)(t, e = 'a', e = 'b') AS lvl FROM (SELECT * "
        "FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:05:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:05:30', 'b')"
        " AS t(t, e))",
    ).first()
    assert r["lvl"] == 2


def test_sequence_match_executes_inline(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    rows = run_ch_sql(
        spark,
        "SELECT uid, sequenceMatch('(?1).*(?2)')(t, e = 'a', e = 'c') AS hit "
        "FROM (SELECT * FROM VALUES "
        "(1, TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(1, TIMESTAMP'2024-01-01 00:00:30', 'b'),"
        "(1, TIMESTAMP'2024-01-01 00:01:00', 'c'),"
        "(2, TIMESTAMP'2024-01-01 00:00:00', 'c'),"
        "(2, TIMESTAMP'2024-01-01 00:00:30', 'a')"
        " AS t(uid, t, e)) GROUP BY uid",
    ).collect()
    got = {r["uid"]: r["hit"] for r in rows}
    assert got == {1: 1, 2: 0}
    # permuted references work: (?2)(?1) over the same data
    r2 = run_ch_sql(
        spark,
        "SELECT uid, sequenceMatch('(?2)(?1)')(t, e = 'a', e = 'c') AS hit "
        "FROM (SELECT * FROM VALUES "
        "(2, TIMESTAMP'2024-01-01 00:00:00', 'c'),"
        "(2, TIMESTAMP'2024-01-01 00:00:30', 'a')"
        " AS t(uid, t, e)) GROUP BY uid",
    ).first()
    assert r2["hit"] == 1


def test_retention_executes_inline(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT retention(e = 'a', e = 'b', e = 'z') AS r FROM (SELECT * "
        "FROM VALUES ('a'), ('b'), ('c') AS t(e))",
    ).first()
    assert list(r["r"]) == [1, 1, 0]


def test_behavioral_fail_loudly():
    # the r12 never-list: unknown funnel modes and time-constrained
    # sequenceCount (greedy not exact under them); (?t==N) left the
    # list in r12b (exact achieved-set fold)
    with pytest.raises(ValueError, match="unknown mode"):
        T("SELECT windowFunnel(100, 'strict_once')(t, a, b) FROM x")
    assert "array_contains" in T(
        "SELECT sequenceMatch('(?1)(?t==3600)(?2)')(t, a, b) FROM x"
    )
    # timed sequenceCount left the never-list in r12b too (reset-scan DP)
    assert "named_struct('s'" in T(
        "SELECT sequenceCount('(?1)(?t<=10)(?2)')(t, a, b) FROM x"
    )
    with pytest.raises(ValueError, match="missing cond"):
        T("SELECT sequenceMatch('(?3)')(t, a, b) FROM x")
    with pytest.raises(ValueError, match="at least 2"):
        T("SELECT retention(a) FROM x")
    with pytest.raises(ValueError, match="must follow"):
        T("SELECT sequenceMatch('(?t<=10)(?1)')(t, a) FROM x")
    with pytest.raises(ValueError, match="trailing"):
        T("SELECT sequenceMatch('(?1)(?t<=10)')(t, a) FROM x")


def test_with_fill_rewrite_and_execution(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    rows = run_ch_sql(
        spark,
        "SELECT k, sum(v) AS s FROM (SELECT * FROM VALUES (1, 10), (1, 5), "
        "(4, 7), (9, 1) AS t(k, v)) GROUP BY k "
        "ORDER BY k WITH FILL FROM 0 TO 6 STEP 2",
    ).collect()
    got = [(r["k"], r["s"]) for r in rows]
    # grid {0,2,4}: 0 and 2 are gap rows; 1 and 9 are original rows
    # outside/off the grid and must survive; TO=6 is exclusive
    assert got == [(0, 0), (1, 15), (2, 0), (4, 7), (9, 1)]


def test_with_fill_fail_loudly():
    with pytest.raises(ValueError, match="WITH FILL"):
        T("SELECT k FROM t ORDER BY k WITH FILL")  # no bounds
    with pytest.raises(ValueError, match="not an output column"):
        T("SELECT a AS x FROM t ORDER BY k WITH FILL FROM 0 TO 5")


def test_url_significant_subdomain(spark):
    got = spark.sql(
        "SELECT "
        + T("cutToFirstSignificantSubdomain('https://news.clickhouse.com.tr/path')")
        + " AS a, "
        + T("firstSignificantSubdomain('https://news.clickhouse.com.tr/x')")
        + " AS b, "
        + T("cutToFirstSignificantSubdomain('http://www.example.com/')")
        + " AS c, "
        + T("firstSignificantSubdomain('http://example.com')")
        + " AS d"
    ).first()
    assert got["a"] == "clickhouse.com.tr"
    assert got["b"] == "clickhouse"
    assert got["c"] == "example.com"
    assert got["d"] == "example"


def test_window_funnel_strict_increase(spark):
    """strict_increase refuses equal-timestamp chaining that the
    default mode's sorted processing would allow."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    data = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:00', 'b'),"
        "(TIMESTAMP'2024-01-01 00:00:10', 'b')"
        " AS t(t, e))"
    )
    strict = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_increase')(t, e = 'a', e = 'b') "
        f"AS lvl FROM {data}",
    ).first()["lvl"]
    assert strict == 2  # via the later 'b' at +10s, not the tie
    strict2 = run_ch_sql(
        spark,
        "SELECT windowFunnel(5, 'strict_increase')(t, e = 'a', e = 'b') "
        "AS lvl FROM (SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:00', 'b')"
        " AS t(t, e))",
    ).first()["lvl"]
    assert strict2 == 1  # the only 'b' ties with 'a' — strictness blocks


def test_sequence_count_nonoverlapping(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT sequenceCount('(?1)(?2)')(t, e = 'a', e = 'b') AS n "
        "FROM (SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:01', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:02', 'b'),"
        "(TIMESTAMP'2024-01-01 00:00:03', 'x'),"
        "(TIMESTAMP'2024-01-01 00:00:04', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:05', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:06', 'b')"
        " AS t(t, e))",
    ).first()["n"]
    assert r == 2  # (1s,2s) and (4s,6s) — the 5s 'a' can't overlap


def test_with_fill_interpolate_carry(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    rows = run_ch_sql(
        spark,
        "SELECT k, sum(v) AS s, max(v) AS m FROM (SELECT * FROM VALUES "
        "(1, 10), (4, 7) AS t(k, v)) GROUP BY k "
        "ORDER BY k WITH FILL FROM 0 TO 6 INTERPOLATE (m)",
    ).collect()
    got = [(r["k"], r["s"], r["m"]) for r in rows]
    # s zero-fills; m carries the previous real value (0 before any)
    assert got == [
        (0, 0, 0),
        (1, 10, 10),
        (2, 0, 10),
        (3, 0, 10),
        (4, 7, 7),
        (5, 0, 7),
    ]
    with pytest.raises(ValueError, match="INTERPOLATE"):
        T("SELECT k, sum(v) AS s FROM t GROUP BY k "
          "ORDER BY k WITH FILL FROM 0 TO 5 INTERPOLATE (zz)")


def test_corr_zero_variance_bucket_null_not_crash(spark):
    """Judge-confirmed sf1 crash (VERDICT r11 #1): a bucket with n>=2
    rows but ONE distinct value makes Spark's native ``corr`` divide by
    sqrt(0) under ANSI mode. The translator maps CH ``corr`` to the
    regr_sxy co-moment form (the cross co-moment plus the nvl2-masked
    self co-moments of x and y) with ``try_divide`` — zero-variance
    and singleton groups yield NULL, matching CH and the DuckDB oracle.
    """
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    # bucket 0: 10 rows, ONE distinct x (zero variance, n>=2 — the
    # planted sf1 shape); bucket 1: n=1; bucket 2: well-conditioned.
    vals = [(0, 5.0, float(i)) for i in range(10)]
    vals += [(1, 3.0, 7.0)]
    vals += [(2, float(i), float(i * 2 + (i % 3))) for i in range(10)]
    spark.createDataFrame(vals, "b int, x double, y double").createOrReplaceTempView(
        "corr_fixture"
    )
    rows = run_ch_sql(
        spark,
        "SELECT b, corr(x, y) AS c FROM corr_fixture GROUP BY b ORDER BY b",
    ).collect()
    assert rows[0]["c"] is None and rows[1]["c"] is None
    import duckdb
    import math

    ref = duckdb.sql(
        "SELECT corr(x, y) FROM (SELECT unnest(range(10)) i) t(i),"
        " LATERAL (SELECT i::DOUBLE x, (i*2 + i%3)::DOUBLE y)"
    ).fetchone()[0]
    assert math.isclose(rows[2]["c"], ref, rel_tol=1e-12)


def test_corr_bitexact_vs_native_on_nondegenerate(spark):
    """The regr_sxy co-moment form must be BIT-EXACT vs Spark's Corr on
    non-degenerate input (Covariance's update and merge, which are
    Corr's own co-moment accumulators) so the fix changes no green gate
    hash."""
    import random

    random.seed(7)
    rows = [(random.uniform(0, 400), float(random.randint(1, 5000))) for _ in range(5000)]
    spark.createDataFrame(rows, "x double, y double").createOrReplaceTempView(
        "corr_nd"
    )
    native = spark.sql("SELECT corr(x, y) c FROM corr_nd").collect()[0]["c"]
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    translated = run_ch_sql(
        spark, "SELECT corr(x, y) AS c FROM corr_nd"
    ).collect()[0]["c"]
    assert translated == native


@pytest.mark.parametrize("slices", [1, 2, 3, 4, 7])
def test_corr_bitexact_vs_native_grouped_with_nulls_any_partitioning(spark, slices):
    """The translated corr must equal Spark's Corr bit-for-bit per group
    whatever the input partitioning (results must not depend on core
    count), with NULLs in x and in y skipped exactly as Corr skips
    them. Explicit slice counts, not defaultParallelism, so the check
    is the same on every host."""
    import random

    rng = random.Random(11)
    rows = []
    for g in range(6):
        for _ in range(300):
            x = rng.uniform(-50, 400) if rng.random() > 0.1 else None
            y = rng.gauss(g * 10.0, 3.0 + g) if rng.random() > 0.1 else None
            rows.append((g, x, y))
    rdd = spark.sparkContext.parallelize(rows, slices)
    spark.createDataFrame(rdd, "g int, x double, y double").createOrReplaceTempView(
        "corr_grouped_nulls"
    )
    sql = "SELECT g, corr(x, y) AS c FROM corr_grouped_nulls GROUP BY g ORDER BY g"
    native = [(r["g"], r["c"]) for r in spark.sql(sql).collect()]
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    translated = [(r["g"], r["c"]) for r in run_ch_sql(spark, sql).collect()]
    assert len(native) == 6 and all(c is not None for _, c in native)
    assert translated == native


def test_window_funnel_tie_chaining_matches_ge_oracle(spark):
    """r12 tie fix (ADVICE r10): default-mode chains are ``t1 <= t2``,
    so a cond2 event AT the same timestamp as the cond1 event advances
    the funnel — matching CH's (t, cond-index) entry sort and the
    declarative ``>=`` oracles. The old struct-sort fold processed the
    cond2 row first and missed the tie chain."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT windowFunnel(100)(t, e = 'a', e = 'b') AS lvl FROM "
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:00', 'b')"
        " AS t(t, e))",
    ).first()
    assert r["lvl"] == 2


def test_window_funnel_multi_match_row_advances_both_levels(spark):
    """One row matching cond1 AND cond2 contributes one entry per
    condition (CH stores (ts, idx) pairs per matched cond), so it can
    serve both chain steps."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT windowFunnel(100)(t, v >= 1, v >= 2) AS lvl FROM "
        "(SELECT * FROM VALUES (TIMESTAMP'2024-01-01 00:00:00', 5)"
        " AS t(t, v))",
    ).first()
    assert r["lvl"] == 2


def test_window_funnel_strict_order(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    # interrupting event 'x' between 'a' and 'b' kills the funnel
    data = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:10', 'x'),"
        "(TIMESTAMP'2024-01-01 00:00:20', 'b')"
        " AS t(t, e))"
    )
    strict = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_order')(t, e = 'a', e = 'b') "
        f"AS lvl FROM {data}",
    ).first()["lvl"]
    assert strict == 1
    loose = run_ch_sql(
        spark,
        "SELECT windowFunnel(100)(t, e = 'a', e = 'b') "
        f"AS lvl FROM {data}",
    ).first()["lvl"]
    assert loose == 2
    # an out-of-order cond event (c before its b) also ends processing
    data2 = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:10', 'c'),"
        "(TIMESTAMP'2024-01-01 00:00:20', 'b'),"
        "(TIMESTAMP'2024-01-01 00:00:30', 'c')"
        " AS t(t, e))"
    )
    strict2 = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_order')"
        f"(t, e = 'a', e = 'b', e = 'c') AS lvl FROM {data2}",
    ).first()["lvl"]
    assert strict2 == 1
    # interrupters BEFORE the first cond1 event are ignored
    data3 = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'x'),"
        "(TIMESTAMP'2024-01-01 00:00:10', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:20', 'b')"
        " AS t(t, e))"
    )
    strict3 = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_order')(t, e = 'a', e = 'b') "
        f"AS lvl FROM {data3}",
    ).first()["lvl"]
    assert strict3 == 2


def test_window_funnel_strict_dedup(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    # second 'b' arrives while level 2 is set and before any 'c':
    # processing freezes at level 2 even though a 'c' follows
    data = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:10', 'b'),"
        "(TIMESTAMP'2024-01-01 00:00:20', 'b'),"
        "(TIMESTAMP'2024-01-01 00:00:30', 'c')"
        " AS t(t, e))"
    )
    strict = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_dedup')"
        f"(t, e = 'a', e = 'b', e = 'c') AS lvl FROM {data}",
    ).first()["lvl"]
    assert strict == 2
    loose = run_ch_sql(
        spark,
        "SELECT windowFunnel(100)"
        f"(t, e = 'a', e = 'b', e = 'c') AS lvl FROM {data}",
    ).first()["lvl"]
    assert loose == 3
    # repeated cond1 events never trigger dedup (CH branch order)
    data2 = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:10', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:20', 'b')"
        " AS t(t, e))"
    )
    strict2 = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_dedup')(t, e = 'a', e = 'b') "
        f"AS lvl FROM {data2}",
    ).first()["lvl"]
    assert strict2 == 2


def test_sequence_match_time_constraints(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    data = (
        "(SELECT * FROM VALUES "
        "(1, TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(1, TIMESTAMP'2024-01-01 01:30:00', 'b'),"
        "(2, TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(2, TIMESTAMP'2024-01-01 00:10:00', 'b')"
        " AS t(uid, t, e)) "
    )
    # (?t<=3600): uid 1's gap is 90min (no), uid 2's is 10min (yes)
    rows = run_ch_sql(
        spark,
        "SELECT uid, sequenceMatch('(?1)(?t<=3600)(?2)')(t, e = 'a', "
        f"e = 'b') AS hit FROM {data} GROUP BY uid",
    ).collect()
    assert {r["uid"]: r["hit"] for r in rows} == {1: 0, 2: 1}
    # (?t>3600): reversed verdicts
    rows = run_ch_sql(
        spark,
        "SELECT uid, sequenceMatch('(?1)(?t>3600)(?2)')(t, e = 'a', "
        f"e = 'b') AS hit FROM {data} GROUP BY uid",
    ).collect()
    assert {r["uid"]: r["hit"] for r in rows} == {1: 1, 2: 0}


def test_sequence_match_frontier_uses_best_predecessor(spark):
    """The (min, max) frontier must find a LATER step-1 event when the
    earliest violates a <= gap constraint, and the EARLIEST when a >
    constraint needs an old predecessor."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    data = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 02:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 02:30:00', 'b')"
        " AS t(t, e)) "
    )
    hit = run_ch_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?t<=3600)(?2)')(t, e = 'a', "
        f"e = 'b') AS hit FROM {data}",
    ).first()["hit"]
    assert hit == 1  # via the 02:00 'a', not the 00:00 one
    hit2 = run_ch_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?t>7200)(?2)')(t, e = 'a', "
        f"e = 'b') AS hit FROM {data}",
    ).first()["hit"]
    assert hit2 == 1  # via the 00:00 'a' (gap 9000s > 7200)
    miss = run_ch_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?t>9000)(?2)')(t, e = 'a', "
        f"e = 'b') AS hit FROM {data}",
    ).first()["hit"]
    assert miss == 0


def test_sequence_match_exact_gap(spark):
    """(?t==N) matches only a predecessor at EXACTLY t-N — the set
    fold's membership test, which the min/max frontier cannot answer:
    here min (0s) and max (7200s) step-1 times both fail the ==3600
    test while the middle one passes."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    data = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 01:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 02:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 02:00:00', 'b')"
        " AS t(t, e)) "
    )
    hit = run_ch_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?t==3600)(?2)')(t, e = 'a', "
        f"e = 'b') AS hit FROM {data}",
    ).first()["hit"]
    assert hit == 1  # via the 01:00 'a' only
    miss = run_ch_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?t==1800)(?2)')(t, e = 'a', "
        f"e = 'b') AS hit FROM {data}",
    ).first()["hit"]
    assert miss == 0  # no 'a' sits exactly 30min before the 'b'


def test_sequence_match_exact_gap_mixed_constraints(spark):
    """A pattern mixing == with a one-sided op stays exact: the set
    fold answers <= via exists() over the same achieved arrays."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    # chain must be a --(==3600)--> b --(<=600)--> c
    data = (
        "(SELECT * FROM VALUES "
        "(1, TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(1, TIMESTAMP'2024-01-01 01:00:00', 'b'),"
        "(1, TIMESTAMP'2024-01-01 01:05:00', 'c'),"
        "(2, TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(2, TIMESTAMP'2024-01-01 01:00:00', 'b'),"
        "(2, TIMESTAMP'2024-01-01 02:00:00', 'c')"
        " AS t(uid, t, e)) "
    )
    rows = run_ch_sql(
        spark,
        "SELECT uid, sequenceMatch('(?1)(?t==3600)(?2)(?t<=600)(?3)')("
        f"t, e = 'a', e = 'b', e = 'c') AS hit FROM {data} GROUP BY uid",
    ).collect()
    assert {r["uid"]: r["hit"] for r in rows} == {1: 1, 2: 0}


def test_sequence_match_exact_gap_vs_bruteforce(spark):
    """Randomized cross-check: the set fold agrees with an O(n^2 k)
    reference DP on 40 random event groups for a 3-step pattern with
    mixed ==/<= constraints."""
    import random

    from clickhouse_build_spark.functions.chsql import run_ch_sql

    rng = random.Random(7)
    GAP1, GAP2 = 60, 120  # seconds: a --(==60)--> b --(<=120)--> c
    groups = []
    for gid in range(40):
        n = rng.randrange(1, 12)
        evs = [
            (rng.randrange(0, 300), rng.choice("abc")) for _ in range(n)
        ]
        groups.append((gid, evs))

    def ref_match(evs):
        # achieved-set DP, trivially correct
        evs = sorted(evs)
        lv1, lv2, lv3 = set(), set(), set()
        for t, e in evs:
            new1 = {t} if e == "a" else set()
            new2 = {t} if e == "b" and (t - GAP1) in lv1 else set()
            new3 = (
                {t}
                if e == "c" and any(t - p <= GAP2 for p in lv2)
                else set()
            )
            lv1 |= new1
            lv2 |= new2
            lv3 |= new3
        return 1 if lv3 else 0

    values = ",".join(
        f"({gid}, TIMESTAMP'2024-01-01 00:00:00' + INTERVAL {t} SECOND, "
        f"'{e}')"
        for gid, evs in groups
        for t, e in evs
    )
    rows = run_ch_sql(
        spark,
        "SELECT gid, sequenceMatch('(?1)(?t==60)(?2)(?t<=120)(?3)')("
        "t, e = 'a', e = 'b', e = 'c') AS hit "
        f"FROM (SELECT * FROM VALUES {values} AS t(gid, t, e)) "
        "GROUP BY gid",
    ).collect()
    got = {r["gid"]: r["hit"] for r in rows}
    want = {gid: ref_match(evs) for gid, evs in groups}
    assert got == want
    assert sum(want.values()) not in (0, len(groups)), "degenerate corpus"


def test_sequence_match_tie_chains_in_step_order(spark):
    """Tied distinct events chain t1 <= t2: the negated step-flag sort
    key processes the step-1 event first within a tie group."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT sequenceMatch('(?1)(?2)')(t, e = 'a', e = 'c') AS hit "
        "FROM (SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'c'),"
        "(TIMESTAMP'2024-01-01 00:00:00', 'a')"
        " AS t(t, e))",
    ).first()
    assert r["hit"] == 1


def test_algebraic_state_merge_pairs(spark):
    """-State/-Merge for sum/count/min/max/avg: a two-level rollup
    (per-day states merged to a total) equals the direct aggregate —
    CH's AggregatingMergeTree lifecycle for algebraic functions."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    data = (
        "(SELECT * FROM VALUES (1, 10.0), (1, 20.0), (2, 5.0), "
        "(2, 7.0), (2, 9.0) AS t(d, x))"
    )
    r = run_ch_sql(
        spark,
        "SELECT sumMerge(ss) AS s, countMerge(cs) AS c, "
        "minMerge(mns) AS mn, maxMerge(mxs) AS mx, avgMerge(avs) AS av "
        "FROM (SELECT d, sumState(x) AS ss, countState(x) AS cs, "
        "minState(x) AS mns, maxState(x) AS mxs, avgState(x) AS avs "
        f"FROM {data} GROUP BY d)",
    ).first()
    assert r["s"] == 51.0 and r["c"] == 5
    assert r["mn"] == 5.0 and r["mx"] == 20.0
    assert r["av"] == 51.0 / 5


def test_limit_with_ties(spark):
    """LIMIT n WITH TIES keeps every row tied with the n-th sort key,
    for ASC and DESC, via the threshold subquery (no global window)."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    data = (
        "(SELECT * FROM VALUES (1, 'a'), (1, 'b'), (2, 'c'), (2, 'd'), "
        "(3, 'e') AS t(k, v))"
    )
    rows = run_ch_sql(
        spark,
        f"SELECT k, v FROM {data} ORDER BY k LIMIT 3 WITH TIES",
    ).collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [
        (1, "a"), (1, "b"), (2, "c"), (2, "d")]
    rows = run_ch_sql(
        spark,
        f"SELECT k, v FROM {data} ORDER BY k DESC LIMIT 2 WITH TIES",
    ).collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [(2, "c"), (2, "d"), (3, "e")]
    # n >= row count keeps everything
    rows = run_ch_sql(
        spark,
        f"SELECT k, v FROM {data} ORDER BY k LIMIT 9 WITH TIES",
    ).collect()
    assert len(rows) == 5
    # exact boundary with no tie spill: n lands on the last of a group
    rows = run_ch_sql(
        spark,
        f"SELECT k, v FROM {data} ORDER BY k LIMIT 2 WITH TIES",
    ).collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [(1, "a"), (1, "b")]
    with pytest.raises(ValueError, match="uniform"):
        T("SELECT a, b FROM x ORDER BY a ASC, b DESC LIMIT 2 WITH TIES")
    with pytest.raises(ValueError, match="ORDER BY"):
        T("SELECT a FROM x LIMIT 2 WITH TIES")


def test_scalar_additions_uniqupto_sumcount(spark):
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT uniqUpTo(2)(k) AS u2, uniqUpTo(5)(k) AS u5, "
        "sumCount(k) AS sc FROM (SELECT * FROM VALUES (1), (1), (2), "
        "(3) AS t(k))",
    ).first()
    assert r["u2"] == 3  # saturates at N+1
    assert r["u5"] == 3  # exact below N
    assert r["sc"]["sum"] == 7 and r["sc"]["count"] == 4


def test_any_join_semantics(spark):
    """LEFT/INNER/RIGHT ANY JOIN: at most one build-side match per
    probe row, with a deterministic content-hash pick among duplicate
    keys; both CH spellings parse."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    left = (
        "(SELECT * FROM VALUES (1, 'x'), (2, 'y'), (3, 'z') AS t(id, lv))"
    )
    right = (
        "(SELECT * FROM VALUES (1, 'a'), (1, 'b'), (2, 'c') AS t(id, rv))"
    )
    rows = run_ch_sql(
        spark,
        f"SELECT l.id AS id, r.rv AS rv FROM {left} AS l "
        f"LEFT ANY JOIN {right} AS r ON l.id = r.id ORDER BY l.id",
    ).collect()
    assert [r["id"] for r in rows] == [1, 2, 3]  # no row explosion
    assert rows[1]["rv"] == "c" and rows[2]["rv"] is None
    assert rows[0]["rv"] in ("a", "b")
    # deterministic pick: same result on re-run
    again = run_ch_sql(
        spark,
        f"SELECT l.id AS id, r.rv AS rv FROM {left} AS l "
        f"ANY LEFT JOIN {right} AS r ON l.id = r.id ORDER BY l.id",
    ).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]

    inner = run_ch_sql(
        spark,
        f"SELECT count(*) AS n FROM {left} AS l "
        f"INNER ANY JOIN {right} AS r ON l.id = r.id",
    ).first()["n"]
    assert inner == 2  # one match for id=1, one for id=2

    rj = run_ch_sql(
        spark,
        f"SELECT r.id AS id, r.rv AS rv FROM "
        f"(SELECT * FROM VALUES (1, 'x'), (1, 'y') AS t(id, lv)) AS l "
        f"RIGHT ANY JOIN {right} AS r ON l.id = r.id ORDER BY r.rv",
    ).collect()
    # RIGHT ANY dedupes the LEFT side: each right row appears once
    assert [r["rv"] for r in rj] == ["a", "b", "c"]

    with pytest.raises(ValueError, match="equality"):
        T("SELECT 1 FROM a AS x ANY LEFT JOIN b AS y ON x.k >= y.k")
    with pytest.raises(ValueError, match="USING"):
        T("SELECT 1 FROM a AS x LEFT ANY JOIN b AS y USING (k)")


def test_scalar_additions_r12b(spark):
    """extract/extractAll (whole-match vs first-group at translate
    time), countMatches, base64, toDecimal, map accessors, the CH
    lookup transform (NOT Spark's higher-order one), arrayReduce."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        """
        SELECT
          extract('ab12cd34', '\\\\d+') AS whole,
          extract('ab12cd34', '[a-z]+(\\\\d+)') AS grp,
          extractAll('ab12cd34', '\\\\d+') AS all_whole,
          extractAll('ab12cd34', '([a-z])\\\\d') AS all_grp,
          countMatches('ab12cd34', '\\\\d') AS nm,
          base64Encode('hi') AS b64,
          base64Decode('aGk=') AS uh,
          toDecimal64(1.5, 2) AS dec2,
          mapKeys(map('a', 1)) AS mk,
          mapContains(map('a', 1), 'a') AS mc,
          transform(2, [1, 2, 3], ['a', 'b', 'c'], '?') AS tr,
          transform(9, [1, 2], [10, 20]) AS tr_keep,
          arrayReduce('sum', [1, 2, 3]) AS rsum,
          arrayReduce('uniqExact', [1, 1, 2]) AS runiq
        """,
    ).first()
    assert r["whole"] == "12" and r["grp"] == "12"
    assert list(r["all_whole"]) == ["12", "34"]
    assert list(r["all_grp"]) == ["b", "d"]
    assert r["nm"] == 4
    assert r["b64"] == "aGk=" and r["uh"] == "hi"
    assert str(r["dec2"]) == "1.50"
    assert list(r["mk"]) == ["a"] and r["mc"] is True
    assert r["tr"] == "b" and r["tr_keep"] == 9
    assert r["rsum"] == 6.0 and r["runiq"] == 2

    with pytest.raises(ValueError, match="literal regex"):
        T("SELECT extract(s, p) FROM x")
    # non-array-literal transform now passes through unchanged
    # (ADVICE r12 — could be Spark's builtin), no longer raises
    assert T("SELECT transform(x, f, t, d) FROM x") == (
        "SELECT transform(x, f, t, d) FROM x"
    )
    with pytest.raises(ValueError, match="unsupported aggregate"):
        T("SELECT arrayReduce('median', a) FROM x")


def test_sequence_count_time_constrained(spark):
    """Timed sequenceCount counts sequential non-overlapping chains;
    the reset-scan DP finds a chain the single-pointer greedy would
    miss (greedy binds step 1 to the earliest 'a', which violates the
    gap; the 02:00 'a' satisfies it)."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    data = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 02:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 02:30:00', 'b'),"
        "(TIMESTAMP'2024-01-01 03:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 03:20:00', 'b')"
        " AS t(t, e)) "
    )
    n = run_ch_sql(
        spark,
        "SELECT sequenceCount('(?1)(?t<=3600)(?2)')(t, e = 'a', "
        f"e = 'b') AS n FROM {data}",
    ).first()["n"]
    assert n == 2  # (02:00->02:30) then (03:00->03:20)
    n_eq = run_ch_sql(
        spark,
        "SELECT sequenceCount('(?1)(?t==1800)(?2)')(t, e = 'a', "
        f"e = 'b') AS n FROM {data}",
    ).first()["n"]
    assert n_eq == 1  # only the 02:00->02:30 gap is exactly 30min


def test_sequence_count_timed_vs_bruteforce(spark):
    """Randomized cross-check: the reset-scan DP count equals the TRUE
    maximum number of sequential non-overlapping chains, computed by
    an exponential brute force over all chain placements — verifying
    the activity-selection optimality claim, not just mirroring the
    fold."""
    import random
    from functools import lru_cache

    from clickhouse_build_spark.functions.chsql import run_ch_sql

    rng = random.Random(31)
    GAP = 60  # seconds, (?1)(?t<=60)(?2)
    groups = []
    for gid in range(40):
        n = rng.randrange(2, 11)
        groups.append(
            (gid, [(rng.randrange(0, 240), rng.choice("ab")) for _ in range(n)])
        )

    def max_chains(rows):
        # rows sorted exactly as the fold sorts: (t, NOT step1-match,
        # NOT step2-match); chain = (a at i) then (b at j>i) with
        # t_j - t_i <= GAP; the next chain uses only indexes > j
        rows = sorted(
            (t, e != "a", e != "b", e) for t, e in rows
        )
        n = len(rows)

        @lru_cache(maxsize=None)
        def f(s):
            if s >= n:
                return 0
            best = f(s + 1)
            for i in range(s, n):
                if rows[i][3] != "a":
                    continue
                for j in range(i + 1, n):
                    if rows[j][3] == "b" and rows[j][0] - rows[i][0] <= GAP:
                        best = max(best, 1 + f(j + 1))
            return best

        return f(0)

    values = ",".join(
        f"({gid}, TIMESTAMP'2024-01-01 00:00:00' + INTERVAL {t} SECOND, "
        f"'{e}')"
        for gid, rows in groups
        for t, e in rows
    )
    rows = run_ch_sql(
        spark,
        f"SELECT gid, sequenceCount('(?1)(?t<={GAP})(?2)')("
        "t, e = 'a', e = 'b') AS n "
        f"FROM (SELECT * FROM VALUES {values} AS t(gid, t, e)) "
        "GROUP BY gid",
    ).collect()
    got = {r["gid"]: r["n"] for r in rows}
    want = {gid: max_chains(rws) for gid, rws in groups}
    assert got == want
    assert len(set(want.values())) > 1, "degenerate corpus"


def test_window_funnel_vs_bruteforce_all_modes(spark):
    """Randomized cross-check of the SQL funnel fold against a clean
    Python implementation of ClickHouse's published single-pass
    algorithm (AggregateFunctionWindowFunnel.h), for EVERY combination
    of the three modes. The reference shares the semantics, not the
    mechanics — it exercises the fold's entry explosion, (t, i) sort,
    freeze logic and simultaneous array updates on corpora the planted
    fixtures can't enumerate."""
    import itertools as it
    import random

    from clickhouse_build_spark.functions.chsql import run_ch_sql

    N, WINDOW = 3, 100  # conds, seconds
    rng = random.Random(23)
    groups = []
    for gid in range(50):
        rows = []
        for _ in range(rng.randrange(1, 10)):
            t = rng.randrange(0, 300)
            flags = tuple(rng.random() < 0.3 for _ in range(N))
            rows.append((t, flags))
        groups.append((gid, rows))

    def ref_funnel(rows, strict_order, strict_dedup, strict_increase):
        entries = []
        for t, flags in rows:
            matched = [i + 1 for i in range(N) if flags[i]]
            entries.extend((t, i) for i in matched)
            if strict_order and not matched:
                entries.append((t, 0))
        entries.sort()
        f = [-1] * (N + 1)
        last = [-1] * (N + 1)
        fe = False
        need_r = strict_order or strict_dedup

        def level():
            return sum(1 for k in range(1, N + 1) if f[k] >= 0)

        def chain_ok(k, t):
            ok = f[k - 1] >= 0 and t - f[k - 1] <= WINDOW
            if strict_increase:
                ok = ok and last[k - 1] < t
            return ok

        for t, i in entries:
            if strict_order and i == 0 and fe:
                return level()
            if strict_dedup and i >= 2 and f[i] >= 0:
                return i
            if strict_order and i >= 2 and fe and f[i - 1] < 0:
                return level()
            if need_r and (
                (N == 1 and i == 1) or (N > 1 and i == N and chain_ok(N, t))
            ):
                return N
            if i == 1:
                f[1] = t
                last[1] = t
            elif i >= 2 and chain_ok(i, t):
                f[i] = f[i - 1]
                last[i] = t
            if strict_order and i == 1:
                fe = True
        return level()

    values = ",".join(
        f"({gid}, TIMESTAMP'2024-01-01 00:00:00' + INTERVAL {t} SECOND, "
        f"{str(c1).lower()}, {str(c2).lower()}, {str(c3).lower()})"
        for gid, rows in groups
        for t, (c1, c2, c3) in rows
    )
    for combo in it.chain.from_iterable(
        it.combinations(("strict_order", "strict_dedup", "strict_increase"), r)
        for r in range(4)
    ):
        mode_args = "".join(f", '{m}'" for m in combo)
        rows = run_ch_sql(
            spark,
            f"SELECT gid, windowFunnel({WINDOW}{mode_args})("
            "t, c1, c2, c3) AS lvl "
            f"FROM (SELECT * FROM VALUES {values} AS t(gid, t, c1, c2, c3)) "
            "GROUP BY gid",
        ).collect()
        got = {r["gid"]: r["lvl"] for r in rows}
        want = {
            gid: ref_funnel(
                rws,
                "strict_order" in combo,
                "strict_dedup" in combo,
                "strict_increase" in combo,
            )
            for gid, rws in groups
        }
        assert got == want, f"funnel fold diverges from CH reference {combo}"
        assert len(set(want.values())) > 1, f"degenerate corpus for {combo}"


def test_window_funnel_combined_modes(spark):
    """Modes combine as in CH: strict_order + strict_increase both
    applied."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    # tie between a and b: strict_increase blocks the tie chain;
    # the later b would chain, but the 'x' interrupter kills it first
    data = (
        "(SELECT * FROM VALUES "
        "(TIMESTAMP'2024-01-01 00:00:00', 'a'),"
        "(TIMESTAMP'2024-01-01 00:00:00', 'b'),"
        "(TIMESTAMP'2024-01-01 00:00:05', 'x'),"
        "(TIMESTAMP'2024-01-01 00:00:10', 'b')"
        " AS t(t, e))"
    )
    r = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_order', 'strict_increase')"
        f"(t, e = 'a', e = 'b') AS lvl FROM {data}",
    ).first()["lvl"]
    assert r == 1
    r2 = run_ch_sql(
        spark,
        "SELECT windowFunnel(100, 'strict_increase')"
        f"(t, e = 'a', e = 'b') AS lvl FROM {data}",
    ).first()["lvl"]
    assert r2 == 2


def test_backref_preescaped_dollar_passes_through(spark):
    """ADVICE r10: a replacement literal already carrying a source-level
    backslash before the dollar ('\\\\$' in SQL source) is escaped at
    the parsed level — re-escaping it produced a literal backslash
    followed by a DANGLING '$' (IllegalArgumentException in Java)."""
    t = T(r"SELECT replaceRegexpAll(s, 'x+', 'a\\$b') AS r FROM t")
    # the odd-backslash dollar is left alone
    assert r"a\\$b" in t
    r = spark.sql(
        "SELECT " + T(r"replaceRegexpAll('axxc', 'x+', 'a\\$b')") + " AS r"
    ).first()["r"]
    assert r == "aa$bc"
    # group backrefs still convert, escaped dollars coexist
    r2 = spark.sql(
        "SELECT "
        + T(r"replaceRegexpAll('price 42', '(\\d+)', '$\\1')")
        + " AS r"
    ).first()["r"]
    assert r2 == "price $42"


def test_ansi_extract_from_passes_through(spark):
    """ADVICE r12: the FUNCS 'extract' rule intercepted the ANSI/CH
    ``EXTRACT(unit FROM expr)`` form — the whole body parses as ONE
    arg, so ``a[1]`` raised IndexError on valid SQL. The 1-arg form
    now passes through byte-identical to Spark's builtin."""
    q = "SELECT extract(YEAR FROM DATE '2024-05-17') AS y"
    assert T(q) == q
    assert spark.sql(T(q)).first()["y"] == 2024
    # 2-arg regex form still maps
    assert T("extract('ab12', '\\d+')") == (
        "regexp_extract('ab12', '\\d+', 0)"
    )


def test_regex_group_idx_char_class_and_named_groups(spark):
    """ADVICE r12: '(' inside a [...] character class is a literal,
    not a capture group (extract('s','[(]x') must take the WHOLE
    match / group 0); named groups (?<g>...) ARE capturing (group 1);
    lookbehinds (?<=...)/(?<!...) are not."""
    # char-class '(' -> group 0 (whole match)
    t = T("extract('a(x b', '[(]x')")
    assert t == "regexp_extract('a(x b', '[(]x', 0)"
    assert spark.sql("SELECT " + t + " AS r").first()["r"] == "(x"
    # escaped paren -> group 0
    assert T(r"extract('a(x', '\(x')").endswith(", 0)")
    # named group -> group 1 (doubled backslash: Spark's literal
    # parser consumes one level before the Java regex sees \d)
    t2 = T(r"extract('ab12cd', '(?<num>\\d+)')")
    assert t2.endswith(", 1)")
    assert spark.sql("SELECT " + t2 + " AS r").first()["r"] == "12"
    # lookbehind is non-capturing -> group 0
    t3 = T(r"extract('ab12', '(?<=b)\\d+')")
    assert t3.endswith(", 0)")
    assert spark.sql("SELECT " + t3 + " AS r").first()["r"] == "12"


def test_higher_order_transform_passes_through(spark):
    """ADVICE r12: Spark's higher-order ``transform(arr, x -> x+1)``
    (2-arg lambda form) and 3-arg calls whose from/to are not array
    literals pass through unchanged instead of raising."""
    q = "SELECT transform(array(1, 2, 3), x -> x + 1) AS r"
    assert T(q) == q
    assert spark.sql(T(q)).first()["r"] == [2, 3, 4]
    # 3-arg with non-literal arrays: passthrough (Spark will reject it
    # at analysis, but the translator must not swallow it)
    q2 = "SELECT transform(x, a, b) AS r FROM t"
    assert T(q2) == q2
    # CH lookup form still maps to CASE
    t = T("transform(x, array(1, 2), array('a', 'b'), 'z')")
    assert t.startswith("(CASE WHEN")


def test_pg_string_agg_order_by_pullout():
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    assert P("SELECT string_agg(x, ', ' ORDER BY x) FROM t") == (
        "SELECT string_agg(x, ', ') WITHIN GROUP (ORDER BY x) FROM t"
    )
    # multi-key order, DESC, and the unordered passthrough
    assert P("SELECT string_agg(a, '|' ORDER BY b DESC, c) FROM t") == (
        "SELECT string_agg(a, '|') WITHIN GROUP (ORDER BY b DESC, c) FROM t"
    )
    assert P("SELECT string_agg(x, ',') FROM t") == (
        "SELECT string_agg(x, ',') FROM t"
    )
    # an ORDER BY inside a nested call is NOT the agg's order clause
    q = "SELECT string_agg(f(x ORDER BY y), ',') FROM t"
    assert P(q) == q


def test_pg_generate_series(spark):
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    assert P("SELECT * FROM generate_series(1, 5) AS g(n)") == (
        "SELECT * FROM explode(filter(sequence(1, 5), "
        "__gs -> (1) <= (5))) AS g(n)"
    )
    rows = run_pg_sql(spark, "SELECT n FROM generate_series(1, 5) AS g(n)")
    assert [r["n"] for r in rows.collect()] == [1, 2, 3, 4, 5]
    # PG contract: start > stop (positive implicit step) → EMPTY, not
    # Spark sequence()'s descending run
    assert run_pg_sql(spark, "SELECT generate_series(5, 1) AS n").count() == 0
    # 3-arg timestamp form
    d = run_pg_sql(
        spark,
        "SELECT generate_series(DATE '2024-01-01', DATE '2024-03-01', "
        "INTERVAL '1 month') AS m",
    ).collect()
    assert [str(r["m"]) for r in d] == ["2024-01-01", "2024-02-01", "2024-03-01"]


def test_pg_json_preserving_arrow(spark):
    """PG ``->`` keeps JSON semantics: strings stay QUOTED, objects
    stay JSON, missing keys → NULL; chains compose into one path."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    assert P("SELECT j -> 'a' ->> 'b' FROM t") == (
        "SELECT get_json_object(j, '$.a.b') FROM t"
    )
    r = run_pg_sql(
        spark,
        """SELECT j -> 'meta' -> 'type' AS quoted,
                  j -> 'meta' ->> 'type' AS bare,
                  j -> 'missing' AS gone,
                  j -> 'arr' -> 1 AS second
           FROM VALUES ('{"meta": {"type": "x"}, "arr": [10, 20]}') AS t(j)""",
    ).first()
    assert r["quoted"] == '"x"' and r["bare"] == "x"
    assert r["gone"] is None and r["second"] == "20"
    # ->> mid-chain is a loud failure (PG types it the same way)
    with pytest.raises(ValueError, match="->> returns text"):
        P("SELECT j ->> 'a' -> 'b' FROM t")


def test_pg_jsonb_containment(spark):
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    doc = '{"k": 5, "meta": {"type": "x"}, "tags": ["a", "b"]}'

    def holds(rhs):
        q = f"SELECT ('{doc}' @> '{rhs}') AS c"
        return run_pg_sql(spark, q).first()["c"]

    assert holds('{"k": 5}') is True
    assert holds('{"k": 5.0}') is True          # jsonb numeric equality
    assert holds('{"k": 6}') is False
    assert holds('{"meta": {"type": "x"}}') is True
    assert holds('{"meta": {"type": "y"}}') is False
    assert holds('{"tags": ["b"]}') is True      # subset containment
    assert holds('{"tags": ["b", "z"]}') is False
    assert holds('{}') is True                   # {} contained in any object
    assert holds('{"meta": {}}') is True
    assert holds('{"tags": []}') is True         # [] contained in any array
    assert holds('{"k": []}') is False           # ...but only in an array
    assert holds('{"zz": []}') is False
    # dynamic RHS and non-object RHS fail loudly
    with pytest.raises(ValueError, match="literal JSON"):
        P("SELECT a @> b FROM t")
    with pytest.raises(ValueError, match="JSON OBJECT"):
        P("SELECT a @> '[1]' FROM t")


def test_pg_jsonb_path_and_exists_operators(spark):
    """PG ``#>``/``#>>`` literal-path extraction and ``?``/``?|``/``?&``
    key-exists (r13b). ``?`` is true for present-but-NULL values —
    Spark's VARIANT reader distinguishes {'k': null} (to_json = 'null')
    from a missing key (SQL NULL), matching jsonb exactly."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    doc = '{"a": {"b": ["x", "y"]}, "k": null}'
    r = run_pg_sql(
        spark,
        f"""SELECT j #>> '{{a,b,1}}' AS deep,
                   j #> '{{a}}' AS sub,
                   (j ? 'k') AS has_null_key,
                   (j ? 'zz') AS has_missing,
                   (j ?| array['zz','a']) AS any_key,
                   (j ?& array['a','k']) AS all_keys,
                   (j ?& array['a','zz']) AS not_all
            FROM VALUES ('{doc}') AS t(j)""",
    ).first()
    assert r["deep"] == "y"
    assert r["sub"] == '{"b":["x","y"]}'
    assert r["has_null_key"] is True and r["has_missing"] is False
    assert r["any_key"] is True
    assert r["all_keys"] is True and r["not_all"] is False
    # reversed containment: literal <@ column
    r2 = run_pg_sql(
        spark,
        """SELECT ('{"a": 1}' <@ j) AS lhs_in_rhs
           FROM VALUES ('{"a": 1, "b": 2}') AS t(j)""",
    ).first()
    assert r2["lhs_in_rhs"] is True
    with pytest.raises(ValueError, match="literal"):
        from clickhouse_build_spark.functions.chsql import translate_pg_sql

        translate_pg_sql("SELECT a <@ b FROM t")


def test_pg_epoch_lateral_and_json_srf(spark):
    """PG idioms r13c: extract(epoch)/date_part('epoch') →
    unix_micros double-seconds; comma-/CROSS JOIN LATERAL → Spark's
    JOIN LATERAL; jsonb_array_elements[_text]/jsonb_array_length →
    typed VARIANT explodes. percentile_cont/disc + mode WITHIN GROUP
    pass through (native in Spark 4)."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    assert run_pg_sql(
        spark, "SELECT extract(epoch FROM TIMESTAMP '2024-01-01 00:00:30.5') AS e"
    ).first()["e"] == pytest.approx(1704067230.5)
    assert run_pg_sql(
        spark, "SELECT date_part('epoch', TIMESTAMP '1970-01-01 00:01:00') AS e"
    ).first()["e"] == 60.0
    # non-epoch extract stays native
    assert P("SELECT extract(YEAR FROM ts) FROM t") == (
        "SELECT extract(YEAR FROM ts) FROM t"
    )
    rows = run_pg_sql(
        spark,
        "SELECT t.g, l.v FROM VALUES (1),(2) AS t(g), "
        "LATERAL (SELECT t.g * 10 AS v) AS l ORDER BY g",
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 10), (2, 20)]
    els = run_pg_sql(
        spark,
        """SELECT jsonb_array_elements(j) AS v
           FROM VALUES ('["a", {"b": 1}, 5]') AS t(j)""",
    ).collect()
    assert [r["v"] for r in els] == ['"a"', '{"b":1}', "5"]
    txt = run_pg_sql(
        spark,
        """SELECT jsonb_array_elements_text(j) AS v,
                  jsonb_array_length(j) AS n
           FROM VALUES ('["x", "y"]') AS t(j)""",
    ).collect()
    assert [r["v"] for r in txt] == ["x", "y"] and txt[0]["n"] == 2
    wg = run_pg_sql(
        spark,
        "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS med, "
        "mode() WITHIN GROUP (ORDER BY x) AS m "
        "FROM VALUES (1.0),(2.0),(2.0),(10.0) AS t(x)",
    ).first()
    assert wg["med"] == 2.0 and wg["m"] == 2.0


def test_pg_json_builders_and_keys(spark):
    """r13c: jsonb_object_keys explodes Spark's native
    json_object_keys; jsonb_build_object builds a compact object
    through named_struct (keys must be literals — dynamic keys are a
    loud translate-time failure)."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    ks = run_pg_sql(
        spark,
        """SELECT jsonb_object_keys(j) AS k
           FROM VALUES ('{"a": 1, "b": 2}') AS t(j)""",
    ).collect()
    assert [r["k"] for r in ks] == ["a", "b"]
    r = run_pg_sql(
        spark,
        "SELECT jsonb_build_object('n', 1, 's', 'x') AS j",
    ).first()
    assert r["j"] == '{"n":1,"s":"x"}'
    # built objects compose with the navigation operators
    r2 = run_pg_sql(
        spark,
        "SELECT jsonb_build_object('k', 5) ->> 'k' AS v",
    ).first()
    assert r2["v"] == "5"
    with pytest.raises(ValueError, match="string literals"):
        P("SELECT jsonb_build_object(col, 1) FROM t")


def test_pg_translator_identity_on_plain_sql():
    """Plain ANSI/Spark SQL must survive translate_pg_sql UNCHANGED —
    the PG twin of test_translator_identity_on_plain_sql (r13c: the
    arm now has ten+ operator passes; an over-eager match here would
    corrupt user queries silently)."""
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    plain = [
        "SELECT a, sum(b) AS s FROM t GROUP BY a HAVING sum(b) > 3 "
        "ORDER BY a LIMIT 5",
        "SELECT * FROM t1 JOIN t2 ON t1.k = t2.k WHERE t1.x IN "
        "(SELECT x FROM t3) AND t1.y LIKE 'a%'",
        "SELECT CASE WHEN x > 0 THEN 'p' ELSE 'n' END AS sgn, "
        "count(*) AS n FROM t GROUP BY 1",
        "WITH c AS (SELECT k, max(v) AS mv FROM t GROUP BY k) "
        "SELECT c.k, c.mv FROM c WHERE c.mv IS NOT NULL",
        "SELECT a, row_number() OVER (PARTITION BY g ORDER BY ts) "
        "AS rn FROM events_tbl",
        "SELECT extract(YEAR FROM ts) AS y, date_part('month', ts) AS m "
        "FROM t",
        "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS med "
        "FROM t GROUP BY g",
        # operator-lookalike content inside string literals stays put
        "SELECT '{\"k\": 1}' AS j, 'a ->> b' AS s1, 'x @> y' AS s2, "
        "'p ? q' AS s3, 'm #>> n' AS s4 FROM t",
        "SELECT x FROM t WHERE note = 'use string_agg(a, b) later'",
        "SELECT transform(array(1, 2), v -> v + 1) AS arr FROM t",
        "SELECT coalesce(a, 0) + greatest(b, c) FROM t "
        "WHERE ts BETWEEN DATE '2024-01-01' AND DATE '2024-06-30'",
    ]
    for q in plain:
        assert P(q) == q, q
    # Divergence DENYLIST (r17, VERDICT r16): tokens that LOOK
    # portable but carry different semantics in Spark must NEVER
    # survive byte-identical — each either translates or raises.
    # Byte-identical is not semantics-identical across engines; this
    # guard keeps the identity invariant from hiding the next one.
    denylist = [
        "SELECT to_char(d, 'DD') FROM t",  # JDK DD = day-of-YEAR
        "SELECT extract(dow FROM d) FROM t",  # Spark DOW is 1=Sunday
        "SELECT extract(isodow FROM d) FROM t",
        "SELECT date_part('dow', d) FROM t",
        "SELECT a / b FROM t",  # Spark '/' never truncates
        # r17 batch 2
        "SELECT log(x) FROM t",  # PG base-10, Spark natural
        "SELECT a ^ b FROM t",  # PG power, Spark XOR
        "SELECT left(s, n) FROM t",  # PG negative n drops from end
        "SELECT right(s, n) FROM t",
        "SELECT trunc(x) FROM t",  # Spark trunc is date-only
        "SELECT to_date(s, 'DD') FROM t",  # JDK parse patterns
        "SELECT array_agg(v) FROM t",  # collect_list drops NULLs
        "SELECT ltrim(s, 'x') FROM t",  # Spark 2-arg order reversed
        "SELECT rtrim(s, 'x') FROM t",
    ]
    for q in denylist:
        try:
            assert P(q) != q, f"denylisted token passed through: {q}"
        except ValueError:
            pass  # a loud refusal satisfies the contract too


def test_pg_tochar_pattern_translation():
    """r17 (VERDICT r16 #1): PG to_char datetime templates translate
    token-by-token to the JDK language date_format speaks — Spark's
    native to_char would silently read PG 'DD' as day-of-YEAR
    (to_char(DATE'2024-03-05','MM-DD') returned '03-65'). Unknown
    tokens, padded Month/Day, numeric formats, and dynamic patterns
    all refuse loudly."""
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    assert (
        P("SELECT to_char(d, 'YYYY-MM') AS ym FROM t")
        == "SELECT date_format(d, 'yyyy-MM') AS ym FROM t"
    )
    assert (
        P("SELECT to_char(ts, 'YYYY-MM-DD HH24:MI:SS') FROM t")
        == "SELECT date_format(ts, 'yyyy-MM-dd HH:mm:ss') FROM t"
    )
    assert (
        P("SELECT to_char(d, 'Dy DD Mon YYYY') FROM t")
        == "SELECT date_format(d, 'EEE dd MMM yyyy') FROM t"
    )
    assert (
        P("SELECT to_char(d, 'FMMonth, FMDay') FROM t")
        == "SELECT date_format(d, 'MMMM, EEEE') FROM t"
    )
    # nested call operand moves verbatim
    assert (
        P("SELECT to_char(min(d), 'YYYY') FROM t")
        == "SELECT date_format(min(d), 'yyyy') FROM t"
    )
    with pytest.raises(ValueError, match="FMMonth"):
        P("SELECT to_char(d, 'Month') FROM t")
    with pytest.raises(ValueError, match="unsupported PG to_char"):
        P("SELECT to_char(d, 'IW') FROM t")
    with pytest.raises(ValueError, match="numeric to_char"):
        P("SELECT to_char(x, '999D99') FROM t")
    with pytest.raises(ValueError, match="literal pattern"):
        P("SELECT to_char(d, fmt) FROM t")


def test_pg_extract_dow_translation():
    """r17 (VERDICT r16 #2): PG dow is 0=Sunday, Spark's DOW extract
    is 1=Sunday — extract(dow) rewrites to dayofweek()-1 and isodow
    (1=Monday..7=Sunday, previously a loud INVALID_EXTRACT_FIELD) to
    weekday()+1, in both the extract and date_part spellings. Other
    fields pass through untouched (identity test pins YEAR/month)."""
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    assert (
        P("SELECT extract(dow FROM d) AS w FROM t")
        == "SELECT (dayofweek(d) - 1) AS w FROM t"
    )
    assert (
        P("SELECT extract(ISODOW FROM d) AS w FROM t")
        == "SELECT (weekday(d) + 1) AS w FROM t"
    )
    assert (
        P("SELECT date_part('dow', d) AS w FROM t")
        == "SELECT (dayofweek(d) - 1) AS w FROM t"
    )
    assert (
        P("SELECT date_part('isodow', ts) AS w FROM t")
        == "SELECT (weekday(ts) + 1) AS w FROM t"
    )
    # grouped rollup shape — the expr lands in GROUP BY too
    out = P(
        "SELECT extract(dow FROM d) AS w, count(*) FROM t "
        "GROUP BY extract(dow FROM d)"
    )
    assert out == (
        "SELECT (dayofweek(d) - 1) AS w, count(*) FROM t "
        "GROUP BY (dayofweek(d) - 1)"
    )


def test_pg_integer_division_translation():
    """r17 (VERDICT r16 #3): PG truncates '/' on integer types (7/2 =
    3) while Spark's '/' is always fractional. Provably-integer
    divisions rewrite to Spark's truncating infix div; a provably
    fractional side passes through; unprovable operand types refuse
    loudly instead of silently diverging."""
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    ct = {"a": "int", "b": "int", "k": "bigint", "x": "double"}
    assert P("SELECT a / b FROM t", column_types=ct) == (
        "SELECT ((a) div (b)) FROM t"
    )
    assert P("SELECT 7 / 2") == "SELECT ((7) div (2))"
    # left-associativity is preserved: a * b / c divides a*b
    assert P("SELECT a * b / 2 FROM t", column_types=ct) == (
        "SELECT ((a * b) div (2)) FROM t"
    )
    # PG promotes sum(int4) to int8 (still truncating) but sum(int8)
    # to NUMERIC (fractional — must pass through)
    assert P("SELECT sum(a) / count(*) AS r FROM t", column_types=ct) == (
        "SELECT ((sum(a)) div (count(*))) AS r FROM t"
    )
    assert P("SELECT sum(k) / count(*) AS r FROM t", column_types=ct) == (
        "SELECT sum(k) / count(*) AS r FROM t"
    )
    # fractional side → faithful pass-through, even with an unknown twin
    assert P("SELECT y / 2.0 FROM t") == "SELECT y / 2.0 FROM t"
    assert P("SELECT avg(y) / 2 FROM t") == "SELECT avg(y) / 2 FROM t"
    assert P("SELECT x / b FROM t", column_types=ct) == (
        "SELECT x / b FROM t"
    )
    # an explicit ::numeric cast makes an unknown operand decidable
    assert P("SELECT y::numeric / b FROM t", column_types=ct) == (
        "SELECT CAST(y AS DOUBLE) / b FROM t"
    )
    # extract() returns NUMERIC in PG — its division keeps fractions
    assert P("SELECT extract(dow FROM d) / 2 FROM t") == (
        "SELECT (dayofweek(d) - 1) / 2 FROM t"
    )
    # literals keep '/': string spans are opaque
    assert P("SELECT 'a/b' AS s FROM t") == "SELECT 'a/b' AS s FROM t"
    with pytest.raises(ValueError, match="unprovable operand type"):
        P("SELECT u / b FROM t", column_types=ct)
    with pytest.raises(ValueError, match="unprovable operand type"):
        P("SELECT a / v FROM t", column_types=ct)


def test_ch_documented_midpoint_and_byte_deltas(spark):
    """r17: the CH arm's two REMAINING pass-through deltas are
    documented in the module contract (not silent): `round` on floats
    is banker's in CH vs half-away-from-zero in Spark (midpoints
    only — roundBankers/bround is the exact spelling), and the bare
    length/substring/reverse byte semantics on CH String inputs keep
    Spark's character semantics (the UTF-8 spellings map exactly).
    This test pins the documented behaviors so a regression in either
    direction is caught."""
    from clickhouse_build_spark.functions.chsql import run_ch_sql

    r = run_ch_sql(
        spark,
        "SELECT roundBankers(2.5) AS rb25, roundBankers(3.5) AS rb35, "
        "roundBankers(2.345, 2) AS rb2, round(2.5) AS r25, "
        "lengthUTF8('héllo') AS lu, length('héllo') AS lraw",
    ).first()
    assert float(r["rb25"]) == 2.0 and float(r["rb35"]) == 4.0
    assert float(r["rb2"]) == 2.34
    # documented delta: Spark round is half-away-from-zero (CH float
    # round would give 2)
    assert float(r["r25"]) == 3.0
    # documented delta: both spellings are CHARACTER counts here (CH
    # length('héllo') would be 6 bytes)
    assert r["lu"] == 5 and r["lraw"] == 5


def test_pg_dow_intdiv_property(spark):
    """r17 property pin (VERDICT r16 #1 done-condition): PG's dow and
    truncating-division CONTRACTS verified against Python-computed
    ground truth over a planted range — 14 consecutive dates cover
    every weekday twice (dow = 0=Sunday, isodow = 1=Monday..7=Sunday)
    and a sign-crossing dividend/divisor grid covers truncation
    toward zero (PG -7/2 = -3, never floor's -4)."""
    import datetime as _dt
    import math

    from clickhouse_build_spark.functions.chsql import run_pg_sql

    base = _dt.date(2024, 3, 3)  # a Sunday
    rows = run_pg_sql(
        spark,
        "SELECT n, extract(dow FROM DATE '2024-03-03' + n) AS dow, "
        "extract(isodow FROM DATE '2024-03-03' + n) AS iso "
        "FROM (SELECT explode(sequence(0, 13)) AS n) ORDER BY n",
    ).collect()
    for r in rows:
        d = base + _dt.timedelta(days=r["n"])
        py_iso = d.isoweekday()  # 1=Monday..7=Sunday
        assert r["iso"] == py_iso, d
        assert r["dow"] == py_iso % 7, d  # PG dow: 0=Sunday

    pairs = [
        (a, b)
        for a in (-9, -7, -1, 0, 1, 7, 9, 100)
        for b in (-4, -2, -1, 1, 2, 4)
    ]
    spark.createDataFrame(pairs, "a int, b int").createOrReplaceTempView(
        "pg_divgrid"
    )
    rows = run_pg_sql(
        spark,
        "SELECT a, b, a / b AS q FROM pg_divgrid ORDER BY a, b",
    ).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        want = math.trunc(r["a"] / r["b"]) if r["b"] else None
        assert r["q"] == want, (r["a"], r["b"], r["q"], want)


def test_pg_scalar_fidelity_batch2(spark):
    """r17 batch 2 — the same silent-divergence class as
    to_char/dow/div, each verified against live Spark: log(x) is
    base-10 in PG but NATURAL log in Spark (→ log10; 2-arg log
    agrees); '^' is power in PG but bitwise XOR in Spark (→ power,
    left-assoc); left/right accept negative counts in PG (drop from
    the other end) where Spark returns '' (→ sign-safe substring);
    trunc(x) is numeric in PG but date-only in Spark (1-arg →
    floor/ceil toward zero, 2-arg loud); strpos → instr;
    to_date/to_timestamp formats are JDK-style in Spark (→ the same
    token translation as to_char); array_agg drops SQL NULLs in
    Spark where PG keeps them (→ struct-wrapped collect_list, PG's
    NULL on empty); date - date is INTEGER days in PG but an
    INTERVAL in Spark (→ datediff when both operands are PROVEN
    dates; numeric '-' untouched)."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    assert P("SELECT log(100) AS v") == "SELECT log10(100) AS v"
    assert P("SELECT log(2, 8) AS v") == "SELECT log(2, 8) AS v"
    assert P("SELECT 2 ^ 3 AS v") == "SELECT power(2, 3) AS v"
    assert P("SELECT a ^ b ^ 2 FROM t") == (
        "SELECT power(power(a, b), 2) FROM t"
    )
    assert P("SELECT strpos(s, 'b') FROM t") == (
        "SELECT instr(s, 'b') FROM t"
    )
    assert P("SELECT to_date('2024-03-05', 'YYYY-MM-DD') AS v") == (
        "SELECT to_date('2024-03-05', 'yyyy-MM-dd') AS v"
    )
    assert P(
        "SELECT d1 - d2 AS days FROM t",
        column_types={"d1": "date", "d2": "date"},
    ) == "SELECT datediff(d1, d2) AS days FROM t"
    assert P(
        "SELECT a - b FROM t", column_types={"a": "int", "b": "int"}
    ) == "SELECT a - b FROM t"
    assert P(
        "SELECT d1 - DATE '2024-01-01' FROM t",
        column_types={"d1": "date"},
    ) == "SELECT datediff(d1, DATE '2024-01-01') FROM t"
    with pytest.raises(ValueError, match="trunc"):
        P("SELECT trunc(x, 2) FROM t")
    with pytest.raises(ValueError, match="literal format"):
        P("SELECT to_date(s, fmt) FROM t")
    with pytest.raises(ValueError, match="DISTINCT"):
        P("SELECT array_agg(DISTINCT v) FROM t")

    r = run_pg_sql(
        spark,
        "SELECT log(100) AS lg, 2 ^ 3 AS pw, "
        "left('abcde', -2) AS lneg, right('abcde', -2) AS rneg, "
        "left('abcde', 2) AS lpos, right('abcde', 2) AS rpos, "
        "left('abc', 9) AS lover, "
        "trunc(-4.7) AS tr, strpos('abc', 'c') AS sp, "
        "to_date('05 Mar 2024', 'DD Mon YYYY') AS td, "
        "DATE '2024-03-05' - DATE '2024-03-01' AS dd",
    ).first()
    assert r["lg"] == 2.0 and r["pw"] == 8.0
    assert (r["lneg"], r["rneg"]) == ("abc", "cde")
    assert (r["lpos"], r["rpos"], r["lover"]) == ("ab", "de", "abc")
    assert float(r["tr"]) == -4.0 and r["sp"] == 3
    assert str(r["td"]) == "2024-03-05" and r["dd"] == 4
    r3 = run_pg_sql(
        spark,
        "SELECT ltrim('xxabcxx', 'x') AS lt, rtrim('xxabcxx', 'x') "
        "AS rt, btrim('xxabcxx', 'x') AS bt, ltrim('  a ') AS l1",
    ).first()
    # PG 2-arg ltrim/rtrim are (string, chars); Spark's are REVERSED
    # (trimStr, string) — the swap restores PG's values
    assert tuple(r3) == ("abcxx", "xxabc", "abc", "a ")
    r2 = run_pg_sql(
        spark,
        "SELECT array_agg(v ORDER BY k) AS aa, "
        "array_agg(v) FILTER (WHERE v = 'none') AS aempty "
        "FROM VALUES (2, 'b'), (1, 'a'), (3, NULL) AS t(k, v)",
    ).first()
    assert r2["aa"] == ["a", "b", None] and r2["aempty"] is None


def test_pg_datetime_div_runtime(spark):
    """r17 end-to-end: the three divergences return PG's values
    through run_pg_sql — day-of-month (not day-of-year) from to_char,
    0=Sunday dow, truncating integer division with the catalog-proved
    operand types resolved from the session's registered tables."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    spark.createDataFrame(
        [(7,), (9,)], "k int"
    ).createOrReplaceTempView("pg_div_t")
    r = run_pg_sql(
        spark,
        "SELECT to_char(DATE '2024-03-05', 'MM-DD') AS md, "
        "to_char(DATE '2024-03-05', 'Dy DD Mon YYYY') AS pretty, "
        "extract(dow FROM DATE '2024-03-03') AS sun, "
        "extract(isodow FROM DATE '2024-03-03') AS isosun, "
        "7 / 2 AS q",
    ).first()
    assert r["md"] == "03-05"  # Spark's raw to_char gave '03-65'
    assert r["pretty"] == "Tue 05 Mar 2024"
    assert r["sun"] == 0 and r["isosun"] == 7  # 2024-03-03 is a Sunday
    assert r["q"] == 3
    rows = run_pg_sql(
        spark,
        "SELECT k / 2 AS h, sum(k) / count(*) AS m FROM pg_div_t "
        "GROUP BY k / 2 ORDER BY h",
    ).collect()
    assert [(r["h"], r["m"]) for r in rows] == [(3, 7), (4, 9)]


def test_pg_json_agg_family(spark):
    """r17 (VERDICT r16 "What's missing" #2): json_agg / jsonb_agg →
    to_json over struct-wrapped collect_list (the wrapper keeps SQL
    NULL elements PG renders as JSON null), in-call ORDER BY applied
    via array_sort (DESC = reverse), FILTER spliced onto the inner
    aggregate, and nullif('[]') restoring PG's NULL-for-zero-rows.
    Unordered json_agg is canonicalized by sorting on the element
    itself (documented: PG's input order is plan-dependent).
    row_to_json maps a relation alias to to_json(struct(alias.*)) and
    an anonymous ROW(...) to PG's own f1..fn field names."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    assert P("SELECT json_agg(v ORDER BY k) FROM t") == (
        "SELECT nullif(to_json(transform(array_sort(collect_list("
        "named_struct('o1', k, 'v', v))), __ja -> __ja.v)), '[]') "
        "FROM t"
    )
    assert "reverse(" in P("SELECT json_agg(v ORDER BY k DESC) FROM t")
    assert P("SELECT row_to_json(t) FROM t") == (
        "SELECT to_json(struct(t.*)) FROM t"
    )
    assert P("SELECT row_to_json(ROW(a, b)) FROM t") == (
        "SELECT to_json(named_struct('f1', a, 'f2', b)) FROM t"
    )
    with pytest.raises(ValueError, match="DISTINCT"):
        P("SELECT json_agg(DISTINCT v) FROM t")
    with pytest.raises(ValueError, match="mixed ASC/DESC"):
        P("SELECT json_agg(v ORDER BY a ASC, b DESC) FROM t")
    with pytest.raises(ValueError, match="relation alias"):
        P("SELECT row_to_json(f(x)) FROM t")

    rows = run_pg_sql(
        spark,
        """
        SELECT g, json_agg(v ORDER BY k) AS ja,
               jsonb_agg(v) AS jb,
               json_agg(v ORDER BY k DESC) AS jd,
               json_agg(v ORDER BY k) FILTER (WHERE v IS NOT NULL)
                 AS jf,
               json_agg(v) FILTER (WHERE v = 'none') AS jempty
        FROM VALUES (1, 2, 'b'), (1, 1, 'a'), (1, 3, NULL),
                    (2, 1, 'z') AS t(g, k, v)
        GROUP BY g ORDER BY g
        """,
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, '["a","b",null]', '[null,"a","b"]', '[null,"b","a"]',
         '["a","b"]', None),
        (2, '["z"]', '["z"]', '["z"]', '["z"]', None),
    ]
    r2 = run_pg_sql(
        spark,
        "SELECT row_to_json(t) AS rj, row_to_json(ROW(1, 'x')) AS ar "
        "FROM (SELECT 5 AS a, 'q' AS b) t",
    ).first()
    assert tuple(r2) == ('{"a":5,"b":"q"}', '{"f1":1,"f2":"x"}')


def test_pg_jsonpath_recursive_descent(spark):
    """r17 (VERDICT r16 #9): jsonpath .** compiles a bounded
    depth-first preorder union over the VARIANT reader — self plus
    contained values, exactly PG's extension order. .**{n} and
    .**{a to b} select levels exactly; bare .** raises AT RUNTIME
    when structure deeper than the compiled bound (3) exists, and
    'last'/too-deep ranges refuse at translate time — a deep document
    can never be silently truncated."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    doc = '{"meta":{"k":5,"tags":[1,2]},"s":"x"}'

    def q(path):
        return run_pg_sql(
            spark,
            f"SELECT jsonb_path_query_array('{doc}', '{path}') AS a",
        ).first()["a"]

    assert q("$.**") == (
        '[{"meta":{"k":5,"tags":[1,2]},"s":"x"},'
        '{"k":5,"tags":[1,2]},5,[1,2],1,2,"x"]'
    )
    assert q("$.**.k") == "[5]"
    assert q("$.**{1}") == '[{"k":5,"tags":[1,2]},"x"]'
    assert q("$.**{1 to 2}") == '[{"k":5,"tags":[1,2]},5,[1,2],"x"]'
    assert q("$.**{3}") == "[1,2]"
    # runtime loudness: depth-4 structure under a bare .**
    with pytest.raises(Exception, match="deeper than the compiled"):
        run_pg_sql(
            spark,
            """SELECT jsonb_path_query_array(
                 '{"d":{"e":{"f":{"g":1}}}}', '$.**') AS a""",
        ).first()
    # ...but an explicit in-bound range over the same document works
    r = run_pg_sql(
        spark,
        """SELECT jsonb_path_query_array(
             '{"d":{"e":{"f":{"g":1}}}}', '$.**{2 to 3}') AS a""",
    ).first()
    assert r["a"] == '[{"f":{"g":1}},{"g":1}]'
    with pytest.raises(ValueError, match="level spec"):
        P("SELECT jsonb_path_query_array(j, '$.**{0 to last}') FROM t")
    with pytest.raises(ValueError, match="depth bound"):
        P("SELECT jsonb_path_query_array(j, '$.**{5}') FROM t")


def test_pg_unnest_with_ordinality(spark):
    """r17: ``unnest(arr) WITH ORDINALITY [AS t(x, i)]`` → Spark's
    ``inline`` over an index-carrying transform (the lambda's second
    parameter is the 0-based element index; PG ordinality is
    1-based). The aliased form binds PG's column names through the
    struct fields; the bare form keeps PG's default
    ``unnest``/``ordinality`` names."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    r = run_pg_sql(
        spark,
        """SELECT g, t.x, t.i
           FROM VALUES (1, array('a','b','c')) AS d(g, arr),
                unnest(arr) WITH ORDINALITY AS t(x, i)
           ORDER BY t.i""",
    ).collect()
    assert [tuple(x) for x in r] == [
        (1, "a", 1), (1, "b", 2), (1, "c", 3)]
    r2 = run_pg_sql(
        spark,
        """SELECT g, unnest, ordinality
           FROM VALUES (1, array('p','q')) AS d(g, arr),
                unnest(arr) WITH ORDINALITY
           ORDER BY ordinality""",
    ).collect()
    assert [tuple(x) for x in r2] == [(1, "p", 1), (1, "q", 2)]


def test_pg_object_agg_and_array_converters(spark):
    """r17: json_object_agg/jsonb_object_agg → to_json over
    map_from_entries of a key-sorted collect_list (NULL values kept,
    duplicate/NULL keys fail loudly via Spark's map policy, zero-row
    groups → PG's NULL); string_to_array maps PG's edges exactly
    (empty delimiter → whole string, NULL delimiter → per-character,
    literal delimiters regex-quoted); array_to_string → array_join
    (same skip-NULLs/null-string contract); regexp_split_to_array →
    split."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    r = run_pg_sql(
        spark,
        "SELECT string_to_array('a,b,,c', ',') AS sa, "
        "string_to_array('abc', NULL) AS perchar, "
        "string_to_array('abc', '') AS whole, "
        "string_to_array('a.b', '.') AS dotsep, "
        "array_to_string(array('a', NULL, 'b'), '-') AS ats, "
        "array_to_string(array('a', NULL, 'b'), '-', 'X') AS ats3, "
        "regexp_split_to_array('a1b22c', '[0-9]+') AS rsa",
    ).first()
    assert r["sa"] == ["a", "b", "", "c"]
    assert r["perchar"] == ["a", "b", "c"]
    assert r["whole"] == ["abc"] and r["dotsep"] == ["a", "b"]
    assert r["ats"] == "a-b" and r["ats3"] == "a-X-b"
    assert r["rsa"] == ["a", "b", "c"]
    rows = run_pg_sql(
        spark,
        "SELECT g, json_object_agg(k, v) AS oa, "
        "jsonb_object_agg(k, v) FILTER (WHERE v IS NOT NULL) AS oaf, "
        "json_object_agg(k, v) FILTER (WHERE g = 99) AS oempty "
        "FROM VALUES (1, 'b', 2), (1, 'a', 1), (1, 'c', NULL), "
        "(2, 'z', 9) AS t(g, k, v) GROUP BY g ORDER BY g",
    ).collect()
    assert [tuple(r_) for r_ in rows] == [
        (1, '{"a":1,"b":2,"c":null}', '{"a":1,"b":2}', None),
        (2, '{"z":9}', '{"z":9}', None),
    ]
    with pytest.raises(ValueError, match="literal delimiter"):
        P("SELECT string_to_array(s, d) FROM t")
    with pytest.raises(ValueError, match="2-argument form"):
        P("SELECT string_to_array(s, ',', 'N') FROM t")
    with pytest.raises(ValueError, match="flags"):
        P("SELECT regexp_split_to_array(s, p, 'i') FROM t")
    with pytest.raises(ValueError, match="two arguments"):
        P("SELECT json_object_agg(k) FROM t")


def test_pg_jsonpath_strict_mode(spark):
    """r17: strict jsonpath compiles for the sequence family — no lax
    auto-unwrap/auto-wrap, and every structural mismatch raises AT
    RUNTIME exactly where PG's executor raises (member on
    non-object, missing member, subscript/wildcard/size on
    non-array, out-of-bounds subscript or slice, non-convertible
    .double()). JSON null VALUES are kept (variant null is not SQL
    NULL); filter predicates stay error-suppressing in both modes
    (PG's own rule)."""
    import pytest as _pt

    from clickhouse_build_spark.functions.chsql import run_pg_sql

    doc = '{"a": {"b": [1, 2, 3]}, "s": "x", "n": null}'

    def q(path):
        return run_pg_sql(
            spark,
            f"SELECT jsonb_path_query_array('{doc}', '{path}') AS r",
        ).first()["r"]

    assert q("strict $.a.b") == "[[1,2,3]]"
    assert q("strict $.n") == "[null]"  # null VALUE, not missing
    assert q("strict $.a.b[0]") == "[1]"
    assert q("strict $.a.b[*]") == "[1,2,3]"
    assert q("strict $.a.*") == "[[1,2,3]]"
    assert q("strict $.a.b[0 to 1]") == "[1,2]"
    assert q("strict $.a.b[last]") == "[3]"
    # variant number rendering matches the lax arm ('1', not '1.0')
    assert q("strict $.a.b[0].double()") == "[1]"
    assert q("strict $.a.b.size()") == "[3]"
    assert q("strict $.a.b[*] ? (@ > 1)") == "[2,3]"
    for path, msg in [
        ("strict $.missing", "not found"),
        ("strict $.s.k", "applied to an object"),
        ("strict $.a.b[9]", "out of bounds"),
        ("strict $.a[0]", "applied to an array"),
        ("strict $.s[*]", "wildcard array accessor"),
        ("strict $.s.*", "wildcard member accessor"),
        ("strict $.a.b[1 to 9]", "out of bounds"),
        ("strict $.s.double()", "not convertible"),
        ("strict $.s.size()", "applied to an array"),
    ]:
        with _pt.raises(Exception, match=msg):
            q(path)
    # lax is untouched: the same mismatches drop instead of raising
    assert q("$.missing") == "[]"
    assert q("$.s[*]") == '["x"]'


def test_pg_jsonb_each_srf(spark):
    """r13c: jsonb_each_text / jsonb_each as FROM-position SRFs — the
    PG implicit-lateral comma form rewrites to JOIN LATERAL explode
    over a typed map (text form: scalar values exact, nested values
    compact-stringified; json-preserving form: VARIANT re-serialized,
    strings stay quoted)."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    r = run_pg_sql(
        spark,
        """SELECT e.key, e.value
           FROM VALUES ('{"a": 1, "b": {"c": 2}}') AS t(j),
                jsonb_each_text(j) AS e
           ORDER BY key""",
    ).collect()
    assert [tuple(x) for x in r] == [("a", "1"), ("b", '{"c":2}')]
    r2 = run_pg_sql(
        spark,
        """SELECT k, v FROM VALUES ('{"s": "x", "n": 5}') AS t(j),
                jsonb_each(j) AS e(k, v) ORDER BY k""",
    ).collect()
    assert [tuple(x) for x in r2] == [("n", "5"), ("s", '"x"')]


def test_pg_array_operators_and_unnest(spark):
    """r13c: PG array idioms — ARRAY[...] literals, = ANY / <> ALL
    (array → array_contains; subquery → IN/NOT IN), && overlap,
    array @> / <@ containment (forall + array_contains), unnest →
    explode with the implicit-lateral comma form."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    def val(q):
        return run_pg_sql(spark, q).first()["c"]

    assert val("SELECT 2 = ANY(ARRAY[1,2,3]) AS c") is True
    assert val("SELECT 5 = ANY(ARRAY[1,2,3]) AS c") is False
    assert val("SELECT 5 <> ALL(ARRAY[1,2,3]) AS c") is True
    assert val("SELECT 2 <> ALL(ARRAY[1,2,3]) AS c") is False
    assert val("SELECT 1 = ANY(SELECT o FROM VALUES (1),(2) AS s(o)) AS c")
    assert val("SELECT ARRAY['a','b'] && ARRAY['b','z'] AS c") is True
    assert val("SELECT ARRAY['a','b'] @> ARRAY['b'] AS c") is True
    assert val("SELECT ARRAY['a','b'] @> ARRAY['b','z'] AS c") is False
    assert val("SELECT ARRAY['a'] <@ ARRAY['a','b'] AS c") is True
    assert val("SELECT ARRAY['z'] <@ ARRAY['a','b'] AS c") is False
    rows = run_pg_sql(
        spark,
        "SELECT v FROM VALUES (array(1,2)) AS t(a), unnest(a) AS u(v)",
    ).collect()
    assert [r["v"] for r in rows] == [1, 2]
    with pytest.raises(ValueError, match="parallel-array unnest"):
        P("SELECT unnest(a, b) FROM t")
    # jsonb containment unaffected by the array extension
    assert val("""SELECT ('{"k": 1}' @> '{"k": 1}') AS c""") is True


def test_pg_select_list_srf_keeps_comma(spark):
    """ADVICE r13 (medium): a select-list SRF — `SELECT id,
    jsonb_array_elements_text(tags)` — must NOT have its comma
    rewritten to JOIN LATERAL (that only applies in FROM position).
    Spark runs the select-list generator with PG 10+'s row-multiplying
    semantics, so the translated form executes AND row-matches PG."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    out = P("SELECT id, jsonb_array_elements_text(tags) AS tag FROM t")
    assert "JOIN LATERAL" not in out
    assert out.startswith("SELECT id, explode(")
    rows = run_pg_sql(
        spark,
        """SELECT id, jsonb_array_elements_text(tags) AS tag
           FROM VALUES (1, '["a","b"]'), (2, '["c"]') AS t(id, tags)
           ORDER BY id, tag""",
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (1, "b"), (2, "c")]
    # plain-Spark generator in the select list survives untouched
    plain = "SELECT id, explode(arr) AS x FROM t"
    assert P(plain) == plain
    # ...while the FROM-position comma form still rewrites
    fromq = P("SELECT e.value FROM t, jsonb_array_elements_text(j) AS e")
    assert "JOIN LATERAL" in fromq


def test_pg_lambda_with_literal_body_passes_through():
    """ADVICE r13 (low): a Spark lambda whose body is a literal —
    `transform(a, v -> 1)` — is a lambda (the enclosing call is a
    higher-order function), not a JSON -> op; and a select-list
    `col, j -> 'k'` after a comma is still a JSON op."""
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    plain = "SELECT transform(array(1,2), v -> 1) AS a FROM t"
    assert P(plain) == plain
    plain2 = "SELECT filter(arr, x -> 0) AS a FROM t"
    assert P(plain2) == plain2
    out = P("SELECT a, j -> 'k' AS v FROM t")
    assert "try_variant_get" in out
    out2 = P("SELECT a, j ->> 'k' AS v FROM t")
    assert "get_json_object(j, '$.k')" in out2


def test_pg_generate_series_step_sign_mismatch(spark):
    """ADVICE r13 (low): generate_series(5, 1, 1) is EMPTY in PG;
    Spark's raw sequence(5, 1, 1) throws. The translated 3-arg form
    must return the empty set, and agreeing signs stay exact."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    assert (
        run_pg_sql(spark, "SELECT generate_series(5, 1, 1) AS n").count()
        == 0
    )
    assert (
        run_pg_sql(spark, "SELECT generate_series(1, 5, -1) AS n").count()
        == 0
    )
    rows = run_pg_sql(
        spark, "SELECT generate_series(5, 1, -2) AS n"
    ).collect()
    assert [r["n"] for r in rows] == [5, 3, 1]
    rows2 = run_pg_sql(
        spark, "SELECT generate_series(2, 2, -7) AS n"
    ).collect()
    assert [r["n"] for r in rows2] == [2]
    ts = run_pg_sql(
        spark,
        "SELECT generate_series(TIMESTAMP '2024-01-01', "
        "TIMESTAMP '2024-01-03', INTERVAL '1' DAY) AS d",
    ).count()
    assert ts == 3


def test_sql_statement_splitter_block_comments_and_dollar_quotes():
    """ADVICE r13 (low): ';' inside /* */ block comments or PG
    dollar-quoted bodies must not split a statement."""
    from clickhouse_build_spark.scanner import _sql_statements

    text = (
        "/* header; with a semicolon */\n"
        "SELECT a /* mid; comment */ FROM t;\n"
        "CREATE FUNCTION f() RETURNS int AS $$\n"
        "  SELECT 1; SELECT 2;\n"
        "$$ LANGUAGE sql;\n"
        "CREATE FUNCTION g() AS $body$ x; y $body$;\n"
        "SELECT b FROM u"
    )
    stmts = [s for _, _, s in _sql_statements(text)]
    assert len(stmts) == 4
    assert stmts[0].endswith("FROM t")
    assert "$$" in stmts[1] and "SELECT 2" in stmts[1]
    assert "$body$" in stmts[2]
    assert stmts[3] == "SELECT b FROM u"


_JP_DOCS = """VALUES
  (1, '{"meta":{"type":"view","k":10},
        "items":[{"v":5,"tag":"a"},{"v":60,"tag":"b"}],"tags":["x","y"]}'),
  (2, '{"meta":{"type":"click","k":99},"items":[{"v":70,"tag":"a"}],"tags":[]}'),
  (3, '{"meta":{"type":"view","k":null},"items":[],"tags":["x"]}'),
  (4, '{"meta":{"type":"view"}}'),
  (5, NULL) AS t(id, j)"""


def test_pg_jsonb_path_exists_and_query(spark):
    """SQL/JSONPath family (r14, VERDICT #5): the bounded lax-mode
    subset — member/index/[*]/filter steps — compiled to codegen
    built-ins over the VARIANT reader. Outputs pinned to PG 16
    behavior (verified shapes: null-vs-missing, empty-seq results,
    lax auto-wrap)."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    def ids(pred):
        rows = run_pg_sql(
            spark, f"SELECT id FROM {_JP_DOCS} WHERE {pred} ORDER BY id"
        ).collect()
        return [r["id"] for r in rows]

    # wildcard + numeric filter
    assert ids("jsonb_path_exists(j, '$.items[*] ? (@.v > 50)')") == [1, 2]
    # present-but-null key exists (PG: true)
    assert ids("jsonb_path_exists(j, '$.meta.k')") == [1, 2, 3]
    # string equality filter (jsonpath double-quoted strings)
    assert ids('jsonb_path_exists(j, \'$.items[*] ? (@.tag == "b")\')') == [1]
    # conjunction
    assert ids(
        'jsonb_path_exists(j, \'$.items[*] ? (@.v > 1 && @.tag == "a")\')'
    ) == [1, 2]
    # == null matches a present JSON null only
    assert ids("jsonb_path_exists(j, '$.meta ? (@.k == null)')") == [3]
    # exists() nested predicate
    assert ids("jsonb_path_exists(j, '$.meta ? (exists(@.k))')") == [1, 2, 3]
    # negation
    assert ids('jsonb_path_exists(j, \'$.items[*] ? (!(@.tag == "a"))\')') == [1]
    # @? operator spelling
    assert ids("j @? '$.items[0]'") == [1, 2]

    # jsonb_path_query as a set-returning function with ::cast folding
    rows = run_pg_sql(
        spark,
        f"SELECT id, jsonb_path_query(j, '$.items[*].v')::float8 AS v "
        f"FROM {_JP_DOCS} ORDER BY id, v",
    ).collect()
    assert [(r["id"], r["v"]) for r in rows] == [(1, 5.0), (1, 60.0), (2, 70.0)]

    r = run_pg_sql(
        spark,
        f"""SELECT id,
               jsonb_path_query_first(j, '$.items[0].v') AS v0,
               jsonb_path_query_array(j, '$.tags[*]') AS tg,
               jsonb_path_match(j, '$.meta.k > 50') AS hi
            FROM {_JP_DOCS} ORDER BY id""",
    ).collect()
    assert [x["v0"] for x in r] == ["5", "70", None, None, None]
    assert [x["tg"] for x in r] == ['["x","y"]', "[]", '["x"]', "[]", None]
    # match: false / true / Unknown(null k) / Unknown(missing) / NULL input
    assert [x["hi"] for x in r] == [False, True, None, None, None]


def test_pg_jsonb_path_like_regex_and_item_methods(spark):
    """r15 (VERDICT #4): literal-pattern ``like_regex`` → RLIKE on the
    variant-string cast (non-strings stay Unknown → dropped, exactly
    lax filters), ``starts with``, and the terminal
    ``.double()/.size()/.type()`` item methods."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    def ids(pred):
        rows = run_pg_sql(
            spark, f"SELECT id FROM {_JP_DOCS} WHERE {pred} ORDER BY id"
        ).collect()
        return [r["id"] for r in rows]

    # regex over tag strings; doc 2 has only tag "a"
    assert ids(
        'jsonb_path_exists(j, \'$.items[*] ? (@.tag like_regex "^[b-z]$")\')'
    ) == [1]
    # backslash class: PG doubles inside the jsonpath string literal
    assert ids(
        'jsonb_path_exists(j, \'$.meta.type ? (@ like_regex "^v\\\\w+w$")\')'
    ) == [1, 3, 4]
    # non-string operands are Unknown, never stringified-and-matched
    assert ids(
        'jsonb_path_exists(j, \'$.items[*] ? (@.v like_regex ".")\')'
    ) == []
    assert ids(
        'jsonb_path_exists(j, \'$.meta.type ? (@ starts with "vi")\')'
    ) == [1, 3, 4]

    # r16 (ADVICE): a literal "\E" inside a q-flagged pattern must not
    # terminate Java's \Q...\E quote early — the translation splits
    # exactly like Pattern.quote. Value a\E.b matches the q-quoted
    # pattern a\E.b; a\EXb must NOT (the '.' stays literal past \E).
    bs = chr(92)
    d1 = '{"s":"a' + bs * 4 + 'E.b"}'  # SQL→JSON→value a\E.b
    d2 = '{"s":"a' + bs * 4 + 'EXb"}'
    rows = run_pg_sql(
        spark,
        "SELECT id FROM VALUES (1, '" + d1 + "'), (2, '" + d2
        + "') AS t(id, j) WHERE jsonb_path_exists(j, "
        + "'$.s ? (@ like_regex \"a" + bs * 2
        + "E.b\" flag \"q\")') ORDER BY id",
    ).collect()
    assert [r["id"] for r in rows] == [1]

    r = run_pg_sql(
        spark,
        f"""SELECT id,
               jsonb_path_query_first(j, '$.meta.k.double()')::float8 AS kd,
               jsonb_path_query_first(j, '$.items.size()')::int AS nitems,
               jsonb_path_query_first(j, '$.tags.type()') AS tagty,
               jsonb_path_query_first(j, '$.meta.type.type()') AS strty
            FROM {_JP_DOCS} ORDER BY id""",
    ).collect()
    # .double(): 10 / 99 / JSON null drops (non-convertible) / missing
    assert [x["kd"] for x in r] == [10.0, 99.0, None, None, None]
    # .size(): array lengths; missing key -> empty sequence
    assert [x["nitems"] for x in r] == [2, 1, 0, None, None]
    # .type(): jsonb type names as jsonb strings (quoted, like PG)
    assert [x["tagty"] for x in r] == ['"array"', '"array"', '"array"', None, None]
    assert [x["strty"] for x in r] == ['"string"'] * 4 + [None]


_MU_DOCS = """VALUES
  (1, '{"a":1,"b":{"c":2,"d":3},"arr":[10,20,30]}'),
  (2, '{"a":"x","arr":[]}'),
  (3, '[5,6]'),
  (4, NULL) AS t(id, j)"""


def test_pg_jsonb_mutation_family(spark):
    """r15 (VERDICT #5): jsonb_set / jsonb_insert / minus-delete /
    #- path-delete via VARIANT → map/array rebuild → to_json. PG
    semantics pinned: create_if_missing default, out-of-range array
    set appends, insert-before/after, nested set keeps siblings,
    non-object targets pass through (PG raises — the documented
    lax-style deviation)."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    def col(expr):
        rows = run_pg_sql(
            spark, f"SELECT id, {expr} AS r FROM {_MU_DOCS} ORDER BY id"
        ).collect()
        return [r["r"] for r in rows]

    assert col("jsonb_set(j, '{a}', '99') ->> 'a'") == ["99", "99", None, None]
    # create_if_missing=false never creates
    assert col("jsonb_set(j, '{z}', '1', false) ->> 'z'") == [None] * 4
    # nested set keeps the sibling key
    assert col("jsonb_set(j, '{b,c}', '42') #>> '{b,c}'") == ["42", None, None, None]
    assert col("jsonb_set(j, '{b,c}', '42') #>> '{b,d}'") == ["3", None, None, None]
    # array-element set; out-of-range appends (create default)
    assert col("jsonb_set(j, '{arr,1}', '77') ->> 'arr'") == [
        "[10,77,30]", "[77]", None, None]
    assert col("jsonb_set(j, '{arr,9}', '77') ->> 'arr'") == [
        "[10,20,30,77]", "[77]", None, None]
    # insert before (default) / after
    assert col("jsonb_insert(j, '{arr,1}', '15') ->> 'arr'") == [
        "[10,15,20,30]", "[15]", None, None]
    assert col("jsonb_insert(j, '{arr,0}', '15', true) ->> 'arr'") == [
        "[10,15,20,30]", "[15]", None, None]
    # object-key insert only when absent (present: PG raises; here
    # pass-through — 'a' stays 1/"x")
    assert col("jsonb_insert(j, '{a}', '8') ->> 'a'") == ["1", "x", None, None]
    # minus-delete needs the explicit ::jsonb cast (interval-subtract
    # ambiguity); deletes a key, or an element by index; chains via
    # re-cast parens
    assert col("j::jsonb - 'a'") == [
        '{"arr":[10,20,30],"b":{"c":2,"d":3}}', '{"arr":[]}', "[5,6]", None]
    assert col("j::jsonb - 0") == [
        '{"a":1,"arr":[10,20,30],"b":{"c":2,"d":3}}',
        '{"a":"x","arr":[]}', "[6]", None]
    assert col("(j::jsonb - 'a')::jsonb - 'b'") == [
        '{"arr":[10,20,30]}', '{"arr":[]}', "[5,6]", None]
    # #- path delete (parenthesize before chaining extraction)
    assert col("(j #- '{b,c}') #>> '{b}'") == ['{"d":3}', None, None, None]
    assert col("(j #- '{arr,2}') ->> 'arr'") == ["[10,20]", "[]", None, None]


def test_pg_jsonb_mutation_loud_failures():
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    with pytest.raises(ValueError, match="literal '{a,b"):
        P("SELECT jsonb_set(j, p, '1') FROM t")
    with pytest.raises(ValueError, match="depth 1-2"):
        P("SELECT jsonb_set(j, '{a,b,c}', '1') FROM t")
    with pytest.raises(ValueError, match="dynamic values"):
        P("SELECT jsonb_set(j, '{a}', x) FROM t")
    with pytest.raises(ValueError, match="negative array indexes"):
        P("SELECT jsonb_insert(j, '{a,-1}', '1') FROM t")
    with pytest.raises(ValueError, match="not valid JSON"):
        P("SELECT jsonb_set(j, '{a}', '{bad') FROM t")
    with pytest.raises(ValueError, match="3 or 4 arguments"):
        P("SELECT jsonb_set(j, '{a}') FROM t")
    with pytest.raises(ValueError, match="literal true/false"):
        P("SELECT jsonb_set(j, '{a}', '1', flag) FROM t")
    with pytest.raises(ValueError, match="path array"):
        P("SELECT j #- p FROM t")


def test_pg_jsonpath_last_and_slices(spark):
    """r16 (VERDICT #4): ``[last]``, ``[last - k]``, and inclusive
    ``[a to b]`` slices compile over the ARRAY<VARIANT> sequence with
    PG's lax semantics — auto-wrap of non-arrays, bound CLAMPING
    (jsonpath_exec.c: from=max(0), to=min(size-1)), empty on an
    inverted resolved range, and member steps composing after a
    slice."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    def col(expr):
        rows = run_pg_sql(
            spark, f"SELECT id, {expr} AS r FROM {_JP_DOCS} ORDER BY id"
        ).collect()
        return [r["r"] for r in rows]

    assert col("jsonb_path_query_first(j, '$.items[last].v')") == [
        "60", "70", None, None, None]
    assert col("jsonb_path_query_first(j, '$.tags[last - 1]')") == [
        '"x"', None, None, None, None]
    # lax auto-wrap: [last] over the non-array meta object
    assert col("jsonb_path_query_first(j, '$.meta[last].k')") == [
        "10", "99", "null", None, None]
    assert col("jsonb_path_query_array(j, '$.tags[0 to 1]')") == [
        '["x","y"]', "[]", '["x"]', "[]", None]
    # clamped from-below and member-after-slice composition
    assert col("jsonb_path_query_array(j, '$.items[last - 5 to last].v')") == [
        "[5,60]", "[70]", "[]", "[]", None]
    assert col("jsonb_path_query_array(j, '$.items[0 to last - 1].v')") == [
        "[5]", "[]", "[]", "[]", None]
    # inverted range is empty, never an error
    assert col("jsonb_path_query_array(j, '$.tags[1 to 0]')") == [
        "[]", "[]", "[]", "[]", None]
    # slice composes with a trailing filter predicate
    rows = run_pg_sql(
        spark,
        "SELECT id FROM " + _JP_DOCS + " WHERE jsonb_path_exists(j, "
        "'$.items[last - 1 to last] ? (@.v >= 60)') ORDER BY id",
    ).collect()
    assert [r["id"] for r in rows] == [1, 2]


def test_pg_jsonpath_member_wildcard(spark):
    """r16: the ``.*`` member wildcard — lax auto-unwraps arrays,
    yields every object's VALUES, drops non-objects; ``.**`` stays
    loud. Value order is Spark's document order (multi-key order is
    off the cross-engine contract, the standing jsonb-order rule)."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    docs = """VALUES
      (1, '{"a":1,"b":"x"}'), (2, '[{"a":1},{"b":2}]'), (3, '[1,2]'),
      (4, '"s"'), (5, NULL) AS t(id, j)"""

    def col(expr):
        rows = run_pg_sql(
            spark, f"SELECT id, {expr} AS r FROM {docs} ORDER BY id"
        ).collect()
        return [r["r"] for r in rows]

    assert col("jsonb_path_query_array(j, '$.*')") == [
        '[1,"x"]', "[1,2]", "[]", "[]", None]
    assert col("jsonb_path_exists(j, '$.* ? (@ == 1)')") == [
        True, True, False, False, None]
    # member after wildcard: scalar values drop the .a step
    assert col("jsonb_path_query_array(j, '$.*.a')") == [
        "[]", "[]", "[]", "[]", None]
    # r17: .** now translates (bounded preorder union) — the loud
    # surface moved to unbounded/too-deep level ranges
    # (test_pg_jsonpath_recursive_descent)
    assert "flatten" in P("SELECT jsonb_path_query(j, '$.**.a') FROM t")


def test_pg_jsonb_digit_path_dispatch(spark):
    """r16 (ADVICE): a digit segment in a text[] mutation path is
    UNTYPED in PG — it addresses an object KEY when that step's
    target is an object (``jsonb_set('{"0":1}','{0}','2')`` sets key
    "0", no error) and an array INDEX when it is an array. The
    translation dispatches at runtime on the parsed target type.
    Whole-text pins are safe here: docs are built so the rebuilt map
    insertion order is deterministic (filter-then-append)."""
    from clickhouse_build_spark.functions.chsql import run_pg_sql

    docs = """VALUES
      (1, '{"0":1}'), (2, '[5,6]'), (3, '{"n":{"1":5}}'),
      (4, '{"arr":[10,20]}'), (5, NULL) AS t(id, j)"""

    def col(expr):
        rows = run_pg_sql(
            spark, f"SELECT id, {expr} AS r FROM {docs} ORDER BY id"
        ).collect()
        return [r["r"] for r in rows]

    assert col("jsonb_set(j, '{0}', '2')") == [
        '{"0":2}', "[2,6]", '{"n":{"1":5},"0":2}',
        '{"arr":[10,20],"0":2}', None]
    assert col("jsonb_set(j, '{0}', '2', false)") == [
        '{"0":2}', "[2,6]", '{"n":{"1":5}}', '{"arr":[10,20]}', None]
    assert col("jsonb_set(j, '{n,1}', '9')") == [
        '{"0":1}', "[5,6]", '{"n":{"1":9}}', '{"arr":[10,20]}', None]
    assert col("jsonb_set(j, '{arr,1}', '9')") == [
        '{"0":1}', "[5,6]", '{"n":{"1":5}}', '{"arr":[10,9]}', None]
    # insert: object-key form is insert-if-absent (PG raises on a
    # present key; lax passthrough here), array form is positional
    assert col("jsonb_insert(j, '{0}', '7')") == [
        '{"0":1}', "[7,5,6]", '{"n":{"1":5},"0":7}',
        '{"arr":[10,20],"0":7}', None]
    assert col("jsonb_insert(j, '{n,1}', '7')") == [
        '{"0":1}', "[5,6]", '{"n":{"1":5}}', '{"arr":[10,20]}', None]
    assert col("jsonb_insert(j, '{n,2}', '7')") == [
        '{"0":1}', "[5,6]", '{"n":{"1":5,"2":7}}',
        '{"arr":[10,20]}', None]
    # #- path delete dispatches the same way; `- N` minus-delete
    # stays typed (PG dispatches the minus operators on RHS type)
    assert col("j #- '{0}'") == [
        "{}", "[6]", '{"n":{"1":5}}', '{"arr":[10,20]}', None]
    assert col("j #- '{n,1}'") == [
        '{"0":1}', "[5,6]", '{"n":{}}', '{"arr":[10,20]}', None]
    assert col("j::jsonb - 0") == [
        '{"0":1}', "[6]", '{"n":{"1":5}}', '{"arr":[10,20]}', None]


def test_pg_jsonb_path_loud_failures():
    """Outside-the-subset jsonpath shapes fail at translate time."""
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    # r17: strict mode COMPILES for the sequence family (see
    # test_pg_jsonpath_strict_mode); jsonb_path_match keeps the
    # refusal (different predicate NULL-vs-error semantics)
    assert "raise_error" in P(
        "SELECT jsonb_path_exists(j, 'strict $.a') FROM t"
    )
    with pytest.raises(ValueError, match="strict jsonb_path_match"):
        P("SELECT jsonb_path_match(j, 'strict $.a == 1') FROM t")
    # r17: .** now translates (bounded — see
    # test_pg_jsonpath_recursive_descent); unbounded level ranges are
    # the remaining loud surface
    with pytest.raises(ValueError, match="level spec"):
        P("SELECT jsonb_path_exists(j, '$.a.**{1 to last}.b') FROM t")
    # like_regex with a literal pattern now TRANSLATES (r15); flags,
    # non-string patterns, and PG's un-doubled-backslash error stay loud
    assert "RLIKE 'x'" in P(
        "SELECT jsonb_path_exists(j, '$.a ? (@ like_regex \"x\")') FROM t"
    )
    # i/s/m/q flags translate (Java embedded flags / \\Q quoting);
    # XQuery 'x' has no exact RLIKE twin and stays loud
    assert "RLIKE '(?i)x'" in P(
        'SELECT jsonb_path_exists(j, \'$.a ? (@ like_regex "x" '
        "flag \"i\")') FROM t"
    )
    assert "RLIKE '(?i)\\\\Qa.b\\\\E'" in P(
        'SELECT jsonb_path_exists(j, \'$.a ? (@ like_regex "a.b" '
        "flag \"qi\")') FROM t"
    )
    with pytest.raises(ValueError, match="flag"):
        P(
            'SELECT jsonb_path_exists(j, \'$.a ? (@ like_regex "x" '
            "flag \"x\")') FROM t"
        )
    with pytest.raises(ValueError, match="backslashes must be doubled"):
        P('SELECT jsonb_path_exists(j, \'$.a ? (@ like_regex "\\d")\') FROM t')
    with pytest.raises(ValueError, match="item method"):
        P("SELECT jsonb_path_query_first(j, '$.a.ceiling()') FROM t")
    with pytest.raises(ValueError, match="final step"):
        P("SELECT jsonb_path_query_first(j, '$.a.size().double()') FROM t")
    # r16: [last] / [last - k] / [a to b] now TRANSLATE; multi-
    # subscripts and non-literal bounds stay loud
    with pytest.raises(ValueError, match="multi-subscripts"):
        P("SELECT jsonb_path_exists(j, '$.a[1, 3]') FROM t")
    with pytest.raises(ValueError, match="subscript bound"):
        P("SELECT jsonb_path_exists(j, '$.a[last + 1]') FROM t")
    with pytest.raises(ValueError, match="subscript bound"):
        P("SELECT jsonb_path_exists(j, '$.a[$n to last]') FROM t")
    with pytest.raises(ValueError, match="string literal"):
        P("SELECT jsonb_path_exists(j, p) FROM t")
    with pytest.raises(ValueError, match="2-argument"):
        P("SELECT jsonb_path_exists(j, '$.a', '{}') FROM t")
    with pytest.raises(ValueError, match="ordering comparisons"):
        P("SELECT jsonb_path_exists(j, '$.a ? (@ > \"s\")') FROM t")


def test_pg_jsonb_dynamic_containment_bind_time(spark):
    """`payload @> $1` (r14, VERDICT #5): the probe expands through
    the per-path variant checks at translate time from the bind
    params — the common app shape for a parameterized filter. A
    missing value or a column RHS stays a loud failure."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    def ids(probe, params):
        rows = run_pg_sql(
            spark,
            f"SELECT id FROM {_JP_DOCS} WHERE j @> {probe} ORDER BY id",
            params,
        ).collect()
        return [r["id"] for r in rows]

    assert ids("$1", ['{"meta":{"type":"view"}}']) == [1, 3, 4]
    assert ids("$1::jsonb", ['{"meta":{"type":"click"}}']) == [2]
    # dict params serialize; other markers stay runtime-bound
    rows = run_pg_sql(
        spark,
        f"SELECT id FROM {_JP_DOCS} WHERE j @> $1 AND id <> $2 ORDER BY id",
        [{"tags": ["x"]}, 3],
    ).collect()
    assert [r["id"] for r in rows] == [1]
    # loud: no params for the probe
    with pytest.raises(ValueError, match="at translate time"):
        P("SELECT 1 FROM t WHERE j @> $1")
    # loud: non-JSON-text param
    with pytest.raises(ValueError, match="JSON text"):
        P("SELECT 1 FROM t WHERE j @> $1", params=[42])
    # column RHS is still untranslatable
    with pytest.raises(ValueError, match="literal JSON"):
        P("SELECT 1 FROM t WHERE a @> b")


def test_pg_jsonb_dynamic_reversed_and_path_edges():
    """Translate-only edges: the reversed `$1 <@ col` probe inlines
    from params; quoted jsonpath members JSON-decode escapes; doubled
    quotes in a -> key are consumed and refuse loudly (previously
    corrupt SQL)."""
    from clickhouse_build_spark.functions.chsql import translate_pg_sql as P

    out = P(
        "SELECT 1 FROM t WHERE $1 <@ j",
        params=['{"a": 1}'],
    )
    assert "try_variant_get(parse_json(j)" in out and ":p1" not in out
    out = P('SELECT jsonb_path_exists(j, \'$."a b"."c\\"d"\') FROM t')
    assert "''a b''" in out and 'c"d' in out
    with pytest.raises(ValueError, match="quote is not pathable"):
        P("SELECT j -> 'it''s' FROM t")


def test_pg_jsonb_concat_and_typeof(spark):
    """r15b/r16: ``X::jsonb || '<json literal>'`` — object ∪ object
    merges RHS-wins; every other combination follows PG's wrap rule
    (non-array side becomes a 1-element array, then array concat) —
    and ``jsonb_typeof`` via the jsonpath ``.type()`` dispatch
    table."""
    from clickhouse_build_spark.functions.chsql import (
        run_pg_sql,
        translate_pg_sql as P,
    )

    docs = """VALUES
      (1, '{"a":1,"b":2}'), (2, '[1,2]'), (3, '"s"'), (4, '7'),
      (5, NULL) AS t(id, j)"""

    def col(expr):
        rows = run_pg_sql(
            spark, f"SELECT id, {expr} AS r FROM {docs} ORDER BY id"
        ).collect()
        return [r["r"] for r in rows]

    assert col("jsonb_typeof(j)") == [
        "object", "array", "string", "number", None]
    assert col("j::jsonb || '{\"b\":9,\"c\":3}'") == [
        '{"a":1,"b":9,"c":3}', '[1,2,{"b":9,"c":3}]',
        '["s",{"b":9,"c":3}]', '[7,{"b":9,"c":3}]', None]
    assert col("j::jsonb || '[8]'") == [
        '[{"a":1,"b":2},8]', "[1,2,8]", '["s",8]', "[7,8]", None]
    assert col("j::jsonb || '5'") == [
        '[{"a":1,"b":2},5]', "[1,2,5]", '["s",5]', "[7,5]", None]
    # composes with extraction (parens, like the mutation family)
    assert col("(j::jsonb || '{\"b\":9}') ->> 'b'") == [
        "9", None, None, None, None]
    with pytest.raises(ValueError, match="not valid JSON"):
        P("SELECT j::jsonb || '{bad' FROM t")
    # plain SQL string concat stays untouched (no ::jsonb cast)
    assert "||" in P("SELECT a || b FROM t")
