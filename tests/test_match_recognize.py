"""MATCH_RECOGNIZE subset lowering (plans/match_recognize.py).

The adjacent-sequence subset must lower exactly; everything beyond must
raise the instructive CEP error, never a silent wrong answer."""

from __future__ import annotations

import pytest

from training_flink_sql_cc_src_spark.plans.match_recognize import (
    UnsupportedPatternError,
    parse_match_recognize,
)
from training_flink_sql_cc_src_spark.plans.router import StatementRouter


def _mr(body: str) -> str:
    return f"SELECT * FROM ev MATCH_RECOGNIZE ({body}) AS m"


BASE = """
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES A.ts AS a_ts, B.ts AS b_ts
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B)
    DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'
"""


def test_parse_supported_shape():
    spec = parse_match_recognize(_mr(BASE))
    assert spec.table == "ev"
    assert spec.pattern == ["A", "B"]
    assert spec.partition_by == ["user_id"]
    assert spec.order_by == ["ts", "event_id"]
    assert [a for _, _, a in spec.measures] == ["a_ts", "b_ts"]
    assert spec.skip_past_last and spec.within_seconds is None
    assert spec.out_alias == "m"


def test_parse_within_clause():
    spec = parse_match_recognize(
        _mr(BASE.replace("PATTERN (A B)", "PATTERN (A B)\n    WITHIN INTERVAL '1' HOUR"))
    )
    assert spec.within_seconds == 3600


def test_no_match_recognize_returns_none():
    assert parse_match_recognize("SELECT 1") is None


def test_quantifiers_rejected():
    # A* in a general (3+ position) pattern now routes to the per-key
    # NFA matcher; only non-self-contained DEFINEs stay rejected there
    spec_g = parse_match_recognize(
        _mr(
            BASE.replace("PATTERN (A B)", "PATTERN (A* B C)").replace(
                "DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'",
                "DEFINE A AS A.event_type = 'view', "
                "B AS B.event_type = 'click', C AS C.event_type = 'buy'",
            )
        )
    )
    assert spec_g.unbounded == {"A": 0} and spec_g.plus is None
    # A* B routes to the greedy matcher (zero-min run) even with
    # disjoint DEFINEs — the islands rewrite cannot key an empty run
    spec0 = parse_match_recognize(
        _mr(BASE.replace("PATTERN (A B)", "PATTERN (A* B)"))
    )
    assert spec0.plus == ("A", "B", 0) and spec0.plus_overlap
    # A+ with NON-disjoint DEFINEs parses and flags the overlap path
    # (lowered by the applyInPandas matcher — test_overlap_lowering_*)
    spec = parse_match_recognize(
        _mr(
            BASE.replace("PATTERN (A B)", "PATTERN (A+ B)").replace(
                "DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'",
                "DEFINE A AS A.value > 1, B AS B.value > 0",
            )
        )
    )
    assert spec.plus is not None and spec.plus_overlap
    # ...while disjoint eq-literal DEFINEs keep the windowed lowering
    spec2 = parse_match_recognize(
        _mr(BASE.replace("PATTERN (A B)", "PATTERN (A+ B)"))
    )
    assert spec2.plus is not None and not spec2.plus_overlap


def test_skip_past_last_nondisjoint_takes_selection_pass():
    body = BASE.replace(
        "DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'",
        "DEFINE A AS A.value > 1, B AS B.value > 2",
    )
    # non-disjoint DEFINEs + SKIP PAST LAST ROW: candidates may overlap,
    # so the lowering adds the per-key greedy selection pass
    spec_sp = parse_match_recognize(_mr(body))
    assert spec_sp.skip_past_last and spec_sp.skip_filter
    # same predicates under SKIP TO NEXT ROW: overlap allowed, no filter
    spec = parse_match_recognize(
        _mr(body.replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW"))
    )
    assert not spec.skip_past_last and not spec.skip_filter
    # disjoint eq-literal DEFINEs + no quantifier: matches cannot
    # overlap — the LEAD rewrite stays filter-free
    spec_dj = parse_match_recognize(_mr(BASE))
    assert spec_dj.skip_past_last and not spec_dj.skip_filter


def test_equal_valued_literals_are_not_disjoint():
    """Numeric DEFINE literals compare by value and never mix with
    quoted ones: ``1`` / ``01`` / ``1.0`` are one value, so an A+ B run
    over them takes the overlap matcher and a plain A B the selection
    pass. Given the column types, the literals must also be of the
    column's kind (Spark casts ``'01'`` to 1 on an int column)."""
    from training_flink_sql_cc_src_spark.plans.match_recognize import (
        _provably_disjoint,
        _settle_skip_paths,
    )

    def spec(pattern, a, b, col_types=None):
        parsed = parse_match_recognize(
            _mr(
                BASE.replace("PATTERN (A B)", f"PATTERN ({pattern})").replace(
                    "DEFINE A AS A.event_type = 'view', "
                    "B AS B.event_type = 'click'",
                    f"DEFINE A AS A.value = {a}, B AS B.value = {b}",
                )
            )
        )
        if col_types is not None:
            # the lowering re-decides with the source schema
            _settle_skip_paths(parsed, col_types)
        return parsed

    for a, b, types in (
        ("1", "01", None),
        ("1", "1.0", None),
        ("1", "'2'", None),
        # Spark casts both quoted literals to the int 1
        ("'1'", "'01'", {"value": "int"}),
    ):
        assert spec("A+ B", a, b, types).plus_overlap, (a, b)
        assert spec("A B", a, b, types).skip_filter, (a, b)
    assert not spec("A+ B", "1", "2").plus_overlap
    typed = spec("A B", "'1'", "'01'")
    assert _provably_disjoint(typed)
    assert _provably_disjoint(typed, {"value": "string"})
    assert not _provably_disjoint(typed, {"value": "int"})
    numeric = spec("A B", "1", "2.5")
    assert _provably_disjoint(numeric, {"value": "decimal(10,2)"})
    assert not _provably_disjoint(numeric, {"value": "string"})


def test_typed_literal_spellings_match_batch(spark):
    """On an int column Spark casts ``'01'`` to 1, so A.v = '1' and
    B.v = '01' describe the same rows as the unquoted 1 / 1: both
    spellings must lower to the same matches (the overlap matcher),
    never to the disjoint gaps-and-islands path."""
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate([1, 1, 1, 2])],
        "k int, ts int, v int",
    ).createOrReplaceTempView("typed_lit")
    router = StatementRouter(spark)

    def rows(a, b, pattern, skip):
        return sorted(
            tuple(r)
            for r in router.execute(
                f"""
                SELECT k, s, e FROM typed_lit
                MATCH_RECOGNIZE (
                    PARTITION BY k ORDER BY ts
                    MEASURES FIRST(A.ts) AS s, LAST(B.ts) AS e
                    ONE ROW PER MATCH
                    AFTER MATCH {skip}
                    PATTERN ({pattern})
                    DEFINE A AS A.v = {a}, B AS B.v = {b}
                )
                """
            ).collect()
        )

    for pattern, skip in (
        ("A+ B", "SKIP TO NEXT ROW"),
        ("A B", "SKIP PAST LAST ROW"),
    ):
        plain = rows("1", "1", pattern, skip)
        assert plain, pattern
        assert rows("'1'", "'01'", pattern, skip) == plain, pattern
    assert rows("1", "1", "A+ B", "SKIP TO NEXT ROW") == [(1, 0, 2), (1, 1, 2)]


def test_cross_row_define_parses_and_run_shape_guards():
    # cross-variable refs parse for bounded patterns (B sees A's last
    # matched row — test_cross_variable_define_* exercise the semantics)
    spec = parse_match_recognize(
        _mr(
            BASE.replace(
                "B AS B.event_type = 'click'",
                "B AS B.ts > A.ts",
            ).replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
        )
    )
    assert spec.defines["B"] == "B.ts > A.ts"
    # inside the unbounded run shape, a SIMPLE cross comparison now
    # re-routes through the general NFA (unbounded dict, plus cleared)
    spec_r = parse_match_recognize(
        _mr(
            BASE.replace("PATTERN (A B)", "PATTERN (A+ B)")
            .replace(
                "B AS B.event_type = 'click'",
                "B AS B.ts > A.ts",
            )
            .replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
        )
    )
    assert spec_r.plus is None and spec_r.unbounded == {"A": 1}
    # ...while a RICHER cross expression stays rejected there
    with pytest.raises(UnsupportedPatternError, match="self-contained"):
        parse_match_recognize(
            _mr(
                BASE.replace("PATTERN (A B)", "PATTERN (A+ B)")
                .replace(
                    "B AS B.event_type = 'click'",
                    "B AS B.ts > A.ts + INTERVAL 1 HOUR",
                )
                .replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
            )
        )


def test_all_rows_per_match_parses_and_guards():
    spec = parse_match_recognize(
        _mr(BASE.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH"))
    )
    assert spec.all_rows
    # ALL ROWS + quantifier parses (variable-length explode lowering)
    spec_q = parse_match_recognize(
        _mr(
            BASE.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
            .replace("PATTERN (A B)", "PATTERN (A{1,2} B)")
            .replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
        )
    )
    assert spec_q.all_rows and spec_q.quants == {"A": (1, 2)}
    # WITH UNMATCHED ROWS parses under ALL ROWS; requires it otherwise
    spec2 = parse_match_recognize(
        _mr(
            BASE.replace(
                "ONE ROW PER MATCH", "ALL ROWS PER MATCH WITH UNMATCHED ROWS"
            )
        )
    )
    assert spec2.all_rows and spec2.with_unmatched
    with pytest.raises(UnsupportedPatternError, match="requires ALL ROWS"):
        parse_match_recognize(
            _mr(
                BASE.replace(
                    "ONE ROW PER MATCH",
                    "ONE ROW PER MATCH WITH UNMATCHED ROWS",
                )
            )
        )


def test_all_rows_with_unmatched(spark):
    """WITH UNMATCHED ROWS: rows covered by no match emit once with NULL
    measures; matched rows keep their per-match output."""
    rows = [
        (1, 1, "view", 1.0), (1, 2, "click", 2.0),  # match covers 1-2
        (1, 3, "other", 3.0),                        # unmatched
        (2, 1, "click", 4.0),                        # unmatched
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_unm")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, seq, cls, a_v FROM __mr_unm
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.v AS a_v, CLASSIFIER() AS cls
            ALL ROWS PER MATCH WITH UNMATCHED ROWS
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click'
        )
        """
    ).collect()
    assert sorted(
        (r.user_id, r.seq, r.cls, r.a_v) for r in got
    ) == [
        (1, 1, "A", 1.0),
        (1, 2, "B", 1.0),
        (1, 3, None, None),
        (2, 1, None, None),
    ]


def test_all_rows_per_match_emits_each_matched_row(spark):
    """ALL ROWS PER MATCH: every matched input row comes out, with
    RUNNING measure semantics (B.v is NULL on the A row) and
    CLASSIFIER() naming each row's variable."""
    rows = [
        (1, 1, "view", 10.0), (1, 2, "click", 20.0),  # match at seq 1-2
        (1, 3, "view", 30.0),                          # dangling A: no B
        (2, 1, "click", 40.0),                         # no match
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_allrows")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, seq, cls, a_v, b_v FROM __mr_allrows
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.v AS a_v, B.v AS b_v, CLASSIFIER() AS cls
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click'
        )
        """
    ).collect()
    assert sorted((r.user_id, r.seq, r.cls, r.a_v, r.b_v) for r in got) == [
        (1, 1, "A", 10.0, None),   # running: B not yet matched
        (1, 2, "B", 10.0, 20.0),
    ]


def test_three_step_lowering_matches_lead_chain(spark, sf_small):
    """PATTERN (A B C) over the real events fixture == a hand-built
    double-LEAD query (same partition/order/predicates)."""
    from training_flink_sql_cc_src_spark.queries._util import t

    t(spark, sf_small, "events").createOrReplaceTempView("__mr_t3")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, CAST(a_ts AS LONG) AS a_e, CAST(c_ts AS LONG) AS c_e
        FROM __mr_t3
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, C.ts AS c_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B C)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click',
                   C AS C.event_type = 'purchase'
        )
        """
    )
    want = spark.sql(
        """
        WITH seq AS (
            SELECT user_id, ts,
                   LEAD(event_type, 1) OVER w AS t1,
                   LEAD(event_type, 2) OVER w AS t2,
                   LEAD(ts, 2) OVER w AS ts2,
                   event_type
            FROM __mr_t3
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, CAST(ts AS LONG) AS a_e, CAST(ts2 AS LONG) AS c_e
        FROM seq
        WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
        """
    )
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() > 0 or want.count() == 0


def test_measure_var_not_in_pattern_rejected():
    with pytest.raises(UnsupportedPatternError, match="not in PATTERN"):
        parse_match_recognize(
            _mr(BASE.replace("B.ts AS b_ts", "Z.ts AS b_ts"))
        )


def test_order_by_desc_rejected_asc_stripped():
    with pytest.raises(UnsupportedPatternError, match="DESC"):
        parse_match_recognize(_mr(BASE.replace("ORDER BY ts,", "ORDER BY ts DESC,")))
    spec = parse_match_recognize(
        _mr(BASE.replace("ORDER BY ts, event_id", "ORDER BY ts ASC, event_id"))
    )
    assert spec.order_by == ["ts", "event_id"]


def test_foreign_qualifier_rejected():
    # X is neither a pattern variable nor the defining variable: reject at
    # parse time instead of a cryptic cannot-resolve later
    with pytest.raises(UnsupportedPatternError, match="outside the pattern"):
        parse_match_recognize(
            _mr(BASE.replace("B AS B.event_type = 'click'",
                             "B AS X.event_type = 'click'"))
        )


def test_unqualified_define_refs_bind_to_own_row(spark):
    """``B AS value > 2`` must evaluate ``value`` on B's row (Flink
    semantics), not the pattern-start row — the silent-wrong-answer bug
    the round-4 advice flagged."""
    rows = [
        # user 1: A-row value=10 (passes >5), B-row value=7 (passes >2)
        (1, 1, 10.0), (1, 2, 7.0),
        # user 2: A-row value=10, B-row value=1 — B fails IF evaluated on
        # its own row; would pass if (wrongly) evaluated on the start row
        (2, 1, 10.0), (2, 2, 1.0),
    ]
    spark.createDataFrame(rows, "user_id int, ts int, value double") \
        .createOrReplaceTempView("__mr_uq")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, a_v, b_v FROM __mr_uq
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES A.value AS a_v, B.value AS b_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B)
            DEFINE A AS value > 5, B AS value > 2
        )
        """
    ).collect()
    assert [(r.user_id, r.a_v, r.b_v) for r in sorted(got)] == [(1, 10.0, 7.0)]


def test_quantifier_parse_and_guards():
    q = BASE.replace("PATTERN (A B)", "PATTERN (A{1,3} B)").replace(
        "SKIP PAST LAST ROW", "SKIP TO NEXT ROW"
    )
    spec = parse_match_recognize(_mr(q))
    assert spec.quant == ("A", 1, 3) and spec.pattern == ["A", "B"]
    # exact-count form
    spec2 = parse_match_recognize(
        _mr(q.replace("PATTERN (A{1,3} B)", "PATTERN (A{2} B)"))
    )
    assert spec2.quant == ("A", 2, 2)
    # SKIP PAST LAST ROW + quantifier routes through the candidate
    # selection pass (overlapping per-start greedy matches)
    spec_sp = parse_match_recognize(
        _mr(BASE.replace("PATTERN (A B)", "PATTERN (A{1,3} B)"))
    )
    assert spec_sp.skip_filter and spec_sp.skip_past_last
    # {0,m} parses (zero-length variant); A? sugars to {0,1}
    spec0 = parse_match_recognize(
        _mr(q.replace("PATTERN (A{1,3} B)", "PATTERN (A{0,3} B)"))
    )
    assert spec0.quants == {"A": (0, 3)}
    spec_opt = parse_match_recognize(
        _mr(q.replace("PATTERN (A{1,3} B)", "PATTERN (A? B)"))
    )
    assert spec_opt.quants == {"A": (0, 1)}
    # inverted/over-wide bounds are out of the lowered range
    for bad in ("A{3,2}", "A{1,9}", "A{0,0}"):
        with pytest.raises(UnsupportedPatternError, match="bounds"):
            parse_match_recognize(
                _mr(q.replace("PATTERN (A{1,3} B)", f"PATTERN ({bad} B)"))
            )
    # multiple quantified variables compose (cross-product variants)
    spec_multi = parse_match_recognize(
        _mr(q.replace("PATTERN (A{1,3} B)", "PATTERN (A{1,3} B{1,2})"))
    )
    assert spec_multi.quants == {"A": (1, 3), "B": (1, 2)}
    # ...past the 64-variant / 12-row LEAD-chain budget the parse
    # re-routes through the generator-NFA AST instead of raising
    # (round 11 — semantics property-tested by
    # test_wide_bounded_pattern_reroutes_to_nfa and the wide fuzz case)
    spec_wide = parse_match_recognize(
        _mr(
            q.replace(
                "PATTERN (A{1,3} B)", "PATTERN (A{1,8} B{1,8} C{1,8})"
            ).replace(
                "DEFINE A AS A.event_type = 'view', "
                "B AS B.event_type = 'click'",
                "DEFINE A AS A.event_type = 'view', "
                "B AS B.event_type = 'click', "
                "C AS C.event_type = 'buy'",
            )
        )
    )
    assert spec_wide.pattern_ast is not None and not spec_wide.quants
    # an all-optional pattern can match empty -> rejected
    with pytest.raises(UnsupportedPatternError, match="EMPTY"):
        parse_match_recognize(
            _mr(q.replace("PATTERN (A{1,3} B)", "PATTERN (A? B{0,2})"))
        )


def test_quantifier_greedy_and_backtracking(spark):
    """PATTERN (A{1,3} B): greedy picks the LONGEST variant per start row;
    the WITHIN bound can force backtracking to a shorter variant."""
    rows = [
        # user 1: click click purchase — start@1 greedily maps TWO clicks
        # (last A = ts 2); start@2 maps one click
        (1, 1, "click"), (1, 2, "click"), (1, 3, "purchase"),
        # user 2: click view purchase — adjacency broken, no match
        (2, 1, "click"), (2, 2, "view"), (2, 3, "purchase"),
        # user 3: three clicks then purchase beyond any WITHIN bound we
        # don't set here — plain greedy takes all three (start@1),
        # two (start@2), one (start@3)
        (3, 1, "click"), (3, 2, "click"), (3, 3, "click"), (3, 4, "purchase"),
    ]
    spark.createDataFrame(rows, "user_id int, seq int, event_type string") \
        .createOrReplaceTempView("__mr_greedy")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, last_a, b_seq FROM __mr_greedy
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS last_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,3} B)
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
        """
    ).collect()
    assert sorted((r.user_id, r.last_a, r.b_seq) for r in got) == [
        (1, 2, 3),  # greedy: both clicks, last A = seq 2
        (1, 2, 3),  # start@2: one click (same last A/B row)
        (3, 3, 4), (3, 3, 4), (3, 3, 4),
    ]


def test_quantifier_within_backtracks(spark):
    """Greedy 3-click variant violates WITHIN; the 2-click variant (later
    start) still matches — the when-chain must fall through per start."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [  # clicks at 0, 90, 100 min; purchase at 110 min
        (1, at(0), "click"), (1, at(90), "click"),
        (1, at(100), "click"), (1, at(110), "purchase"),
    ]
    spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string") \
        .createOrReplaceTempView("__mr_within")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, CAST(last_a AS LONG) AS la, CAST(b_ts AS LONG) AS b
        FROM __mr_within
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES A.ts AS last_a, B.ts AS b_ts
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,3} B)
            WITHIN INTERVAL '1' HOUR
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
        """
    ).collect()
    # start@0min: even the 1-click variant's B (110min) violates WITHIN 1h
    # → no match; start@90: clicks 90,100 + purchase 110 all within 1h of
    # 90 → greedy 2-click match; start@100: 1-click match
    epoch = lambda m: int((t0 + dt.timedelta(minutes=m)).timestamp())
    assert sorted((r.user_id, r.la, r.b) for r in got) == [
        (1, epoch(100), epoch(110)),
        (1, epoch(100), epoch(110)),
    ]


def test_prev_navigation_and_implicit_define(spark):
    """PREV(B.col) in DEFINE resolves to the physically preceding row of
    the adjacent sequence (here the A row); a variable without a DEFINE
    matches any row (Flink's implicit TRUE)."""
    rows = [
        (1, 1, 5.0), (1, 2, 9.0),   # rising pair: match at start 1
        (2, 1, 5.0), (2, 2, 3.0),   # falling: no match
    ]
    spark.createDataFrame(rows, "user_id int, seq int, value double") \
        .createOrReplaceTempView("__mr_prev")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, a_v, b_v FROM __mr_prev
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.value AS a_v, B.value AS b_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B)
            DEFINE B AS B.value > PREV(B.value)
        )
        """
    ).collect()
    assert sorted((r.user_id, r.a_v, r.b_v) for r in got) == [(1, 5.0, 9.0)]


def test_match_number_and_final_measures(spark):
    """MATCH_NUMBER() numbers matches sequentially per partition;
    FINAL Var.col under ALL ROWS PER MATCH emits the complete match's
    value on every row (vs RUNNING's NULL-until-reached)."""
    rows = [
        (1, 1, "view", 1.0), (1, 2, "click", 2.0),   # match 1
        (1, 3, "view", 3.0), (1, 4, "click", 4.0),   # match 2
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_mn")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, seq, mn, b_run, b_fin FROM __mr_mn
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES MATCH_NUMBER() AS mn,
                     RUNNING B.v AS b_run,
                     FINAL B.v AS b_fin
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.event_type = 'view',
                   B AS B.event_type = 'click'
        )
        """
    ).collect()
    assert sorted((r.user_id, r.seq, r.mn, r.b_run, r.b_fin) for r in got) == [
        (1, 1, 1, None, 2.0),  # A row of match 1: RUNNING null, FINAL 2.0
        (1, 2, 1, 2.0, 2.0),
        (1, 3, 2, None, 4.0),
        (1, 4, 2, 4.0, 4.0),
    ]


def test_alternation_group(spark):
    """PATTERN (A (B|C)): one alternation group lowers as variant
    expansion; leftmost alternative wins when both match (Flink's
    declaration-order preference); the unchosen variable's measure is
    NULL."""
    spec = parse_match_recognize(
        _mr(
            BASE.replace("PATTERN (A B)", "PATTERN (A (B|C))")
            .replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
            .replace(
                "DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'",
                "DEFINE A AS A.event_type = 'view', "
                "B AS B.event_type = 'click', C AS C.event_type = 'error'",
            )
        )
    )
    assert spec.positions == [["A"], ["B", "C"]]

    rows = [
        (1, 1, "start", 9.0), (1, 2, "both", 5.0),   # B and C both true → B
        (2, 1, "start", 9.0), (2, 2, "conly", 0.5),  # only C true
        (3, 1, "start", 9.0), (3, 2, "none", -1.0),  # neither → no match
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_alt")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, cls, b_v, c_v FROM __mr_alt
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls, B.v AS b_v, C.v AS c_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A (B|C))
            DEFINE A AS A.event_type = 'start',
                   B AS B.v > 1,
                   C AS C.v > 0
        )
        """
    ).collect()
    assert sorted((r.user_id, r.cls, r.b_v, r.c_v) for r in got) == [
        (1, "B", 5.0, None),   # leftmost preference, C measures NULL
        (2, "C", None, 0.5),
    ]
    # quantifier + alternation compose (cross-product variants)
    spec_qa = parse_match_recognize(
        _mr(
            BASE.replace("PATTERN (A B)", "PATTERN (A{1,2} (B|C))")
            .replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
        )
    )
    assert spec_qa.quants == {"A": (1, 2)}
    assert spec_qa.positions == [["A"], ["B", "C"]]
    # multiple alternation groups compose too
    spec_aa = parse_match_recognize(
        _mr(
            BASE.replace("PATTERN (A B)", "PATTERN ((A|D) (B|C))")
            .replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
        )
    )
    assert spec_aa.positions == [["A", "D"], ["B", "C"]]


def test_plus_run_pattern(spark):
    """PATTERN (A+ B) with disjoint DEFINEs: greedy consumes the maximal
    consecutive A-run, then the next row must be B. SKIP TO NEXT ROW
    emits one match per A-row of a qualifying run (A.v = run END, the
    last-mapped-row default); SKIP PAST LAST ROW keeps only the run-head
    start. An interrupted run does not match."""
    rows = [
        (1, 1, "click", 1.0), (1, 2, "click", 2.0), (1, 3, "purchase", 9.0),
        (2, 1, "click", 1.0), (2, 2, "view", 0.0),
        (2, 3, "click", 3.0), (2, 4, "purchase", 8.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_plus")
    q = """
        SELECT user_id, last_a, b_seq FROM __mr_plus
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS last_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (A+ B)
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
    """
    got = StatementRouter(spark).execute(q.format(skip="SKIP TO NEXT ROW")).collect()
    assert sorted((r.user_id, r.last_a, r.b_seq) for r in got) == [
        (1, 2, 3), (1, 2, 3),   # starts at seq 1 and 2, same run end
        (2, 3, 4),              # the run at seq 1 is broken by 'view'
    ]
    got2 = StatementRouter(spark).execute(q.format(skip="SKIP PAST LAST ROW")).collect()
    assert sorted((r.user_id, r.last_a, r.b_seq) for r in got2) == [
        (1, 2, 3), (2, 3, 4),   # run-head starts only
    ]


def test_lower_nfa_rejects_plus_spec(spark):
    """The NFA lowering reads the pattern from spec.unbounded; a spec
    still carrying the A+ B fast-path ``spec.plus`` would lower the run
    as a single row and return too few matches, so it must raise."""
    from training_flink_sql_cc_src_spark.plans.match_recognize import _lower_nfa

    spark.createDataFrame(
        [(1, 1, "click"), (1, 2, "click"), (1, 3, "purchase")],
        "user_id int, seq int, event_type string",
    ).createOrReplaceTempView("__mr_nfa_plus")
    spec = parse_match_recognize(
        """
        SELECT * FROM __mr_nfa_plus MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        ) AS m
        """
    )
    assert spec.plus is not None
    with pytest.raises(ValueError, match="spec.unbounded"):
        _lower_nfa(spark, spec)


def test_plus_skip_past_within_prunes_timed_out_head(spark):
    """A+ B with SKIP PAST LAST ROW + WITHIN: when the maximal run's HEAD
    start violates the WITHIN bound, Flink prunes that timed-out partial
    match and still emits the match from the earliest later start in the
    run that satisfies WITHIN — the run must not silently vanish."""
    rows = [
        (1, "2024-01-01 00:00:00", "click", 1),
        (1, "2024-01-01 00:30:00", "click", 2),
        (1, "2024-01-01 00:40:00", "purchase", 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts_s string, event_type string, seq int"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "seq")
    df.createOrReplaceTempView("__mr_plus_within")
    q = """
        SELECT user_id, first_a, b_seq FROM __mr_plus_within
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            WITHIN INTERVAL '20' MINUTE
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
    """
    got = StatementRouter(spark).execute(q).collect()
    # head start (00:00) -> B at 00:40 violates WITHIN 20min; the start at
    # 00:30 is inside the bound and must be the emitted match
    assert [(r.user_id, r.first_a, r.b_seq) for r in got] == [(1, 2, 3)]


def test_first_last_measures(spark):
    """FIRST(Var.col)/LAST(Var.col) on a quantified variable navigate to
    the first/last mapped row (bare Var.col = LAST, the Flink default);
    on A+ B, FIRST(A) is the match start."""
    rows = [(1, 1, "click"), (1, 2, "click"), (1, 3, "purchase")]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_fl")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, fa, la, ba FROM __mr_fl
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS fa, LAST(A.seq) AS la, A.seq AS ba
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,2} B)
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
        """
    ).collect()
    # start@1: greedy 2 clicks -> FIRST=1, LAST=bare=2; start@2: 1 click
    assert sorted((r.user_id, r.fa, r.la, r.ba) for r in got) == [
        (1, 1, 2, 2), (1, 2, 2, 2),
    ]
    got2 = StatementRouter(spark).execute(
        """
        SELECT user_id, fa, la, b_seq FROM __mr_fl
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS fa, LAST(A.seq) AS la, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A+ B)
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
        """
    ).collect()
    assert sorted((r.user_id, r.fa, r.la, r.b_seq) for r in got2) == [
        (1, 1, 2, 3), (1, 2, 2, 3),
    ]


def test_min_run_pattern(spark):
    """PATTERN (A{2,} B): like A+ B but the start must have at least 2
    A-rows remaining in its run — starts too close to the run end drop."""
    rows = [
        (1, 1, "click"), (1, 2, "click"), (1, 3, "click"), (1, 4, "purchase"),
        (2, 1, "click"), (2, 2, "purchase"),  # run of 1: no match
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_minrun")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, last_a, b_seq FROM __mr_minrun
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS last_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{2,} B)
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
        """
    ).collect()
    # user 1: starts at seq 1 (3 A's) and seq 2 (2 A's) qualify; the
    # start at seq 3 has only 1 A remaining -> dropped; user 2's run of
    # one click cannot satisfy {2,}
    assert sorted((r.user_id, r.last_a, r.b_seq) for r in got) == [
        (1, 3, 4), (1, 3, 4),
    ]


def test_aggregate_measures(spark):
    """COUNT/SUM/AVG/MIN/MAX over a mapped variable: per-variant
    expressions for bounded quantifiers, suffix-window aggregates for the
    unbounded run shape."""
    rows = [
        (1, 1, "click", 10.0), (1, 2, "click", 30.0), (1, 3, "purchase", 0.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_agg")
    body = """
        SELECT user_id, n_a, sum_v, avg_v, min_v, max_v FROM __mr_agg
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES COUNT(A.*) AS n_a, SUM(A.v) AS sum_v, AVG(A.v) AS avg_v,
                     MIN(A.v) AS min_v, MAX(A.v) AS max_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ({pat})
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
    """
    for pat in ("A{1,3} B", "A+ B"):
        got = StatementRouter(spark).execute(body.format(pat=pat)).collect()
        # start@1: A maps seq 1,2 -> count 2, sum 40, avg 20, min 10, max 30
        # start@2: A maps seq 2   -> count 1, sum 30, avg 30, min 30, max 30
        assert sorted(
            (r.user_id, r.n_a, r.sum_v, r.avg_v, r.min_v, r.max_v)
            for r in got
        ) == [
            (1, 1, 30.0, 30.0, 30.0, 30.0),
            (1, 2, 40.0, 20.0, 10.0, 30.0),
        ], pat
    # aggregates under ALL ROWS parse (running prefix aggregates)
    spec_ra = parse_match_recognize(
        _mr(
            BASE.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
            .replace("A.ts AS a_ts", "SUM(A.ts) AS a_ts")
        )
    )
    assert spec_ra.all_rows and spec_ra.measure_agg == {"a_ts": "SUM"}


def test_aggregate_measures_null_semantics(spark):
    """SQL aggregate NULL semantics on BOTH lowering paths: NULL mapped
    values are skipped (not propagated), COUNT(Var.col) counts non-NULL
    only, AVG divides by the non-NULL count — so the bounded-variant
    expression path agrees with the A+ path's native window aggregates."""
    rows = [
        (1, 1, "click", 10.0), (1, 2, "click", None),
        (1, 3, "click", 30.0), (1, 4, "purchase", 0.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_agg_null")
    body = """
        SELECT user_id, n_star, n_v, sum_v, avg_v, n_b FROM __mr_agg_null
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES COUNT(A.*) AS n_star, COUNT(A.v) AS n_v,
                     SUM(A.v) AS sum_v, AVG(A.v) AS avg_v,
                     COUNT(B.v) AS n_b
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ({pat})
            DEFINE A AS A.event_type = 'click',
                   B AS B.event_type = 'purchase'
        )
    """
    # start@1 maps A=seq 1,2,3: COUNT(*)=3, COUNT(v)=2 (one NULL),
    # SUM=40 (not NULL), AVG=20 (sum/non-null-count, not /3)
    expect = [
        (1, 1, 1, 30.0, 30.0, 1),          # start@3
        (1, 2, 1, 30.0, 30.0, 1),          # start@2 (v NULL at seq 2)
        (1, 3, 2, 40.0, 20.0, 1),          # start@1
    ]
    for pat in ("A{1,3} B", "A+ B"):
        got = StatementRouter(spark).execute(body.format(pat=pat)).collect()
        assert sorted(
            (r.user_id, r.n_star, r.n_v, r.sum_v, r.avg_v, r.n_b)
            for r in got
        ) == expect, pat
    # all mapped values NULL: SUM/AVG -> NULL, COUNT(col) -> 0
    rows2 = [(1, 1, "click", None), (1, 2, "purchase", None)]
    spark.createDataFrame(
        rows2, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_agg_null")
    for pat in ("A{1,3} B", "A+ B"):
        got = StatementRouter(spark).execute(body.format(pat=pat)).collect()
        assert [
            (r.user_id, r.n_star, r.n_v, r.sum_v, r.avg_v, r.n_b)
            for r in got
        ] == [(1, 1, 0, None, None, 0)], pat


def test_prev_guards():
    base = BASE.replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
    # PREV over another variable needs an NFA
    with pytest.raises(UnsupportedPatternError, match="another variable"):
        parse_match_recognize(
            _mr(base.replace("B AS B.event_type = 'click'",
                             "B AS B.value > PREV(A.value)"))
        )
    # malformed PREV (bare column) rejected at parse, not at F.expr
    with pytest.raises(UnsupportedPatternError, match="form"):
        parse_match_recognize(
            _mr(base.replace("B AS B.event_type = 'click'",
                             "B AS B.value > PREV(value)"))
        )
    # PREV reaching before the match start is PHYSICAL navigation: with
    # a nav_needs accumulator it becomes a scalar lag helper column;
    # without one (legacy run-shape call sites) it still raises
    spec = parse_match_recognize(
        _mr(base.replace("A AS A.event_type = 'view'",
                         "A AS A.value > PREV(A.value)"))
    )
    from training_flink_sql_cc_src_spark.plans.match_recognize import (
        _pred_at_offset,
    )
    with pytest.raises(UnsupportedPatternError, match="outside the matched"):
        _pred_at_offset(spec.defines["A"], "A", 0, ["value"])
    needs: set = set()
    text = _pred_at_offset(
        spec.defines["A"], "A", 0, ["value"], nav_needs=needs
    )
    assert needs == {("value", -1)} and "__mr_nav_value_m1" in text


def test_unsupported_raises_instructive_router_error(spark):
    spark.range(1).selectExpr(
        "CAST(id AS STRING) AS event_type", "id AS user_id", "id AS ts"
    ).createOrReplaceTempView("__mr_bad")
    # partition anchors (^ / $) stay outside the parsed subset
    with pytest.raises(NotImplementedError, match="applyInPandasWithState"):
        StatementRouter(spark).execute(
            """
            SELECT * FROM __mr_bad
            MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY ts
                MEASURES A.ts AS a_ts
                PATTERN (^ A B)
                DEFINE A AS A.event_type = 'x', B AS B.event_type = 'y'
            )
            """
        )
    # simple cross comparisons (r9), rich arithmetic (r12), and
    # aggregates over mapped rows (r12) all lower now; UNKNOWN
    # functions stay rejected with the instructive error
    with pytest.raises(NotImplementedError, match="self-contained"):
        StatementRouter(spark).execute(
            """
            SELECT * FROM __mr_bad
            MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY ts
                MEASURES A.ts AS a_ts
                PATTERN (A B+ C)
                DEFINE A AS A.event_type = 'x', B AS B.ts > SQRT(A.ts),
                       C AS C.event_type = 'z'
            )
            """
        )


# ---------------------------------------------------------------- property
# Adversarial check of the variant/island lowerings against a direct
# Python reference on random sequences (single partition, adjacency and
# greedy/backtracking semantics exercised at every boundary).

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

TYPES = st.lists(st.sampled_from(["a", "b", "x"]), min_size=2, max_size=18)


def _ref_quant(types, lo, hi):
    """Greedy A{lo,hi} B per start row (longest variant first)."""
    out = []
    n = len(types)
    for s in range(n):
        for c in range(hi, lo - 1, -1):
            if s + c >= n:
                continue
            if all(types[s + i] == "a" for i in range(c)) and types[s + c] == "b":
                out.append((s + c - 1, s + c))  # (last A pos, B pos)
                break
    return sorted(out)


def _ref_plus(types, min_run=1):
    """Maximal-run A+/A{n,} B per start row."""
    out = []
    n = len(types)
    for s in range(n):
        if types[s] != "a":
            continue
        e = s
        while e + 1 < n and types[e + 1] == "a":
            e += 1
        if e + 1 < n and types[e + 1] == "b" and (e - s + 1) >= min_run:
            out.append((e, e + 1))
    return sorted(out)


def test_overlap_within_bound(spark):
    """Overlapping A+ B with WITHIN: the greedy end is the largest B-row
    inside BOTH the A-run and the time horizon; under SKIP PAST LAST ROW
    a timed-out head start falls through to the next qualifying start."""
    rows = [
        (1, "2024-01-01 00:00:00", 25.0, 1),   # A
        (1, "2024-01-01 00:05:00", 150.0, 2),  # A+B
        (1, "2024-01-01 00:50:00", 130.0, 3),  # A+B (outside 30m of seq1)
        (1, "2024-01-01 00:55:00", 5.0, 4),    # neither
    ]
    spark.createDataFrame(
        rows, "user_id int, ts_s string, v double, seq int"
    ).selectExpr(
        "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "v", "seq"
    ).createOrReplaceTempView("__mr_ov_within")
    q = """
        SELECT first_a, b_seq FROM __mr_ov_within
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (A+ B)
            WITHIN INTERVAL '30' MINUTE
            DEFINE A AS A.v > 20, B AS B.v > 100
        )
    """
    got = StatementRouter(spark).execute(
        q.format(skip="SKIP TO NEXT ROW")
    ).collect()
    # start@1: horizon 00:30 caps the end at seq2 (seq3 is greedy-largest
    # but outside); start@2: seq3 inside 30m of 00:05? no (00:50 > 00:35)
    # -> no B after seq2 within horizon... seq2 itself cannot be its own
    # end (k > i), so start@2 has no match. start@3: no B after it.
    assert sorted((r.first_a, r.b_seq) for r in got) == [(1, 2)]
    got2 = StatementRouter(spark).execute(
        q.format(skip="SKIP PAST LAST ROW")
    ).collect()
    assert sorted((r.first_a, r.b_seq) for r in got2) == [(1, 2)]


def _ref_overlap_nfa(vals, a_fn, b_fn, skip_past, min_run=1):
    """Direct greedy-backtracking NFA for PATTERN (A+ B) — the textbook
    recursion (prefer extending A, backtrack to the latest possible B),
    deliberately independent of the lowering's max-k closed form."""
    n = len(vals)

    def match_from(s):
        def dfs(i, na):
            if i >= n:
                return None
            if a_fn(vals[i]):  # greedy: extend the run first
                r = dfs(i + 1, na + 1)
                if r is not None:
                    return r
            if b_fn(vals[i]) and na >= min_run:  # backtrack: close here
                return i
            return None

        k = dfs(s + 1, 1) if a_fn(vals[s]) else None
        if k is None and min_run == 0 and b_fn(vals[s]):
            k = s  # A* / A{0,}: the empty run, B at the start row itself
        return k

    out = []
    if skip_past:
        s = 0
        while s < n:
            k = match_from(s)
            if k is not None:
                out.append((s, k))
                s = k + 1
            else:
                s += 1
    else:
        for s in range(n):
            k = match_from(s)
            if k is not None:
                out.append((s, k))
    return sorted(out)


_OVERLAP_PREDS = [
    # (A sql, B sql, A py, B py): B subset of A, and partial overlap
    ("A.v >= 2", "B.v >= 4", lambda v: v >= 2, lambda v: v >= 4),
    ("A.v % 2 = 0", "B.v >= 3", lambda v: v % 2 == 0, lambda v: v >= 3),
]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(0, 5), min_size=2, max_size=16),
    pred=st.sampled_from([0, 1]),
    skip_past=st.booleans(),
    min_run=st.sampled_from([0, 1, 2]),
)
def test_overlap_lowering_matches_nfa_reference(
    spark, vals, pred, skip_past, min_run
):
    """The applyInPandas overlap matcher == a direct backtracking NFA, for
    predicates where a row may satisfy A only, B only, both, or neither,
    under both AFTER MATCH modes and A* / A+ / A{2,} run bounds."""
    a_sql, b_sql, a_py, b_py = _OVERLAP_PREDS[pred]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v int"
    ).createOrReplaceTempView("__mr_ovprop")
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    pat = {0: "A* B", 1: "A+ B"}.get(min_run, "A{%d,} B" % min_run)
    got = StatementRouter(spark).execute(
        f"""
        SELECT first_a, b_seq, n_a FROM __mr_ovprop
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq,
                     COUNT(A.*) AS n_a
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN ({pat})
            DEFINE A AS {a_sql}, B AS {b_sql}
        )
        """
    ).collect()
    want = [
        (None if k == s else s, k, k - s)
        for s, k in _ref_overlap_nfa(vals, a_py, b_py, skip_past, min_run)
    ]
    assert (
        sorted(((r.first_a, r.b_seq, r.n_a) for r in got), key=str)
        == sorted(want, key=str)
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(types=TYPES, shape=st.sampled_from(["quant", "plus", "minrun"]))
def test_lowering_matches_python_reference(spark, types, shape):
    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_prop")
    pattern, ref = {
        "quant": ("A{1,3} B", lambda: _ref_quant(types, 1, 3)),
        "plus": ("A+ B", lambda: _ref_plus(types, 1)),
        "minrun": ("A{2,} B", lambda: _ref_plus(types, 2)),
    }[shape]
    got = StatementRouter(spark).execute(
        f"""
        SELECT last_a, b_seq FROM __mr_prop
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS last_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ({pattern})
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b'
        )
        """
    ).collect()
    assert sorted((r.last_a, r.b_seq) for r in got) == ref()


def _ref_skip_walk(cands: dict[int, int]) -> list[tuple[int, int]]:
    """NFA skip-past walk over per-start greedy candidates: explore
    starts ascending, emit a start's match, resume after its end."""
    out, last_end = [], -1
    for s in sorted(cands):
        if s > last_end:
            out.append((s, cands[s]))
            last_end = cands[s]
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(types=TYPES)
def test_skip_past_quantifier_matches_reference(spark, types):
    """SKIP PAST LAST ROW + A{1,3} B == greedy candidates (longest
    variant per start) filtered by the sequential NFA walk."""
    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_spq")
    got = StatementRouter(spark).execute(
        """
        SELECT first_a, b_seq FROM __mr_spq
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A{1,3} B)
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b'
        )
        """
    ).collect()
    n = len(types)
    cands: dict[int, int] = {}
    for s in range(n):
        for c in range(3, 0, -1):
            if (
                s + c < n
                and all(types[s + i] == "a" for i in range(c))
                and types[s + c] == "b"
            ):
                cands[s] = s + c
                break
    want = _ref_skip_walk(cands)
    assert sorted((r.first_a, r.b_seq) for r in got) == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=st.lists(st.integers(0, 5), min_size=2, max_size=16))
def test_skip_past_nondisjoint_matches_reference(spark, vals):
    """SKIP PAST LAST ROW + non-disjoint fixed-length A B (a row may
    satisfy both): candidate at s iff v[s]>=2 and v[s+1]>=4, then the
    sequential walk drops candidates starting inside an emitted match."""
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v int"
    ).createOrReplaceTempView("__mr_spn")
    got = StatementRouter(spark).execute(
        """
        SELECT a_seq, b_seq FROM __mr_spn
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B)
            DEFINE A AS A.v >= 2, B AS B.v >= 4
        )
        """
    ).collect()
    cands = {
        s: s + 1
        for s in range(len(vals) - 1)
        if vals[s] >= 2 and vals[s + 1] >= 4
    }
    want = _ref_skip_walk(cands)
    assert sorted((r.a_seq, r.b_seq) for r in got) == want


def test_optional_variable(spark):
    """PATTERN (A? B): the optional variable maps one row when possible
    (greedy), else zero; its measures are NULL for the zero-length
    variant. A bare 'b' row is a full match."""
    rows = [
        (1, 1, "a", 1.0), (1, 2, "b", 2.0),  # start@1: [A B]; start@2: [B]
        (2, 1, "b", 3.0),                     # zero-A match
        (3, 1, "a", 4.0),                     # no B -> no match
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_opt")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, a_seq, b_seq, n_a FROM __mr_opt
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, B.seq AS b_seq, COUNT(A.*) AS n_a
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A? B)
            DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'
        )
        """
    ).collect()
    assert sorted(
        ((r.user_id, r.a_seq, r.b_seq, r.n_a) for r in got), key=str
    ) == sorted([(1, None, 2, 0), (1, 1, 2, 1), (2, None, 1, 0)], key=str)


def test_zero_bounded_quantifier(spark):
    """PATTERN (A{0,2} B): greedy takes the longest A-prefix up to 2;
    starts with zero A rows match a bare B."""
    rows = [
        (1, 1, "a", 0.0), (1, 2, "a", 0.0), (1, 3, "a", 0.0),
        (1, 4, "b", 0.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_zb")
    got = StatementRouter(spark).execute(
        """
        SELECT first_a, b_seq, n_a FROM __mr_zb
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq,
                     COUNT(A.*) AS n_a
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{0,2} B)
            DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'
        )
        """
    ).collect()
    # start@1: a a a b -> needs A{0,2} adjacent to B: rows 1..2 then row 3
    # is 'a' not 'b' -> variant [A A B] fails at start 1 (row3!=b), variant
    # [A B] fails (row2!=b)... only starts 2 (A A B), 3 (A B), 4 (B) match
    assert sorted(((r.first_a, r.b_seq, r.n_a) for r in got), key=str) == sorted(
        [(2, 4, 2), (3, 4, 1), (None, 4, 0)], key=str
    )


def test_multiple_alternation_groups(spark):
    """PATTERN ((A|D) (B|C)): two alternation groups cross-multiply into
    four variants; earlier positions dominate preference and the
    unchosen variables' measures are NULL."""
    rows = [
        (1, 1, "d", 1.0), (1, 2, "c", 2.0),
        (2, 1, "a", 3.0), (2, 2, "b", 4.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_malt")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, a_seq, d_seq, b_seq, c_seq FROM __mr_malt
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, D.seq AS d_seq,
                     B.seq AS b_seq, C.seq AS c_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ((A|D) (B|C))
            DEFINE A AS A.event_type = 'a', D AS D.event_type = 'd',
                   B AS B.event_type = 'b', C AS C.event_type = 'c'
        )
        """
    ).collect()
    assert sorted(
        (r.user_id, r.a_seq, r.d_seq, r.b_seq, r.c_seq) for r in got
    ) == [(1, None, 1, None, 2), (2, 1, None, 2, None)]


def test_quantifier_with_alternation(spark):
    """PATTERN (A{1,2} (B|C)): a quantifier and an alternation compose;
    greedy run length dominates (earlier position), then leftmost
    alternative."""
    rows = [
        (1, 1, "a", 0.0), (1, 2, "a", 0.0), (1, 3, "c", 0.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_qalt")
    got = StatementRouter(spark).execute(
        """
        SELECT first_a, n_a, cls FROM __mr_qalt
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, COUNT(A.*) AS n_a,
                     CLASSIFIER() AS cls
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,2} (B|C))
            DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b',
                   C AS C.event_type = 'c'
        )
        """
    ).collect()
    assert sorted((r.first_a, r.n_a, r.cls) for r in got) == [
        (1, 2, "C"),  # greedy 2 a's then c
        (2, 1, "C"),
    ]


def test_all_rows_with_quantifier(spark):
    """ALL ROWS PER MATCH with A{1,2} B: each match emits its OWN
    variant's number of rows; CLASSIFIER names the per-row variable and
    a RUNNING measure on the quantified variable tracks its last mapped
    row so far."""
    rows = [
        (1, 1, "a", 10.0), (1, 2, "a", 20.0), (1, 3, "b", 30.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_arq")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, seq, cls, run_a FROM __mr_arq
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls, RUNNING A.v AS run_a
            ALL ROWS PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,2} B)
            DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'
        )
        """
    ).collect()
    # start@1 greedy [A A B] -> 3 rows; start@2 [A B] -> 2 rows
    assert sorted((r.seq, r.cls, r.run_a) for r in got) == [
        (1, "A", 10.0),
        (2, "A", 20.0),  # start@1 row 2: last mapped A so far = 20
        (2, "A", 20.0),  # start@2 row 1
        (3, "B", 20.0),  # start@1 B row: A's final value carried
        (3, "B", 20.0),
    ]


def test_star_run_pattern(spark):
    """PATTERN (A* B): zero-or-more run — every B row matches (empty run
    fallback, A measures NULL); runs of A ending in B match greedily."""
    rows = [
        (1, 1, "a", 0.0), (1, 2, "a", 0.0), (1, 3, "b", 0.0),
        (1, 4, "b", 0.0), (1, 5, "x", 0.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_star")
    q = """
        SELECT first_a, b_seq, n_a FROM __mr_star
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq,
                     COUNT(A.*) AS n_a
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (A* B)
            DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'
        )
    """
    got = StatementRouter(spark).execute(
        q.format(skip="SKIP TO NEXT ROW")
    ).collect()
    # starts: 1 (aa b), 2 (a b), 3 (zero-A b), 4 (zero-A b)
    assert sorted(
        ((r.first_a, r.b_seq, r.n_a) for r in got), key=str
    ) == sorted([(1, 3, 2), (2, 3, 1), (None, 3, 0), (None, 4, 0)], key=str)
    got2 = StatementRouter(spark).execute(
        q.format(skip="SKIP PAST LAST ROW")
    ).collect()
    # greedy scan: rows 1-3 consumed; row 4 is a standalone zero-A match
    assert sorted(
        ((r.first_a, r.b_seq, r.n_a) for r in got2), key=str
    ) == sorted([(1, 3, 2), (None, 4, 0)], key=str)


# generic variant-expansion reference: first variant (in Flink preference
# order) whose predicates hold on adjacent rows starting at s, per start
_VARIANT_SHAPES = {
    # pattern, variants in preference order (as type-letter sequences),
    # SQL exprs for (start_seq, end_seq) over the per-var measures
    "opt": ("A? B", ["ab", "b"], "COALESCE(fa, sb)", "sb"),
    "zero2": ("A{0,2} B", ["aab", "ab", "b"], "COALESCE(fa, sb)", "sb"),
    "multi_alt": (
        "(A|D) (B|C)",
        ["ab", "ac", "db", "dc"],
        "COALESCE(fa, fd)",
        "COALESCE(sb, sc)",
    ),
    "quant_alt": (
        "A{1,2} (B|C)",
        ["aab", "aac", "ab", "ac"],
        "fa",
        "COALESCE(sb, sc)",
    ),
    "two_quant": ("A{1,2} B{1,2}", ["aabb", "aab", "abb", "ab"], "fa", "sb"),
}


def _ref_variant_matches(types, variants):
    out = []
    n = len(types)
    for s in range(n):
        for vs in variants:
            if s + len(vs) > n:
                continue
            if all(types[s + i] == ch for i, ch in enumerate(vs)):
                out.append((s, s + len(vs) - 1))
                break
    return sorted(out)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(st.sampled_from(["a", "b", "c", "d", "x"]),
                   min_size=2, max_size=14),
    shape=st.sampled_from(sorted(_VARIANT_SHAPES)),
)
def test_variant_shapes_match_python_reference(spark, types, shape):
    """Optional variables, zero-bounded quantifiers, multiple alternation
    groups, quantifier+alternation, and two quantifiers all lower to the
    same (start,end) match set as a direct first-preferred-variant
    reference on random sequences."""
    pattern, variants, start_sql, end_sql = _VARIANT_SHAPES[shape]
    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_vprop")
    pat_vars = sorted({ch.upper() for ch in "".join(variants)})
    measures = ", ".join(
        f"FIRST({v}.seq) AS f{v.lower()}, LAST({v}.seq) AS s{v.lower()}"
        for v in pat_vars
    )
    defines = ", ".join(
        f"{v} AS {v}.event_type = '{v.lower()}'" for v in pat_vars
    )
    got = StatementRouter(spark).execute(
        f"""
        SELECT {start_sql} AS s, {end_sql} AS e FROM __mr_vprop
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES {measures}
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ({pattern})
            DEFINE {defines}
        )
        """
    ).collect()
    assert sorted((r.s, r.e) for r in got) == _ref_variant_matches(
        types, variants
    )


def test_running_aggregates_all_rows(spark):
    """Aggregate MEASURES under ALL ROWS PER MATCH: RUNNING (default)
    aggregates the variable's mapped rows at-or-before each output row;
    FINAL shows the whole match's aggregate on every row."""
    rows = [
        (1, 1, "a", 10.0), (1, 2, "a", 20.0), (1, 3, "b", 5.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_ragg")
    got = StatementRouter(spark).execute(
        """
        SELECT seq, n_a, sum_a, fin_sum, max_a FROM __mr_ragg
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES COUNT(A.*) AS n_a,
                     RUNNING SUM(A.v) AS sum_a,
                     FINAL SUM(A.v) AS fin_sum,
                     MAX(A.v) AS max_a
            ALL ROWS PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,2} B)
            DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'
        )
        """
    ).collect()
    # start@1 greedy [A A B]; start@2 [A B]
    assert sorted((r.seq, r.n_a, r.sum_a, r.fin_sum, r.max_a) for r in got) == [
        (1, 1, 10.0, 30.0, 10.0),   # match 1 row 1: one A so far
        (2, 1, 20.0, 20.0, 20.0),   # match 2 row 1
        (2, 2, 30.0, 30.0, 20.0),   # match 1 row 2: both A's
        (3, 1, 20.0, 20.0, 20.0),   # match 2 B row: final A aggregate
        (3, 2, 30.0, 30.0, 20.0),   # match 1 B row
    ]


def test_cross_variable_define_price_increase(spark):
    """The classic CEP shape: B AS B.v > A.v — the other variable's
    reference resolves to its last already-matched row. With a
    quantified A, each variant resolves A to ITS last mapped offset."""
    rows = [
        (1, 1, "a", 10.0), (1, 2, "b", 15.0),   # rise -> match
        (2, 1, "a", 10.0), (2, 2, "b", 5.0),    # fall -> no match
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_xvar")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, a_v, b_v FROM __mr_xvar
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.v AS a_v, B.v AS b_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B)
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b' AND B.v > A.v
        )
        """
    ).collect()
    assert sorted((r.user_id, r.a_v, r.b_v) for r in got) == [(1, 10.0, 15.0)]


def test_cross_variable_define_quantified_last_mapped(spark):
    """B AS B.v > A.v with A{1,2}: A resolves to the LAST mapped A row
    of each variant — the 2-A variant compares against the second A."""
    rows = [
        # a(10) a(20) b(15): [A A B] fails (15 < 20) but backtracking to
        # [A B] from start@2 succeeds (15 < 20? no!) — start@2 compares
        # b(15) > a(20): fails; start@1 variant [A B] -> b-row is a(20):
        # not 'b'. So only the rising pair below matches.
        (1, 1, "a", 10.0), (1, 2, "a", 20.0), (1, 3, "b", 15.0),
        (2, 1, "a", 10.0), (2, 2, "a", 12.0), (2, 3, "b", 30.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_xvq")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, n_a, last_a_v, b_v FROM __mr_xvq
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES COUNT(A.*) AS n_a, A.v AS last_a_v, B.v AS b_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,2} B)
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b' AND B.v > A.v
        )
        """
    ).collect()
    # user 2: start@1 greedy [A A B]: 30 > 12 ✓ (A = last mapped = seq2);
    # start@2 [A B]: 30 > 12 ✓
    assert sorted((r.user_id, r.n_a, r.last_a_v, r.b_v) for r in got) == [
        (2, 1, 12.0, 30.0),
        (2, 2, 12.0, 30.0),
    ]


def test_cross_variable_define_not_yet_matched_is_null(spark):
    """A DEFINE referencing a variable that appears LATER in the pattern
    sees NULL (no already-matched row) — the predicate is false, so the
    pattern matches nothing, matching Flink's NFA behavior."""
    rows = [(1, 1, "a", 1.0), (1, 2, "b", 2.0)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_xnull")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id FROM __mr_xnull
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B)
            DEFINE A AS A.event_type = 'a' AND A.v < B.v,
                   B AS B.event_type = 'b'
        )
        """
    ).collect()
    assert got == []


def test_define_string_literal_with_variable_prefix_survives(spark):
    """A string literal that LOOKS like a variable reference ('A.x')
    must pass through the offset rewrites untouched."""
    rows = [(1, 1, "a", 1.0), (1, 2, "A.x", 2.0)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_lit")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, b_seq FROM __mr_lit
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B)
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'A.x'
        )
        """
    ).collect()
    assert [(r.user_id, r.b_seq) for r in got] == [(1, 2)]


def test_define_first_navigation_cross_variable(spark):
    """U AS U.v > FIRST(D.v): DEFINE navigation to another variable's
    FIRST mapped row — recovery must exceed the value at the start of
    the dip, not just the previous row."""
    rows = [
        # dip 10 -> 6 -> 4, recovery 12 (> FIRST(D)=6? FIRST(D.v) is the
        # first D row's value = 6; 12 > 6 ✓)
        (1, 1, "x", 10.0), (1, 2, "x", 6.0), (1, 3, "x", 4.0),
        (1, 4, "x", 5.0),
        # dip 10 -> 6, "recovery" 5.5: rises from 4? no — user 2 below
        (2, 1, "x", 10.0), (2, 2, "x", 6.0), (2, 3, "x", 4.0),
        (2, 4, "x", 4.5),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_navx")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, start_v, n_down, end_v FROM __mr_navx
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES S.v AS start_v, COUNT(D.*) AS n_down, U.v AS end_v
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (S D{1,2} U)
            DEFINE D AS D.v < PREV(D.v),
                   U AS U.v > FIRST(D.v)
        )
        """
    ).collect()
    # user 1: start@1 greedy D={6,4}, U=5.0 > FIRST(D)=6? no ->
    #   backtrack D={6}, U must be row 3 (4.0 > 6? no) -> start@1 fails?
    #   greedy variants: (S D D U): U=5.0 > 6? no; (S D U): U=4.0>6? no.
    #   start@2: S=6, D={4}, U=5.0 > 4? FIRST(D)=4 -> 5>4 yes -> match.
    # user 2: start@2: S=6, D={4}, U=4.5 > 4 -> match.
    assert sorted((r.user_id, r.start_v, r.n_down, r.end_v) for r in got) == [
        (1, 6.0, 1, 5.0),
        (2, 6.0, 1, 4.5),
    ]


def test_define_first_navigation_own_variable(spark):
    """A AS A.v < FIRST(A.v) * 2: a quantified variable bounding its own
    run by its FIRST mapped row — the first A row trivially satisfies
    it (FIRST(A.v) = its own value)."""
    rows = [
        (1, 1, "a", 10.0), (1, 2, "a", 15.0), (1, 3, "a", 30.0),
        (1, 4, "b", 1.0),
    ]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string, v double"
    ).createOrReplaceTempView("__mr_navown")
    got = StatementRouter(spark).execute(
        """
        SELECT first_a, n_a, b_seq FROM __mr_navown
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, COUNT(A.*) AS n_a,
                     B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,3} B)
            DEFINE A AS A.event_type = 'a' AND A.v < FIRST(A.v) * 2,
                   B AS B.event_type = 'b'
        )
        """
    ).collect()
    # start@1: A={10,15} (30 >= 10*2 breaks the run at len 3... variant
    # [A A A B]: third A fails (30 < 20? no); [A A B]: rows 1,2 pass but
    # B must be row 3 ('a') -> fails; [A B]: B=row2 'a' fails. start@2:
    # [A A B]: A={15,30}: 30 < 30? no; [A B]: B=row3 'a' no. start@3:
    # [A B]: A=30 (trivially < 60), B=row4 'b' ✓.
    assert sorted((r.first_a, r.n_a, r.b_seq) for r in got) == [(3, 1, 4)]


def test_all_rows_per_match_unbounded_run(spark):
    """ALL ROWS over PATTERN (A+ B) with overlapping DEFINEs: every
    matched input row emits with RUNNING measures (CLASSIFIER, running
    COUNT(A.*), B.v NULL until the closing row); SKIP PAST LAST ROW
    resumes after each match end."""
    vals = [25.0, 150.0, 130.0, 5.0, 30.0, 120.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v double"
    ).createOrReplaceTempView("__mr_arp")
    got = StatementRouter(spark).execute(
        """
        SELECT seq, cls, mn, run_a, b_v FROM __mr_arp
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,
                     COUNT(A.*) AS run_a, B.v AS b_v
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v > 20, B AS B.v > 100
        )
        """
    ).collect()
    assert sorted((r.seq, r.cls, r.mn, r.run_a, r.b_v) for r in got) == [
        (0, "A", 1, 1, None),
        (1, "A", 1, 2, None),
        (2, "B", 1, 2, 130.0),
        (4, "A", 2, 1, None),
        (5, "B", 2, 1, 120.0),
    ]


def test_prev_inside_unbounded_run(spark):
    """PREV() in A+ B DEFINEs (falling run, recovery tick): lowered as
    physical-row lags before the per-key matcher — greedy backtracking
    picks the latest recovery row inside each falling run."""
    vals = [10.0, 8.0, 6.0, 9.0, 12.0, 11.0, 13.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v double"
    ).createOrReplaceTempView("__mr_prun")
    got = StatementRouter(spark).execute(
        """
        SELECT first_d, last_d, up_seq FROM __mr_prun
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_d, A.seq AS last_d,
                     B.seq AS up_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A+ B)
            DEFINE A AS A.v < PREV(A.v), B AS B.v > PREV(B.v)
        )
        """
    ).collect()
    assert sorted((r.first_d, r.last_d, r.up_seq) for r in got) == [
        (1, 2, 3),
        (2, 2, 3),
        (5, 5, 6),
    ]


def test_all_rows_run_with_unmatched(spark):
    """ALL ROWS ... WITH UNMATCHED ROWS over A+ B: rows covered by no
    selected match emit once with NULL measures."""
    vals = [25.0, 150.0, 130.0, 5.0, 30.0, 120.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v double"
    ).createOrReplaceTempView("__mr_arpu")
    got = StatementRouter(spark).execute(
        """
        SELECT seq, cls FROM __mr_arpu
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls
            ALL ROWS PER MATCH WITH UNMATCHED ROWS
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v > 20, B AS B.v > 100
        )
        """
    ).collect()
    assert sorted(((r.seq, r.cls) for r in got), key=str) == sorted(
        [(0, "A"), (1, "A"), (2, "B"), (3, None), (4, "A"), (5, "B")],
        key=str,
    )


def test_next_navigation_and_prev_before_start(spark):
    """NEXT(B.v) reaches past the LEAD chain (scalar lead helper);
    PREV(A.v) at offset 0 reaches before the match start (scalar lag
    helper) — both are PHYSICAL navigation, NULL off the partition."""
    vals = [10.0, 20.0, 5.0, 30.0, 40.0, 50.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v double"
    ).createOrReplaceTempView("__mr_nextnav")
    got = StatementRouter(spark).execute(
        """
        SELECT a_seq, b_seq FROM __mr_nextnav
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B)
            DEFINE A AS A.v < 15, B AS NEXT(B.v) < B.v
        )
        """
    ).collect()
    assert sorted((r.a_seq, r.b_seq) for r in got) == [(0, 1)]
    got2 = StatementRouter(spark).execute(
        """
        SELECT a_seq, b_seq FROM __mr_nextnav
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B)
            DEFINE A AS A.v > PREV(A.v), B AS B.v > PREV(B.v, 2)
        )
        """
    ).collect()
    assert sorted((r.a_seq, r.b_seq) for r in got2) == [(3, 4), (4, 5)]


def test_next_inside_unbounded_run(spark):
    """NEXT() in a run DEFINE (rising-next run) lowers as a lead column
    before the per-key matcher."""
    vals = [10.0, 20.0, 5.0, 30.0, 40.0, 50.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v double"
    ).createOrReplaceTempView("__mr_nextrun")
    got = StatementRouter(spark).execute(
        """
        SELECT first_a, b_seq FROM __mr_nextrun
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A+ B)
            DEFINE A AS NEXT(A.v) > A.v, B AS B.v > 35
        )
        """
    ).collect()
    assert sorted((r.first_a, r.b_seq) for r in got) == [(2, 5), (3, 5), (4, 5)]


def _ref_general_nfa(types, pos_spec, skip_past):
    """Direct greedy backtracking over a general position list
    [(var, lo, hi|None), ...] against a type string — independent of the
    lowering's memoized DFS."""
    n = len(types)

    def match_from(s):
        def dfs(p, i):
            if p == len(pos_spec):
                return []
            var, lo, hi = pos_spec[p]
            c_max, j = 0, i
            while j < n and types[j] == var and (hi is None or c_max < hi):
                c_max += 1
                j += 1
            for c in range(c_max, lo - 1, -1):
                rest = dfs(p + 1, i + c)
                if rest is not None:
                    return [(var, i + t) for t in range(c)] + rest
            return None

        return dfs(0, s)

    out = []
    if skip_past:
        s = 0
        while s < n:
            mp = match_from(s)
            if mp:
                out.append(mp)
                s = mp[-1][1] + 1
            else:
                s += 1
    else:
        for s in range(n):
            mp = match_from(s)
            if mp:
                out.append(mp)
    return out


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(st.sampled_from(["a", "b", "c", "x"]), min_size=3, max_size=18),
    shape=st.sampled_from(["mid_plus", "lead_star", "min2"]),
    skip_past=st.booleans(),
)
def test_general_nfa_matches_python_reference(spark, types, shape, skip_past):
    """The general per-key NFA (unbounded quantifier at any position) ==
    direct greedy backtracking, under both AFTER MATCH modes."""
    pattern, pos_spec = {
        "mid_plus": ("A B+ C", [("a", 1, 1), ("b", 1, None), ("c", 1, 1)]),
        "lead_star": ("A* B C", [("a", 0, None), ("b", 1, 1), ("c", 1, 1)]),
        "min2": ("A B{2,} C", [("a", 1, 1), ("b", 2, None), ("c", 1, 1)]),
    }[shape]
    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_gnfa")
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    got = StatementRouter(spark).execute(
        f"""
        SELECT b_last, c_seq, nb FROM __mr_gnfa
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES B.seq AS b_last, C.seq AS c_seq, COUNT(B.*) AS nb
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN ({pattern})
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b',
                   C AS C.event_type = 'c'
        )
        """
    ).collect()
    want = []
    for mp in _ref_general_nfa(types, pos_spec, skip_past):
        b_rows = [i for v, i in mp if v == "b"]
        c_rows = [i for v, i in mp if v == "c"]
        want.append((b_rows[-1] if b_rows else None, c_rows[-1], len(b_rows)))
    assert (
        sorted(((r.b_last, r.c_seq, r.nb) for r in got), key=str)
        == sorted(want, key=str)
    )


def test_quantified_alternation_group(spark):
    """(B|C)+ — each repetition matches ANY alternative with leftmost
    assignment; per-variable COUNT splits the run."""
    seq = "abcbxd"
    rows = [(1, i, t) for i, t in enumerate(seq)]
    spark.createDataFrame(
        rows, "user_id int, seq int, et string"
    ).createOrReplaceTempView("__mr_gq")
    got = StatementRouter(spark).execute(
        """
        SELECT a_seq, nb, nc, d_seq FROM __mr_gq
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, COUNT(B.*) AS nb,
                     COUNT(C.*) AS nc, D.seq AS d_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A (B|C)+ D)
            DEFINE A AS A.et = 'a', B AS B.et = 'b',
                   C AS C.et = 'c', D AS D.et = 'x'
        )
        """
    ).collect()
    assert sorted((r.a_seq, r.nb, r.nc, r.d_seq) for r in got) == [(0, 2, 1, 4)]


def test_reluctant_quantifiers(spark):
    """A B+? C prefers the SHORTEST run (NFA path); A{1,3}? B prefers
    the shortest variant (LEAD-chain path)."""
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("abbbc")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_lz1")
    got = StatementRouter(spark).execute(
        """
        SELECT a_seq, nb, c_seq FROM __mr_lz1
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, COUNT(B.*) AS nb, C.seq AS c_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B+? C)
            DEFINE A AS A.et = 'a', B AS B.et = 'b',
                   C AS C.et IN ('b', 'c')
        )
        """
    ).collect()
    assert sorted((r.a_seq, r.nb, r.c_seq) for r in got) == [(0, 1, 2)]
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("aaab")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_lz2")
    got2 = StatementRouter(spark).execute(
        """
        SELECT first_a, n_a, b_seq FROM __mr_lz2
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, COUNT(A.*) AS n_a,
                     B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A{1,3}? B)
            DEFINE A AS A.et = 'a', B AS B.et IN ('a', 'b')
        )
        """
    ).collect()
    assert sorted((r.first_a, r.n_a, r.b_seq) for r in got2) == [
        (0, 1, 1),
        (1, 1, 2),
        (2, 1, 3),
    ]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(st.sampled_from(["a", "b", "c", "x"]), min_size=3, max_size=16),
    skip_past=st.booleans(),
)
def test_group_quant_matches_python_reference(spark, types, skip_past):
    """A (B|C)+ X == greedy any-alternative runs in the direct Python
    reference (leftmost assignment, both AFTER MATCH modes)."""
    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_gqprop")
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    got = StatementRouter(spark).execute(
        f"""
        SELECT a_seq, nb, nc, x_seq FROM __mr_gqprop
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, COUNT(B.*) AS nb,
                     COUNT(C.*) AS nc, X.seq AS x_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (A (B|C)+ X)
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b',
                   C AS C.event_type = 'c',
                   X AS X.event_type = 'x'
        )
        """
    ).collect()
    n = len(types)
    cands: dict[int, tuple[int, int, int]] = {}  # s -> (nb, nc, x_pos)
    for s in range(n):
        if types[s] != "a":
            continue
        j = s + 1
        while j < n and types[j] in ("b", "c"):
            j += 1
        if j > s + 1 and j < n and types[j] == "x":
            run = types[s + 1 : j]
            cands[s] = (run.count("b"), run.count("c"), j)
    want = []
    if skip_past:
        last_end = -1
        for s in sorted(cands):
            if s > last_end:
                nb, nc, x = cands[s]
                want.append((s, nb, nc, x))
                last_end = x
    else:
        want = [(s, *cands[s]) for s in sorted(cands)]
    assert sorted((r.a_seq, r.nb, r.nc, r.x_seq) for r in got) == sorted(want)


def test_exclusion_syntax(spark):
    """{- X -}: excluded rows match (and feed measures) but are omitted
    from ALL ROWS output — bounded LEAD path and the run matcher."""
    spec = parse_match_recognize(
        _mr(
            BASE.replace("PATTERN (A B)", "PATTERN (A {- B -} C)")
            .replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")
            .replace("SKIP PAST LAST ROW", "SKIP TO NEXT ROW")
            .replace(
                "DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click'",
                "DEFINE A AS A.event_type = 'view', "
                "B AS B.event_type = 'click', C AS C.event_type = 'buy'",
            )
        )
    )
    assert spec.excluded == {"B"}
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("vcb")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_excl")
    got = StatementRouter(spark).execute(
        """
        SELECT seq, cls, nb FROM __mr_excl
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls, COUNT(B.*) AS nb
            ALL ROWS PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A {- B -} C)
            DEFINE A AS A.et = 'v', B AS B.et = 'c', C AS C.et = 'b'
        )
        """
    ).collect()
    assert sorted((r.seq, r.cls, r.nb) for r in got) == [
        (0, "A", 0),
        (2, "C", 1),
    ]
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate([25.0, 150.0, 130.0, 5.0])],
        "user_id int, seq int, v double",
    ).createOrReplaceTempView("__mr_excl2")
    got2 = StatementRouter(spark).execute(
        """
        SELECT seq, cls FROM __mr_excl2
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN ({- A+ -} B)
            DEFINE A AS A.v > 20, B AS B.v > 100
        )
        """
    ).collect()
    assert sorted((r.seq, r.cls) for r in got2) == [(2, "B")]


def test_permute_pattern(spark):
    """PERMUTE (A, B): the variables match in any order; preference is
    lexicographic over the declaration (A B tried before B A)."""
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("abba")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_perm")
    for skip in ("SKIP TO NEXT ROW", "SKIP PAST LAST ROW"):
        got = StatementRouter(spark).execute(
            f"""
            SELECT a_seq, b_seq, cls FROM __mr_perm
            MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY seq
                MEASURES A.seq AS a_seq, B.seq AS b_seq,
                         CLASSIFIER() AS cls
                ONE ROW PER MATCH
                AFTER MATCH {skip}
                PATTERN (PERMUTE (A, B))
                DEFINE A AS A.et = 'a', B AS B.et = 'b'
            )
            """
        ).collect()
        assert sorted((r.a_seq, r.b_seq, r.cls) for r in got) == [
            (0, 1, "B"),
            (3, 2, "A"),
        ]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(st.sampled_from(["a", "b", "c", "x"]), min_size=3, max_size=14),
    skip_past=st.booleans(),
)
def test_permute3_matches_python_reference(spark, types, skip_past):
    """PERMUTE (A, B, C) == direct per-start first-permutation-in-
    lexicographic-order reference, under both AFTER MATCH modes."""
    from itertools import permutations

    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_permprop")
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    got = StatementRouter(spark).execute(
        f"""
        SELECT a_seq, b_seq, c_seq FROM __mr_permprop
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, B.seq AS b_seq, C.seq AS c_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (PERMUTE (A, B, C))
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b',
                   C AS C.event_type = 'c'
        )
        """
    ).collect()
    n = len(types)
    cands: dict[int, tuple[int, int, int]] = {}
    for s in range(n - 2):
        for perm in permutations("abc"):
            if all(types[s + i] == perm[i] for i in range(3)):
                pos = {v: s + i for i, v in enumerate(perm)}
                cands[s] = (pos["a"], pos["b"], pos["c"])
                break
    want = []
    if skip_past:
        last_end = -1
        for s in sorted(cands):
            if s > last_end:
                want.append(cands[s])
                last_end = s + 2
        want.sort()
    else:
        want = sorted(cands.values())
    assert sorted((r.a_seq, r.b_seq, r.c_seq) for r in got) == want


def test_skip_to_first_last(spark):
    """AFTER MATCH SKIP TO LAST <var> resumes AT the mapped row
    (inclusive — overlapping matches by design); a skip target equal to
    the match start raises Flink's would-loop error."""
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("aaab")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_st1")
    got = StatementRouter(spark).execute(
        """
        SELECT first_a, b_seq FROM __mr_st1
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO LAST A
            PATTERN (A{2} B)
            DEFINE A AS A.et = 'a', B AS B.et = 'b'
        )
        """
    ).collect()
    assert sorted((r.first_a, r.b_seq) for r in got) == [(1, 3)]
    # run shape: resume AT the B row (which satisfies A here)
    vals = [25.0, 150.0, 130.0, 5.0, 30.0, 120.0]
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)],
        "user_id int, seq int, v double",
    ).createOrReplaceTempView("__mr_st2")
    got2 = StatementRouter(spark).execute(
        """
        SELECT first_a, b_seq FROM __mr_st2
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO LAST B
            PATTERN (A+ B)
            DEFINE A AS A.v > 20, B AS B.v > 100
        )
        """
    ).collect()
    assert sorted((r.first_a, r.b_seq) for r in got2) == [(0, 2), (4, 5)]
    # SKIP TO FIRST <run var> is rejected at parse (always the start)
    with pytest.raises(UnsupportedPatternError, match="loop"):
        parse_match_recognize(
            _mr(
                BASE.replace("PATTERN (A B)", "PATTERN (A+ B)")
                .replace("SKIP PAST LAST ROW", "SKIP TO FIRST A")
            )
        )


def test_skip_to_loop_raises_at_runtime(spark):
    """A selected match whose skip target IS its start raises (the
    Flink runtime error), loudly rather than looping or mis-skipping."""
    from py4j.protocol import Py4JJavaError

    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("aab")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_stl")
    with pytest.raises(Exception, match="loop forever"):
        try:
            StatementRouter(spark).execute(
                """
                SELECT b_seq FROM __mr_stl
                MATCH_RECOGNIZE (
                    PARTITION BY user_id
                    ORDER BY seq
                    MEASURES B.seq AS b_seq
                    ONE ROW PER MATCH
                    AFTER MATCH SKIP TO LAST A
                    PATTERN (A{1,2} B)
                    DEFINE A AS A.et = 'a', B AS B.et = 'b'
                )
                """
            ).collect()
        except Py4JJavaError as e:  # unwrap the executor-side ValueError
            raise RuntimeError(str(e)) from e


def test_nested_pattern_groups(spark):
    """Nested groups route through the AST generator backtracker:
    ((A B)|C) D — a two-row branch OR a one-row branch; (A (B C)+) D —
    a repeated two-variable subsequence."""
    for seq, pat, want in [
        ("abd", "((A B)|C) D", [(0, 2)]),
        ("cd", "((A B)|C) D", [(None, 1)]),
        ("abcbcd", "(A (B C)+) D", [(0, 5)]),
    ]:
        spark.createDataFrame(
            [(1, i, t) for i, t in enumerate(seq)],
            "user_id int, seq int, et string",
        ).createOrReplaceTempView("__mr_nest")
        got = StatementRouter(spark).execute(
            f"""
            SELECT a_seq, d_seq FROM __mr_nest
            MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY seq
                MEASURES A.seq AS a_seq, D.seq AS d_seq
                ONE ROW PER MATCH
                AFTER MATCH SKIP TO NEXT ROW
                PATTERN ({pat})
                DEFINE A AS A.et = 'a', B AS B.et = 'b',
                       C AS C.et = 'c', D AS D.et = 'd'
            )
            """
        ).collect()
        assert sorted(((r.a_seq, r.d_seq) for r in got), key=str) == sorted(
            want, key=str
        ), (seq, pat)


def _ref_nested_pairs(types):
    """Direct reference for PATTERN (A (B C)+ D): per start, maximal
    alternating (b, c) pair chain after the 'a', then 'd'."""
    out = []
    n = len(types)
    for s in range(n):
        if types[s] != "a":
            continue
        j, k = s + 1, 0
        while j + 1 < n and types[j] == "b" and types[j + 1] == "c":
            j += 2
            k += 1
        if k >= 1 and j < n and types[j] == "d":
            out.append((s, k, j))
    return sorted(out)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=4, max_size=16)
)
def test_nested_group_matches_python_reference(spark, types):
    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_nestprop")
    got = StatementRouter(spark).execute(
        """
        SELECT a_seq, n_pairs, d_seq FROM __mr_nestprop
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, COUNT(B.*) AS n_pairs, D.seq AS d_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A (B C)+ D)
            DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b',
                   C AS C.event_type = 'c', D AS D.event_type = 'd'
        )
        """
    ).collect()
    want = _ref_nested_pairs(types)
    assert sorted((r.a_seq, r.n_pairs, r.d_seq) for r in got) == want


def test_all_rows_general_nfa(spark):
    """ALL ROWS PER MATCH through the general NFA (mid-position run and
    nested groups): per-row RUNNING measures, WITH UNMATCHED support."""
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("abbcx")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_arnfa")
    got = StatementRouter(spark).execute(
        """
        SELECT seq, cls, mn, nb FROM __mr_arnfa
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,
                     COUNT(B.*) AS nb
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.et = 'a', B AS B.et = 'b', C AS C.et = 'c'
        )
        """
    ).collect()
    assert sorted((r.seq, r.cls, r.mn, r.nb) for r in got) == [
        (0, "A", 1, 0),
        (1, "B", 1, 1),
        (2, "B", 1, 2),
        (3, "C", 1, 2),
    ]
    got2 = StatementRouter(spark).execute(
        """
        SELECT seq, cls FROM __mr_arnfa
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES CLASSIFIER() AS cls
            ALL ROWS PER MATCH WITH UNMATCHED ROWS
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A (B B)+ C)
            DEFINE A AS A.et = 'a', B AS B.et = 'b', C AS C.et = 'c'
        )
        """
    ).collect()
    assert sorted(((r.seq, r.cls) for r in got2), key=str) == sorted(
        [(0, "A"), (1, "B"), (2, "B"), (3, "C"), (4, None)], key=str
    )


def test_cross_variable_in_unbounded_patterns(spark):
    """Simple cross-variable comparisons (SELF.col OP OTHER.col, incl.
    FIRST/LAST on the referenced side) now lower inside unbounded
    patterns — evaluated against the partial match's bindings in the
    NFA, with the memo disabled (context-sensitive matching)."""
    vals = [
        (0, "a", 10.0), (1, "b", 5.0), (2, "b", 8.0), (3, "c", 1.0),
        (4, "a", 3.0), (5, "b", 7.0), (6, "c", 2.0),
    ]
    spark.createDataFrame(
        [(1, i, t, v) for i, t, v in vals],
        "user_id int, seq int, et string, v double",
    ).createOrReplaceTempView("__mr_xub")
    got = StatementRouter(spark).execute(
        """
        SELECT a_seq, nb, c_seq FROM __mr_xub
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, COUNT(B.*) AS nb, C.seq AS c_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B+ C)
            DEFINE A AS A.et = 'a',
                   B AS B.et = 'b' AND B.v < A.v,
                   C AS C.et = 'c'
        )
        """
    ).collect()
    assert sorted((r.a_seq, r.nb, r.c_seq) for r in got) == [(0, 2, 3)]
    # the two-variable A+ B shape re-routes through the NFA
    got2 = StatementRouter(spark).execute(
        """
        SELECT first_a, b_seq FROM __mr_xub
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A+ B)
            DEFINE A AS A.et = 'b',
                   B AS B.v < FIRST(A.v)
        )
        """
    ).collect()
    # b-runs: rows 1-2 (5, 8); start@1: FIRST(A.v)=5 -> B at 3 (c, 1<5)
    # ...but greedy consumes row 2 first: run 1-2, B at 3: 1 < 5 ok
    assert sorted((r.first_a, r.b_seq) for r in got2) == [(1, 3), (2, 3), (5, 6)]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(0, 9), min_size=2, max_size=16),
    skip_past=st.booleans(),
)
def test_crossvar_run_matches_python_reference(spark, vals, skip_past):
    """A+ B with B.v > A.v (cross-check against the partial match) ==
    direct greedy backtracking reference, under both AFTER MATCH
    modes."""
    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    spark.createDataFrame(
        rows, "user_id int, seq int, v double"
    ).createOrReplaceTempView("__mr_xprop")
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    got = StatementRouter(spark).execute(
        f"""
        SELECT first_a, b_seq FROM __mr_xprop
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES FIRST(A.seq) AS first_a, B.seq AS b_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (A+ B)
            DEFINE A AS A.v < 5,
                   B AS B.v > A.v
        )
        """
    ).collect()
    n = len(vals)

    def match_from(s):
        if vals[s] >= 5:
            return None
        m = s
        while m + 1 < n and vals[m + 1] < 5:
            m += 1
        # greedy: largest k in (s, m+1] with v[k] > v[k-1]
        for k in range(min(m + 1, n - 1), s, -1):
            if vals[k] > vals[k - 1]:
                return k
        return None

    want = []
    if skip_past:
        s = 0
        while s < n:
            k = match_from(s)
            if k is not None:
                want.append((s, k))
                s = k + 1
            else:
                s += 1
    else:
        for s in range(n):
            k = match_from(s)
            if k is not None:
                want.append((s, k))
    assert sorted((r.first_a, r.b_seq) for r in got) == sorted(want)


def test_zero_width_child_satisfies_outer_minimum(spark):
    """(B{0,3}){1,}: an outer quantifier whose child can match EMPTY is
    satisfiable with a zero-width repetition (Python-re / SQL
    semantics) — a bare (A|C) row must match."""
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("acxda")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_zw")
    got = StatementRouter(spark).execute(
        """
        SELECT seq FROM __mr_zw
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES MATCH_NUMBER() AS mn
            ALL ROWS PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ((B{0,3}){1,} (A|C) D*)
            DEFINE A AS A.et = 'a', B AS B.et = 'b',
                   C AS C.et = 'c', D AS D.et = 'd'
        )
        """
    ).collect()
    # matches: a@0, c@1 (with d@3? c@1 then D* greedy... x@2 breaks), a@4
    assert sorted(r.seq for r in got) == [0, 1, 4]


def test_lazy_child_prefers_empty_repetition(spark):
    """(C*?){2,2}: the lazy child's preferred repetition is EMPTY, so
    the whole quantifier prefers consuming nothing — the match after D
    spans only the D row (Python-re / SQL preference order)."""
    spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("dcdx")],
        "user_id int, seq int, et string",
    ).createOrReplaceTempView("__mr_lzc")
    got = StatementRouter(spark).execute(
        """
        SELECT seq, mn FROM __mr_lzc
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES MATCH_NUMBER() AS mn
            ALL ROWS PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (D (C*?){2,2})
            DEFINE C AS C.et = 'c', D AS D.et = 'd'
        )
        """
    ).collect()
    spans = {}
    for r in got:
        spans.setdefault(r.mn, []).append(r.seq)
    assert sorted((min(v), max(v)) for v in spans.values()) == [
        (0, 0),
        (2, 2),
    ]


def test_fuzz_smoke_vs_python_re(spark):
    """A fixed-seed slice of scripts/fuzz_cep.py runs in-suite so the
    adversarial reference (Python's re engine) keeps guarding the
    matchers. The full sweep (1000+ cases) runs standalone:
    ``python scripts/fuzz_cep.py 300 <seed>``."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "scripts", "fuzz_cep.py"
    )
    spec = importlib.util.spec_from_file_location("fuzz_cep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.main(12, 42) == 0


def test_alternation_labeling_backtracks_under_cross_defines(spark):
    """(A (B|C)+ D) with a cross-variable DEFINE on D: the row v=50
    passes BOTH B and C, and the match exists only if it is labeled C
    (so LAST(B.v) stays 5 and D.v=10 > 5 holds). The flat dfs matcher
    fixed the leftmost passing alternative per row (B) and missed the
    match (ADVICE r6); cross-checks + multi-alternative positions now
    route through the AST generator backtracker, which enumerates
    per-repetition alternative choices."""
    spark.createDataFrame(
        [
            (1, 1, "a", 1.0),
            (1, 2, "x", 5.0),
            (1, 3, "x", 50.0),
            (1, 4, "d", 10.0),
        ],
        "user_id int, seq int, kind string, v double",
    ).createOrReplaceTempView("__mr_xalt")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, a_seq, d_seq, last_b FROM __mr_xalt
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, D.seq AS d_seq, LAST(B.v) AS last_b
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A (B|C)+ D)
            DEFINE A AS A.kind = 'a',
                   B AS B.kind = 'x',
                   C AS C.kind = 'x' AND C.v >= 10,
                   D AS D.kind = 'd' AND D.v > B.v
        )
        """
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.a_seq, r.d_seq, r.last_b) == (1, 4, 5.0)


def test_alternation_labeling_greedy_still_preferred_without_cross(spark):
    """Same pattern WITHOUT cross-variable DEFINEs keeps the flat-dfs
    path (and its leftmost-alternative, greedy-count preference)."""
    spark.createDataFrame(
        [
            (1, 1, "a", 1.0),
            (1, 2, "x", 5.0),
            (1, 3, "x", 50.0),
            (1, 4, "d", 10.0),
        ],
        "user_id int, seq int, kind string, v double",
    ).createOrReplaceTempView("__mr_xalt2")
    got = StatementRouter(spark).execute(
        """
        SELECT user_id, a_seq, d_seq FROM __mr_xalt2
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, D.seq AS d_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A (B|C)+ D)
            DEFINE A AS A.kind = 'a',
                   B AS B.kind = 'x',
                   C AS C.kind = 'x' AND C.v >= 10,
                   D AS D.kind = 'd'
        )
        """
    ).collect()
    assert len(got) == 1
    assert (got[0].a_seq, got[0].d_seq) == (1, 4)


def test_reluctant_optional_var_and_group(spark):
    """A?? (reluctant optional — SQL:2016's lazy {0,1}) prefers the
    ABSENT branch where greedy A? prefers the present one; same for
    (X|Y)??. Flink supports both; the flat tokenizer previously
    rejected the ?? form (found by the streaming CEP fuzzer)."""
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate([10, 5, 3, 10, 5, 3])],
        "k int, seq int, v int",
    ).createOrReplaceTempView("__mr_relopt")
    results = {}
    for q in ("B?", "B??", "(B|E)?", "(B|E)??"):
        got = StatementRouter(spark).execute(
            f"""
            SELECT k, a_seq, c_seq FROM __mr_relopt
            MATCH_RECOGNIZE (
                PARTITION BY k
                ORDER BY seq
                MEASURES A.seq AS a_seq, C.seq AS c_seq
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A {q} C)
                DEFINE A AS A.v >= 10, B AS B.v >= 5,
                       E AS E.v >= 100, C AS C.v <= 5
            )
            """
        ).collect()
        results[q] = sorted(tuple(r) for r in got)
    # greedy consumes the optional row (C lands 2 after A); reluctant
    # skips it (C lands 1 after A)
    assert results["B?"] == [(1, 0, 2), (1, 3, 5)]
    assert results["B??"] == [(1, 0, 1), (1, 3, 4)]
    assert results["(B|E)?"] == results["B?"]
    assert results["(B|E)??"] == results["B??"]


def test_cross_ref_to_untaken_alternation_branch_is_null(spark):
    """A DEFINE referencing a pattern variable that an alternation
    branch did NOT bind — PATTERN ((A|B) C), C AS C.v < A.v, variant
    [B, C] — is an unmatched reference: NULL, comparison false (the
    NFA's cross_ok semantics). The variant LEAD-chain previously left
    the reference unrewritten and exploded with an unresolved-column
    AnalysisException (found by scripts/fuzz_cep_stream.py)."""
    spark.createDataFrame(
        [(1, i, v) for i, v in enumerate([9, 3, 5, 4, 9, 2])],
        "k int, seq int, v int",
    ).createOrReplaceTempView("__mr_untaken")
    got = StatementRouter(spark).execute(
        """
        SELECT k, s0, c_seq FROM __mr_untaken
        MATCH_RECOGNIZE (
            PARTITION BY k
            ORDER BY seq
            MEASURES FIRST(A.seq) AS s0, C.seq AS c_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN ((A|B) C)
            DEFINE A AS A.v >= 9, B AS B.v = 5, C AS C.v < A.v
        )
        """
    ).collect()
    # matches must come only from the A branch (C.v < A.v needs A
    # bound); the B branch at seq=2 (v=5) followed by v=4 would match
    # only if the unresolved A ref were mis-evaluated
    assert sorted((r[1], r[2]) for r in got) == [(0, 1), (4, 5)]


def test_cross_define_foreign_left_qualifier_navigates_mapped_rows(spark):
    """DEFINE C AS A.v > B.v — BOTH sides reference OTHER variables.
    Until round 11 this was rejected (the simple-comparison path would
    have misread A.v as current-row.v); the round-12 rich compiler
    navigates both references over the partial match's mapped rows —
    the Flink semantics — so the pattern now lowers and must produce
    the correct match. Fixture: a(10) b(5) b(8) c(1); greedy B+ maps
    both b rows, and C (the c row) passes because LAST(A.v)=10 >
    LAST(B.v)=8."""
    spark.createDataFrame(
        [(1, i, t, float(v)) for i, (t, v) in enumerate(
            [("a", 10), ("b", 5), ("b", 8), ("c", 1)]
        )],
        "user_id int, seq int, et string, v double",
    ).createOrReplaceTempView("__mr_badsv")
    got = StatementRouter(spark).execute(
        """
        SELECT a_seq FROM __mr_badsv
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B+ C)
            DEFINE A AS A.et = 'a',
                   B AS B.et = 'b',
                   C AS A.v > B.v
        )
        """
    ).collect()
    assert sorted(r.a_seq for r in got) == [0]
    # flipping the comparison must kill the match (LAST(A.v)=10 is
    # never below LAST(B.v)) — proves the refs really navigate
    got2 = StatementRouter(spark).execute(
        """
        SELECT a_seq FROM __mr_badsv
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A B+ C)
            DEFINE A AS A.et = 'a',
                   B AS B.et = 'b',
                   C AS A.v < B.v - 1
        )
        """
    ).collect()
    assert got2 == []


def test_null_partition_key_matches(spark):
    """A NULL partition key is its OWN partition (SQL GROUP BY / Flink
    keyBy semantics): matches inside the NULL-key group must emit, and
    WITH UNMATCHED ROWS must not re-emit its matched rows. Round 8: the
    skip-past selection semi-join and the unmatched-rows anti-join used
    name-list (null-UNSAFE) key equality, silently dropping every
    NULL-key match and double-reporting its rows as unmatched."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    vals = [7, 2, 8, 3, -1000]
    rows = []
    for g in (None, "x"):
        for i, v in enumerate(vals):
            rows.append((g, base + dt.timedelta(seconds=i), v))
    spark.createDataFrame(
        rows, "g string, ts timestamp, v int"
    ).createOrReplaceTempView("__mr_nullkey")
    router = StatementRouter(spark)
    got = {
        tuple(r)
        for r in router.execute(
            """
            SELECT g, bv FROM __mr_nullkey
            MATCH_RECOGNIZE (
                PARTITION BY g ORDER BY ts
                MEASURES B.v AS bv
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B)
                DEFINE A AS A.v >= 6, B AS B.v BETWEEN 0 AND 4
            )
            """
        ).collect()
    }
    assert got == {(None, 2), (None, 3), ("x", 2), ("x", 3)}
    # ALL ROWS ... WITH UNMATCHED ROWS under skip-past: the NULL-key
    # group's matched rows are covered (not re-emitted as unmatched)
    all_rows = router.execute(
        """
        SELECT g, v, cls FROM __mr_nullkey
        MATCH_RECOGNIZE (
            PARTITION BY g ORDER BY ts
            MEASURES CLASSIFIER() AS cls
            ALL ROWS PER MATCH WITH UNMATCHED ROWS
            AFTER MATCH SKIP TO LAST B
            PATTERN (A B{1,2})
            DEFINE A AS A.v >= 6, B AS B.v BETWEEN 0 AND 4
        )
        """
    ).collect()
    null_rows = [(r.v, r.cls) for r in all_rows if r.g is None]
    x_rows = [(r.v, r.cls) for r in all_rows if r.g == "x"]
    assert sorted(null_rows) == sorted(x_rows)
    assert sum(1 for _, c in null_rows if c is None) == 1  # only -1000


def test_self_nav_define_on_runs(spark):
    """FIRST/LAST over the DEFINING variable's own mapped rows in a
    DEFINE, on NFA-routed patterns (round 8) — previously 'lowered only
    for bounded patterns'. Flink semantics: the defining variable's
    mapped-so-far rows INCLUDE the current candidate row, so
    LAST(B.v, 1) is the PREVIOUS B row (NULL -> false on the first B —
    the ascending-run idiom needs an OR IS NULL escape Flink-side,
    which the simple-comparison subset deliberately omits)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    vals = [9, 1, 2, 3, 1, 8, 2, 5, 4, 1, -997]
    rows = [
        ("k0", base + dt.timedelta(seconds=3 * i), v)
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows, "k string, ts timestamp, v int"
    ).createOrReplaceTempView("__mr_selfnav")
    router = StatementRouter(spark)

    # FIRST anchor: B+ = i1..i9 (every v in 1..8 and >= FIRST=1)
    got = [
        tuple(r)
        for r in router.execute(
            """
            SELECT k, CAST(e AS LONG) AS e, nb FROM __mr_selfnav
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(B.ts) AS e, COUNT(B.v) AS nb
                ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+)
                DEFINE A AS A.v >= 9,
                       B AS B.v BETWEEN 1 AND 8 AND B.v >= FIRST(B.v)
            )
            """
        ).collect()
    ]
    assert got == [("k0", 1704067200 + 27, 9)]

    # strict ascent via LAST(B.v, 1): the FIRST B row's reference is
    # out of range -> NULL -> false, so B+ can never start (Flink)
    got = router.execute(
        """
        SELECT k FROM __mr_selfnav
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(B.ts) AS e
            ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+)
            DEFINE A AS A.v >= 9,
                   B AS B.v BETWEEN 1 AND 8 AND B.v > LAST(B.v, 1)
        )
        """
    ).collect()
    assert got == []

    # variant-enumeration path (flat bounded) vs NFA path (nested
    # group forces the AST) must agree on the same self-nav statement
    tmpl = """
        SELECT k, CAST(e AS LONG) AS e FROM __mr_selfnav
        MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(B.ts) AS e
            ONE ROW PER MATCH AFTER MATCH SKIP TO NEXT ROW
            PATTERN (A {pat})
            DEFINE A AS A.v >= 8,
                   B AS B.v BETWEEN 1 AND 7 AND B.v >= FIRST(B.v)
        )
    """
    flat = sorted(
        tuple(r) for r in router.execute(tmpl.format(pat="B{1,3}")).collect()
    )
    nested = sorted(
        tuple(r)
        for r in router.execute(tmpl.format(pat="(B){1,3}")).collect()
    )
    assert flat == nested and flat

    # foreign navigation WITH an offset on the NFA path: C sees the
    # second-to-last B row
    got = [
        tuple(r)
        for r in router.execute(
            """
            SELECT k, CAST(e AS LONG) AS e FROM __mr_selfnav
            MATCH_RECOGNIZE (
                PARTITION BY k ORDER BY ts
                MEASURES LAST(C.ts) AS e
                ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
                PATTERN (A B+ C)
                DEFINE A AS A.v >= 9, B AS B.v BETWEEN 1 AND 8,
                       C AS C.v BETWEEN 1 AND 8 AND C.v < FIRST(B.v, 1)
            )
            """
        ).collect()
    ]
    # greedy B+ backtracks until C satisfies C.v < second B row's v (2):
    # B = i1..i8, C = i9 (v=1 < 2)
    assert got == [("k0", 1704067200 + 27)]


def _nav_offset_df(spark):
    """Per-key A-runs of length 4 / 2 / 1 followed by a B row — the
    minimal fixture where FIRST/LAST(A.v, n) MEASURE offsets differ
    per match and walk past the mapped count (NULL)."""
    import datetime as dt

    base = dt.datetime(2025, 1, 1)
    rows = []
    for k, vs in {1: [1, 2, 3, 4, 90], 2: [5, 6, 90], 3: [7, 90]}.items():
        for i, v in enumerate(vs):
            rows.append((k, base + dt.timedelta(seconds=i), v))
    return spark.createDataFrame(rows, "k int, ts timestamp, v int")


def test_measure_nav_offsets_plus_disjoint(spark):
    """FIRST/LAST(A.col, n) in MEASURES on the gaps-and-islands A+ B
    lowering (disjoint DEFINEs): LAST steps back from the run end,
    FIRST forward from the start, offsets past the mapped count are
    NULL (SQL:2016), and B (one mapped row) is NULL at any offset."""
    _nav_offset_df(spark).createOrReplaceTempView("__mr_navoff")
    got = sorted(
        tuple(r)
        for r in StatementRouter(spark)
        .execute(
            """
        SELECT * FROM __mr_navoff MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v) AS l0, LAST(A.v, 1) AS l1,
                     FIRST(A.v, 1) AS f1, LAST(A.v, 3) AS l3,
                     FIRST(B.v, 1) AS boff
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v < 50, B AS B.v >= 50
        )"""
        )
        .collect()
    )
    assert got == [
        (1, 4, 3, 2, 1, None),
        (2, 6, 5, 6, None, None),
        (3, 7, None, None, None, None),
    ]


def test_measure_nav_offsets_plus_overlap(spark):
    """The same offsets on the OVERLAPPING-DEFINEs A+ B path (pandas
    greedy matcher) — B's predicate overlaps A's domain."""
    _nav_offset_df(spark).createOrReplaceTempView("__mr_navoff2")
    got = sorted(
        tuple(r)
        for r in StatementRouter(spark)
        .execute(
            """
        SELECT * FROM __mr_navoff2 MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v, 1) AS l1, FIRST(A.v, 1) AS f1
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A+ B)
            DEFINE A AS A.v < 50, B AS B.v >= 5
        )"""
        )
        .collect()
    )
    assert got == [(1, 3, 2), (2, 5, 6), (3, None, None)]


def test_measure_nav_offsets_lead_chain_and_nfa(spark):
    """Offsets on the bounded-quantifier LEAD-chain lowering (variant
    enumeration picks the (n+1)-th occurrence per variant) and the
    general-NFA lowering (mapped-row list indexing), including the
    ALL ROWS RUNNING reading (NULL until the (n+1)-th row is mapped)."""
    import datetime as dt

    base = dt.datetime(2025, 1, 1)
    rows = []
    for k, vs in {
        1: [1, 2, 3, 90],
        2: [5, 90],
        3: [6, 7, 8, 9, 90],
    }.items():
        for i, v in enumerate(vs):
            rows.append((k, base + dt.timedelta(seconds=i), v))
    spark.createDataFrame(rows, "k int, ts timestamp, v int").createOrReplaceTempView(
        "__mr_navoff3"
    )
    got = sorted(
        tuple(r)
        for r in StatementRouter(spark)
        .execute(
            """
        SELECT * FROM __mr_navoff3 MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(A.v, 1) AS l1, FIRST(A.v, 1) AS f1,
                     LAST(A.v, 2) AS l2
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A{1,3} B)
            DEFINE A AS A.v < 50, B AS B.v >= 50
        )"""
        )
        .collect()
    )
    # k3's run of 4: greedy at start 6 fails (no B after any variant),
    # SKIP advances to 7 where A{3}=7,8,9 B=90 matches
    assert got == [(1, 2, 2, 1), (2, None, None, None), (3, 8, 8, 7)]

    rows2 = []
    for k, vs in {1: [1, 10, 11, 12, 90], 2: [2, 13, 90]}.items():
        for i, v in enumerate(vs):
            rows2.append((k, base + dt.timedelta(seconds=i), v))
    spark.createDataFrame(
        rows2, "k int, ts timestamp, v int"
    ).createOrReplaceTempView("__mr_navoff4")
    got2 = sorted(
        tuple(r)
        for r in StatementRouter(spark)
        .execute(
            """
        SELECT * FROM __mr_navoff4 MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(B.v, 1) AS l1, FIRST(B.v, 1) AS f1
            ONE ROW PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v < 10, B AS B.v BETWEEN 10 AND 50,
                   C AS C.v >= 50
        )"""
        )
        .collect()
    )
    assert got2 == [(1, 11, 11), (2, None, None)]
    got3 = sorted(
        tuple(r)
        for r in StatementRouter(spark)
        .execute(
            """
        SELECT k, v, l1 FROM __mr_navoff4 MATCH_RECOGNIZE (
            PARTITION BY k ORDER BY ts
            MEASURES LAST(B.v, 1) AS l1
            ALL ROWS PER MATCH
            AFTER MATCH SKIP PAST LAST ROW
            PATTERN (A B+ C)
            DEFINE A AS A.v < 10, B AS B.v BETWEEN 10 AND 50,
                   C AS C.v >= 50
        )"""
        )
        .collect()
    )
    assert got3 == sorted(
        [
            (1, 1, None), (1, 10, None), (1, 11, 10), (1, 12, 11),
            (1, 90, 11),
            (2, 2, None), (2, 13, None), (2, 90, None),
        ]
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "x"]),
        min_size=5,
        max_size=16,
    ),
    skip_past=st.booleans(),
)
def test_permute5_matches_python_reference(spark, types, skip_past):
    """PERMUTE over FIVE variables (above the 4-variable LEAD-chain
    cap) lowers through the matched-set automaton node (round 11 — was
    the 120-branch alternation in round 10); semantics must equal the
    per-start first-permutation-in-lexicographic-order reference under
    both AFTER MATCH modes, exactly like the 3-variable LEAD-chain
    property test above."""
    from itertools import permutations

    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_permprop5")
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    got = StatementRouter(spark).execute(
        f"""
        SELECT a_seq, e_seq FROM __mr_permprop5
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, E.seq AS e_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (PERMUTE (A, B, C, D, E))
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b',
                   C AS C.event_type = 'c',
                   D AS D.event_type = 'd',
                   E AS E.event_type = 'e'
        )
        """
    ).collect()
    n = len(types)
    cands: dict[int, tuple[int, int]] = {}
    for s in range(n - 4):
        for perm in permutations("abcde"):
            if all(types[s + i] == perm[i] for i in range(5)):
                pos = {v: s + i for i, v in enumerate(perm)}
                cands[s] = (pos["a"], pos["e"])
                break
    want = []
    if skip_past:
        last_end = -1
        for s in sorted(cands):
            if s > last_end:
                want.append(cands[s])
                last_end = s + 4
        want.sort()
    else:
        want = sorted(cands.values())
    assert sorted((r.a_seq, r.e_seq) for r in got) == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "g", "h", "x"]),
        min_size=7,
        max_size=18,
    ),
    skip_past=st.booleans(),
)
def test_permute7_matches_python_reference(spark, types, skip_past):
    """PERMUTE over SEVEN variables — a loud error through round 10
    (5040 alternation branches); the matched-set automaton (2^7 = 128
    states, VERDICT r10 #2) lowers it exactly. Reference: per-start
    first permutation in lexicographic order, both AFTER MATCH modes."""
    from itertools import permutations

    rows = [(1, i, t) for i, t in enumerate(types)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_permprop7")
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    got = StatementRouter(spark).execute(
        f"""
        SELECT a_seq, h_seq FROM __mr_permprop7
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES A.seq AS a_seq, H.seq AS h_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (PERMUTE (A, B, C, D, E, G, H))
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b',
                   C AS C.event_type = 'c',
                   D AS D.event_type = 'd',
                   E AS E.event_type = 'e',
                   G AS G.event_type = 'g',
                   H AS H.event_type = 'h'
        )
        """
    ).collect()
    n = len(types)
    cands: dict[int, tuple[int, int]] = {}
    for s in range(n - 6):
        for perm in permutations("abcdegh"):
            if all(types[s + i] == perm[i] for i in range(7)):
                pos = {v: s + i for i, v in enumerate(perm)}
                cands[s] = (pos["a"], pos["h"])
                break
    want = []
    if skip_past:
        last_end = -1
        for s in sorted(cands):
            if s > last_end:
                want.append(cands[s])
                last_end = s + 6
        want.sort()
    else:
        want = sorted(cands.values())
    assert sorted((r.a_seq, r.h_seq) for r in got) == want


def test_permute9_raises_loudly(spark):
    """PERMUTE over 9 variables stays a loud, instructive error — past
    the matched-set automaton's 8-variable / 256-state bound."""
    spark.createDataFrame(
        [(1, 0, "a")], "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_permprop9")
    import pytest

    with pytest.raises(NotImplementedError, match="256"):
        StatementRouter(spark).execute(
            """
            SELECT a_seq FROM __mr_permprop9
            MATCH_RECOGNIZE (
                PARTITION BY user_id ORDER BY seq
                MEASURES A.seq AS a_seq
                PATTERN (PERMUTE (A, B, C, D, E, G, H, J, K))
                DEFINE A AS A.event_type = 'a',
                       B AS B.event_type = 'b',
                       C AS C.event_type = 'c',
                       D AS D.event_type = 'd',
                       E AS E.event_type = 'e',
                       G AS G.event_type = 'g',
                       H AS H.event_type = 'h',
                       J AS J.event_type = 'j',
                       K AS K.event_type = 'k'
            )
            """
        )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    types=st.lists(
        st.sampled_from(["a", "b", "c", "x"]), min_size=6, max_size=40
    ),
    skip_past=st.booleans(),
    reluctant=st.booleans(),
)
def test_wide_bounded_pattern_reroutes_to_nfa(
    spark, types, skip_past, reluctant
):
    """Bounded expansions past the 64-variant / 12-row LEAD-chain
    budget were a loud UnsupportedPatternError through round 10
    (VERDICT r10 missing #3); round 11 re-routes them through the
    generator-NFA lowering. A{0,8} B{0,8} C expands to 81 variants of
    up to 17 rows — semantics must equal the greedy (or reluctant)
    Python-regex reference under both AFTER MATCH modes."""
    import re as pyre

    s = "".join(types)
    rows = [(1, i, t) for i, t in enumerate(s)]
    spark.createDataFrame(
        rows, "user_id int, seq int, event_type string"
    ).createOrReplaceTempView("__mr_wide")
    lazy = "?" if reluctant else ""
    skip = "SKIP PAST LAST ROW" if skip_past else "SKIP TO NEXT ROW"
    got = StatementRouter(spark).execute(
        f"""
        SELECT c_seq FROM __mr_wide
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY seq
            MEASURES C.seq AS c_seq
            ONE ROW PER MATCH
            AFTER MATCH {skip}
            PATTERN (A{{0,8}}{lazy} B{{0,8}}{lazy} C)
            DEFINE A AS A.event_type = 'a',
                   B AS B.event_type = 'b',
                   C AS C.event_type = 'c'
        )
        """
    ).collect()
    rx = pyre.compile(f"a{{0,8}}{lazy}b{{0,8}}{lazy}c")
    per_start = {}
    for st_ in range(len(s)):
        m = rx.match(s, st_)
        if m and m.end() > st_:
            per_start[st_] = m.end() - 1
    want = []
    if skip_past:
        cur = 0
        for st_ in sorted(per_start):
            if st_ < cur:
                continue
            want.append(per_start[st_])
            cur = per_start[st_] + 1
    else:
        want = list(per_start.values())
    assert sorted(r.c_seq for r in got) == sorted(want)


# ---------------------------------------------------------------- round 12
def test_rich_cross_define_compile_subset():
    """compile_rich_cross accepts arithmetic/boolean expressions over
    partial-match references and rejects everything else loudly."""
    from training_flink_sql_cc_src_spark.plans.match_recognize import (
        compile_rich_cross,
        eval_rich_cross,
    )

    ok = compile_rich_cross(
        "B.value > FIRST(A.value) * 0.5 + 1", "B", ["A", "B"]
    )
    assert ok is not None
    # numeric literal 0.5 must not parse as a variable reference
    assert all(r[0] in ("CUR", "FIRST", "LAST") for r in ok[1])
    two = compile_rich_cross(
        "C.value < (A.value + LAST(B.value)) / 2", "C", ["A", "B", "C"]
    )
    assert two is not None and len(two[1]) == 3
    # aggregates over mapped rows compile too (round 12)
    agg = compile_rich_cross(
        "B.value * COUNT(A.*) < SUM(A.value)", "B", ["A", "B"]
    )
    assert agg is not None and ("AGG", "COUNT", "A", "*") in agg[1]
    # rejections: unknown vars/functions, non-COUNT star, injection
    for bad in (
        "B.value > Z.value",
        "B.value > abs(A.value)",
        "B.value > SUM(A.*)",
        "__import__('os').system('true')",
        "B.value > (lambda: 1)()",
    ):
        assert compile_rich_cross(bad, "B", ["A", "B"]) is None, bad
    # NULL / unmatched-reference semantics -> FALSE
    vals = {0: {"v": 10.0}, 1: {"v": None}}
    va = lambda i, c: vals[i][c]  # noqa: E731
    code = compile_rich_cross("B.v > A.v + 1", "B", ["A", "B"])
    assert eval_rich_cross([code], "B", 1, [("A", 0)], va) is False
    assert eval_rich_cross([code], "B", 0, [], va) is False  # no A yet


def test_rich_cross_define_placeholder_shaped_literals():
    """ADVICE r13: a string literal whose CONTENT is placeholder-shaped
    ('__ref0__' / '__str0__') must survive compilation verbatim — the
    old chained str.replace restore rewrote text inside already-restored
    literals, silently changing the comparison value."""
    from training_flink_sql_cc_src_spark.plans.match_recognize import (
        compile_rich_cross,
        eval_rich_cross,
    )

    code = compile_rich_cross("B.name = '__ref0__'", "B", ["A", "B"])
    assert code is not None
    vals = {0: {"name": "__ref0__"}, 1: {"name": "x"}}
    va = lambda i, c: vals[i][c]  # noqa: E731
    assert eval_rich_cross([code], "B", 0, [], va) is True
    assert eval_rich_cross([code], "B", 1, [], va) is False

    # two literals, the second containing the FIRST's placeholder text:
    # restoring __str0__ first used to re-substitute inside it
    code2 = compile_rich_cross(
        "B.name = '__str1__' OR B.name = 'z'", "B", ["A", "B"]
    )
    assert code2 is not None
    vals2 = {0: {"name": "__str1__"}, 1: {"name": "__ref0__"}}
    va2 = lambda i, c: vals2[i][c]  # noqa: E731
    assert eval_rich_cross([code2], "B", 0, [], va2) is True
    assert eval_rich_cross([code2], "B", 1, [], va2) is False


def _rich_fuzz_frame(spark):
    import numpy as np

    rng = np.random.RandomState(12)
    rows = []
    types = ["view", "click", "purchase", "error"]
    for i in range(240):
        rows.append(
            (
                int(i % 8),
                int(i),
                f"2024-01-01 {i // 60 % 24:02d}:{i % 60:02d}:00",
                types[int(rng.randint(4))],
                float(np.round(rng.uniform(0, 100), 2)),
            )
        )
    return spark.createDataFrame(
        rows, "user_id int, event_id int, ts_s string, event_type string, value double"
    ).selectExpr(
        "user_id", "event_id", "CAST(ts_s AS TIMESTAMP) AS ts",
        "event_type", "value"
    )


def test_rich_cross_differential_lead_vs_nfa(spark, monkeypatch):
    """Differential fuzz (VERDICT r11 Next #6): the SAME bounded pattern
    with RICH cross-variable DEFINEs must produce identical matches on
    the LEAD-chain lowering (rich support since round 6) and on the
    generator NFA (rich support new this round), forced via
    SPARK_GRAFT_CEP_FORCE_NFA=1. Templates cover arithmetic on foreign
    FIRST/LAST refs, expressions combining two foreign refs, and
    mixed self-contained + rich conjuncts."""
    _rich_fuzz_frame(spark).createOrReplaceTempView("__rich_fuzz_ev")
    cases = [
        # (pattern, defines)
        (
            "PATTERN (A B{1,3} C)",
            "DEFINE A AS A.event_type = 'view', "
            "B AS B.value > FIRST(A.value) * 0.5 + 1, "
            "C AS C.value < (A.value + LAST(B.value)) / 2",
        ),
        (
            "PATTERN (A B{1,2} C)",
            "DEFINE A AS A.event_type = 'click', "
            "B AS B.value + LAST(A.value) > 60, "
            "C AS C.event_type = 'purchase' AND "
            "C.value * 2 < FIRST(B.value) + 50",
        ),
        (
            "PATTERN (A B C{1,2})",
            "DEFINE A AS A.value > 20, "
            "B AS B.value < A.value - 5, "
            "C AS C.value > (FIRST(A.value) + FIRST(B.value)) / 2 - 10",
        ),
        (
            "PATTERN (A B{2,3})",
            "DEFINE A AS A.event_type = 'view', "
            "B AS B.value * 2 > LAST(A.value) - 10",
        ),
    ]
    sql_t = """
        SELECT user_id, CAST(a_ts AS LONG) AS a_epoch, n_b
        FROM __rich_fuzz_ev
        MATCH_RECOGNIZE (
            PARTITION BY user_id
            ORDER BY ts, event_id
            MEASURES A.ts AS a_ts, COUNT(B.*) AS n_b
            ONE ROW PER MATCH
            AFTER MATCH SKIP TO NEXT ROW
            {pattern}
            {defines}
        ) AS m
    """
    for pattern, defines in cases:
        sql = sql_t.format(pattern=pattern, defines=defines)
        monkeypatch.delenv("SPARK_GRAFT_CEP_FORCE_NFA", raising=False)
        lead = sorted(
            tuple(r) for r in StatementRouter(spark).execute(sql).collect()
        )
        monkeypatch.setenv("SPARK_GRAFT_CEP_FORCE_NFA", "1")
        nfa = sorted(
            tuple(r) for r in StatementRouter(spark).execute(sql).collect()
        )
        monkeypatch.delenv("SPARK_GRAFT_CEP_FORCE_NFA", raising=False)
        assert lead == nfa, (pattern, defines, lead[:3], nfa[:3])
        assert lead, f"vacuous case (no matches): {pattern}"


def test_grouped_apply_float_key_null_vs_nan(spark):
    """ADVICE r13: with a FLOATING partition key, SQL NULL and NaN both
    become pandas NaN after Arrow conversion — _grouped_apply must keep
    them distinct groups (as Spark groupBy does) via the is-null
    indicator, not merge adjacent NULL-key and NaN-key runs."""
    import pandas as pd

    from training_flink_sql_cc_src_spark.plans.match_recognize import (
        _grouped_apply,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rows = (
        [(None, i) for i in range(3)]
        + [(float("nan"), i) for i in range(4)]
        + [(1.5, i) for i in range(2)]
    )
    src = spark.createDataFrame(rows, "k double, v long")

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        is_null = bool(pdf["k"].isna().all())  # NaN also isna — count rows
        return pd.DataFrame({"n": [len(pdf)]})

    schema = StructType([StructField("n", LongType())])
    got = sorted(
        r["n"]
        for r in _grouped_apply(src, ["k"], per_group, schema).collect()
    )
    # three distinct groups: NULL(3), NaN(4), 1.5(2) — a NULL/NaN merge
    # would collapse this to [2, 7]
    assert got == [2, 3, 4]

    # integer keys take the no-indicator fast path and still group
    src2 = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 0)], "k long, v long"
    )
    got2 = sorted(
        r["n"]
        for r in _grouped_apply(src2, ["k"], per_group, schema).collect()
    )
    assert got2 == [1, 2]
